package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` reads the nine fixed tables with declared schemas. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"/root/testdata/$sf") :+ "perfbench/data/sf0.01"

  test("a first load of a declared table starts no job") {
    // a fresh dir, so the relation memo holds nothing for it yet
    val dir = Files.createTempDirectory("tables").toString
    Files.copy(Paths.get(s"${dirs.head}/customer.parquet"),
      Paths.get(s"$dir/customer.parquet"))
    val (df, p) = Profile.during(spark)(Tables.load(spark, dir, "customer"))
    assert(p.jobs == 0L, p)
    assert(df.count() == spark.read.parquet(s"$dir/customer.parquet").count())
  }

  test("every declared schema equals the inferred one in every data dir") {
    assert(Tables.Schemas.keySet == Tables.All.toSet - "events")
    for (dir <- dirs; (name, declared) <- Tables.Schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(inferred == declared, s"$dir/$name")
    }
  }
}
