package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.local]] builds the session every entry point and suite uses;
  * the suite's shared session is one of them (`Sessions.local(4)`). */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("the builder's settings are applied") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("the injected functions resolve in SQL") {
    val r = spark.sql("SELECT token_sort_ratio('a b', 'b a') AS ts, " +
      "abn_valid('51824753556') AS ok").head()
    assert(r.getDouble(0) == 100.0)
    assert(r.getBoolean(1))
  }

  test("the CPU default is SPARK_GRAFT_CPUS, else every available core") {
    val expected = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(Sessions.defaultCpus == expected)
  }
}
