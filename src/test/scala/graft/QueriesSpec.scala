package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every SparkEntry query executes at sf0.001 and the contract
  * invariants hold (oracle keys ⊆ query keys; flagship returns rows).
  * Each query runs into the noop sink, which computes every column, as
  * the bench does; `count()` would let column pruning skip them. */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  test("entry (flagship cascade) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    }
  }
}
