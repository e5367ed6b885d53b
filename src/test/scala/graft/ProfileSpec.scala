package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Profile.during]] counts only the work of its own body. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("Profile.during counts the jobs of a count over four partitions") {
    // a job finished just before must not leak into the window
    spark.range(0, 10).collect()
    val (n, p) = Profile.during(spark)(spark.range(0, 100, 1, 4).count())
    assert(n == 100L)
    // the partial-aggregate stage over 4 partitions, then the final one
    assert(p.jobs == 2L, p)
    assert(p.stages == 2L, p)
    assert(p.tasks >= 5L, p)
    assert(p.seconds > 0.0)
  }

  test("a new expression is counted as a codegen compile") {
    // the literal is inlined into the generated class, so it is new code;
    // the ms stay a running total after a thousand compiles in this JVM
    val k = System.nanoTime()
    val (_, p) = Profile.during(spark)(
      spark.range(0, 10).selectExpr(s"id * $k AS x").collect())
    assert(p.compiles >= 1L && p.codegenMs >= 0L, p)
  }

  test("a body without an action starts no job") {
    val (_, p) = Profile.during(spark)(spark.range(0, 100).selectExpr("id * 2"))
    assert(p.jobs == 0L && p.stages == 0L && p.tasks == 0L, p)
  }
}
