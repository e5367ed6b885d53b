package graft

/** `runMain graft.Explain <queryName> [sfDir]` prints the formatted
  * physical plan of a [[SparkEntry]] query, then builds and runs it three
  * times into the noop sink (every column computed), printing each run's
  * [[Profile]] time, jobs and codegen compiles. A warm run that still
  * compiles has generated code that changes from run to run. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local()
    val fn = SparkEntry.queries(args(0))
    fn(spark, sfDir).explain("formatted")
    (1 to 3).foreach { i =>
      val (_, p) = Profile.during(spark)(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      println(f"[explain] run $i: ${p.seconds}%.3f s, ${p.jobs} jobs, " +
        s"${p.compiles} codegen compiles (noop sink)")
    }
    spark.stop()
  }
}
