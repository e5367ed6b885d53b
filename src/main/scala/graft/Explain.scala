package graft

import org.apache.spark.metrics.source.CodegenMetrics.{METRIC_COMPILATION_TIME => compiles}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Plan-inspection utility: `runMain graft.Explain <queryName> [sfDir]`
  * prints the formatted physical plan of a [[SparkEntry]] query, then
  * builds and runs it three times into the noop sink (every column
  * computed, unlike `count()`), printing each run's time, Spark jobs and
  * codegen compiles — the feedback loop for keeping plans shuffle-minimal,
  * pushed-down, inside whole-stage codegen, and compiled once: a warm run
  * that still compiles has generated code that changes from run to run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev knob: SPARK_GRAFT_EXPLAIN_CONF="k=v,k2=v2" — lets a plan be
    // captured under a non-default runtime conf (e.g. forcing the
    // distributed path of a count-adaptive operator for a before/after
    // plan diff) without touching the query code
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(",")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (1 to 3).foreach { i =>
      val (j0, c0) = (jobs.get(), compiles.getCount)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(spark.sparkContext)
      println(f"[explain] run $i: $s%.3f s, ${jobs.get() - j0} jobs, " +
        s"${compiles.getCount - c0} codegen compiles (noop sink)")
    }
    spark.stop()
  }
}
