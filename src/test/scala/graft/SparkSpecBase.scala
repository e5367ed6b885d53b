package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession across all suites (single forked test JVM). */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the Spark jobs started while it ran, counted by a
    * listener. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val bus = org.apache.spark.sql.graftbridge.Bridge
    bus.drainListenerBus(session.sparkContext)
    session.sparkContext.addSparkListener(listener)
    try {
      val r = body
      bus.drainListenerBus(session.sparkContext)
      (r, jobs.get())
    } finally session.sparkContext.removeSparkListener(listener)
  }
}
