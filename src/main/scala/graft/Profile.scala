package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics.{METRIC_COMPILATION_TIME => compiles}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftbridge.Bridge

/** One body's wall seconds, Spark jobs, completed stages, tasks, summed task
  * ms, codegen compiles and their ms, and driver-JVM GC ms. */
final case class Profile(seconds: Double, jobs: Long, stages: Long,
    tasks: Long, taskMs: Long, compiles: Long, codegenMs: Long, gcMs: Long)

object Profile {

  /** `body`'s result and its [[Profile]]. The listener sees only this
    * body's events: the bus is drained before it is added and again before
    * it is read. Codegen and GC counters are JVM-wide. */
  def during[A](spark: SparkSession)(body: => A): (A, Profile) = {
    val sc = spark.sparkContext
    val jobs, stages, tasks, taskMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      }
    }
    // compile nanos from Spark's running total: the compile-time histogram
    // keeps a 1,028-sample reservoir, so its sum is no total past that
    def jvm = (compiles.getCount, CodeGenerator.compileTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum)
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val ((c0, cns0, gc0), t0) = (jvm, System.nanoTime())
      val result = body
      val seconds = (System.nanoTime() - t0) / 1e9
      Bridge.drainListenerBus(sc)
      val (c1, cns1, gc1) = jvm
      (result, Profile(seconds, jobs.get, stages.get, tasks.get, taskMs.get,
        c1 - c0, (cns1 - cns0) / 1000000, gc1 - gc0))
    } finally sc.removeSparkListener(listener)
  }
}
