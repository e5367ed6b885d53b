package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Scheduler-side counters for the traced run: jobs, stages, tasks, task
  * time, shuffle bytes, spill, and the wall intervals during which at
  * least one job was running (for a span's idle `gap_s`). */
final class Probe extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    intervals.synchronized { intervals += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Milliseconds of [from, to) during which no job was running. */
  def idleMs(from: Long, to: Long): Long = {
    val open = jobStart.values.asScala.map(s => (s, to))
    val clipped = (intervals.synchronized(intervals.toList) ++ open)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var reach = from
    clipped.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    (to - from) - covered
  }
}

/** One counter reading at a span boundary. */
final case class Snap(wallMs: Long, nanos: Long, jobs: Long, stages: Long,
    tasks: Long, taskMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, gcMs: Long, compiles: Long, compileMs: Double,
    storageBytes: Long)

final case class Span(id: Int, name: String, label: String, parent: Int,
    runId: String, start: Snap, end: Snap)

/** Spans around each call into a layer. Disabled, `span` just runs its
  * body: the untraced run pays for nothing but the call. Enabled, every
  * span boundary drains the listener bus and reads the scheduler, GC,
  * codegen and storage counters; spans stay in memory until `spans` is
  * read at exit. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val probe = if (enabled) Some(new Probe) else None
  probe.foreach(spark.sparkContext.addSparkListener)
  private val done = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[(Int, String, Snap)]
  private var nextId = 0

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private def snap(): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val p = probe.get
    // Spark's codegen histogram: count is exact; the ms sum is exact while
    // the reservoir (1028 samples) has not started to evict
    val hist = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Snap(System.currentTimeMillis(), System.nanoTime(), p.jobs.get,
      p.stages.get, p.tasks.get, p.taskMs.get, p.shuffleRead.get,
      p.shuffleWrite.get, p.spill.get, gcMs(), hist.getCount,
      hist.getSnapshot.getValues.map(_.toDouble).sum, storage)
  }

  /** Whether spans are recorded right now: a traced run interleaves
    * traced and untraced passes, and the gap between them is the tracing
    * overhead. */
  var active: Boolean = enabled

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      stack.push((id, name, snap()))
      try body
      finally {
        val (_, _, start) = stack.pop()
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, label, parent, runId, start, snap())
      }
    }

  def spans: Seq[Span] = done.toSeq

  def idleMs(s: Span): Long = probe.map(_.idleMs(s.start.wallMs, s.end.wallMs))
    .getOrElse(0L)

  def close(): Unit = probe.foreach(spark.sparkContext.removeSparkListener)
}
