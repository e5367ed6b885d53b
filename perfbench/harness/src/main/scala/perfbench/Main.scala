package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One workload in one fresh JVM:
  *
  * {{{
  * perfbench.Main --workload <er_landing|curation_chain|query_sweep>
  *   --input <generated inputs dir> --sf <table dir> --work <work dir>
  *   --out <result.json> --seconds <n> --trace <0|1> [--queries q1,q2,...]
  * }}}
  *
  * Set-up (session start plus a one-job warm-up) is timed apart from the
  * workload. The workload then runs a warm-up pass (the first call of every
  * layer in this JVM) followed by timed passes until `--seconds` of timed
  * work have elapsed. Raw timings, counters and (with `--trace 1`) spans go to
  * the result file; `perfbench/run.py` turns them into metrics and checks
  * the outputs the workload leaves under `--work`.
  */
object Main {
  final case class Opts(workload: String, input: String, sf: String,
      work: String, out: String, seconds: Double, trace: Boolean,
      queries: Seq[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), m.getOrElse("--input", ""), m.getOrElse("--sf", ""),
      need("--work"), need("--out"), need("--seconds").toDouble,
      need("--trace") == "1",
      m.get("--queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** VmHWM (peak resident set) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getUptime
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(cpus, o.work)
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, o.trace,
      s"${o.workload}-${java.util.UUID.randomUUID().toString.take(8)}")

    val body: Workload = o.workload match {
      case "er_landing" => new ErLanding(spark, tracer, o)
      case "curation_chain" => new CurationChain(spark, tracer, o)
      case "query_sweep" => new QuerySweep(spark, tracer, o)
      case other => sys.error(s"unknown workload $other")
    }
    val passes = body.run()
    val counts = body.finish()
    tracer.close()

    val spans = tracer.spans.map { s =>
      val (a, b) = (s.start, s.end)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "label" -> s.label, "parent" -> s.parent,
        "run_id" -> s.runId, "start_ms" -> a.wallMs, "end_ms" -> b.wallMs,
        "s" -> (b.nanos - a.nanos) / 1e9,
        "jobs" -> (b.jobs - a.jobs), "stages" -> (b.stages - a.stages),
        "tasks" -> (b.tasks - a.tasks), "task_s" -> (b.taskMs - a.taskMs) / 1e3,
        "gap_s" -> tracer.idleMs(s) / 1e3,
        "shuffle_read_mb" -> (b.shuffleRead - a.shuffleRead) / 1048576.0,
        "shuffle_write_mb" -> (b.shuffleWrite - a.shuffleWrite) / 1048576.0,
        "spill_mb" -> (b.spill - a.spill) / 1048576.0,
        "gc_s" -> (b.gcMs - a.gcMs) / 1e3,
        "codegen_compiles" -> (b.compiles - a.compiles),
        "codegen_ms" -> (b.compileMs - a.compileMs),
        "storage_mb" -> b.storageBytes / 1048576.0)
    }
    val result = Json.obj(
      "workload" -> o.workload,
      "trace" -> o.trace,
      "cpus" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm_start_s" -> jvmStartMs / 1e3,
      "session_s" -> sessionS,
      "passes" -> passes,
      "counts" -> counts,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> spans)
    spark.stop()
    Files.writeString(Paths.get(o.out), Json(result))
  }
}

/** A workload: `run` does the timed passes and returns one record per
  * pass; `finish` (untimed) collects counters and leaves the outputs the
  * benchmark checks. */
trait Workload {
  def run(): Seq[scala.collection.Map[String, Any]]
  def finish(): scala.collection.Map[String, Any]

  /** An after-pass hook that unpersists the pins (the workload's own and
    * the operators' internal local checkpoints) of the pass BEFORE the one
    * that just ended: they are obsolete, and at most two passes' pins stay
    * live. The last pass's pins survive for `finish`. */
  protected def pinGenerations(spark: org.apache.spark.sql.SparkSession)
      : Int => Unit = {
    var prev: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    _ => {
      prev.foreach(_.unpersist(blocking = true))
      prev = spark.sparkContext.getPersistentRDDs.values.toSeq
    }
  }

  /** `warmups` warm-up passes (the first call of every layer in this JVM,
    * then the steepest part of the JIT's speed-up), then timed passes
    * until `seconds` of timed work (at least `minTimed`, at most
    * `maxTimed`). A traced run records spans on every second timed pass
    * only, so the passes in between give the untraced time in the same
    * JVM. `between(i)` runs untimed after pass `i`. */
  protected def timedPasses(tracer: Tracer, seconds: Double, warmups: Int,
      minTimed: Int, maxTimed: Int, between: Int => Unit)(
      pass: Int => scala.collection.Map[String, Any])
      : Seq[scala.collection.Map[String, Any]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[scala.collection.Map[String, Any]]
    var timed = 0.0
    var i = 0
    def nTimed = i - warmups + 1
    while (i < warmups || nTimed <= minTimed ||
        (timed < seconds && nTimed <= maxTimed)) {
      val warmup = i < warmups
      tracer.active = tracer.enabled && !warmup && nTimed % 2 == 0
      val (rec, s, steal) = Workload.timedWithSteal(tracer.span("pass")(pass(i)))
      if (!warmup) timed += s
      out += (Json.obj("pass" -> i, "s" -> s, "steal_share" -> steal,
        "warmup" -> warmup, "traced" -> tracer.active) ++ rec)
      tracer.active = false
      between(i)
      i += 1
    }
    out.toSeq
  }
}

object Workload {
  /** (result, seconds) of one call. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** (steal, busy + steal) jiffies of all CPUs from /proc/stat. Steal is
    * time a vCPU was ready to run but the hypervisor ran another guest. */
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      val steal = if (f.length > 7) f(7) else 0L
      (steal, f(0) + f(1) + f(2) + f(5) + f(6) + steal)
    } finally src.close()
  }

  /** Like `timed`, plus the share of the CPU time this guest asked for
    * that the hypervisor gave away while `body` ran. */
  def timedWithSteal[T](body: => T): (T, Double, Double) = {
    val (s0, d0) = cpuTicks()
    val (r, s) = timed(body)
    val (s1, d1) = cpuTicks()
    (r, s, if (d1 > d0) (s1 - s0).toDouble / (d1 - d0) else 0.0)
  }
}
