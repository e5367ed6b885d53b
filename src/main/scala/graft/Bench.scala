package graft

object Bench {

  /** (1-min loadavg, 5-min loadavg) from /proc/loadavg; (-1,-1) off-Linux. */
  private def loadAvg(): (Double, Double) =
    try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      (parts(0).toDouble, parts(1).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** (user, sys) CPU seconds consumed by THIS process, from /proc/self/stat
    * fields 14/15 (utime/stime in clock ticks; tick = 100 Hz on stock
    * kernels). Contention shows up as sys >> user or as wall time far above
    * user+sys/cores — both diagnosable from the artifact alone. */
  private def procCpu(): (Double, Double) =
    try {
      val stat = scala.io.Source.fromFile("/proc/self/stat").mkString
      // comm (field 2) may contain spaces/parens; split after the closing ')'
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split("\\s+")
      val hz = 100.0
      (rest(11).toLong / hz, rest(12).toLong / hz) // utime, stime
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** (read_bytes, write_bytes) this process has sent to the storage
    * layer, from /proc/self/io — distinguishes "our own shuffle/
    * checkpoint traffic" from ambient contention: a sweep whose
    * controls inflate while its OWN io delta matches a calm run's is
    * being starved by the HOST (the r20 pattern: q73, CPU-bound,
    * stays 1.0x while the shuffle-heavy q76/q93 controls inflate 2x
    * with proc_sys_sec doubled). (-1,-1) off-Linux. */
  private def procIo(): (Long, Long) =
    try {
      val m = scala.io.Source.fromFile("/proc/self/io").getLines()
        .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.toLong }
        .toMap
      (m.getOrElse("read_bytes", -1L), m.getOrElse("write_bytes", -1L))
    } catch { case _: Throwable => (-1L, -1L) }

  /** Pinned calm medians (sec, sf0.1, this container class at load<0.3) for
    * the contention controls. Re-running these three at the END of the sweep
    * and comparing against the pinned figures makes a contended run
    * self-identifying: code for the controls never changes within a round,
    * so control_time >> calm median can only be machine noise. Medians
    * recorded 2026-08-13 (round 9): midpoints over two calm end-of-sweep
    * runs — controls drift ~1.5x within a session from JVM heap pressure
    * and ambient load, so the medians sit above that noise band and only
    * the genuine 4-15x contention blowups (r3/r7/r8 pattern) trip the
    * flag. */
  private val controlCalmMedians: Map[String, Double] = Map(
    // q76 replaced q30 as a control in r17: q30 now aggregates the
    // memoized q49 pair frame, so its repeat runs are ~free — a control
    // must RE-EXECUTE real work each time. q76 is direct compute (no
    // memo), untouched since r7.
    // Medians re-derived 2026-08-19 (r22) for the NOOP timed action
    // (VERDICT r21 item 2 — count()-based medians do not transfer: the
    // noop sink computes every column) on the r22 code (table-relation
    // memo in). Protocol unchanged: post-warm-up dedicated repeats
    // (load1 0.17), bands q73 1.02–1.12, q76 1.07–1.34, q93 1.89–1.99;
    // pins sit at the band's top edge because in-sweep runs carry
    // session heap pressure the dedicated repeats don't (the r20
    // lesson — low pins read a calm sweep as borderline-noisy).
    "q76_substring_dup"     -> 1.45,
    "q73_token_sort_oracle" -> 1.25,
    "q93_substring_general" -> 2.20
  )
  private val contentionFactor = 2.0
  /** Rerun (not just flag) threshold: the r18 close run logged control
    * ratios of 1.60x — visibly noisy to a reviewer yet under the 2.0x
    * hard-contention flag, so the canonical artifact was the noisy one.
    * Any attempt whose worst control exceeds this reruns the sweep. */
  private val noisyFactor = 1.3
  /** Run one control every N sweep queries (r10 lesson: end-only controls
    * miss a load spike that subsides before the sweep finishes — BENCH_r10
    * self-reported calm while mid-sweep queries ran 17× inflated). */
  private val controlInterleaveEvery = 40
  /** stime/utime above this ⇒ the kernel is spending disproportionate time
    * on this process's behalf (page-cache thrash, scheduler churn) — the
    * r10 contended run had 434 s sys vs a calm run's 61 s on ~2,600 s user
    * (ratio 0.17 vs 0.02). Threshold sits 3× above the calm band. */
  private val sysCpuRatioMax = 0.2
  /** 1-min loadavg at START above this ⇒ `load_elevated` in telemetry.
    * Deliberately NOT part of the `contended` verdict: loadavg decays
    * over a minute, so a bench launched right after another sbt stage
    * (the run_all_gates sequence) inherits its own predecessor's load
    * and would false-positive — while GENUINE concurrent load inflates
    * the interleaved controls and the sys-CPU ratio, which are the
    * direct measurements. The flag stays in the artifact so a reviewer
    * can see the starting state. */
  private val load1StartMax = 3.0

  /** One full sweep attempt: headline queries + interleaved controls, with
    * its own telemetry window. Object-level so the winner-selection rule is
    * spec-testable (r19 lesson: the untested rule classified an all-failed
    * attempt as the calm winner). */
  final case class Attempt(
      results: Seq[(String, Double)],
      samples: Seq[(String, Double, Int)],
      worst: Map[String, (Double, Double)],
      load1Start: Double, load5Start: Double,
      load1End: Double, load5End: Double,
      userSec: Double, sysSec: Double, sysRatio: Double,
      readBytes: Long, writeBytes: Long,
      wallSec: Double, contended: Boolean, noisy: Boolean,
      valid: Boolean) {
    /** worst control ratio, for picking the least-noisy fallback */
    def worstRatio: Double =
      if (worst.isEmpty) -1.0 else worst.valuesIterator.map(_._2).max
  }

  /** Winner among attempts (newest first): the first calm+valid attempt in
    * CHRONOLOGICAL order, else the valid attempt with the least-bad worst
    * control ratio, else (every attempt had a failed query — a code bug,
    * not machine noise) the last attempt so the failure is visible in the
    * artifact. An invalid attempt (any -1.0 query/control) can never beat a
    * valid one, no matter how calm its controls look. */
  private[graft] def chooseAttempt(attempts: List[Attempt]): Attempt =
    attempts.reverse.find(a => !a.noisy && a.valid)
      .orElse {
        val valid = attempts.filter(_.valid)
        if (valid.isEmpty) None else Some(valid.minBy(_.worstRatio))
      }
      .getOrElse(attempts.head)

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()

    // warm JIT/codegen/parquet-footer caches so per-query timings measure
    // the plan, not first-run JVM compilation
    SparkEntry.queries.get("q01_pricing_summary")
      .foreach(fn => try fn(spark, sfDir).write.format("noop")
        .mode("overwrite").save() catch { case _: Throwable => })

    // first-run (cold) time per query, alongside the best-of-2 record:
    // a memoized shared stage (q123 chain, SA indexes, kNN memos) is
    // built during run 1 and served in run 2, so `min` alone hides the
    // build cost from the artifact entirely (VERDICT r21 item "memo
    // accounting") — the cold map makes that cost visible without
    // changing what `queries` means (additions-only contract)
    val firstRun = scala.collection.mutable.Map.empty[String, Double]
    def timeQuery(name: String): Double = {
      // best-of-2 warm timing: first run may still pay per-plan codegen
      // JIT; the min is the stable per-query cost. TIMED ACTION (r22,
      // VERDICT r21 item 2): the noop sink — it computes EVERY column
      // of every row and discards them (guide §1.4), where the old
      // count() action let Catalyst prune column-only subtrees (the
      // r21 discovery: q160/q188's Window + column chains were deleted
      // under count() and under-measured for 20 rounds). Totals under
      // the two actions are NOT comparable; artifacts are labeled
      // timed_action so cross-round comparisons stay honest.
      val fn = SparkEntry.queries(name)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try {
          spark.sparkContext.setJobDescription(s"bench: $name")
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0 // failures surface as -1, never as a (fast) elapsed time
        }
        finally spark.sparkContext.setJobDescription(null)
      }
      // first-ever run only: later calls (interleaved control samples,
      // retry attempts) are warm by definition
      if (!firstRun.contains(name)) firstRun(name) = times.head
      if (times.contains(-1.0)) -1.0 else times.min
    }
    def ratioOf(n: String, t: Double): Double =
      if (t <= 0) -1.0 else t / controlCalmMedians(n)

    def runAttempt(): Attempt = {
      val (load1Start, load5Start) = loadAvg()
      val (userStart, sysStart) = procCpu()
      val (readStart, writeStart) = procIo()
      val wallStart = System.nanoTime()
      // Contention controls, INTERLEAVED through the sweep (not just after
      // it): control code is frozen within a round, so a blow-up vs the
      // pinned calm median is machine noise, not a regression — and sampling
      // them mid-sweep catches a load spike that subsides before the end
      // (the r10 blind spot). Each sample records where in the sweep it ran.
      val controlNames = controlCalmMedians.keys.toSeq.sorted
        .filter(SparkEntry.queries.contains)
      val controlSamples =
        scala.collection.mutable.ArrayBuffer.empty[(String, Double, Int)]
      val sweepNames = SparkEntry.queries.keys.toSeq.sorted
      val results = sweepNames.zipWithIndex.map { case (n, i) =>
        if (controlNames.nonEmpty && i > 0 && i % controlInterleaveEvery == 0) {
          val cn = controlNames(controlSamples.size % controlNames.size)
          controlSamples += ((cn, timeQuery(cn), i))
        }
        n -> timeQuery(n)
      }
      // full control set once more at the end (the r9 behavior, retained so
      // end-of-sweep state is always sampled too)
      controlNames.foreach { cn =>
        controlSamples += ((cn, timeQuery(cn), sweepNames.size))
      }
      // worst ratio per control across all its samples — one spike anywhere
      // in the sweep is enough to flag
      val controlWorst: Map[String, (Double, Double)] =
        controlSamples.groupBy(_._1).map { case (n, ss) =>
          val worst = ss.map { case (_, t, _) => (t, ratioOf(n, t)) }
            .maxBy(_._2)
          n -> worst
        }
      val (load1End, load5End) = loadAvg()
      val (userEnd, sysEnd) = procCpu()
      val (readEnd, writeEnd) = procIo()
      val wallSec = (System.nanoTime() - wallStart) / 1e9
      val userSec = userEnd - userStart
      val sysSec = sysEnd - sysStart
      val readBytes =
        if (readStart < 0 || readEnd < 0) -1L else readEnd - readStart
      val writeBytes =
        if (writeStart < 0 || writeEnd < 0) -1L else writeEnd - writeStart
      val sysRatio = if (userSec > 1.0) sysSec / userSec else -1.0
      val contended =
        controlWorst.valuesIterator.exists(_._2 > contentionFactor) ||
        sysRatio > sysCpuRatioMax
      // an attempt is VALID only when every sweep query and every control
      // sample actually ran (no -1.0 sentinels). r19 lesson: an attempt
      // whose every query failed had all control ratios -1.0, which the
      // `> noisyFactor` test classified as calm — and it clobbered the
      // committed per-query record with sentinel garbage. A failed
      // control/query is noisy-and-invalid, never a calm winner.
      val valid = results.forall(_._2 >= 0) &&
        controlSamples.forall(_._2 >= 0)
      val noisy = contended || !valid ||
        controlWorst.valuesIterator.exists(_._2 > noisyFactor)
      Attempt(results, controlSamples.toSeq, controlWorst,
        load1Start, load5Start, load1End, load5End,
        userSec, sysSec, sysRatio, readBytes, writeBytes,
        wallSec, contended, noisy, valid)
    }

    // REFUSE to record a contended sweep (r19, VERDICT r18 item 3): a
    // run whose own frozen controls blew past ~1.3x calm is measuring
    // the machine, not the code — rerun the whole sweep (load spikes
    // are transient; the retry costs wall time only when the first
    // attempt was already worthless) and emit the first calm+valid
    // attempt. The loop is WALL-BUDGETED (r20, VERDICT r19 item 1c):
    // the r19 driver run burned 3 × ~750 s attempts on a loaded box and
    // blew the driver's own timeout, leaving NO artifact at all — a
    // flagged-noisy artifact beats a missing one, so a rerun that can't
    // fit inside the budget is skipped and the best attempt so far is
    // emitted, loudly flagged. If every attempt is noisy/invalid the
    // least-noisy VALID one is emitted (never an all-failed sentinel).
    val maxAttempts = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt)
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "600").toDouble
    var attempts = List.empty[Attempt] // newest first
    var budgetSkipped = false
    var att = runAttempt()
    attempts ::= att
    while (att.noisy && attempts.size < maxAttempts && !budgetSkipped) {
      // estimate the next sweep at ~1.1x the slowest attempt so far:
      // if it can't finish inside the budget, emit what we have
      val estNext = attempts.map(_.wallSec).max * 1.1
      if (elapsedSec + estNext > budgetSec) {
        budgetSkipped = true
        System.err.println(f"[bench] attempt ${attempts.size} noisy but " +
          f"rerun skipped: elapsed $elapsedSec%.0f s + est $estNext%.0f s " +
          f"> budget $budgetSec%.0f s — emitting best attempt, flagged")
      } else {
        System.err.println(f"[bench] attempt ${attempts.size} " +
          f"NOISY (worst control ratio ${att.worstRatio}%.2f, sys ratio " +
          f"${att.sysRatio}%.3f, valid ${att.valid}) — rerunning the sweep")
        att = runAttempt()
        attempts ::= att
      }
    }
    att = chooseAttempt(attempts)
    val attemptsContended = attempts.map(_.noisy)
    val results = att.results
    val controlWorst = att.worst
    val controlSamples = att.samples
    val (load1Start, load5Start) = (att.load1Start, att.load5Start)
    val (load1End, load5End) = (att.load1End, att.load5End)
    val (userSec, sysSec, sysRatio) = (att.userSec, att.sysSec, att.sysRatio)
    val wallSec = att.wallSec
    val loadElevated = load1Start > load1StartMax
    val contended = att.contended

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val controlsJson = controlWorst.toSeq.sortBy(_._1).map {
      case (n, (t, r)) =>
        s""""$n":{"sec":$t,"calm_median":${controlCalmMedians(n)},"ratio":${f"$r%.2f"}}"""
    }.mkString("{", ",", "}")
    // every sample, with its sweep position, so a mid-sweep spike is
    // visible in the artifact even when the end-of-sweep samples are calm
    val samplesJson = controlSamples.map { case (n, t, pos) =>
      s"""{"q":"$n","at":$pos,"sec":$t,"ratio":${f"${ratioOf(n, t)}%.2f"}}"""
    }.mkString("[", ",", "]")
    val telemetry =
      s""""telemetry":{"timed_action":"noop","load1_start":$load1Start,"load5_start":$load5Start,""" +
      s""""load1_end":$load1End,"load5_end":$load5End,""" +
      s""""proc_user_sec":$userSec,"proc_sys_sec":$sysSec,""" +
      s""""sys_cpu_ratio":${f"$sysRatio%.3f"},""" +
      s""""io_read_bytes":${att.readBytes},""" +
      s""""io_write_bytes":${att.writeBytes},""" +
      s""""wall_sec":${f"$wallSec%.1f"},"controls":$controlsJson,""" +
      s""""control_samples":$samplesJson,"load_elevated":$loadElevated,""" +
      s""""attempts":${attemptsContended.size},""" +
      s""""attempts_noisy":${
        attemptsContended.reverse.mkString("[", ",", "]")},""" +
      s""""attempts_valid":${
        attempts.map(_.valid).reverse.mkString("[", ",", "]")},""" +
      s""""budget_sec":$budgetSec,"budget_skipped":$budgetSkipped,""" +
      s""""valid":${att.valid},""" +
      s""""noisy":${att.noisy},"contended":$contended}"""
    // the long per-query line gets a distinct metric name so nothing that
    // filters/aggregates on metric=="total" can double-count it against the
    // short trailer below
    println(s"""{"metric":"total_per_query","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // the per-query map ALSO lands in a file artifact: the stdout line
    // above outgrew the driver's bounded log-tail window at ~120 queries
    // (r9's BENCH artifact truncated mid-object, losing q100+ timings), so
    // a file is the only form the full profile reliably survives in
    // the committed per-query record is only ever REPLACED by a calm,
    // fully-successful sweep (r20, VERDICT r19 item 1b): a noisy or
    // partially-failed attempt lands in a side file instead, so the last
    // good record survives a bad round (r19's all-failed attempt rewrote
    // the record with -1.0 sentinels; this makes that impossible)
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_queries.json")
    val target =
      if (!att.noisy && att.valid) benchOut
      else {
        System.err.println(s"[bench] winning attempt noisy=${att.noisy} " +
          s"valid=${att.valid} — NOT replacing $benchOut; writing side file")
        benchOut.stripSuffix(".json") + "_attempt.json"
      }
    try {
      val perQuery = results.map { case (k, v) =>
        s"""    "$k": $v""" }.mkString("{\n", ",\n", "\n  }")
      // first-JVM-touch (cold) time per sweep query: what run 1 paid —
      // including any session-memo builds the best-of-2 `min` hides
      val perQueryCold = results.map { case (k, _) =>
        s"""    "$k": ${firstRun.getOrElse(k, -1.0)}""" }
        .mkString("{\n", ",\n", "\n  }")
      java.nio.file.Files.write(java.nio.file.Paths.get(target),
        (s"""{\n  "total_sec": $total,\n  "n_queries": ${results.size},""" +
         s"""\n  "timed_action": "noop",""" +
         s"""\n  "sf": "$sfDir",\n  $telemetry,""" +
         s"""\n  "queries": $perQuery,""" +
         s"""\n  "queries_cold_run1": $perQueryCold\n}\n""").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $target: ${e.getMessage}")
    }
    // repeat the headline WITHOUT the per-query map: the full line above can
    // exceed a bounded log-tail window as the query count grows (r3's
    // recorded artifact was truncated mid-line and parsed as null), so a
    // short trailer guarantees the total always lands in the capture
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir",$telemetry}""")
    spark.stop()
  }
}
