package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-profiling statistics for curation pipelines: distribution
  * summaries a pipeline consults before choosing thresholds (length
  * gates, balance targets, shard budgets).
  */
object Stats {

  /** Equi-depth histogram of an integral column: `nBuckets` buckets
    * holding ~equal row counts, with per-bucket count and value range.
    * The profiling primitive behind threshold choices ("where does the
    * p90 of document length sit?") and equi-depth binning for joins.
    *
    * Two passes, NO global sort: (1) one aggregation computes the
    * nBuckets−1 interior quantile boundaries; (2) the boundary vector —
    * driver-held, bounded by nBuckets (a model-state boundary of the
    * Packing-subtotal class) — folds into a literal bucket expression
    * (count of boundaries strictly below the value) and one partial
    * hash-agg produces the histogram. A `ntile` window would sort the
    * whole column in one partition — the canonical scale killer this
    * shape avoids.
    *
    * The gate path uses Spark's exact `percentile` (interpolation is a
    * single divide over exact integer operands — engine-portable, the
    * q102 precedent, so the DuckDB oracle reproduces the histogram
    * hash-exactly). At 100 TB the exact percentile pass itself is the
    * bottleneck (per-partition sorted state); swap
    * `approxBoundaries = true` to compute the boundaries with
    * `percentile_approx` (Greenwald–Khanna sketch, mergeable bounded
    * state — the q109 argument) — identical downstream shape, rank
    * error bounded by the sketch accuracy. Empty buckets (possible
    * under heavy value repetition) simply don't appear.
    *
    * Integral columns bucket with INTEGRAL boundaries: the percentile
    * aggregate emits doubles, and a long-vs-double comparison promotes
    * the column to double — values past 2^53 round during the promote
    * and land in the wrong bucket. Flooring the boundary to the
    * column's own type is semantics-preserving (for integer v and real
    * b, v > b ⟺ v > floor(b)) and keeps every comparison exact; the
    * boundary VALUE still carries the aggregate's double precision,
    * which both engines share (quantile_cont parity). An empty input —
    * or an all-null column — returns an empty histogram rather than
    * NPE'ing on the null boundary row. */
  def equiDepthHistogram(df: DataFrame, valueCol: String, nBuckets: Int,
      approxBoundaries: Boolean = false,
      approxAccuracy: Int = 10000): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets")
    val vc = col(valueCol)
    val isIntegral = df.select(vc).schema.head.dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val probs = typedlit((1 until nBuckets).map(_.toDouble / nBuckets))
    val boundariesAgg =
      if (approxBoundaries) percentile_approx(vc, probs, lit(approxAccuracy))
      else percentile(vc, probs)
    val row = df.agg(boundariesAgg).collect()(0)
    // null boundary row = zero non-null values: empty histogram, same
    // schema as the populated path (limit(0) + the empty fold below)
    val (frame, bnd) =
      if (row.isNullAt(0)) (df.limit(0), Seq.empty[Double])
      else (df, row.getSeq[Any](0).map {
        case d: Double => d
        case l: Long => l.toDouble
        case i: Int => i.toDouble
      })
    val bucket = bnd.foldLeft(lit(0L)) { (acc, b) =>
      val bLit = if (isIntegral) lit(math.floor(b).toLong) else lit(b)
      acc + when(vc > bLit, 1L).otherwise(0L)
    }
    frame.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(vc).as("lo"),
        max(vc).as("hi"))
  }

  /** Sweep-line max concurrency: the largest number of intervals
    * simultaneously open per group — occupancy / peak-load / "how many
    * orders were in flight at once", the classic interval question a
    * naive interval self-join answers in O(N²) and this shape in one
    * sort: each interval contributes a +1 event at `start` and a −1 at
    * `end`, and peak concurrency is the max of the running delta sum.
    *
    * Half-open [start, end) semantics, exactly: the running sum is
    * ordered by (time ASC, delta ASC), so at a shared timestamp every
    * −1 (an interval ending) applies before any +1 (one starting) —
    * back-to-back intervals never overlap. Both engines' default
    * window frame for an ordered SUM is RANGE-to-current-row, whose
    * peer rows are exact (time, delta) ties — tie groups collapse
    * identically, so the q138 oracle replays the peak bit-for-bit.
    * All arithmetic is BIGINT; NULL-bounded or inverted (end < start)
    * intervals are rejected up front rather than silently skewing the
    * count.
    *
    * Scale shape: ONE shuffle (hash on the group) + one in-partition
    * sort for the running sum + a partial-aggregated max. Memory per
    * task ∝ its groups' events — the window-function bound; an
    * ungrouped call (`groupCols = Seq(lit-constant column)`) puts the
    * whole sweep in one partition, so give global sweeps a coarse
    * time-bucket group and combine bucket peaks downstream.
    *
    * @return one row per group: groupCols + `max_concurrent` */
  def maxConcurrency(df: DataFrame, startCol: String, endCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "give the sweep a grouping")
    val iv = df.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
      col(startCol) <= col(endCol))
    val pts = iv.select(groupCols.map(col) :+ col(startCol).as("__t") :+
        lit(1L).as("__d"): _*)
      .unionByName(iv.select(groupCols.map(col) :+ col(endCol).as("__t") :+
        lit(-1L).as("__d"): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__t").asc, col("__d").asc)
    pts.withColumn("__run", sum(col("__d")).over(w))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__run")).as("max_concurrent"))
  }

  /** Interval-union length per group — total time with AT LEAST ONE
    * interval open ("how long was any order in flight"), the companion
    * question to [[maxConcurrency]] on the same sweep: between
    * consecutive sweep events, the covered span is `next_t − t` when
    * the running count is positive.
    *
    * Bounds are NUMERIC (BIGINT epochs — the caller picks the unit,
    * e.g. `unix_micros`), so every duration is an exact integer
    * difference. Determinism under ties: `lead` is row-ordered and
    * rows with identical (t, delta) permute arbitrarily — but within
    * such a tie group all rows share the RANGE-collapsed running
    * count, exactly one row's lead escapes to the next distinct time
    * and the rest contribute zero-length spans, so the SUM is
    * invariant to the permutation and both engines land on the same
    * total (the q139 oracle). Same half-open [start, end) event
    * ordering, same up-front rejection of NULL/inverted intervals,
    * same one-shuffle + in-partition-sort shape as [[maxConcurrency]].
    *
    * @return one row per group that has ≥ 1 valid interval:
    *         groupCols + `covered` (in the caller's unit) */
  def coveredTime(df: DataFrame, startCol: String, endCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "give the sweep a grouping")
    val iv = df.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
      col(startCol) <= col(endCol))
    val pts = iv.select(groupCols.map(col) :+
        col(startCol).cast("long").as("__t") :+ lit(1L).as("__d"): _*)
      .unionByName(iv.select(groupCols.map(col) :+
        col(endCol).cast("long").as("__t") :+ lit(-1L).as("__d"): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__t").asc, col("__d").asc)
    pts.withColumn("__run", sum(col("__d")).over(w))
      .withColumn("__next", lead(col("__t"), 1).over(w))
      .filter(col("__next").isNotNull && col("__run") > 0)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__next") - col("__t")).as("covered"))
  }

  /** Robust per-group outlier gate — median absolute deviation
    * (Hampel's rule; Leys et al. 2013, J. Exp. Soc. Psych., "Detecting
    * outliers: do not use standard deviation around the mean, use
    * absolute deviation around the median"): per group, the median and
    * the MAD of `valueCol`, flagging rows with |x − med| > k·MAD. Mean
    * ± k·σ gates move with the outliers they hunt (one 10⁹-char doc
    * shifts a source's σ); the median/MAD pair has a 50% breakdown
    * point, so the gate holds even on heavily contaminated sources —
    * the robust replacement for fixed length thresholds.
    *
    * Both medians are EXACT grouped percentiles (`percentile`, the
    * q102 quantile_cont parity), the deviation chain is
    * identically-shaped doubles, so the whole gate is hash-verified
    * (q174). At 100 TB swap the exact percentile for
    * `percentile_approx` exactly as [[equiDepthHistogram]] documents —
    * identical downstream shape. MAD = 0 (over half the group at one
    * value) degrades to flagging any deviation, the rule's documented
    * limit. */
  def madOutliers(df: DataFrame, valueCol: String, idCol: String,
      groupCol: String, k: Double = 3.0): DataFrame = {
    require(k > 0, "k must be positive")
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val dev = df.select(col(idCol), col(groupCol), col(valueCol))
      .join(med, Seq(groupCol))
      .withColumn("adev", abs(col(valueCol).cast("double") - col("med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, Seq(groupCol))
      .select(col(idCol), col(groupCol), col(valueCol), col("med"),
        col("mad"), (col("adev") > lit(k) * col("mad")).as("outlier"))
  }

  /** Token-distribution drift between two corpus snapshots — the
    * "did my ingest shift" monitor: tokens hash into `nBuckets` md5
    * buckets (the portable feature-hashing convention — no vocabulary
    * state, bounded output), each bucket carries its side-A/side-B
    * counts and its per-cell χ² contribution from the 2×C contingency
    * identity χ²_cell = N·(n_a·N_b − n_b·N_a)² / (N_a·N_b·(n_a+n_b)).
    * Sum the column for the overall statistic; large per-bucket values
    * localize WHICH token mass moved. Counts are exact BIGINTs; the χ²
    * is one identically-shaped double chain over them (the q68
    * argument), so the report is hash-verifiable (q171).
    *
    * Scale shape: one token explode → one (bucket) hash agg with
    * conditional sums (map-side combined, output bounded by nBuckets);
    * the grand totals are a 1-row broadcast. Nothing else. */
  def tokenDrift(docs: DataFrame, textCol: String, isA: Column,
      nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val counts = docs.select(isA.as("__a"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("__term"))
      // split of an empty string yields [''] — drop the phantom token
      // (ADVICE r13; the weightedJaccardJoin hygiene convention)
      .filter(col("__term") =!= "")
      .select(col("__a"),
        (graft.functions.PortableHash.md5Long60(col("__term")) % nBuckets)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(sum(col("n_a")).as("__ta"),
      sum(col("n_b")).as("__tb"))
    counts.crossJoin(broadcast(totals))
      .withColumn("chi2",
        ((col("n_a").cast("double") * col("__tb").cast("double") -
          col("n_b").cast("double") * col("__ta").cast("double")) *
         (col("n_a").cast("double") * col("__tb").cast("double") -
          col("n_b").cast("double") * col("__ta").cast("double")) *
         (col("__ta") + col("__tb")).cast("double")) /
        (col("__ta").cast("double") * col("__tb").cast("double") *
          (col("n_a") + col("n_b")).cast("double")))
      .select(col("bucket"), col("n_a"), col("n_b"), col("chi2"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic over an integral
    * column — the NUMERIC-distribution drift monitor [[tokenDrift]]'s
    * χ² is not: D = max_v |F_a(v) − F_b(v)| compares the full shape of
    * two empirical distributions (document lengths, quality scores,
    * token counts) and is the standard two-sample
    * distribution-equality test. The maximization runs over the union
    * of observed values (where the ECDF gap is attained by
    * right-continuity), so D is EXACT, not a grid approximation.
    *
    * Everything stays integer until one final divide: with inclusive
    * cumulative counts cumA/cumB and totals nA/nB,
    * `d_num = max_v |cumA(v)·nB − cumB(v)·nA|` is exact BIGINT and
    * `ks = d_num / (nA·nB)` is one IEEE divide of exact integers (the
    * q68 argument — both engines land on the identical double).
    * `at_value` is the smallest v attaining the max (a total order:
    * d DESC, v ASC). Overflow headroom: needs nA·nB < 2⁶³ — ~3·10⁹
    * rows per side balanced; beyond that pre-bucket the value space
    * (equi-depth bins keep D exact on the binned distribution).
    *
    * Scale shape: one hash-agg per side to per-value counts, one
    * union re-agg to align them, then the [[Packing.prefixSums]]
    * two-phase scan gives BOTH global cumsums in one pass — range
    * partition, P·2 subtotal cells to the driver, per-partition
    * windows. No global single-partition window anywhere (the naive
    * `SUM() OVER (ORDER BY v)` twin is exactly the scale killer
    * [[Packing.assignShards]] documents). The final argmax is one
    * `min_by` partial aggregate; the totals are the sums of the
    * driver-side subtotals, so the input is read once. Both inputs must
    * have a non-null value (an empty side has no ECDF): otherwise the
    * call throws an IllegalArgumentException naming both totals.
    *
    * @return ONE row: (n_a, n_b, at_value, d_num, ks) */
  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String,
      numParts: Int = 0): DataFrame = {
    def counts(df: DataFrame, cn: String, other: String): DataFrame = df
      .select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as(cn))
      .withColumn(other, lit(0L))
    val m = counts(a, "ca", "cb").unionByName(counts(b, "cb", "ca"))
      .groupBy(col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val (cums, Seq(na, nb)) =
      Packing.prefixSumsWithTotals(m, "v", Seq("ca", "cb"), numParts)
    require(na > 0 && nb > 0,
      s"ksStatistic needs both sides non-empty: n_a = $na, n_b = $nb")
    cums.select(col("v"), abs((col("ca_offset") + col("ca")) * nb -
        (col("cb_offset") + col("cb")) * na).as("__d"))
      .agg(min_by(
        struct(lit(na).as("n_a"), lit(nb).as("n_b"),
          col("v").as("at_value"), col("__d").as("d_num")),
        struct((-col("__d")).as("nd"), col("v"))).as("m"))
      .select(col("m.n_a"), col("m.n_b"), col("m.at_value"),
        col("m.d_num"),
        (col("m.d_num").cast("double") /
          (col("m.n_a") * col("m.n_b")).cast("double")).as("ks"))
  }

  /** Per-group [[ksStatistic]]: within every group, the exact KS
    * statistic between the `isA` slice and its complement — the
    * drift REPORT form ("which sources/languages shifted?"), one row
    * per group that has BOTH sides non-empty (a one-sided group has
    * no second ECDF; dropping it beats emitting a NULL statistic).
    *
    * Same exact-integer contract as [[ksStatistic]]. The cumulative
    * counts here are windows PARTITIONED BY GROUP ordered by value —
    * parallel across groups, memory per task ∝ a group's distinct
    * values (the standard window bound; a single group spanning the
    * whole corpus is [[ksStatistic]]'s job, whose two-phase scan
    * exists precisely for that shape). One shuffle on the group key;
    * totals and the argmax ride the same partitioning.
    *
    * @return one row per two-sided group:
    *         (group, n_a, n_b, at_value, d_num, ks) */
  def ksStatisticByGroup(df: DataFrame, groupCol: String,
      isA: Column, valueCol: String): DataFrame = {
    val m = df
      .select(col(groupCol).as("grp"), isA.as("__a"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("grp"), col("v"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    m.withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("na", sum(col("ca")).over(wg))
      .withColumn("nb", sum(col("cb")).over(wg))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("grp"), col("na"), col("nb"), col("v"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("__d"))
      .groupBy(col("grp"))
      .agg(min_by(
        struct(col("na").as("n_a"), col("nb").as("n_b"),
          col("v").as("at_value"), col("__d").as("d_num")),
        struct((-col("__d")).as("nd"), col("v"))).as("m"))
      .select(col("grp").as(groupCol), col("m.n_a"), col("m.n_b"),
        col("m.at_value"), col("m.d_num"),
        (col("m.d_num").cast("double") /
          (col("m.n_a") * col("m.n_b")).cast("double")).as("ks"))
  }
}
