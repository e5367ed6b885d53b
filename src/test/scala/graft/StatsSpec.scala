package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Stats

/** Equi-depth histogram ([[Stats.equiDepthHistogram]]): hand-checked
  * bucketing, the approx-boundary scale path, and the no-window plan
  * property. */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("quartile histogram of 1..8 holds two values per bucket") {
    import spark.implicits._
    val df = (1L to 8L).toDF("v")
    val got = Stats.equiDepthHistogram(df, "v", nBuckets = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // boundaries = percentile(1..8, [.25 .5 .75]) = (2.75, 4.5, 6.25):
    // bucket = #boundaries strictly below v
    assert(got == Map(
      0L -> (2L, 1L, 2L), 1L -> (2L, 3L, 4L),
      2L -> (2L, 5L, 6L), 3L -> (2L, 7L, 8L)))
  }

  test("bucket counts sum to the row count; ranges do not overlap") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val h = Stats.equiDepthHistogram(docs, "n_chars", nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(h.map(_._2).sum == docs.count())
    h.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"overlap: $a vs $b")
      case _ =>
    }
    // equi-depth: no bucket holds more than ~2x its fair share on this
    // smooth distribution
    val fair = docs.count().toDouble / 8
    h.foreach { case (_, n, _, _) => assert(n <= fair * 2, h.mkString(",")) }
  }

  test("approx boundaries give the same shape within sketch tolerance") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = Stats.equiDepthHistogram(docs, "n_chars", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Stats.equiDepthHistogram(docs, "n_chars", 8,
        approxBoundaries = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.count()
    // rank error eps = 1/accuracy per boundary; generous slack of 5% of N
    (0L until 8L).foreach { b =>
      val d = math.abs(exact.getOrElse(b, 0L) - approx.getOrElse(b, 0L))
      assert(d <= n * 0.05, s"bucket $b: exact=${exact.get(b)} approx=${approx.get(b)}")
    }
  }

  test("values past 2^53 bucket exactly (integral boundaries, no double " +
      "promote)") {
    import spark.implicits._
    // boundary lands on 2^53+1, which is NOT a double; the old
    // double-domain compare promoted the column and put 2^53+1 in the
    // wrong bucket (2^53+1 as double rounds to 2^53, and x > 2^53 is
    // then false). With floored-long boundaries every compare is exact.
    val p53 = 9007199254740992L // 2^53
    val got = Stats.equiDepthHistogram(
        Seq(p53, p53 + 1, p53 + 3).toDF("v"), "v", 2)
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got === Array(
      (0L, 1L, p53, p53),
      (1L, 2L, p53 + 1, p53 + 3)))
  }

  test("empty input and all-null columns yield an empty histogram, not " +
      "an NPE") {
    import spark.implicits._
    val empty = Stats.equiDepthHistogram(
      Seq.empty[Long].toDF("v"), "v", 4)
    assert(empty.collect().isEmpty)
    assert(empty.columns.toSeq === Seq("bucket", "n", "lo", "hi"))
    val allNull = Stats.equiDepthHistogram(
      Seq[Option[Long]](None, None).toDF("v"), "v", 4)
    assert(allNull.collect().isEmpty)
  }

  test("histogram plan has no window and a partial aggregation") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val df = Stats.equiDepthHistogram(docs, "n_chars", 4)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "bucketing must not sort globally")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "expected partial + final HashAggregate")
  }

  test("maxConcurrency: sweep-line peak with half-open [start, end) " +
      "semantics; bad intervals rejected") {
    import spark.implicits._
    // (1,5),(2,6),(5,7): (1,5) retires exactly as (5,7) starts -> peak 2
    val iv = Seq(("g", 1L, 5L), ("g", 2L, 6L), ("g", 5L, 7L),
      // second group: back-to-back intervals never overlap -> peak 1
      ("h", 1L, 3L), ("h", 3L, 5L),
      // rejected row: inverted
      ("g", 9L, 4L))
      .toDF("grp", "s", "e")
      .unionByName(Seq(("g", Some(1L), Option.empty[Long]))
        .toDF("grp", "s", "e"))
    val got = Stats.maxConcurrency(iv, "s", "e", Seq("grp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("g" -> 2L, "h" -> 1L), got)
    // fully nested intervals stack
    val nest = Seq(("n", 1L, 10L), ("n", 2L, 9L), ("n", 3L, 8L))
      .toDF("grp", "s", "e")
    val gn = Stats.maxConcurrency(nest, "s", "e", Seq("grp"))
      .collect()(0).getLong(1)
    assert(gn == 3L)
  }

  test("sweep-line property: maxConcurrency and coveredTime match " +
      "brute-force references on randomized interval sets") {
    import spark.implicits._
    val rng = new scala.util.Random(1234)
    (1 to 5).foreach { trial =>
      // small integer domain forces ties, duplicates, zero-length and
      // nested intervals — every edge shape the sweep must resolve
      val iv = Seq.fill(60) {
        val s = rng.nextInt(20).toLong
        ("g", s, s + rng.nextInt(8).toLong)
      }
      // brute force over the discrete timeline with [s, e) membership
      def conc(t: Long) = iv.count { case (_, s, e) => s <= t && t < e }
      val wantMax = (0L to 30L).map(conc).max
      val wantCov = (0L to 30L).count(conc(_) > 0).toLong
      val df = iv.toDF("grp", "s", "e")
      val gotMax = Stats.maxConcurrency(df, "s", "e", Seq("grp"))
        .collect()(0).getLong(1)
      assert(gotMax == wantMax, s"trial $trial max: $gotMax vs $wantMax")
      val gotCov = Stats.coveredTime(df, "s", "e", Seq("grp"))
        .collect()(0).getLong(1)
      assert(gotCov == wantCov, s"trial $trial cov: $gotCov vs $wantCov")
    }
  }

  test("coveredTime: union length with gaps, duplicates, nesting, and " +
      "zero-length intervals") {
    import spark.implicits._
    // g: [1,5) ∪ [3,7) ∪ [10,12) = 6 + 2 = 8; the overlap counts once
    // h: duplicates of one interval count once; [4,4) adds nothing
    // n: nesting collapses to the outer interval
    val iv = Seq(
      ("g", 1L, 5L), ("g", 3L, 7L), ("g", 10L, 12L),
      ("h", 2L, 6L), ("h", 2L, 6L), ("h", 4L, 4L),
      ("n", 1L, 10L), ("n", 3L, 5L))
      .toDF("grp", "s", "e")
    val got = Stats.coveredTime(iv, "s", "e", Seq("grp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("g" -> 8L, "h" -> 4L, "n" -> 9L), got)
  }

  test("ksStatistic: hand-computed ECDF gap, exact numerator, " +
      "smallest argmax value") {
    import spark.implicits._
    // a = {1,2,2,3}, b = {2,3,3,4,4,5}: nA=4, nB=6
    // v : cumA cumB |cumA*6 - cumB*4|
    // 1 :  1    0    6
    // 2 :  3    1   14   <- max, attained first at v=2
    // 3 :  4    3   12
    // 4 :  4    5    4
    // 5 :  4    6    0
    val a = Seq(1L, 2L, 2L, 3L).toDF("x")
    val b = Seq(2L, 3L, 3L, 4L, 4L, 5L).toDF("x")
    val r = Stats.ksStatistic(a, b, "x").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 6L, 2L, 14L)), r.toString)
    assert(r.getDouble(4) == 14.0 / 24.0)
  }

  test("ksStatistic: identical samples give 0; disjoint supports give 1") {
    import spark.implicits._
    val s = Seq(5L, 9L, 9L, 12L).toDF("x")
    val same = Stats.ksStatistic(s, s, "x").head()
    assert(same.getLong(3) == 0L && same.getDouble(4) == 0.0)
    val lo = Seq(1L, 2L, 3L).toDF("x")
    val hi = Seq(10L, 11L).toDF("x")
    val dj = Stats.ksStatistic(lo, hi, "x").head()
    // at v=3: cumA=3, cumB=0 -> |3*2 - 0*3| = 6 = nA*nB
    assert(dj.getLong(2) == 3L && dj.getLong(3) == 6L &&
      dj.getDouble(4) == 1.0, dj.toString)
  }

  test("ksStatisticByGroup: per-group gaps match the global operator " +
      "run per group; one-sided groups are dropped") {
    import spark.implicits._
    val df = Seq(
      // g1: a = {1,2,2,3}, b = {2,3,3,4,4,5} — the hand case above
      ("g1", true, 1L), ("g1", true, 2L), ("g1", true, 2L),
      ("g1", true, 3L), ("g1", false, 2L), ("g1", false, 3L),
      ("g1", false, 3L), ("g1", false, 4L), ("g1", false, 4L),
      ("g1", false, 5L),
      // g2: disjoint supports
      ("g2", true, 1L), ("g2", true, 2L), ("g2", false, 9L),
      // g3: one-sided (a only) — must not appear
      ("g3", true, 4L), ("g3", true, 5L))
      .toDF("grp", "is_a", "x")
    val got = Stats.ksStatisticByGroup(df, "grp", col("is_a"), "x")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(got.keySet == Set("g1", "g2"), got.keySet.toString)
    assert(got("g1") == ((4L, 6L, 2L, 14L, 14.0 / 24.0)), got("g1"))
    assert(got("g2") == ((2L, 1L, 2L, 2L, 1.0)), got("g2"))
    // per-group rows equal the global operator on each group's slices
    Seq("g1", "g2").foreach { g =>
      val a = df.filter(col("grp") === g && col("is_a")).select("x")
      val b = df.filter(col("grp") === g && !col("is_a")).select("x")
      val r = Stats.ksStatistic(a, b, "x").head()
      assert(got(g) == ((r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))), s"group $g vs global form")
    }
  }

  test("ksStatistic: an empty side or input fails with a named error") {
    import spark.implicits._
    val a = Seq(3L, 1L, 1L).toDF("x")
    val none = Seq.empty[Long].toDF("x")
    for ((x, y, na, nb) <- Seq((a, none, 3, 0), (none, a, 0, 3),
        (none, none, 0, 0))) {
      val e = intercept[IllegalArgumentException](
        Stats.ksStatistic(x, y, "x"))
      assert(e.getMessage.contains(s"n_a = $na, n_b = $nb"), e.getMessage)
    }
  }

  test("ksStatistic: partition-count independent (the two-phase scan " +
      "contract) and matches a driver-side reference on random data") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val av = Seq.fill(200)(rng.nextInt(40).toLong)
    val bv = Seq.fill(300)(rng.nextInt(40).toLong + 5L)
    def ref: (Long, Long, Long, Long) = {
      val vs = (av ++ bv).distinct.sorted
      val gaps = vs.map { v =>
        val ca = av.count(_ <= v).toLong; val cb = bv.count(_ <= v).toLong
        (v, math.abs(ca * bv.size - cb * av.size))
      }
      val mx = gaps.map(_._2).max
      (av.size.toLong, bv.size.toLong,
        gaps.filter(_._2 == mx).map(_._1).min, mx)
    }
    for (parts <- Seq(1, 4)) {
      val r = Stats.ksStatistic(av.toDF("x"), bv.toDF("x"), "x", parts)
        .head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
        ref, s"numParts=$parts: $r")
    }
  }
}
