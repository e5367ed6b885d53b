package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cascade, DeterministicStub, LlmMatch, MatchStrategy}

/** Cascade edge paths: adjudicator abstention, empty inputs, and blocks
  * with no counterpart. */
class CascadeEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("an always-abstaining strategy produces zero LLM matches") {
    import spark.implicits._
    val left = Seq(("d1.com.au", "Acme Mining", "2000"))
      .toDF("domain", "name", "block")
    val right = Seq(("51824753556", "Acme Mining Pty Ltd", "2000"))
      .toDF("abn", "rname", "block")
    val abstain = new MatchStrategy {
      override def adjudicate(n: String, cands: Seq[(String, String)]) = None
    }
    val got = LlmMatch(spark, left, right, "block", "domain", "name",
      "abn", "rname", abstain)
    assert(got.count() == 0)
    // and the stub with an impossible floor behaves the same
    val neverFloor = LlmMatch(spark, left, right, "block", "domain", "name",
      "abn", "rname", new DeterministicStub(floor = 101.0))
    assert(neverFloor.count() == 0)
  }

  test("empty right side flows through the whole cascade without error") {
    import spark.implicits._
    val left = Seq((1L, "Acme", 7L)).toDF("crawl_id", "crawl_name", "block")
    val right = Seq.empty[(Long, String, Long)]
      .toDF("abr_id", "abr_name", "block")
    val rule = Cascade.ruleMatch(
      left.select("crawl_id", "crawl_name"),
      right.select("abr_id", "abr_name"), "crawl_id", "abr_id")
    assert(rule.count() == 0)
    val residue = Cascade.residue(left, rule, "crawl_id", "crawl_id")
    assert(residue.count() == 1) // nothing matched, everything remains
    val fuzzy = Cascade.fuzzyMatch(residue, right, "block",
      lit(100.0), "crawl_id", Seq("abr_id"))
    assert(fuzzy.count() == 0)
    assert(Cascade.unionStages(Seq(rule, fuzzy)).count() == 0)
  }

  test("left rows whose block has no right-side counterpart are silently " +
      "skipped (inner blocking semantics, SURVEY §2.4 J4 fine print)") {
    import spark.implicits._
    val left = Seq((1L, "Acme", 7L), (2L, "Wattle", 8L))
      .toDF("crawl_id", "crawl_name", "block")
    val right = Seq((10L, "Acme Co", 7L)).toDF("abr_id", "abr_name", "block")
    val fuzzy = Cascade.fuzzyMatch(left, right, "block",
      lit(90.0), "crawl_id", Seq("abr_id"))
    val ids = fuzzy.select("crawl_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L)) // block 8 has no candidates → row absent
  }

  test("the candidate cap keeps the same tied candidates at any partitioning") {
    import spark.implicits._
    // one block over the 256 cap: keys k000..k254 are fillers, and key k255
    // straddles the cap with two names. The cap's total order (right key,
    // right name) keeps ("k255", "Alpha Widgets") at every partitioning.
    val left = Seq(("d1.com.au", "Alpha Widgets", "2000"))
      .toDF("domain", "name", "block")
    val right = ((0 until 255).map(i => (f"k$i%03d", s"Filler $i", "2000")) ++
      Seq(("k255", "Zulu Foods", "2000"), ("k255", "Alpha Widgets", "2000")))
      .toDF("abn", "rname", "block")
    val offered = spark.sparkContext.longAccumulator("offered")
    val ownName = new MatchStrategy {
      override def adjudicate(n: String, cands: Seq[(String, String)]) = {
        offered.add(cands.size.toLong)
        cands.collectFirst { case (k, `n`) => k }
      }
    }
    def picks(partitions: Int): Set[(String, String)] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try LlmMatch(spark, left.repartition(partitions),
          right.repartition(partitions), "block", "domain", "name",
          "abn", "rname", ownName)
        .select("abn", "rname").collect().map(r => (r.getString(0), r.getString(1)))
        .toSet
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    val one = picks(1)
    val eight = picks(8)
    // the pick realizes against every right row with the key
    assert(one == Set(("k255", "Alpha Widgets"), ("k255", "Zulu Foods")))
    assert(eight == one)
    assert(offered.value == 2L * 256)
  }
}
