package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{exprs, Cleaning}

/** Column-level checks for the cleaning/extraction functions F1–F14
  * (SURVEY.md §2.7), incl. cleaning idempotence. */
class CleaningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Any = {
    val df = Seq(Option(input)).toDF("x")
    df.select(c.as("y")).head().get(0)
  }

  test("F1 cleanText collapses whitespace") {
    assert(one(Cleaning.cleanText(col("x")), "  a\t\tb \n c  ") == "a b c")
  }

  test("F2 extractDomain strips scheme and www") {
    assert(one(Cleaning.extractDomain(col("x")),
      "https://www.acme.com.au/about?x=1") == "acme.com.au")
    assert(one(Cleaning.extractDomain(col("x")),
      "http://shop.acme.net.au/") == "shop.acme.net.au")
  }

  test("F3 extractCompanyName strips ONE tld suffix in priority order, " +
      "maps -/_ to space, title-cases") {
    assert(one(Cleaning.extractCompanyName(col("x")), "acme-mining.com.au")
      == "Acme Mining")
    assert(one(Cleaning.extractCompanyName(col("x")), "big_shop.org")
      == "Big Shop")
    // compound TLD matches before bare .au (commoncrawl_scraper.py:33-37)
    assert(one(Cleaning.extractCompanyName(col("x")), "x.com.au") == "X")
  }

  test("F5 extractAbn finds the first checksum-valid candidate, else null") {
    assert(one(Cleaning.extractAbn(col("x")),
      "Our ABN: 51 824 753 556 is registered") == "51824753556")
    assert(one(Cleaning.extractAbn(col("x")),
      "call 51 824 753 556 now") == "51824753556") // bare pattern
    assert(one(Cleaning.extractAbn(col("x")),
      "ABN: 11 111 111 111 nope") == null) // checksum fails
    assert(one(Cleaning.extractAbn(col("x")), "no numbers here") == null)
  }

  test("F6/F7/F8 contact extraction") {
    val text = "mail a.b@x.com.au or c@d.net, ph 02 9876 5432, NSW 2000"
    assert(one(Cleaning.extractEmails(col("x")), text)
      .asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("a.b@x.com.au", "c@d.net"))
    assert(one(Cleaning.extractPhones(col("x")), text)
      .asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("02 9876 5432"))
    assert(one(Cleaning.extractPostcode(col("x")), text) == "9876")
    assert(one(Cleaning.extractPostcode(col("x")), "PO 0289 area") == "0289")
    assert(one(Cleaning.extractPostcode(col("x")), "zip 0123") == null)
  }

  test("F9 cleanCompanyName: punctuation → space, collapse, title-case; " +
      "& kept (data_cleaning.py:56-61)") {
    // Python str.title() parity: '&' is a boundary, so "mining&CO" →
    // "Mining&Co" (initcap would give "Mining&co")
    assert(one(Cleaning.cleanCompanyName(col("x")),
      "  ACME***mining&CO (pty.) ltd ") == "Acme Mining&Co Pty Ltd")
    assert(one(Cleaning.cleanCompanyName(col("x")), "o'brien & sons 3d") ==
      "O Brien & Sons 3D")
    assert(one(Cleaning.cleanCompanyName(col("x")), null) == null)
  }

  test("F10/F11 postcode + abn cleaning") {
    assert(one(Cleaning.cleanPostcode(col("x")), " 20-00 ") == "2000")
    assert(one(Cleaning.cleanPostcode(col("x")), "none") == null)
    assert(one(Cleaning.cleanAbn(col("x")), "51 824 753 556") == "51824753556")
    assert(one(Cleaning.cleanAbn(col("x")), "12345") == null)
  }

  test("F12 standardizeState: exact alias, fuzzy fallback > 85, else null") {
    assert(one(Cleaning.standardizeState(col("x")), "nsw") == "NSW")
    // reference parity: '[\.\s]+'→' ' yields "N S W" which is NOT an
    // alias and fuzzy-scores ~75 ≤ 85 → null (data_cleaning.py:47-53)
    assert(one(Cleaning.standardizeState(col("x")), "N.S.W.") == null)
    assert(one(Cleaning.standardizeState(col("x")), "new south wales") == "NSW")
    assert(one(Cleaning.standardizeState(col("x")), "Victorias") == "VIC") // fuzzy
    assert(one(Cleaning.standardizeState(col("x")), "Quebec") == null)
  }

  /** F12 with the earlier Indel-ratio fallback: the reference side of
    * the recorded scorer comparison, built like `standardizeState` with
    * `indel_ratio` in place of WRatio. */
  private def standardizeStateIndel(state: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val m = Cleaning.StateMapping
    val norm = Cleaning.cleanText(upper(regexp_replace(state, "\\.", " ")))
    val exact = m.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(norm === lit(k), lit(v)).otherwise(acc)
    }
    val best = array_max(array(m.keys.toSeq.sorted.map { k =>
      struct(exprs.indel_ratio(norm, lit(k)).as("score"),
        lit(m(k)).as("std"))
    }: _*))
    coalesce(exact, when(best.getField("score") > 85.0, best.getField("std")))
  }

  test("F12 scorer divergence record: WRatio vs Indel fallback (VERDICT r3 nit)") {
    // the two scorers agree on every alias key and on near-exact typos —
    // the accept/reject behavior the 16-alias domain actually exercises
    val agreeing = Cleaning.StateMapping.keys.toSeq ++ Seq(
      "nsw", "Victorias", "Queenslnd", "TASMANIAA", "Quebec", "zzz", "")
    agreeing.foreach { in =>
      assert(
        one(Cleaning.standardizeState(col("x")), in) ==
          one(standardizeStateIndel(col("x")), in),
        s"scorers diverge on '$in'")
    }
    // the recorded divergence: WRatio (extractOne's real default) accepts
    // containment-style inputs through its partial alignment; the plain
    // Indel ratio rejects them. WRatio is the reference-parity behavior.
    assert(one(Cleaning.standardizeState(col("x")), "NSW Australia") == "NSW")
    assert(one(standardizeStateIndel(col("x")), "NSW Australia") == null)
  }

  test("F14 address synthesis: both-present else null (abr_parser.py:66)") {
    val df = Seq(("NSW", "2000"), (null, "2000"), ("NSW", null))
      .toDF("st", "pc")
    val got = df.select(
      Cleaning.synthesizeAddress(col("st"), col("pc")).as("a"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("NSW 2000", null, null))
  }

  test("cleaning idempotence: clean(clean(x)) == clean(x) for F9/F10/F11") {
    val rng = new scala.util.Random(42)
    val inputs = Seq.fill(50)(
      Seq.fill(1 + rng.nextInt(4))(
        Seq("ACME", "pty.", "l-t-d", "&CO", "mi ning", "x9"). apply(rng.nextInt(6)))
        .mkString(" "))
    val df = inputs.toDF("x")
    val once = df.select(Cleaning.cleanCompanyName(col("x")).as("y"))
    val twice = once.select(Cleaning.cleanCompanyName(col("y")).as("z"))
    assert(once.collect().map(_.get(0)).toSeq ==
      twice.collect().map(_.get(0)).toSeq)
  }

  test("custom expressions work through SQL registration") {
    exprs.register(spark)
    val r = spark.sql(
      "SELECT token_sort_ratio('new york mets', 'mets new york') AS ts, " +
        "indel_ratio('kitten', 'sitting') AS ir, " +
        "abn_valid('51824753556') AS ok").head()
    assert(r.getDouble(0) == 100.0)
    assert(math.abs(r.getDouble(1) - 61.5385) < 5e-4)
    assert(r.getBoolean(2))
  }
}
