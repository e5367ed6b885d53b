package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.AbnKernel
import graft.operators.DeterministicStub
import graft.pipeline.Pipeline

/** End-to-end cascade test on a company-shaped corpus (SURVEY.md §5.1,
  * FIXTURES.md B3): seeded synthetic ABR rows, each with three crawl-side
  * variants carrying an expected match stage — the assertion-bearing
  * version of the reference's printed corpus
  * (/root/reference/test/entity_matching_test.py, which has no asserts).
  */
class CascadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def validAbn(): String =
    Iterator.continually("%011d".format(math.abs(rng.nextLong()) % 100000000000L))
      .take(100000).find(AbnKernel.isValid).get

  private val firstWords = Seq("Harbour", "Southern", "Boronia", "Wattle",
    "Coastal", "Ironbark", "Banksia", "Outback", "Riverline", "Opal",
    "Saltbush", "Kookaburra", "Bluegum", "Stonefield", "Mallee", "Quandong",
    "Westgate", "Tallow", "Drover")
  private val midWords = Seq("Mining", "Logistics", "Dental", "Farming",
    "Consulting", "Plumbing", "Bakery", "Transport", "Marine", "Energy",
    "Textiles", "Roofing", "Optics", "Caravans", "Orchards", "Robotics",
    "Brewing", "Fencing", "Surveying")

  /** 19 seed ABR companies: distinct postcodes so each blocks alone. */
  private case class Seed(abn: String, name: String, postcode: String,
    state: String, idx: Int)
  private val seeds: Seq[Seed] = (0 until 19).map { i =>
    Seed(validAbn(), s"${firstWords(i)} ${midWords(i)} Group Pty Ltd",
      (2000 + i).toString, "NSW", i)
  }

  private def abrDf = seeds.map(s =>
      (s.abn, s.name, "Australian Private Company", s.state, s.postcode))
    .toDF("abn", "entity_name", "entity_type", "state", "postcode")

  // crawl variants (entity_matching_test.py:44-86 semantics):
  //   exact  — same name + valid ABN → rule_based_abn, score 100, high
  //   fuzzy  — word dropped + '&'-joined + no ABN → fuzzy, 80 ≤ score
  //   abbrev — first+last word only, no ABN → LLM stub, 95, medium
  private def crawlDf = seeds.flatMap { s =>
    val slug = s.name.toLowerCase.replaceAll("[^a-z0-9]+", "-")
    val words = s.name.split(" ")
    Seq(
      (s"$slug-exact.com.au", s.name, s.abn, s.postcode),
      (s"$slug-fuzzy.com.au",
        s"${words(0)} ${words(1)} Group Ltd", null, s.postcode),
      (s"$slug-abbrev.com.au", s"${words(0)} ${words.last}", null, s.postcode))
  }.toDF("domain", "company_name", "abn", "postcode")

  private lazy val result = Pipeline.matchEntities(spark,
    Pipeline.cleanCrawl(crawlDf), Pipeline.cleanAbr(abrDf),
    Pipeline.Config(enableLlm = true, llmStrategy = new DeterministicStub(30.0)))
    .cache()

  test("every exact variant is matched by the rule stage at 100/high") {
    val rules = result.filter(col("crawl_domain").endsWith("-exact.com.au"))
      .collect()
    assert(rules.length == 19)
    rules.foreach { r =>
      assert(r.getAs[String]("match_method") == "rule_based_abn")
      assert(r.getAs[java.math.BigDecimal]("match_score").doubleValue() == 100.0)
      assert(r.getAs[String]("match_confidence") == "high")
      assert(r.getAs[String]("crawl_abn") == r.getAs[String]("abr_abn"))
    }
  }

  test("every fuzzy variant is matched by the fuzzy stage to its own seed") {
    val fuzz = result.filter(col("crawl_domain").endsWith("-fuzzy.com.au"))
      .collect()
    assert(fuzz.length == 19)
    fuzz.foreach { r =>
      assert(r.getAs[String]("match_method") == "fuzzy",
        s"${r.getAs[String]("crawl_domain")} got ${r.getAs[String]("match_method")}")
      val score = r.getAs[java.math.BigDecimal]("match_score").doubleValue()
      assert(score >= 80.0 && score < 100.0)
      // postcode blocking pins the correct seed
      val seed = seeds.find(s => r.getAs[String]("abr_postcode") == s.postcode).get
      assert(r.getAs[String]("abr_abn") == seed.abn)
    }
  }

  test("every abbreviated variant falls through to the LLM stage at 95/medium") {
    val llm = result.filter(col("crawl_domain").endsWith("-abbrev.com.au"))
      .collect()
    assert(llm.length == 19)
    llm.foreach { r =>
      assert(r.getAs[String]("match_method") == "LLM",
        s"${r.getAs[String]("crawl_domain")} got ${r.getAs[String]("match_method")}")
      assert(r.getAs[java.math.BigDecimal]("match_score").doubleValue() == 95.0)
      assert(r.getAs[String]("match_confidence") == "medium")
      val seed = seeds.find(s => r.getAs[String]("abr_postcode") == s.postcode).get
      assert(r.getAs[String]("abr_abn") == seed.abn)
    }
  }

  test("cascade stages are disjoint and complete (each domain exactly once)") {
    val counts = result.groupBy("crawl_domain").count()
      .filter(col("count") > 1).count()
    assert(counts == 0)
    assert(result.count() == 57) // 19 seeds × 3 variants
  }

  test("output matches the dwh.dim_entity_match_company_data shape " +
      "(FIXTURES.md B4)") {
    val f = result.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(f("match_score") == "decimal(5,2)")
    assert(f("created_at") == "timestamp")
    assert(f("creation_dt") == "timestamp")
    assert(result.columns.length == 13)
  }

  test("evaluateMatches: pair-level confusion counts and P/R/F1") {
    import spark.implicits._
    // gold {(1,10),(2,20),(3,30)}; predicted hits 1, mislabels 2 (fp+fn),
    // misses 3 (fn), and invents 9 (fp) → tp=1 fp=2 fn=2
    val gold = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("l", "r")
    val pred = Seq((1L, 10L), (2L, 21L), (9L, 90L), (1L, 10L)) // dup row
      .toDF("l", "r")
    val m = graft.operators.Cascade.evaluateMatches(pred, gold, "l", "r")
      .collect()(0)
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == ((1L, 2L, 2L)))
    assert(m.getDouble(3) == 1.0 / 3)        // precision
    assert(m.getDouble(4) == 1.0 / 3)        // recall
    assert(m.getDouble(5) == 2.0 / 6)        // f1 = 2tp/(2tp+fp+fn)
  }

  test("evaluateMatches: empty inputs report zero counts, 0.0 metrics") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("l", "r")
    val m = graft.operators.Cascade.evaluateMatches(empty, empty, "l", "r")
      .collect()(0)
    assert((0 to 2).map(m.getLong) == Seq(0L, 0L, 0L))
    assert((3 to 5).map(m.getDouble) == Seq(0.0, 0.0, 0.0))
  }

  test("matchEntities starts no job; one strategy call per adjudicated group") {
    val calls = spark.sparkContext.longAccumulator("calls")
    val counting = new graft.operators.MatchStrategy {
      private val stub = new DeterministicStub(30.0)
      override def adjudicate(n: String, cands: Seq[(String, String)]) = {
        calls.add(1)
        stub.adjudicate(n, cands)
      }
    }
    val crawl = Pipeline.cleanCrawl(crawlDf)
    val abr = Pipeline.cleanAbr(abrDf)
    val (matches, p) = Profile.during(spark)(Pipeline.matchEntities(spark,
      crawl, abr, Pipeline.Config(enableLlm = true, llmStrategy = counting)))
    assert(p.jobs == 0)
    matches.write.format("noop").mode("overwrite").save()
    // the 19 abbreviated variants are the only (domain, name) groups the
    // rule and fuzzy stages leave to adjudication
    assert(calls.value == 19L)
  }

  test("a repeat run of the q141 cascade compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // q141's corpus keyed by 100 supplier ids
    val dir = java.nio.file.Files.createTempDirectory("q141").toString
    spark.range(1, 101).select(col("id").as("s_suppkey"))
      .write.parquet(s"$dir/supplier.parquet")
    def land(): Unit = {
      val (abr, crawl) = SparkEntry.variantCorpus(spark, dir)
      Pipeline.run(spark, abr, crawl, Pipeline.Config(enableLlm = true))
        .write.format("noop").mode("overwrite").save()
    }
    land()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    land()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }
}
