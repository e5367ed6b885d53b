package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.operators.{DeterministicStub, MatchStrategy}
import graft.pipeline.Pipeline
import graft.sources.{AbrXml, CrawlParse, Sinks}

/** Counts adjudication calls, candidates offered and picks made. */
final class CountingStrategy(inner: MatchStrategy, calls: LongAccumulator,
    candidates: LongAccumulator, picks: LongAccumulator) extends MatchStrategy {
  override def adjudicate(leftName: String,
      cands: Seq[(String, String)]): Option[String] = {
    calls.add(1)
    candidates.add(cands.size)
    val pick = inner.adjudicate(leftName, cands)
    if (pick.isDefined) picks.add(1)
    pick
  }
}

/** The paper's landing: ABR bulk XML and crawl pages → stg (parquet) →
  * pre_dwh (cleaned, deduplicated) → match cascade with adjudication →
  * dwh, every layer persisted. One pass lands the whole batch. */
final class ErLanding(spark: SparkSession, tracer: Tracer, o: Main.Opts)
    extends Workload {
  private val wh = s"${o.work}/warehouse"
  private val stgAbr = s"$wh/stg/abr_raw_companies"
  private val stgCrawl = s"$wh/stg/common_crawl_raw_companies"
  private val preAbr = s"$wh/pre_dwh/abr_companies"
  private val preCrawl = s"$wh/pre_dwh/common_crawl_companies"
  private val dwh = s"$wh/dwh/dim_entity_match_company_data"

  private val sc = spark.sparkContext
  private val calls = sc.longAccumulator("llm.calls")
  private val candidates = sc.longAccumulator("llm.candidates")
  private val picks = sc.longAccumulator("llm.picks")
  private val strategy: MatchStrategy =
    if (tracer.enabled)
      new CountingStrategy(new DeterministicStub(), calls, candidates, picks)
    else new DeterministicStub()
  private var warmupCounts = Map.empty[String, Any]

  private def pass(i: Int): scala.collection.Map[String, Any] = {
    tracer.span("sources.abr_xml") {
      Sinks.overwrite(AbrXml.toStaging(
        AbrXml.read(spark, s"${o.input}/abr")), stgAbr)
    }
    tracer.span("sources.crawl_parse") {
      val pages = spark.read.schema("url STRING, html STRING")
        .json(s"${o.input}/pages")
      Sinks.overwrite(CrawlParse.parse(pages), stgCrawl)
    }
    tracer.span("pipeline.clean") {
      tracer.span("pipeline.clean_abr") {
        Sinks.overwrite(Pipeline.cleanAbr(spark.read.parquet(stgAbr)), preAbr)
      }
      tracer.span("pipeline.clean_crawl") {
        Sinks.overwrite(Pipeline.cleanCrawl(spark.read.parquet(stgCrawl)),
          preCrawl)
      }
    }
    val funnel = tracer.span("pipeline.match") {
      val matches = Pipeline.matchEntities(spark,
        spark.read.parquet(preCrawl), spark.read.parquet(preAbr),
        Pipeline.Config(enableLlm = true, llmStrategy = strategy))
      val (observed, obs) = Pipeline.withMatchMetrics(matches)
      Sinks.writeMatches(observed, dwh)
      obs.get
    }
    Json.obj(
      "n_matches" -> funnel("n_matches"),
      "n_rule" -> funnel("n_rule"),
      "n_fuzzy" -> funnel("n_fuzzy"),
      "n_llm" -> funnel("n_llm"))
  }

  /** Per-layer counts of the pass just landed (untimed). */
  private def layerCounts(): Map[String, Any] = {
    val stgA = spark.read.parquet(stgAbr).count()
    val stgC = spark.read.parquet(stgCrawl).count()
    val preA = spark.read.parquet(preAbr)
    val preC = spark.read.parquet(preCrawl)
    val (nPreA, nPreC) = (preA.count(), preC.count())
    // fuzzy-stage scoring work: Σ over postcode blocks of
    // (crawl rows left after the rule stage) × (ABR rows in the block)
    val ruled = spark.read.parquet(dwh)
      .filter(col("match_method") === "rule_based_abn")
      .select(col("crawl_domain").as("domain")).distinct()
    val residue = preC.join(ruled, Seq("domain"), "left_anti")
      .filter(col("postcode").isNotNull)
      .groupBy(col("postcode")).agg(count(lit(1)).as("l"))
    val right = preA.filter(col("postcode").isNotNull)
      .groupBy(col("postcode")).agg(count(lit(1)).as("r"))
    val candidatePairs = residue.join(right, Seq("postcode"))
      .agg(coalesce(sum(col("l") * col("r")), lit(0L))).first().getLong(0)
    Map(
      "sources.abr_xml.rows" -> stgA,
      "sources.crawl_parse.rows" -> stgC,
      "pipeline.clean.rows" -> (nPreA + nPreC),
      "pipeline.clean.dedup_ratio" -> (nPreA + nPreC).toDouble / (stgA + stgC),
      "cascade.fuzzy.candidate_pairs" -> candidatePairs,
      "llm.calls" -> calls.value.longValue,
      "llm.candidates" -> candidates.value.longValue,
      "llm.picks" -> picks.value.longValue,
      "sinks.bytes_written" -> dirBytes(new java.io.File(wh)))
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length
    else 0L

  def run(): Seq[scala.collection.Map[String, Any]] = {
    val unpin = pinGenerations(spark)
    timedPasses(tracer, o.seconds, warmups = 2, minTimed = 4, maxTimed = 12,
      i => {
        if (i == 0 && tracer.enabled) warmupCounts = layerCounts()
        unpin(i)
      })(pass)
  }

  def finish(): scala.collection.Map[String, Any] =
    Json.obj("dwh" -> dwh) ++ warmupCounts
}
