package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{exprs, Cleaning}
import graft.operators.{Cascade, LlmMatch, MatchStrategy, DeterministicStub}

/** The callable, composable pipeline `run_pipeline.py` promised but never
  * implemented (/root/reference/run_pipeline.py:7-22 imports functions that
  * don't exist — SURVEY.md §3.4): stg → pre_dwh cleaning → three-stage
  * match cascade → dwh.dim_entity_match_company_data. The match cascade
  * is ONE lazy Spark DAG; `run` pins only the cleaned frames it feeds.
  */
object Pipeline {

  final case class Config(
      fuzzyAcceptThreshold: Double = 80.0,
      fuzzyHighConfidence: Double = 92.0,
      llmScore: Double = 95.0,
      enableLlm: Boolean = false,   // mirrors entity_matching.py:303 default
      llmStrategy: MatchStrategy = new DeterministicStub())

  /** stg → pre_dwh for ABR rows: clean + standardize + dedup
    * (/root/reference/transform/data_cleaning.py:157-185). */
  def cleanAbr(stgAbr: DataFrame): DataFrame =
    stgAbr
      .withColumn("entity_name", Cleaning.cleanCompanyName(col("entity_name")))
      .withColumn("abn", Cleaning.cleanAbn(col("abn")))
      .withColumn("postcode", Cleaning.cleanPostcode(col("postcode")))
      .withColumn("state", Cleaning.standardizeState(col("state")))
      .dropDuplicates("abn", "entity_name", "state", "postcode") // A1

  /** stg → pre_dwh for crawl rows. */
  def cleanCrawl(stgCrawl: DataFrame): DataFrame =
    stgCrawl
      .withColumn("company_name", Cleaning.cleanCompanyName(col("company_name")))
      .withColumn("abn", Cleaning.cleanAbn(col("abn")))
      .withColumn("postcode", Cleaning.cleanPostcode(col("postcode")))
      .dropDuplicates("abn", "company_name", "postcode") // A1

  /** pre_dwh → dwh: the full match cascade (SURVEY.md §3.3) over cleaned
    * frames with the reference's column contract
    * (crawl: domain/company_name/abn/postcode,
    *  abr: abn/entity_name/entity_type/state/postcode).
    *
    * One lazy plan that starts no job and pins nothing: ONE blocked join
    * feeds both the fuzzy argmax and adjudication
    * ([[LlmMatch.blockedStages]]), and the load timestamps sit behind
    * [[graft.functions.RunConstant]], so a repeat run compiles nothing new.
    */
  def matchEntities(spark: SparkSession, cleanedCrawl: DataFrame,
      cleanedAbr: DataFrame, cfg: Config = Config()): DataFrame = {
    val crawl = cleanedCrawl.select(
      col("domain").as("crawl_domain"),
      col("company_name").as("crawl_company_name"),
      col("abn").as("crawl_abn"),
      col("postcode").as("crawl_postcode"))
    val abr = cleanedAbr.select(
      col("abn").as("abr_abn"),
      col("entity_name").as("abr_company_name"),
      col("entity_type").as("abr_entity_type"),
      col("state").as("abr_state"),
      col("postcode").as("abr_postcode"))

    // J1 — exact ABN equi-join (keys cleaned upstream, so plain ===)
    val rule = Cascade.ruleMatch(
      crawl.filter(col("crawl_abn").isNotNull),
      abr.filter(col("abr_abn").isNotNull), "crawl_abn", "abr_abn")

    // J3 — residue keyed on domain (entity_matching.py:172-173), against
    // the rule stage's output: both then hang off the rule's one broadcast,
    // so AQE creates their stages together, in plan order, and the codegen
    // stage ids (part of the generated classes) repeat from run to run
    val afterRule = crawl.join(rule.select("crawl_domain"), Seq("crawl_domain"),
        "left_anti")
      .withColumnRenamed("crawl_postcode", "block")
      .filter(col("block").isNotNull)
    val blockedAbr = abr.withColumnRenamed("abr_postcode", "block")
      .filter(col("block").isNotNull)

    // J2+J4 + J5 — ONE postcode-blocked join: token_sort_ratio argmax per
    // domain, and adjudication of the domains it leaves unmatched
    val blocked = LlmMatch.blockedStages(afterRule, blockedAbr, "block",
        "crawl_domain", "crawl_company_name", "abr_abn", "abr_company_name",
        Some((exprs.token_sort_ratio(col("crawl_company_name"), col("abr_company_name")),
          Cascade.MatchConfig(cfg.fuzzyAcceptThreshold, cfg.fuzzyHighConfidence))),
        Some(cfg.llmStrategy).filter(_ => cfg.enableLlm), cfg.llmScore,
        maxCandidates = 256)
      .withColumn("crawl_postcode", col("block"))
      .withColumn("abr_postcode", col("block"))
      .drop("block")

    // U1 + K4 — union stages, stamp load timestamps, project the dwh shape
    val loadedAt = exprs.run_constant(current_timestamp())
    Cascade.unionStages(Seq(rule, blocked))
      .withColumn("match_score",
        col("match_score").cast("decimal(5,2)")) // ddl_scripts.sql:87
      .withColumn("created_at", loadedAt)
      .withColumn("creation_dt", loadedAt)
      .select("crawl_domain", "crawl_company_name", "crawl_abn",
        "abr_abn", "abr_company_name", "abr_entity_type", "abr_state",
        "abr_postcode", "match_method", "match_score", "match_confidence",
        "created_at", "creation_dt")
  }

  /** Full run: raw stg frames in, dwh match table out. The cleaned frames
    * stay pinned: several match branches read them, each with its own null
    * filter pushed below the dedup, so unpinned each would re-run the regex
    * chain and dedup shuffle (q141 warm: 1.0–1.3 s pinned, 1.7–2.0 s not).
    * The pins are eager, so the cleaning runs when `run` is called and its
    * task metrics land while its plan is still referenced. */
  def run(spark: SparkSession, stgAbr: DataFrame, stgCrawl: DataFrame,
      cfg: Config = Config()): DataFrame =
    matchEntities(spark, cleanCrawl(stgCrawl).localCheckpoint(),
      cleanAbr(stgAbr).localCheckpoint(), cfg)

  /** Attach per-stage match metrics via `Dataset.observe`: the counters
    * ride the job itself (no second pass over the data) and are readable
    * from the returned Observation after any action — the production
    * monitoring hook for the cascade (the reference only had progress
    * prints, e.g. entity_matching.py:269). */
  def withMatchMetrics(matches: DataFrame):
      (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("match_metrics")
    val observed = matches.observe(obs,
      count(lit(1)).as("n_matches"),
      sum(when(col("match_method") === "rule_based_abn", 1L).otherwise(0L))
        .as("n_rule"),
      sum(when(col("match_method") === "fuzzy", 1L).otherwise(0L))
        .as("n_fuzzy"),
      sum(when(col("match_method") === "LLM", 1L).otherwise(0L))
        .as("n_llm"),
      min(col("match_score")).as("min_score"))
    (observed, obs)
  }
}
