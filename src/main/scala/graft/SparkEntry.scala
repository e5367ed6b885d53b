package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{exprs, Cleaning}
import graft.operators.{Ann, Cascade, Dedup, TextAnalysis}

/** Driver contract — one entry per implemented operator from SURVEY.md §2
  * plus the training-data-pipeline extensions (dedup / similarity search /
  * text analysis). Every oracled query aliases its columns identically to
  * its `oracleSql` twin and emits only hash-stable column types:
  * strings, bigints, booleans, and doubles produced by arithmetic that is
  * bit-deterministic across engines (integer-derived division, exact
  * decimal sums cast to double at the end).
  */
object SparkEntry {

  /** Flagship: the full rule→fuzzy match cascade (SURVEY.md §3.3) on
    * sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qMatchCascade(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** A [[graft.operators.SuffixArray.SubstrIndex]] saved under a fresh
    * temp root on the IndexStore generation protocol and loaded back
    * (q230/q234's build-save-load serving convention), so repeat query
    * timings measure the PROBE, the serving cost. Its memo deletes the
    * root on eviction. */
  private def savedSubstrIndex(s: SparkSession, tmpPrefix: String)(
      ix: operators.SuffixArray.SubstrIndex)
      : (operators.SuffixArray.SubstrIndex, java.nio.file.Path) = {
    val tmp = java.nio.file.Files.createTempDirectory(tmpPrefix)
    val root = tmp.resolve("ix").toString
    operators.SuffixArray.saveSubstrIndex(ix, root)
    (operators.SuffixArray.loadSubstrIndex(s, root), tmp)
  }
  private def substrIndexMemo() =
    SessionMemo[(operators.SuffixArray.SubstrIndex, java.nio.file.Path)](
      ix => deleteTreeBestEffort(ix._2))

  /** Best-effort recursive delete of an evicted memo's temp root —
    * a file that fails to delete is skipped (the JVM's temp dir is
    * reaped by the container anyway; eviction correctness never depends
    * on it). */
  private def deleteTreeBestEffort(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .sortBy(-_.getNameCount)
      .foreach(p => try java.nio.file.Files.deleteIfExists(p)
        catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Exact decimal sum of a ~2-decimal double column, surfaced as double
    * (order-independent, so hash-stable across engines). */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // -------------------------------------------------- core relational (§2)

  /** A1/A4 + P4 — TPC-H Q1-style pricing summary: scan → filter →
    * hash-aggregate with partial (map-side) combine. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** J1-shape join + aggregate: revenue by order priority. */
  def q02RevenueByPriority(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    // aggregate before the shuffle (r22, guide §2.3): per-order revenue
    // partial-aggregates map-side, so the join exchange moves one row
    // per ORDER instead of one per lineitem and the priority rollup's
    // countDistinct expand runs over orders-scale rows. Bit-identical:
    // decimal sums are exact (regrouping exact partial sums of the
    // same decimal(37,4) terms changes nothing, even under duplicate
    // orderkeys), the join's key semantics are untouched, and the
    // countDistinct set (orderkeys with >= 1 lineitem, per priority)
    // is the same.
    val rev = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).as("__rev"))
    rev.join(o, rev("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("__rev")).cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  /** J1 — rule-based exact-key inner join + DISTINCT + literal match
    * metadata (the reference's rule_based_match_sql,
    * entity_matching.py:113-135). */
  def q03RuleJoin(s: SparkSession, dir: String): DataFrame = {
    val left = t(s, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val right = t(s, dir, "customer").select(
      col("c_custkey"), col("c_name"))
    Cascade.ruleMatch(left, right, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_totalprice"), col("match_method"), col("match_score"),
        col("match_confidence"))
  }

  /** J2 — left-semi join (IN-subquery): customers having an 'F'-status
    * order (entity_matching.py:100-103 shape). */
  def q04SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o.select(col("o_custkey").as("c_custkey")).distinct(),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** J3 — left-anti join (cascade residue): customers with no high-value
    * order. */
  def q05AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
    Cascade.residue(c, o, "c_custkey", "o_custkey")
      .select(col("c_custkey"), col("c_name"))
  }

  /** A1/A2 — multi-column DISTINCT (dropDuplicates ≡ SQL DISTINCT,
    * data_cleaning.py:177-179). */
  def q06Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_returnflag"), col("l_linestatus"))
      .distinct()

  /** O3/A5 — per-group argmax via window row_number with deterministic
    * tie-break (the Spark form of `process.extractOne`,
    * entity_matching.py:151-153). */
  def q07WindowTop1(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  /** §3.3 flagship — the full match cascade re-shaped onto the fixture
    * tables: rule stage (exact key), residue (anti-join), blocked fuzzy
    * stage (equi-join on nationkey block + normalized-levenshtein score +
    * windowed argmax), union of stages. The similarity kernel here is
    * levenshtein-based so the DuckDB oracle can verify the *relational
    * shell* exactly; rapidfuzz-parity kernels are covered by
    * q16/q17-style queries + ScalaTest (SURVEY.md §7.2 step 5). */
  def qMatchCascade(s: SparkSession, dir: String): DataFrame = {
    val cPrep = t(s, dir, "customer").select(
      col("c_custkey").as("crawl_id"), col("c_name").as("crawl_name"),
      col("c_nationkey").as("block"))
    val sPrep = t(s, dir, "supplier").select(
      col("s_suppkey").as("abr_id"), col("s_name").as("abr_name"),
      col("s_nationkey").as("block"))

    val rule = Cascade.ruleMatch(
        cPrep.select("crawl_id", "crawl_name"),
        sPrep.select("abr_id", "abr_name"), "crawl_id", "abr_id")
      .select("crawl_id", "crawl_name", "abr_id", "abr_name",
        "match_method", "match_score", "match_confidence")

    // the rule stage matches on key equality, so the residue anti-join can
    // key on the (small) supplier id set directly instead of re-evaluating
    // the rule join+distinct subtree (same result, one less subplan copy)
    val residue = Cascade.residue(cPrep,
      sPrep.select(col("abr_id").as("crawl_id")), "crawl_id", "crawl_id")

    // one codegen'd kernel call (see functions.LevenshteinRatio) — same
    // value as the composed levenshtein/greatest/length builtins the
    // DuckDB oracle uses, ~4× faster in the O(block²) scoring loop
    val score = exprs.levenshtein_ratio(col("crawl_name"), col("abr_name"))
    val fuzzy = Cascade.fuzzyMatch(residue, sPrep, "block", score,
        "crawl_id", Seq("abr_id"),
        Cascade.MatchConfig(fuzzyAcceptThreshold = 40.0, fuzzyHighConfidence = 65.0))
      .select("crawl_id", "crawl_name", "abr_id", "abr_name",
        "match_method", "match_score", "match_confidence")

    Cascade.unionStages(Seq(rule, fuzzy))
  }

  /** P4/F1/F9-shape — cleaning-function chain (engine-portable variant:
    * upper instead of title-case so the oracle mirrors it exactly). */
  def q09CleanNames(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(trim(regexp_replace(
        regexp_replace(col("p_name"), "[^A-Za-z0-9 &]", " "),
        "\\s+", " "))).as("clean_name"),
      regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_token"))

  /** F6/F7/F8 — contact extraction over synthesized page text (arrays
    * joined to strings for engine-portable output). */
  def q10ExtractContacts(s: SparkSession, dir: String): DataFrame = {
    val text = concat(lit("Contact "), col("c_name"),
      lit(" phone 02 9876 5432 email "),
      lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
      lit("@example.com.au postcode 2000 VIC"))
    t(s, dir, "customer").select(
      col("c_custkey"),
      concat_ws(";", Cleaning.extractEmails(text)).as("emails"),
      concat_ws(";", Cleaning.extractPhones(text)).as("phones"),
      Cleaning.extractPostcode(text).as("postcode"))
  }

  /** F4 — ABN mod-89 checksum as a custom codegen'd expression, oracled
    * against the checksum spelled out in SQL. */
  def q11AbnValidate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      lpad(col("c_custkey").cast("string"), 11, "0").as("abn_candidate"),
      exprs.abn_valid(lpad(col("c_custkey").cast("string"), 11, "0"))
        .as("abn_ok"))

  /** F15-shape — JSON field extraction + aggregate (events.props). */
  def q12JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        count(lit(1)).as("n_events"))

  /** Tumbling-window aggregation over the events table (north-star
    * streaming shape, batch-executed; window() ≡ time_bucket). */
  def q13HourlyWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** F17/O1 — date truncation + multi-way join: monthly revenue per region
    * (broadcast dims; AQE picks broadcast-hash for nation/region). */
  def q14RegionMonthly(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("month"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** U1 — heterogeneous union-by-name with null-padding
    * (entity_matching.py:297). */
  def q15UnionStages(s: SparkSession, dir: String): DataFrame = {
    val hi = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      .select(col("o_orderkey").as("id"), lit("high_value").as("bucket"),
        col("o_totalprice").as("totalprice"))
    val lo = t(s, dir, "orders").filter(col("o_totalprice") < 10000)
      .select(col("o_orderkey").as("id"), lit("low_value").as("bucket"))
    Cascade.unionStages(Seq(hi, lo))
  }

  /** Window frames — running revenue per customer (rows-frame cumulative
    * sum over exact decimal arithmetic). */
  def q16RollingAgg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("running_total"),
      row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey")))
        .cast("long").as("order_seq"))
  }

  /** Join-aggregate-rejoin: suppliers with above-nation-average balance
    * (the manual-predicate-pushdown shape of SURVEY.md §4, left to
    * Catalyst here). */
  def q17AboveAvg(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
    val avgs = sup.groupBy(col("s_nationkey").as("nk"))
      .agg((sum(col("s_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("nation_avg"))
    sup.join(avgs, sup("s_nationkey") === avgs("nk"))
      .filter(col("s_acctbal") > col("nation_avg"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("nation_avg"))
  }

  /** Deterministic hash sampling (reproducible corpus subsets — a
    * training-data staple; md5-prefix bucket ≈ 1/16 sample). */
  def q18HashSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** F13 — safe_jsonify analog: structured values serialized to JSON
    * strings (data_cleaning.py:78-89). */
  def q19ToJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      to_json(split(col("p_name"), " ")).as("name_tokens_json"))

  /** Pivot shape via conditional aggregation (engine-portable form of
    * `groupBy(...).pivot("event_type").count()`). */
  def q28Pivot(s: SparkSession, dir: String): DataFrame = {
    def cnt(et: String) =
      sum(when(col("event_type") === et, 1L).otherwise(0L)).as(s"n_$et")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(cnt("click"), cnt("error"), cnt("purchase"), cnt("signup"),
        cnt("view"), dsum(col("value")).as("total_value"))
  }

  // ------------------------------------- training-data pipeline extensions

  /** Exact dedup over documents (hash-groupBy). */
  def q20DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")

  /** Token/char statistics over documents — one codegen'd scan. */
  def q21TokenStats(s: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val toks = size(split(trim(text), "\\s+")).cast("long")
    val charsInToks = length(regexp_replace(text, "\\s", "")).cast("long")
    t(s, dir, "documents").select(
      col("doc_id"), col("n_chars"),
      toks.as("n_tokens"),
      size(regexp_extract_all(text,
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("n_subwords"),
      (charsInToks.cast("double") / toks).as("mean_token_len"),
      (size(regexp_extract_all(text,
        lit("(?i)\\b(the|a|an|of|and|to|in|is|it|for|on|with|as|at|by|or|be|this|that|from)\\b"),
        lit(0))).cast("double") / toks).as("stopword_ratio"))
  }

  /** Language-ID heuristic (marker-word argmax) over documents. */
  def q22LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_id"))

  /** Document fingerprinting (normalized md5). */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  /** Operator composition: exact-dedup keep-list joined back to the
    * corpus, then counted per language — the canonical dedup pipeline
    * shape (dedup → filter → downstream agg). */
  def q26DedupPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keepers = Dedup.exact(docs, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    docs.join(keepers, Seq("doc_id"), "left_semi")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), dsum(col("n_chars")).as("total_chars"))
  }

  /** Quality gating over the text-profile metrics (C4-style rule filter). */
  def q27QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val toks = size(split(trim(text), "\\s+")).cast("long")
    val stopRatio = size(regexp_extract_all(text,
      lit("(?i)\\b(the|a|an|of|and|to|in|is|it|for|on|with|as|at|by|or|be|this|that|from)\\b"),
      lit(0))).cast("double") / toks
    t(s, dir, "documents")
      .filter(col("n_chars").between(100, 10000) && stopRatio > 0.05)
      .select(col("doc_id"), toks.as("n_tokens"))
  }

  /** Brute-force cosine top-k ANN (exact baseline; double arithmetic). */
  def q24CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "embedding", "vec_id", "vec_id", k = 10)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
  }

  /** Corpus term statistics (df + total tf per term) — TF-IDF building
    * block, integer-only so it hash-matches across engines. */
  def q38TermStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.termStats(t(s, dir, "documents"), "text", "doc_id")
      .filter(col("df") >= 2)

  /** Bigram counts over the corpus (n-gram co-occurrence statistics).
    * The token array is materialized in its own projection first —
    * inlining it would re-run split() for every element_at reference. */
  def q39Bigrams(s: SparkSession, dir: String): DataFrame = {
    val toks = col("__toks")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + lit(1)),
          element_at(toks, i + lit(2)))))
      .otherwise(array())
    t(s, dir, "documents")
      .select(split(trim(lower(col("text"))), "\\s+").as("__toks"))
      .select(explode_outer(bigrams).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
  }

  /** As-of join (backward): latest order at-or-before each event, per
    * user — oracled against DuckDB's native ASOF JOIN. Only the matched
    * DATE is projected so equal-date ties collapse to one value. */
  def q36AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val o = t(s, dir, "orders").select(
      col("o_custkey").as("user_id"), col("o_orderdate"))
    operators.TemporalJoins.asofJoinBackward(e, o, "user_id", "ts", "o_orderdate")
      .select(col("event_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("last_order_date"))
  }

  /** Range-containment join (bin-bucketed): events whose value falls in
    * [acctbal, acctbal+50] — oracled against the plain theta join. */
  def q37RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val points = Tables.events(s, dir).select(col("event_id"), col("value"))
    val ranges = t(s, dir, "customer").select(
      col("c_custkey"), col("c_acctbal").as("lo"),
      (col("c_acctbal") + 50.0).as("hi"))
    operators.TemporalJoins.rangeJoinPoints(points, "value", ranges, "lo", "hi",
        binWidth = 50L)
      .select(col("event_id"), col("c_custkey"))
  }

  // ------------- sketch / sampling operators (oracled where the kernel is
  // engine-portable — md5-based variants; xxhash64 fast paths stay
  // rows-only with ScalaTest parity/recall specs)

  /** Engine-portable whitespace normalization: collapse every run of the
    * EXPLICIT whitespace class to one space and trim. Java `\s` and RE2
    * `\s` disagree on `\x0B`, Java `$` matches before a final newline, and
    * Java `split` drops trailing empty tokens — normalizing with an
    * explicit class first removes every such edge, so downstream `\s+`
    * tokenization behaves identically in Spark and DuckDB regardless of
    * the input's whitespace shape (ADVICE r2). */
  private def normText(c: Column): Column =
    trim(regexp_replace(c, "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Near-dup corpus for the sketch-based dedup demos: every doc plus a
    * tail-truncated variant (id + 1,000,000) — guarantees true near-dup
    * pairs exist so the operators demonstrably fire. Text is
    * whitespace-normalized first so the truncation regex and all
    * downstream tokenization are engine-portable. */
  private[graft] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("text"))
    val variants = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), " [^ ]+$", "").as("text"))
    docs.unionByName(variants)
  }

  /** MinHash + LSH near-duplicate DEGREE report (SURVEY.md §7.2 step 8)
    * — the per-doc view of the portable md5 pair list: how many
    * near-duplicates each doc has and its closest match. Hash-oracled
    * PRIMARY of the minhash-LSH family (the q49/q51 twin pattern
    * inverted, VERDICT r16 item 3): the xxhash fast pair path
    * [[graft.operators.Dedup.minhashLsh]] stays spec-gated in
    * `DedupAnnSpec`. Reuses the memoized [[q49Pairs]] frame, so the
    * sketch pipeline still runs ONCE per (session, dir) across its six
    * consumers. */
  def q30MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    val pairs = q49Pairs(s, dir)
    pairs.select(col("id_a").as("doc_id"), col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("doc_id"), col("jaccard")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_partners"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** SimHash near-duplicate pairs, hash-oracled end to end: portable
    * md5 fingerprints ([[graft.operators.Dedup.simhashPortable]], the
    * q50 kernel) banded by the PIGEONHOLE guarantee — 11 disjoint bit
    * bands (6×5-bit + 5×6-bit = 60 bits), so any pair within Hamming
    * distance 10 agrees exactly on ≥ 1 band — then candidate pairs
    * verified with bit_count(xor). Exact recall by construction (the
    * output EQUALS brute force, so DuckDB replays it from the same
    * band layout), while keeping the banded join the scale shape: the
    * self-join is per (band, value) bucket, never all-pairs. The
    * corpus is id-BOUNDED (the q122 pattern) because Hamming-12
    * pigeonhole bands are only 4–5 bits wide — their buckets hold a
    * constant FRACTION of the corpus, so the verify join over an
    * unbounded slice grows quadratically with SF (the r17 bench
    * caught the mod-slice version at 14 s); at production scale this
    * operating point belongs behind a coarser first-stage blocker
    * (the q50 fingerprint join) or a lower Hamming budget with wider
    * bands. The xxhash fast path
    * [[graft.operators.Dedup.simhashNearDup]] stays spec-gated in
    * `DedupAnnSpec`. Params from [[SketchParams.q31]]. */
  def q31SimHash(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q31
    val docs = nearDupCorpus(s, dir)
      .filter(col("doc_id") % 1000000L < p.corpusMax)
      .filter(col("text").isNotNull && col("text") =!= "")
    // fingerprints materialized ONCE: the banded join is a SELF-join,
    // and without the checkpoint each side re-runs the corpus scan,
    // normalization, and the 60-bit majority kernel (the r17 probe
    // measured the un-materialized form at 22 s vs 5 s total here)
    val fp = Dedup.simhashPortable(docs, "text", "doc_id")
      .localCheckpoint(false)
    // banding + hamming-before-distinct factored into
    // Dedup.pigeonholeHammingPairs (r18) so the soak harness measures
    // the exact join this query ships
    Dedup.pigeonholeHammingPairs(fp, "simhash", "doc_id",
      p.bandLayout, p.maxHamming)
  }

  /** Exact n-gram Jaccard join over inverted-index candidates — oracled
    * against a brute-force word-5-gram twin (hashed-shingle Jaccard equals
    * string-shingle Jaccard modulo ~2⁻⁶⁴ collisions). */
  def q32NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q32
    Dedup.ngramJaccardJoin(
      nearDupCorpus(s, dir).filter(col("doc_id") % p.corpusMod === 0),
      "text", "doc_id", ngram = p.ngram, threshold = p.jaccardThreshold)
  }

  /** Embedding-cosine near-dup pairs within hyperplane-LSH buckets —
    * oracled against the brute-force DuckDB twin (`list_cosine_similarity`
    * over all pairs): the corpus's max non-copy cosine is ≤0.60 at every
    * SF, so the 0.99-threshold output is exactly the copy pairs, which
    * hyperplane LSH finds with recall 1 (identical vectors share every
    * bucket). Only the pair ids are projected — the cosine double is
    * engine-specific in its last ulp. */
  def q33EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding")))
    Dedup.embeddingNearDup(corpus, "embedding", "vec_id",
        cosineThreshold = 0.99)
      .select(col("id_a"), col("id_b"))
  }

  /** LSH-bucketed approximate top-k ANN, hash-oracled: the q51 portable
    * pipeline (md5-derived hyperplanes, integer-exact bucketing, exact
    * in-bucket cosine) at a FINER partition — 5 planes / 32 buckets,
    * top-5, 12 queries — so the suite gates the LSH recall/cost knob at
    * two operating points, not one. The multi-table xxhash fast path
    * [[graft.operators.Ann.lshTopK]] stays spec-gated in `DedupAnnSpec`
    * (recall vs brute force). Params from [[SketchParams.q34]]. */
  def q34LshTopK(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q34
    val emb = t(s, dir, "embeddings")
    Ann.lshTopKPortable(emb, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, planes = p.planes)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** dense_rank top-3 per group (rank family beyond row_number). */
  def q44TopPartsPerBrand(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    t(s, dir, "part")
      .withColumn("price_rank", dense_rank().over(w).cast("long"))
      .filter(col("price_rank") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        col("price_rank"))
  }

  /** Set operations: segments' customer keys INTERSECT / EXCEPT. */
  def q45SetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_nationkey"))
    val both = building.intersect(machinery)
      .withColumn("relation", lit("both"))
    val onlyBuilding = building.except(machinery)
      .withColumn("relation", lit("building_only"))
    both.unionByName(onlyBuilding)
  }

  /** Null semantics battery: null-safe equality (<=>), coalesce, nullif,
    * nvl2-style conditionals over sparsely-null derived columns. */
  def q46NullSemantics(s: SparkSession, dir: String): DataFrame = {
    val pcLike = when(col("c_custkey") % 7 =!= 0,
      col("c_custkey") % 10000).otherwise(lit(null))
    val alt = when(col("c_custkey") % 3 =!= 0,
      col("c_custkey") % 10000).otherwise(lit(null))
    t(s, dir, "customer").select(
      col("c_custkey"),
      pcLike.as("a"), alt.as("b"),
      (pcLike <=> alt).as("nullsafe_eq"),
      coalesce(pcLike, alt, lit(-1L)).as("first_present"),
      nullif(coalesce(pcLike, lit(0L)), lit(0L)).as("zero_to_null"))
  }

  /** Gap-based sessionization as a batch query (the SQL twin of
    * [[graft.streaming.EventStreams.sessionize]]): session boundaries
    * where the per-user inter-event gap exceeds 30 minutes, realized as a
    * cumulative sum over a lag window. */
  def q43Sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapSecs = unix_timestamp(col("ts")) -
      lag(unix_timestamp(col("ts")), 1).over(w)
    val isNew = when(gapSecs.isNull || gapSecs > 1800, 1L).otherwise(0L)
    Tables.events(s, dir)
      .withColumn("session_seq", sum(isNew).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_secs"))
  }

  /** Exact percentiles (linear interpolation) of document lengths per
    * language — the order-statistics aggregate family. */
  def q42LengthQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Funnel conversion: users whose first signup precedes a later
    * purchase (two-aggregate join on event-time ordering). */
  def q48Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(max(col("ts")).as("last_purchase"))
    signups.join(purchases, Seq("user_id"))
      .filter(col("last_purchase") > col("first_signup"))
      .agg(count(lit(1)).as("n_converted"))
  }

  /** Deterministic stratified sampling (bottom-k by seeded hash via the
    * BottomK TypedImperativeAggregate), keyed by the engine-portable
    * md5-derived key so the DuckDB oracle reproduces the exact sample
    * (row_number over the same key). */
  def q47StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    operators.Sampling.stratifiedSampleByKey(docs, "lang", "doc_id", k = 10,
      operators.Sampling.portableKey(col("doc_id"), seed = 42))
  }

  /** MinHash+LSH with md5-based hash functions — the fully-oracled twin of
    * q30: DuckDB replicates shingling, the 8-permutation minhash
    * signature, banding, the bucket self-join, and the exact-Jaccard
    * verify, so the whole sketch pipeline is hash-compared, not just row
    * counts. Corpus is 1/5th of the near-dup corpus to keep the oracle's
    * quadratic-free replication cheap. */
  def q49MinhashOracle(s: SparkSession, dir: String): DataFrame =
    q49Pairs(s, dir)

  /** The q49 corpus slice (1/`corpusMod` of the near-dup corpus) — the
    * shared input of the q49 sketch family. Cheap (one scan + regexp),
    * so it is rebuilt per consumer; the EXPENSIVE shared piece is
    * [[q49Pairs]]. */
  private def q49Corpus(s: SparkSession, dir: String): DataFrame =
    nearDupCorpus(s, dir)
      .filter(col("doc_id") % SketchParams.q49.corpusMod === 0)

  /** The q49 portable minhash-LSH pair list is consumed by FIVE
    * queries — q49 itself, q56's cluster sizes, q114's leakage-safe
    * split, q119's screen grading, q147's per-source dedup report —
    * and the sketch join (shingle → 8-permutation signature → banding
    * → bucket self-join → exact-Jaccard verify) is a multi-shuffle
    * subplan, so recomputing it per query quintuples the suite's
    * single most duplicated job (at cluster scale: five full sketch
    * passes over the corpus instead of one). The pair frame is two
    * ids + a score per candidate pair, far smaller than the corpus,
    * so each (session, dir) pair materializes it ONCE as an eager
    * localCheckpoint and all five consumers scan the shared blocks;
    * each query's ORACLE stays self-contained (its SQL twin still
    * replays the full sketch CTE chain). Memo hygiene is
    * [[SessionMemo]]'s. */
  private val q49PairsMemo = SessionMemo.checkpointed()
  private def q49Pairs(s: SparkSession, dir: String): DataFrame =
    q49PairsMemo(s, dir) {
      val p = SketchParams.q49
      Dedup.minhashLshPortable(q49Corpus(s, dir), "text", "doc_id",
        ngram = p.ngram, numHashes = p.numHashes, bands = p.bands,
        jaccardThreshold = p.jaccardThreshold)
    }

  /** Engine-portable 60-bit SimHash fingerprint per document (md5-derived
    * token hashes, bit-majority vote) — oracles the sketch kernel that
    * q31's near-dup join builds on. NULL / token-less texts are filtered
    * identically on both sides (DuckDB's unnest would silently drop them
    * from the oracle while the Spark kernel would emit simhash 0 —
    * ADVICE r2), and the text is whitespace-normalized first. */
  def q50SimhashOracle(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPortable(
      t(s, dir, "documents")
        .select(col("doc_id"), normText(col("text")).as("text"))
        .filter(col("text").isNotNull && col("text") =!= ""),
      "text", "doc_id")

  /** SQL surface — the same engine driven through `spark.sql` over
    * registered views (incl. a custom function via GraftExtensions when
    * active); oracled with near-identical ANSI SQL. */
  def q41SqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""
      SELECT n_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderstatus = 'O'
      GROUP BY n_name""")
  }

  /** Multimodal → embedding → ANN composition, hash-oracled: documents
    * as binary media payloads, decoder-boundary featurize over
    * `mapPartitions` with the md5-portable decoder
    * ([[graft.operators.Multimodal.Decoder.PortableMd5]]), integer-exact
    * quantized-cosine top-k — the q122 pipeline at a WIDER operating
    * point (300-doc corpus, 6 queries, top-5), so the media composition
    * gates at two scales. The FNV-1a JVM decoder fast path
    * ([[graft.operators.Multimodal.Decoder.Deterministic]] +
    * [[graft.operators.Ann.bruteForceTopK]]) stays spec-gated in
    * `MultimodalSpec`/`DedupAnnSpec`. Params from
    * [[SketchParams.q40]]. */
  def q40MediaPipeline(s: SparkSession, dir: String): DataFrame = {
    import operators.Multimodal
    val p = SketchParams.q40
    val media = Multimodal.fromText(
      t(s, dir, "documents").filter(col("doc_id") < p.corpusMax),
      "doc_id", "text", "image")
    val feats = Multimodal.featurize(media, Multimodal.Decoder.PortableMd5)
      .toDF().select(col("id").as("vec_id"), col("feature").as("embedding"))
    Ann.quantizedTopK(feats, feats.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, levels = 1)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("qdot"))
  }

  /** Blocked fuzzy TOP-1 match per customer (the J4 argmax shape as a
    * standalone hash-oracled query): token-sort normalization
    * precomputed PER ROW before the blocked join (the standard
    * similarity-join optimization), portable levenshtein-ratio score,
    * best supplier per customer by (score DESC, suppkey ASC) — a total
    * order, so DuckDB replays the pick exactly. The Indel
    * `token_sort_ratio` kernel this family's fast path uses
    * ([[graft.functions.exprs.indel_ratio]]) stays spec-gated with
    * recorded rapidfuzz parity values in `SimKernelSpec`/`WRatioSpec`
    * and hash-exercised by q73's per-block aggregate twin. */
  def q35TokenSortFuzzy(s: SparkSession, dir: String): DataFrame = {
    def tokenSorted(c: Column): Column =
      array_join(sort_array(split(trim(c), "\\s+")), " ")
    val c = t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey").as("block"),
      tokenSorted(regexp_replace(col("c_name"), "[#0]+", " ")).as("cname"))
    val sup = t(s, dir, "supplier").select(
      col("s_suppkey"), col("s_nationkey").as("block"),
      tokenSorted(regexp_replace(col("s_name"), "[#0]+", " ")).as("sname"))
    val scored = c.join(sup, Seq("block"))
      .withColumn("score",
        lit(100.0) * (lit(1.0) -
          levenshtein(col("cname"), col("sname")).cast("double") /
            greatest(length(col("cname")), length(col("sname")))))
      .filter(col("score") >= 50.0)
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("score").desc, col("s_suppkey").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("c_custkey"), col("block").cast("long").as("block"),
        col("s_suppkey").as("best_suppkey"), col("score"))
  }

  /** Portable twin of [[q35TokenSortFuzzy]] — the fuzzy-join path's
    * hash-verified gate (same adjudication pattern as the
    * q49/q50/q51/q68 sketch twins): IDENTICAL token-sort normalization,
    * blocked join, threshold, and per-block aggregate shape, but scored
    * with plain levenshtein ratio, which both engines compute natively
    * over the same strings. The Indel kernel q35 uses is itself
    * property-tested against recorded rapidfuzz values in
    * `SimKernelSpec`; together the two close the fuzzy family's gate. */
  def q73TokenSortOracle(s: SparkSession, dir: String): DataFrame = {
    def tokenSorted(c: Column): Column =
      array_join(sort_array(split(trim(c), "\\s+")), " ")
    val c = t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey").as("block"),
      tokenSorted(regexp_replace(col("c_name"), "[#0]+", " ")).as("cname"))
    val sup = t(s, dir, "supplier").select(
      col("s_suppkey"), col("s_nationkey").as("block"),
      tokenSorted(regexp_replace(col("s_name"), "[#0]+", " ")).as("sname"))
    c.join(sup, Seq("block"))
      .withColumn("score",
        lit(100.0) * (lit(1.0) -
          levenshtein(col("cname"), col("sname")).cast("double") /
            greatest(length(col("cname")), length(col("sname")))))
      .filter(col("score") >= 50.0)
      .groupBy(col("block")).agg(count(lit(1)).as("n_pairs"),
        max(col("score")).as("max_score"))
      .select(col("block").cast("long").as("block"),
        col("n_pairs"), col("max_score"))
  }

  /** Benchmark decontamination screen ([[graft.operators.Dedup.decontaminate]]):
    * corpus docs sharing word n-grams with a held-out benchmark split
    * (`doc_id % benchMod == benchRem`). Broadcast semi-probe + one narrow
    * groupBy — no corpus-sized shuffle. Params from [[SketchParams.q74]]
    * generate both sides. */
  def q74Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q74
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("text"))
    val isBench = col("doc_id") % p.benchMod === p.benchRem
    operators.Dedup.decontaminate(
      docs.filter(!isBench), docs.filter(isBench),
      "text", "doc_id", p.ngram)
  }

  /** PII redaction ([[graft.functions.Pii]]): emails masked to [EMAIL],
    * phone-shaped digit runs to [PHONE], with per-row match counts. The
    * contact blob is derived in-query from customer fields (the fixture
    * carries no raw contact columns) — same derived-input pattern as the
    * near-dup corpus. Map-only, fused with the scan. */
  def q75PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      col("c_name"), lit(" <"),
      lower(regexp_replace(col("c_name"), " ", ".")), lit("@example.com> ph +61 4"),
      lpad((col("c_custkey") % 100000000L).cast("string"), 8, "0"),
      lit(" seg "), col("c_mktsegment"))
    t(s, dir, "customer")
      .select(col("c_custkey"), contact.as("__contact"))
      .select(col("c_custkey"),
        functions.Pii.redact(col("__contact")).as("redacted"),
        functions.Pii.emailCount(col("__contact")).as("n_emails"),
        functions.Pii.phoneCount(col("__contact")).as("n_phones"))
  }

  /** Exact-substring duplication join
    * ([[graft.operators.Dedup.exactSubstringDupJoin]]) over the near-dup
    * corpus: doc pairs sharing ≥1 identical `window`-char strided
    * substring, + the distinct shared-window count. md5 window keys keep
    * the self-join shuffle narrow. Params from [[SketchParams.q76]]. */
  def q76SubstringDup(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q76
    operators.Dedup.exactSubstringDupJoin(
      nearDupCorpus(s, dir), "text", "doc_id", p.window, p.stride)
  }

  /** C4-style span dedup ([[graft.operators.Dedup.spanDedup]]): drop
    * every globally-repeated `spanWords`-word span except its first
    * occurrence and reassemble documents — the near-dup corpus's
    * truncated twins lose their duplicated spans. Params from
    * [[SketchParams.q77]]. */
  def q77SpanDedup(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q77
    operators.Dedup.spanDedup(nearDupCorpus(s, dir), "text", "doc_id",
      p.spanWords)
  }

  /** Sequence packing ([[graft.operators.Packing.assignShards]]): lay
    * the corpus out as a token stream in doc_id order, chunk into
    * fixed-budget training shards. Two-phase distributed prefix sum —
    * the DuckDB oracle runs the naive global window; exact agreement is
    * the gate. Params from [[SketchParams.q78]]. */
  def q78ShardPack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      operators.TextAnalysis.tokenCount(normText(col("text")))
        .cast("long").as("n_tokens"))
    operators.Packing.assignShards(docs, "n_tokens", "doc_id",
      SketchParams.q78.maxTokensPerShard)
  }

  /** Interval-overlap join
    * ([[graft.operators.TemporalJoins.rangeJoinIntervals]]): two derived
    * interval sets (order date + keyed span) joined on overlap via
    * binning with first-shared-bin dedup — oracled against DuckDB's
    * plain theta join. */
  def q79IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    def side(rem: Int, spanMod: Int, p: String): DataFrame =
      t(s, dir, "orders").filter(col("o_orderkey") % 100 === rem)
        .select(col("o_orderkey").cast("long").as(s"${p}_key"),
          unix_date(to_date(col("o_orderdate"))).cast("long").as(s"${p}_start"),
          (unix_date(to_date(col("o_orderdate"))) + col("o_orderkey") % spanMod)
            .cast("long").as(s"${p}_end"))
    operators.TemporalJoins.rangeJoinIntervals(
        side(0, 20, "a"), "a_start", "a_end",
        side(1, 30, "b"), "b_start", "b_end", binWidth = 16L)
      .select(col("a_key"), col("b_key"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start")) + 1).as("overlap_days"))
  }

  /** As-of join (forward): earliest order at-or-after each event, per
    * user — oracled against DuckDB's native forward ASOF JOIN. Mirror of
    * [[q36AsofJoin]]; only the matched DATE is projected so equal-date
    * ties collapse to one value. */
  def q80AsofForward(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val o = t(s, dir, "orders").select(
      col("o_custkey").as("user_id"), col("o_orderdate"))
    operators.TemporalJoins.asofJoinForward(e, o, "user_id", "ts", "o_orderdate")
      .select(col("event_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("next_order_date"))
  }

  /** Multimodal plumbing demo: binary payload column + deterministic
    * metadata extraction (decode stub lives in
    * [[graft.operators.Multimodal]]; here the SQL-expressible metadata
    * path is oracled). */
  def q25BinaryMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      sha2(col("text").cast("binary"), 256).as("content_sha"),
      octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))

  /** Portable-LSH ANN, fully oracled: md5-derived ±1 hyperplanes over
    * floor-quantized (integer-exact) coordinates bucket the corpus, exact
    * cosine ranks within buckets — DuckDB replicates bucketing AND ranking,
    * so the whole ANN pipeline is hash-compared (the oracled twin of q34's
    * fast multi-table xxhash path). */
  def q51LshAnnOracle(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.lshTopKPortable(emb, emb.filter(col("vec_id") < 8),
        "embedding", "vec_id", "vec_id", k = 10, planes = 4)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** IVF (inverted-file) ANN, hash-oracled: the q68 portable pipeline
    * (md5-sampled coarse quantizer, integer-exact assignment/probing,
    * quantized-cosine in-list ranking) at a SECOND operating point —
    * 6 lists / 2 probes / top-5 / 12 queries — gating the IVF
    * recall/cost knob alongside q68's 8/3/10/8 point. The float kmeans
    * fast path ([[graft.operators.Ann.ivfTopK]], incl. exactness at
    * nprobe=nlist, recall bounds, and the env-gated
    * `trainOrLoad` centroid serving) stays spec-gated in `AnnIvfSpec`
    * and `CentroidPersistenceSpec`. Params from [[SketchParams.q55]]. */
  def q55IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q55
    val emb = t(s, dir, "embeddings")
    Ann.ivfTopKPortable(emb, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, nlist = p.nlist,
        nprobe = p.nprobe, scale = p.scale)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Multi-level aggregation: ROLLUP over (region, nation) — subtotal and
    * grand-total rows in one pass (partial-agg friendly; the NULL group
    * markers are coalesced to '(all)' for engine-portable output). */
  def q52Rollup(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("revenue"), col("n_orders"))
  }

  /** Statistical moments per group — stddev / variance / correlation
    * computed from EXACT decimal power sums (Σx, Σx², Σxy) with one final
    * double expression, so the result is bit-deterministic across engines
    * and partition orders (the built-in streaming stddev/corr are
    * order-dependent in their low bits and would never hash-match). */
  def q53StatsMoments(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val agged = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mxx = n * d("sxx") - d("sx") * d("sx")
    val myy = n * d("syy") - d("sy") * d("sy")
    // final stats are ROUNDED to a fixed grain: the decimal→double cast of
    // a power sum beyond 2^53 is double-rounded in DuckDB (int128 → double,
    // then /10^scale) but single-rounded in Java (BigDecimal.doubleValue),
    // so the raw doubles can differ in the last ulp at some SFs; rounding
    // collapses both to the same value in practice. Residual risk, not a
    // guarantee: Spark rounds the SHORTEST-DECIMAL form of the double
    // (BigDecimal.valueOf, HALF_UP) while DuckDB rounds in double
    // arithmetic (round(v·10^d)/10^d), so a value within ~1 ulp of a .5
    // boundary at the rounded digit could still land on adjacent values —
    // none of the fixture sums sit on such a boundary (ADVICE r3)
    agged.select(col("l_returnflag"), col("n"),
      round((d("sx") / n), 6).as("mean_qty"),
      round(sqrt(mxx / (n * (n - lit(1.0)))), 6).as("stddev_qty"),
      round(myy / (n * (n - lit(1.0))), 2).as("var_price"),
      round((n * d("sxy") - d("sx") * d("sy")) / (sqrt(mxx) * sqrt(myy)), 9)
        .as("corr_qty_price"))
  }

  /** Generator surface: posexplode of a token array — one row per
    * (row, position, token), the normalized form of the reference's
    * array-valued extraction columns (F6/F7 kept-as-list semantics,
    * exploded on demand). */
  def q54ExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        posexplode(split(col("p_name"), " ")).as(Seq("pos", "token")))
      .select(col("p_partkey"), (col("pos") + 1).cast("long").as("pos"),
        col("token"))

  /** Full near-dup resolution pipeline: MinHash-LSH pairs → connected
    * components (iterative label propagation) → per-cluster canonical
    * representative + cluster size — the composition that turns pair
    * detection into an actual dedup decision. Built on the PORTABLE md5
    * pair kernel over the q49 corpus so the DuckDB oracle replicates the
    * ENTIRE pipeline: the same pair list (q49's CTE chain) fed through a
    * recursive min-reachable-id CTE reproduces the component labels, so
    * the cluster assignment is hash-verified end-to-end (the xxhash fast
    * path for pair generation stays q30; component semantics are
    * additionally ScalaTest'd against a union-find reference in
    * ComponentsSpec). */
  def q56DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val corpus = q49Corpus(s, dir)
    val pairs = q49Pairs(s, dir)
    // converged loops exit early, so the generous budget is free; if a
    // pathological chain cluster ever exceeds it, the operator now throws
    // (matching the exact recursive-CTE oracle) instead of silently
    // returning mid-propagation labels
    operators.Components.dedupAssignments(
        corpus, "doc_id", pairs, "id_a", "id_b", maxIter = 25)
      .groupBy(col("keep_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
  }

  /** Window distribution family — ntile quartiles, percent_rank,
    * cume_dist over document lengths per language (the rank-function
    * surface beyond row_number/dense_rank; the doubles are
    * integer-derived ratios, so they hash-match across engines). */
  def q57WindowDistribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    t(s, dir, "documents").select(
      col("lang"), col("doc_id"), col("n_chars"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** Incremental (cross-corpus) dedup — the production ingestion shape: a
    * new batch is screened against the historical corpus with an exact
    * fingerprint anti-join plus a two-sided MinHash-LSH join, keeping only
    * genuinely novel documents. The batch here is part near-duplicates
    * (tail-truncated copies, which must be dropped) and part novel text
    * (every token rewritten, so it shares no shingle with the corpus —
    * must survive). Built on the PORTABLE md5 kernels
    * ([[graft.operators.Dedup.incrementalDedupPortable]]) so the DuckDB
    * oracle replicates the whole decision — fingerprint screen, banded
    * candidate generation, exact-Jaccard verify, both anti-joins — and
    * the result is hash-verified, not rows-only (the xxhash fast path is
    * [[graft.operators.Dedup.incrementalDedup]], spec'd in DedupAnnSpec).
    * Candidate generation probes the corpus at cost proportional to the
    * BATCH, not the corpus — the property that makes this viable against
    * a 100 TB history. */
  def q67IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q67
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("text"))
    val nearDups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), " [^ ]+$", "").as("text"))
    // novel = every token rewritten (x<tok>x) + a unique prefix: zero
    // shared shingles with the corpus, and — unlike character reversal —
    // reproducible identically in any regex-capable engine
    val novel = docs.filter(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", lit("novel"), col("doc_id"),
          regexp_replace(col("text"), "([^ ]+)", "x$1x")).as("text"))
    Dedup.incrementalDedupPortable(nearDups.unionByName(novel), docs,
        "text", "doc_id", ngram = p.ngram, numHashes = p.numHashes,
        bands = p.bands, jaccardThreshold = p.jaccardThreshold)
      .select(col("doc_id"))
  }

  /** IVF ANN, fully oracled ([[graft.operators.Ann.ivfTopKPortable]]):
    * md5-hash-sampled coarse quantizer, integer-exact assignment and
    * probing over floor-quantized coordinates, exact-cosine in-list
    * ranking — DuckDB replicates the list partition, the probe sets, and
    * the ranking, so the IVF pipeline shape (q55's fast path) is
    * hash-verified end-to-end, closing the last rows-only ANN path. */
  def q68IvfOracle(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q68
    val emb = t(s, dir, "embeddings")
    Ann.ivfTopKPortable(emb, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, nlist = p.nlist,
        nprobe = p.nprobe, scale = p.scale)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** CUBE over (segment, status) with grouping_id — all four grouping
    * combinations in one pass (the full grouping-sets surface beyond
    * q52's ROLLUP). Spark and DuckDB agree on the grouping_id bit order
    * (first cube column = most significant bit). */
  def q58Cube(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderstatus"))
      .agg(dsum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .select(coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        col("gid"), col("revenue"), col("n_orders"))
  }

  /** Higher-order array functions — transform / filter / exists /
    * aggregate(fold) / positional zip — over token arrays, all
    * integer-or-string outputs so the oracle hash-matches. These are the
    * array-column primitives a training pipeline uses on tokenized text
    * without exploding (no shuffle, whole-stage codegen). */
  def q59ArrayOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"), split(col("p_name"), " ").as("toks"))
      .select(col("p_partkey"),
        size(col("toks")).cast("long").as("n_toks"),
        expr("aggregate(transform(toks, t -> length(t)), 0L, (acc, x) -> acc + x)")
          .as("total_len"),
        size(expr("filter(toks, t -> length(t) > 5)")).cast("long").as("n_long"),
        expr("exists(toks, t -> t like '%al%')").as("has_al"),
        expr("""aggregate(zip_with(toks, reverse(toks),
          (a, b) -> length(a) * length(b)), 0L, (acc, x) -> acc + x)""")
          .as("zip_dot"),
        array_join(expr("transform(toks, t -> upper(t))"), ",").as("upper_joined"))

  /** Skew-salted two-phase aggregation: partial aggregate on
    * (key, salt16), final merge on key — the standard hot-key shuffle
    * mitigation, oracled against the plain GROUP BY (the salt is an
    * internal rewrite; results are identical by construction). At 100 TB
    * this bounds any single reducer's input to 1/16th of the hottest key. */
  def q60SaltedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("__salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("user_id"), col("__salt"))
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        sum(col("v")).cast("double").as("total_value"))

  /** Full outer join of two aggregates — the join-type surface beyond
    * inner/semi/anti/left: per-customer high-value order count vs
    * finished-order count, null-padded on both sides. */
  def q61FullOuter(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val hi = o.filter(col("o_totalprice") > 180000)
      .groupBy(col("o_custkey").as("k_hi"))
      .agg(count(lit(1)).as("n_high"))
    val fin = o.filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("k_fin"))
      .agg(count(lit(1)).as("n_finished"))
    hi.join(fin, col("k_hi") === col("k_fin"), "full_outer")
      .select(coalesce(col("k_hi"), col("k_fin")).as("custkey"),
        coalesce(col("n_high"), lit(0L)).as("n_high"),
        coalesce(col("n_finished"), lit(0L)).as("n_finished"))
  }

  /** Ordered collect: per-region sorted nation list as one string
    * (collect_list → array_sort → array_join ≡ string_agg ORDER BY) —
    * deterministic despite collect_list's arbitrary arrival order. */
  def q62CollectSorted(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"),
        count(lit(1)).as("n_nations"))
  }

  /** Window navigation family — lag / lead / first_value / last_value /
    * nth_value over per-customer order timelines (frames pinned to the
    * full partition where the default frame would truncate). */
  def q63WindowNav(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def fmt(c: Column) = date_format(c, "yyyy-MM-dd")
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      fmt(col("o_orderdate")).as("order_date"),
      fmt(lag(col("o_orderdate"), 1).over(w)).as("prev_date"),
      fmt(lead(col("o_orderdate"), 1).over(w)).as("next_date"),
      datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
        .cast("long").as("days_since_prev"),
      first(col("o_orderkey")).over(full).as("first_order"),
      last(col("o_orderkey")).over(full).as("last_order"),
      nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
  }

  /** SQL surface: correlated scalar subquery + EXISTS / NOT EXISTS
    * predicates through `spark.sql` — the subquery-decorrelation path
    * (Catalyst rewrites these to aggregates + joins). */
  def q64Subqueries(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql("""
      SELECT c_custkey, c_name,
        (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""")
  }

  /** String-function battery — translate / lpad / rpad / reverse / repeat /
    * instr / left / right / ascii / substring over part names (the scalar
    * string surface beyond the regex family, all engine-portable). */
  def q65StringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      translate(col("p_name"), " -", "_:").as("translated"),
      lpad(col("p_name"), 30, ".").as("padded"),
      reverse(col("p_name")).as("reversed"),
      expr("repeat(left(p_name, 2), 3)").as("repeated"),
      instr(col("p_name"), "al").cast("long").as("al_pos"),
      expr("right(p_name, 4)").as("tail4"),
      ascii(col("p_name")).cast("long").as("first_byte"),
      substring(col("p_name"), 3, 5).as("mid5"))

  /** Date/time battery — year / quarter / month / day / dayofweek /
    * ISO week / last_day / date_add / add_months / datediff over order
    * dates (dayofweek normalized to the ISO 1=Monday..7=Sunday convention
    * both engines can derive). */
  def q66DateOps(s: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate")
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(d).cast("long").as("yr"),
      quarter(d).cast("long").as("qtr"),
      month(d).cast("long").as("mon"),
      dayofmonth(d).cast("long").as("dom"),
      ((dayofweek(d) + 5) % 7 + 1).cast("long").as("iso_dow"),
      weekofyear(d).cast("long").as("iso_week"),
      date_format(last_day(d), "yyyy-MM-dd").as("month_end"),
      date_format(date_add(d, 30), "yyyy-MM-dd").as("plus_30d"),
      date_format(add_months(d, 2), "yyyy-MM-dd").as("plus_2m"),
      datediff(lit("1998-12-31").cast("date"), d).cast("long").as("days_to_eoh"))
  }

  /** Salted blocked fuzzy join — the hot-block mitigation path of the
    * match cascade under a correctness gate: same scoring and argmax as
    * q08's fuzzy stage but with `saltBlocks = 4`, so the blocking
    * equi-join runs salted (left rows deterministically salted, right
    * side replicated per salt) and any single block's scoring work is
    * spread over 4 tasks. The salt is an internal rewrite — results are
    * identical to the unsalted join by construction — so the DuckDB
    * oracle is the PLAIN blocked join + argmax (the q60 pattern: oracle
    * the semantics, exercise the skew plan). */
  def q69SaltedFuzzy(s: SparkSession, dir: String): DataFrame = {
    val cPrep = t(s, dir, "customer").select(
      col("c_custkey").as("crawl_id"), col("c_name").as("crawl_name"),
      col("c_nationkey").as("block"))
    val sPrep = t(s, dir, "supplier").select(
      col("s_suppkey").as("abr_id"), col("s_name").as("abr_name"),
      col("s_nationkey").as("block"))
    val score = exprs.levenshtein_ratio(col("crawl_name"), col("abr_name"))
    Cascade.fuzzyMatch(cPrep, sPrep, "block", score,
        "crawl_id", Seq("abr_id"),
        Cascade.MatchConfig(fuzzyAcceptThreshold = 40.0,
          fuzzyHighConfidence = 65.0),
        saltBlocks = 4)
      .select("crawl_id", "crawl_name", "abr_id", "abr_name",
        "match_method", "match_score", "match_confidence")
  }

  /** Word-repetition statistics (Gopher §A1.1 repetitious-content family
    * at n=1): top-word fraction + duplicated-word char fraction per doc.
    * Two partial-aggregated hash aggs, no windows
    * ([[graft.operators.TextAnalysis.repetitionStats]]). */
  def q70RepetitionStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(t(s, dir, "documents"), "text", "doc_id")

  /** Gopher-style quality gate: word-count bounds, mean-word-length
    * bounds, distinct probe-stopwords present — single codegen'd scan,
    * zero shuffles ([[graft.operators.TextAnalysis.gopherQuality]]). */
  def q71GopherQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherQuality(t(s, dir, "documents"), "text", "doc_id")

  /** Bigram repetition statistics — the n=2 Gopher repetition measure
    * ("fraction of characters in the most common 2-gram"); occurrences
    * counted without dedup, docs under 2 words excluded
    * ([[graft.operators.TextAnalysis.ngramRepetitionStats]]). */
  def q72BigramRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramRepetitionStats(t(s, dir, "documents"), "text", "doc_id", 2)

  /** SemDeDup semantic dedup ([[graft.operators.Dedup.semanticDedup]]):
    * the full embedding corpus plus a perturbed twin of every 4th vector
    * (each coordinate shifted by `perturb` — cosine ≈ 1 to its source),
    * clustered by the portable coarse quantizer; in-cluster pairs at
    * cosine ≥ threshold drop the higher id. The DuckDB oracle replicates
    * clustering AND the integer-exact cosine, so the whole SemDeDup
    * pipeline is hash-compared. Params from [[SketchParams.q81]]. */
  def q81SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q81
    val emb = t(s, dir, "embeddings")
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val twins = emb.filter(col("vec_id") % p.twinMod === 0)
      .select((col("vec_id") + p.idOffset).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + p.perturb).as("embedding"))
    Dedup.semanticDedup(base.unionByName(twins), "embedding", "vec_id",
      p.threshold, p.nlist, p.scale)
  }

  /** Mixture/domain-weighted sampling
    * ([[graft.operators.Sampling.mixtureSample]]): documents are mapped
    * to three macro-sources (source index mod 3 → web/books/code) and
    * kept with per-macro-source rates via the md5-derived Bernoulli —
    * the map-only deterministic downsampling a training-mix config
    * compiles to. Params from [[SketchParams.q82]]. */
  def q82MixtureSample(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q82
    val macroSrc = element_at(
      array(lit("web"), lit("books"), lit("code")),
      (regexp_extract(col("source"), "(\\d+)", 1).cast("int") % p.grpMod) + 1)
    operators.Sampling.mixtureSample(
      t(s, dir, "documents")
        .select(col("doc_id"), macroSrc.as("macro_source")),
      "doc_id", "macro_source", p.rates, p.seed, p.resolution)
  }

  /** Int8-style quantized brute-force ANN
    * ([[graft.operators.Ann.quantizedTopK]]): corpus and queries floor-
    * quantized to `levels` integer steps, exact integer dot products
    * (surfaced as `qdot` so the oracle verifies the kernel, not only the
    * rank), cosine-ranked top-k. Params from [[SketchParams.q83]]. */
  def q83QuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q83
    val emb = t(s, dir, "embeddings")
    Ann.quantizedTopK(emb, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", p.k, p.levels)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("qdot"))
  }

  /** KMV distinct-count sketch
    * ([[graft.operators.Sampling.kmvDistinct]]): per order-priority, the
    * bounded k-minimum-values estimate of distinct customers next to the
    * exact count — the oracle recomputes the k-th smallest md5 key and
    * the identical estimator expression. Params from
    * [[SketchParams.q84]]. */
  def q84KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q84
    operators.Sampling.kmvDistinct(t(s, dir, "orders"),
      "o_orderpriority", "o_custkey", p.k, p.seed)
  }

  /** RAG-style overlapping character chunking
    * ([[graft.operators.TextAnalysis.chunkDocuments]]): fixed-width
    * windows every `stride` chars over normalized text with 1-based
    * offsets — map-only, fuses into the scan. Params from
    * [[SketchParams.q85]]. */
  def q85DocChunks(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q85
    TextAnalysis.chunkDocuments(
      t(s, dir, "documents")
        .select(col("doc_id"), normText(col("text")).as("text")),
      "doc_id", "text", p.width, p.stride)
  }

  /** Domain-level curation gate
    * ([[graft.operators.TextAnalysis.domainStats]]): per source, doc
    * count / distinct-content count / mean length and a (unique
    * fraction, mean chars) gate, over the corpus with every `dupMod`-th
    * document re-injected as an exact duplicate — the RefinedWeb-style
    * "judge the site" pass. Params from [[SketchParams.q86]]. */
  def q86DomainGate(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q86
    val docs = t(s, dir, "documents").select(col("source"), col("text"))
    val dups = t(s, dir, "documents")
      .filter(col("doc_id") % p.dupMod === 0)
      .select(col("source"), col("text"))
    TextAnalysis.domainStats(docs.unionByName(dups), "source", "text",
      p.minUniqueFrac, p.minAvgChars)
  }

  /** URL canonicalization + dedup ([[graft.functions.Urls.canonicalizeUrl]]):
    * URLs synthesized in-query from document fields (the fixture carries
    * no URL column — same derived-input pattern as q75's contacts) with
    * scheme / www / trailing-slash / query-order / fragment variants;
    * canonicalization collapses the variants and one hash agg groups by
    * page identity. Params from [[SketchParams.q87]]. */
  def q87UrlCanonical(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q87
    val url = concat(
      when(col("doc_id") % p.schemeMod === 0, lit("https://"))
        .otherwise(lit("http://")),
      when(col("doc_id") % p.wwwMod === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit(".example.com/"), col("lang"), lit("/page"),
      (col("doc_id") % p.pageMod).cast("string"),
      when(col("doc_id") % p.trailMod === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % p.queryMod === 0, lit("?utm=1&b=2&a=3"))
        .when(col("doc_id") % p.queryMod === 1, lit("?a=3&utm=1&b=2"))
        .otherwise(lit("")),
      when(col("doc_id") % p.fragMod === 0, lit("#sec1")).otherwise(lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        functions.Urls.canonicalizeUrl(url).as("curl"))
      .groupBy(col("curl"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
  }

  /** Character-diversity quality stats
    * ([[graft.operators.TextAnalysis.charDiversity]]): per-doc letter
    * counts, modal letter, and the integer-exact Simpson concentration
    * index — the log-free repetitiveness screen. */
  def q88CharDiversity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charDiversity(t(s, dir, "documents"), "text", "doc_id")

  /** Z-order layout key + range buckets
    * ([[graft.operators.Layout.zorderKey]] +
    * [[graft.operators.Layout.rangeBuckets]]): Morton-interleaved key
    * over two derived part dimensions, bucketed ntile-exactly by the
    * distributed global row number — no single-partition window
    * (VERDICT r19 item 4: the previous global `ntile` collapsed the
    * whole table into one task). The oracle-checkable stand-in for
    * production `repartitionByRange`. Params from
    * [[SketchParams.q89]]. */
  def q89Zorder(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q89
    val zk = operators.Layout.zorderKey(
      col("p_partkey") % p.aMod, (col("p_size") * p.bMul) % p.bMod, p.bits)
    operators.Layout.rangeBuckets(
      t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("p_partkey"),
          zk.as("zkey")),
      Seq(col("zkey"), col("p_partkey")), p.nBuckets, "zbucket")
  }

  /** Language-balanced resampling
    * ([[graft.operators.Sampling.balancedResample]]): every language's
    * token volume is pulled toward the uniform share — overrepresented
    * languages down-sample, underrepresented ones up-sample with
    * repeated rows — via the deterministic md5-Bernoulli. Params from
    * [[SketchParams.q90]]. */
  def q90LangBalance(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q90
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(normText(col("text"))).cast("long")
        .as("n_tokens"))
    operators.Sampling.balancedResample(docs, "lang", "n_tokens",
      "doc_id", p.seed, p.resolution)
  }

  /** Multi-probe portable LSH ANN
    * ([[graft.operators.Ann.lshTopKMultiProbe]]): q51's single-table LSH
    * with each query additionally probing `nprobes - 1` buckets at
    * Hamming distance 1 — the standard recall-cliff fix, probe set
    * derived deterministically so DuckDB replays bucketing, probing, AND
    * the integer-exact ranking. Params from [[SketchParams.q91]]. */
  def q91LshMultiProbe(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q91
    val emb = t(s, dir, "embeddings")
    Ann.lshTopKMultiProbe(emb, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, planes = p.planes,
        scale = p.scale, nprobes = p.nprobes)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Learned-quantizer IVF ANN
    * ([[graft.operators.Ann.kmeansCentroidsPortable]] +
    * [[graft.operators.Ann.ivfTopKPortable]]): the coarse quantizer is
    * REFINED by integer-domain Lloyd iterations (floor-divided means of
    * quantized coordinates) before driving the q68 probe/rank pipeline —
    * the DuckDB oracle unrolls the same training iterations in SQL, so
    * the LEARNED quantizer itself is hash-verified, not just the sweep.
    * Params from [[SketchParams.q92]]. */
  def q92IvfKmeans(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val p = SketchParams.q92
    val emb = t(s, dir, "embeddings")
    val ix = q92IvfIndexMemo(s, dir) {
      // train-once-reuse (opt-in via SPARK_GRAFT_CENTROIDS_DIR): the
      // learned quantizer the q92 oracle hash-verifies is exactly the
      // model worth persisting — the parquet artifact carries the
      // verified bits across runs, and serving pays only the probe joins
      def trained = Ann.kmeansCentroidsPortable(emb, "embedding", "vec_id",
        p.nlist, p.iters, p.scale)
      val cents = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) => Ann.trainOrLoadCentroids(
          s"$root/q92_nlist${p.nlist}_iters${p.iters}_scale${p.scale}")(
          trained)
        case None => trained
      }
      // full-index serving (r16): the posting lists join the centroids
      // under the same opt-in — quantize-and-assign runs once, not per
      // serving run; ivfServe makes the ranking integers identical
      def built = Ann.ivfIndex(emb, "embedding", "vec_id", p.nlist,
        p.scale, centroids = Some(cents))
      val raw = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) => Ann.trainOrLoadIvfIndex(
          s"$root/q92_ix_nlist${p.nlist}_iters${p.iters}_scale${p.scale}" +
            s"_${dir.replaceAll("[^A-Za-z0-9]", "_")}")(built)
        case None => built
      }
      raw.copy(lists = raw.lists.localCheckpoint(true))
    }
    Ann.ivfTopKFromIndex(ix, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", k = p.k, nprobe = p.nprobe)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }
  private val q92IvfIndexMemo =
    SessionMemo[Ann.IvfIndex](ix => SessionMemo.unpersist(ix.lists))

  /** Semantic-dedup chain-root resolution
    * ([[graft.operators.Dedup.semanticDedup]] →
    * [[graft.operators.Components.dedupAssignments]]): because cosine
    * similarity is not transitive, a raw keeper_id can itself be a
    * dropped id (the documented q81 contract); resolving the
    * (dup_id, keeper_id) edges through connected components yields, for
    * every remapped vector, a root that is GUARANTEED to survive the
    * dedup. The DuckDB oracle nests the full q81 pipeline inside the q56
    * recursive min-reachable-id CTE, so the whole
    * cluster→pair→component→root composition is hash-verified. */
  def q94SemanticClusters(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q81
    val emb = t(s, dir, "embeddings")
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val twins = emb.filter(col("vec_id") % p.twinMod === 0)
      .select((col("vec_id") + p.idOffset).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + p.perturb).as("embedding"))
    val corpus = base.unionByName(twins)
    val dropped = Dedup.semanticDedup(corpus, "embedding", "vec_id",
      p.threshold, p.nlist, p.scale)
    operators.Components.dedupAssignments(
        corpus, "vec_id", dropped, "dup_id", "keeper_id", maxIter = 25)
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("vec_id"), col("keep_id"))
  }

  /** Alignment-free exact-substring dup join
    * ([[graft.operators.Dedup.exactSubstringDupJoinGeneral]]): q76's
    * strided screen upgraded to the general guarantee — any pair sharing
    * ≥ window+stride−1 identical characters is caught regardless of copy
    * offset (dense side at stride 1, probe side strided). Params from
    * [[SketchParams.q93]]. */
  def q93SubstringGeneral(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q93
    Dedup.exactSubstringDupJoinGeneral(
      t(s, dir, "documents").filter(col("doc_id") % p.corpusMod === 0),
      "text", "doc_id", window = p.window, stride = p.stride)
  }

  /** DSIR-style targeted selection affinity
    * ([[graft.operators.Selection.targetAffinity]]): every 13th document
    * plays the curated seed corpus; the rest are scored by the exact
    * integer dot of their hashed word-feature counts against the seed's
    * aggregate profile, normalized by length — the hash-verifiable core
    * of importance-resampling data selection. Params from
    * [[SketchParams.q95]]. */
  def q95TargetAffinity(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q95
    operators.Selection.targetAffinity(t(s, dir, "documents"),
      "text", "doc_id", col("doc_id") % p.seedMod === 0, p.nBuckets)
  }

  /** SpaceSaving heavy hitters per language
    * ([[graft.functions.SpaceSaving]]): bounded-state frequent-item
    * counters over the source domain, exploded to rows. `capacity`
    * exceeds the domain, so the sketch is in its EXACT regime (err = 0,
    * merge-order independent) and a plain GROUP BY count replicates it —
    * the same exactness-gate pattern as the KMV sketch (q84). Params
    * from [[SketchParams.q96]]. */
  def q96HeavySources(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q96
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(graft.functions.SpaceSaving
        .space_saving(col("source"), p.capacity).as("hh"))
      .select(col("lang"), explode(col("hh")).as("h"))
      .select(col("lang"), col("h.item").as("source"),
        col("h.cnt").as("n_docs"), col("h.err").as("err"))
  }

  /** Shuffled sequence packing ([[graft.operators.Packing.assignShards]]
    * with an explicit order column): the corpus is packed into
    * token-budget shards in a PSEUDORANDOM permutation (60-bit md5
    * shuffle key) instead of id order — the deterministic corpus shuffle
    * a training run needs so shards don't inherit crawl locality. Same
    * two-phase distributed prefix sum as q78; the oracle computes the
    * naive cumsum over the identical (key, id) order. Params from
    * [[SketchParams.q97]]. */
  def q97ShuffledPack(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q97
    val docs = t(s, dir, "documents").select(col("doc_id"),
      operators.TextAnalysis.tokenCount(normText(col("text"))).cast("long")
        .as("n_tokens"),
      operators.Sampling.portableKey(col("doc_id"), p.seed)
        .as("shuffle_key"))
    operators.Packing.assignShards(docs, "n_tokens", "doc_id",
      p.maxTokensPerShard, orderCol = Some("shuffle_key"))
  }

  /** Model-based quality gate
    * ([[graft.operators.TextAnalysis.hashedLinearScore]]): fastText /
    * CCNet-style linear classifier over hashed unigram+bigram features,
    * with weights derived from the bucket id so the whole keep/drop
    * decision is exact integer arithmetic the oracle replicates term by
    * term. Params from [[SketchParams.q98]]. */
  def q98QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q98
    operators.TextAnalysis.hashedLinearScore(t(s, dir, "documents"),
      "text", "doc_id", p.nBuckets, p.weightRange, p.seed)
  }

  /** Fixed-point PageRank ([[graft.operators.PageRank]]) over the
    * symmetrized supplier–customer shipment graph (lineitem ⋈ orders):
    * which suppliers/customers sit at the center of the trade network.
    * Exact BIGINT fixed-point power iteration, so the DuckDB oracle
    * unrolls the identical iterations as CTEs and the comparison is
    * hash-exact. Params from [[SketchParams.q99]]. */
  def q99PageRank(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q99
    // integer node encoding (suppliers even, customers odd): BIGINT join
    // keys shuffle and hash far cheaper than decorated strings at scale.
    // No pre-distinct — the operator dedups the edge list exactly once.
    val e0 = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2L).as("a"),
        (col("o_custkey") * 2L + 1L).as("b"))
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    operators.PageRank.pageRankFixedPoint(edges, "a", "b",
      p.iters, p.scale, p.dampPct)
  }

  /** Grouped top-k WITHOUT a window sort: the q44 answer re-expressed as
    * a bounded-state aggregate ([[graft.functions.BottomK]] over the
    * negated integer key) — constant memory per group and map-side
    * partial reduction, where the row_number window shuffles and sorts
    * every row of the group. At 100 TB the window form's per-group sort
    * is the bottleneck; the heap form's state is k entries per group,
    * period. Prices are floor-quantized to integer cents (the q83
    * argument) and ties break on the id's raw string form so the heap's
    * (key, value) order is replicable in SQL (CAST(id AS VARCHAR) — no
    * lossy pad/truncate; round-10 advice). Params from
    * [[SketchParams.q100]]. */
  def q100TopKAgg(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q100
    val part = t(s, dir, "part")
    val idType = part.select(col("p_partkey")).schema.head.dataType
    val cents = floor(col("p_retailprice") * 100).cast("long")
    part
      .groupBy(col("p_brand"))
      .agg(graft.functions.BottomK.bottom_k((-cents).as("negcents"),
        col("p_partkey").cast("string"), p.k)
        .as("top"))
      .select(col("p_brand"), explode(col("top")).as("e"))
      .select(col("p_brand"),
        col("e.value").cast(idType).as("p_partkey"),
        (-col("e.key")).as("price_cents"))
  }

  /** SCD2 snapshot merge ([[graft.operators.Scd.scd2Merge]]): day-2 of a
    * customer dimension — the second snapshot changes segment for
    * custkey % chgMod, drops custkey % delMod (hard-close), and adds
    * shifted new keys for custkey % newMod — merged into the day-1
    * history. Deterministic derivation of both snapshots from the same
    * parquet, so the full four-way outcome (unchanged / changed / new /
    * deleted) is hash-verifiable. Params from [[SketchParams.q101]]. */
  def q101Scd2(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q101
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val history = cust
      .withColumn("valid_from", lit(p.day1))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    val incoming = cust.filter(col("c_custkey") % p.delMod =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % p.chgMod === 0,
          concat(col("c_mktsegment"), lit("-x")))
          .otherwise(col("c_mktsegment")))
      .unionByName(cust.filter(col("c_custkey") % p.newMod === 0)
        .select((col("c_custkey") + p.newOffset).as("c_custkey"),
          col("c_name"), col("c_mktsegment")))
    operators.Scd.scd2Merge(history, incoming,
      Seq("c_custkey"), Seq("c_name", "c_mktsegment"), p.day2)
  }

  /** Grouped exact quantiles: per-language p25/p50/p75 of document
    * length via Spark's exact `percentile` aggregate — same linear
    * interpolation over the sorted values (`index = p·(n−1)`) DuckDB's
    * `quantile_cont` uses, and the operands are exact BIGINTs, so the
    * one interpolation divide is bit-identical cross-engine (the q68
    * single-divide argument). The approximate sibling for the 100 TB
    * sweep is `percentile_approx`/KLL — not oracled here because sketch
    * internals are engine-specific; this exact form IS the oracle. */
  def q102GroupedQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"))

  /** The 100 TB sweep sibling of [[q102GroupedQuantiles]]: grouped
    * `percentile_approx` (Greenwald–Khanna quantile summaries — bounded
    * sketch state, mergeable across partitions, one partial-agg shuffle)
    * instead of exact `percentile` (which materializes and sorts every
    * group). The raw picked elements
    * ([[q109ApproxQuantileValues]]) are engine-specific, so they can't
    * be cross-engine hashed; the gate form instead PROVES the sketch's
    * documented contract inside the plan and hashes the proof: per
    * group and percentile, `okNN` is true iff the returned value is an
    * actual group element whose exact rank interval comes within
    * ±(n/accuracy + 1) of the target rank — the `ApproxQuantileSpec`
    * assertion as a boolean-valid column, which the DuckDB twin pins to
    * TRUE for every group. A broken sketch flips a boolean and fails
    * the hash. Scale shape: the sketch agg is one partial-agg shuffle;
    * the rank check joins the tiny per-group frame back broadcast and
    * pays one more partial-agg pass — both scans full-scannable, no
    * sort, no window. */
  def q109ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("lang"), col("n_chars"))
    val joined = docs.join(broadcast(q109ApproxQuantileValues(s, dir)),
      Seq("lang"))
    def lo(c: String) = sum(when(col("n_chars") < col(c), 1L).otherwise(0L))
    def hi(c: String) = sum(when(col("n_chars") <= col(c), 1L).otherwise(0L))
    def ok(p: Double, loC: Column, hiC: Column): Column = {
      val n = col("n_docs").cast("double")
      val bound = n / ApproxQuantileAccuracy + 1.0
      (hiC > loC) && (loC.cast("double") - bound <= n * p) &&
        (n * p <= hiC.cast("double") + bound)
    }
    joined.groupBy(col("lang")).agg(
      first(col("n_docs")).as("n_docs"),
      lo("ap25").as("__lo25"), hi("ap25").as("__hi25"),
      lo("ap50").as("__lo50"), hi("ap50").as("__hi50"),
      lo("ap75").as("__lo75"), hi("ap75").as("__hi75"))
      .select(col("lang"), col("n_docs"),
        ok(0.25, col("__lo25"), col("__hi25")).as("ok25"),
        ok(0.5, col("__lo50"), col("__hi50")).as("ok50"),
        ok(0.75, col("__lo75"), col("__hi75")).as("ok75"))
  }

  /** The raw grouped-`percentile_approx` frame (lang, n_docs, ap25/50/75)
    * — the form a user consumes; [[q109ApproxQuantiles]] wraps it in the
    * in-plan rank-bound proof for the hash gate, and
    * `ApproxQuantileSpec` asserts the per-percentile diagnostics at
    * sf0.1. */
  def q109ApproxQuantileValues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"percentile_approx(n_chars, 0.25, $ApproxQuantileAccuracy)")
          .cast("long").as("ap25"),
        expr(s"percentile_approx(n_chars, 0.5, $ApproxQuantileAccuracy)")
          .cast("long").as("ap50"),
        expr(s"percentile_approx(n_chars, 0.75, $ApproxQuantileAccuracy)")
          .cast("long").as("ap75"))

  /** Sketch accuracy for [[q109ApproxQuantiles]]: rank error ≤ n/accuracy
    * per group (shared with `ApproxQuantileSpec`'s bound assertion). */
  val ApproxQuantileAccuracy: Int = 1000

  /** Retention cohorts over the event stream: users grouped by the week
    * of their FIRST event, counted distinct per week-offset since that
    * cohort week — the standard product-analytics retention matrix.
    * Scale shape: first-event rides a whole-partition `min` window over
    * the SAME user_id shuffle the rows need anyway — ONE full shuffle of
    * events, where the agg-then-join formulation pays two (the plan
    * guard pinned that: the differing subtrees never got a
    * ReusedExchange). The matrix agg is a (cohort, period) groupBy with
    * a distinct-count whose domain (users) dwarfs the matrix — at
    * 100 TB swap the exact distinct for the KMV sketch (q84) without
    * changing the frame shape. Week arithmetic is day-diff DIV 7 over
    * Monday-truncated weeks so both engines agree on the offset. */
  def q103RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir).select(col("user_id"), col("ts"))
      .withColumn("first_ts",
        min(col("ts")).over(Window.partitionBy(col("user_id"))))
      .select(col("user_id"),
        date_format(date_trunc("week", col("first_ts")), "yyyy-MM-dd")
          .as("cohort_week"),
        expr("""datediff(date_trunc('week', ts),
                         date_trunc('week', first_ts)) DIV 7""")
          .cast("long").as("period"))
      .groupBy(col("cohort_week"), col("period"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Curriculum-ordered packing: the q97 shard packer with the stream
    * order supplied by the q98 quality-classifier score (descending —
    * best-scored documents land in the earliest shards), completing the
    * packing family: id order (q78), pseudorandom shuffle (q97),
    * quality curriculum (q104). Same two-phase distributed prefix sum;
    * the only new cost is the score join, which rides the classifier's
    * single hash-agg. Params from [[SketchParams.q104]] + q98. */
  def q104CurriculumPack(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q104
    val q98p = SketchParams.q98
    val docs = t(s, dir, "documents")
    val scores = operators.TextAnalysis.hashedLinearScore(docs,
        "text", "doc_id", q98p.nBuckets, q98p.weightRange, q98p.seed)
      .select(col("doc_id"), col("score"))
    val toks = docs.select(col("doc_id"),
      operators.TextAnalysis.tokenCount(normText(col("text"))).cast("long")
        .as("n_tokens"))
    val ordered = toks.join(scores, Seq("doc_id"), "left")
      .withColumn("ord", -coalesce(col("score"), lit(0L)))
    operators.Packing.assignShards(ordered, "n_tokens", "doc_id",
      p.maxTokensPerShard, orderCol = Some("ord"))
  }

  /** Declarative sessionization via the built-in `session_window`
    * aggregation — the third implementation of the session concept
    * (q43: lag/cumsum window; `EventStreams.sessionize`:
    * mapGroupsWithState), and the one that runs UNCHANGED as a streaming
    * query with watermark-driven state eviction. Semantics detail the
    * oracle must mirror: session windows are half-open `[start, last+gap)`,
    * so a gap of exactly the threshold starts a NEW session (q43's lag
    * form keeps it — both are valid, documented contracts), and the
    * comparison is at full microsecond precision (every fixture event
    * has sub-second parts; a seconds-truncated oracle would misclassify
    * near-boundary gaps). */
  def q105SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))

  /** Weighted fixed-point PageRank
    * ([[graft.operators.PageRank.weightedPageRankFixedPoint]]): q99's
    * supplier–customer graph with edge weight = shipment multiplicity
    * (lineitem count per pair), so a node's rank splits proportionally
    * to trade volume instead of uniformly. Same exact-BIGINT contract —
    * the oracle unrolls the weighted recurrence. Params shared with
    * [[SketchParams.q99]]. */
  def q106WeightedPageRank(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q99
    // raw (supplier, customer, 1) rows, both directions — the operator's
    // own (src, dst) aggregation folds multiplicity into the edge
    // weight, so pre-counting here would just add a redundant shuffle
    val e0 = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2L).as("a"),
        (col("o_custkey") * 2L + 1L).as("b"), lit(1L).as("w"))
    val edges = e0.union(
      e0.select(col("b").as("a"), col("a").as("b"), col("w")))
    operators.PageRank.weightedPageRankFixedPoint(edges, "a", "b",
      Some("w"), p.iters, p.scale, p.dampPct)
  }

  /** Prefix-filtered exact set-similarity join
    * ([[graft.operators.Dedup.prefixFilterJoin]], PPJoin family): word-set
    * Jaccard pairs over the near-dup corpus with candidates drawn from
    * df-ascending token prefixes — exact (no false negatives), integer
    * fraction threshold. Params from [[SketchParams.q107]]. */
  def q107PrefixJoin(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q107
    Dedup.prefixFilterJoin(
      nearDupCorpus(s, dir).filter(col("doc_id") % p.corpusMod === 0),
      "text", "doc_id", tNum = p.tNum, tDen = p.tDen)
  }

  /** Real image-header decode over binary media columns
    * ([[graft.functions.ImageHeaderKernel]]): synthesize PNG / JPEG / GIF /
    * non-image container bytes per document (dimensions and segment padding
    * derived from `doc_id`, so the JPEG SOFn scan walks genuinely
    * variable-length segments), then parse format / width / height /
    * channels back out with the codegen byte-parser expressions. The oracle
    * rebuilds the identical blobs in DuckDB and re-parses them with
    * hex-slicing plus a recursive-CTE JPEG marker scan — every parsed field
    * is hash-checked against an independent implementation. Map-only (no
    * shuffle); the parser reads ≤32 header bytes regardless of payload
    * size, which is the 100 TB property that matters (resolution gating
    * without pixel decode). */
  /** Shared q108/q110 fixture: deterministic PNG / JPEG / GIF / non-image
    * container bytes per document (dimensions, color type, and JPEG
    * comment-segment padding all derived from `doc_id`). Returned as
    * `(doc_id, content binary)`; the DuckDB oracles rebuild the identical
    * blobs from the same arithmetic. */
  private[graft] def mediaFixture(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("w", (lit(16) + col("doc_id") % 1000).cast("int"))
      .withColumn("h", (lit(16) + (col("doc_id") * 7) % 1000).cast("int"))
      .withColumn("f", (col("doc_id") % 4).cast("int"))
      .withColumn("jch", when(expr("doc_id div 4") % 2 === 0, 1).otherwise(3))
      .withColumn("pct", element_at(array(lit(0), lit(2), lit(6)),
        (expr("doc_id div 3") % 3).cast("int") + 1))
      .withColumn("k", (col("doc_id") % 17).cast("int"))
    // container bytes as hex text (PNG sig+IHDR / JPEG APP0+COM+SOF0+EOI /
    // GIF89a LSD / 8 raw bytes that match no magic), then unhex → binary
    val hx = when(col("f") === 0,
        concat(lit("89504E470D0A1A0A0000000D49484452"),
          lpad(hex(col("w")), 8, "0"), lpad(hex(col("h")), 8, "0"),
          lit("08"), lpad(hex(col("pct")), 2, "0"), lit("000000")))
      .when(col("f") === 1,
        concat(lit("FFD8FFE000104A46494600010100000100010000"),
          lit("FFFE"), lpad(hex(col("k") + 2), 4, "0"), expr("repeat('41', k)"),
          lit("FFC0"), lpad(hex(col("jch") * 3 + 8), 4, "0"), lit("08"),
          lpad(hex(col("h")), 4, "0"), lpad(hex(col("w")), 4, "0"),
          lpad(hex(col("jch")), 2, "0"), expr("repeat('010011', jch)"),
          lit("FFD9")))
      .when(col("f") === 2,
        concat(lit("474946383961"),
          substring(lpad(hex(col("w")), 4, "0"), 3, 2),
          substring(lpad(hex(col("w")), 4, "0"), 1, 2),
          substring(lpad(hex(col("h")), 4, "0"), 3, 2),
          substring(lpad(hex(col("h")), 4, "0"), 1, 2),
          lit("000000")))
      .otherwise(lpad(hex(col("doc_id")), 16, "0"))
    m.select(col("doc_id"), unhex(hx).as("content"))
  }

  def q108MediaMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageHeader._
    mediaFixture(s, dir)
      .select(col("doc_id"),
        imgFormat(col("content")).as("fmt"),
        imgWidth(col("content")).as("width"),
        imgHeight(col("content")).as("height"),
        imgChannels(col("content")).as("channels"))
  }

  /** Resolution gating over binary media WITHOUT pixel decode — the
    * filter a training-data pipeline runs before paying for a real
    * decode: parse width/height from the first ≤32 header bytes
    * ([[graft.functions.ImageHeaderKernel]]), drop small/unknown images,
    * aggregate the surviving corpus per container format. Map-only until
    * one partial-agg shuffle of ≤3 groups; the binary payload itself is
    * never shuffled (column pruning drops it after the parse
    * projection). Oracle: same gate over the q108 CTE chain. */
  def q110MediaGate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ImageHeader._
    mediaFixture(s, dir)
      .select(col("doc_id"),
        imgFormat(col("content")).as("fmt"),
        imgWidth(col("content")).as("width"),
        imgHeight(col("content")).as("height"))
      .filter(col("fmt") =!= "unknown" &&
        col("width") >= 128 && col("height") >= 128)
      .groupBy(col("fmt"))
      .agg(count(lit(1)).as("n_imgs"),
        sum(col("width").cast("long") * col("height").cast("long"))
          .as("total_pixels"),
        max(col("width")).cast("long").as("max_width"),
        max(col("height")).cast("long").as("max_height"))
  }

  /** Real WAV/RIFF audio-header decode ([[graft.functions.WavHeaderKernel]])
    * — the audio sibling of q108: synthesize RIFF containers per document
    * (sample rate / channels / bit depth / data size derived from
    * `doc_id`; a variable-length LIST chunk with RIFF odd-size padding
    * precedes `fmt `, so the chunk walk is genuinely exercised), then
    * parse the fields back with the codegen byte-parser expressions,
    * including exact integer `duration_ms = data_bytes * 1000 DIV
    * byte_rate`. One in five payloads is a non-RIFF buffer (all fields
    * -1). Oracle: DuckDB rebuilds identical blobs and re-walks the chunk
    * list with a recursive CTE over the hex image. Map-only; the parser
    * touches only chunk headers, never sample data. */
  def q111WavMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.AudioHeader._
    def le32(c: Column): Column = {
      val h = lpad(hex(c), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    def le16(c: Column): Column = {
      val h = lpad(hex(c), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    val m = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("nch", (lit(1) + col("doc_id") % 2).cast("int"))
      .withColumn("rate", element_at(
        array(lit(8000), lit(16000), lit(44100), lit(48000)),
        (expr("doc_id div 2") % 4).cast("int") + 1))
      .withColumn("bits", element_at(array(lit(8), lit(16), lit(24), lit(32)),
        (expr("doc_id div 8") % 4).cast("int") + 1))
      .withColumn("balign", (col("nch") * col("bits") / 8).cast("int"))
      .withColumn("brate", col("rate") * col("balign"))
      .withColumn("dsize", (lit(1000) + col("doc_id") % 50000).cast("int"))
      .withColumn("k", (col("doc_id") % 19).cast("int"))
      .withColumn("pad", (col("k") % 2).cast("int"))
    val riffSize = lit(36) + col("dsize") + lit(8) + col("k") + col("pad")
    val wavHex = concat(
      lit("52494646"), le32(riffSize), lit("57415645"), // RIFF size WAVE
      lit("4C495354"), le32(col("k")),                  // LIST k
      expr("repeat('4C', k)"),
      when(col("pad") === 1, "00").otherwise(""),       // odd-size pad byte
      lit("666D7420"), le32(lit(16)), le16(lit(1)),     // 'fmt ' 16 pcm
      le16(col("nch")), le32(col("rate")), le32(col("brate")),
      le16(col("balign")), le16(col("bits")),
      lit("64617461"), le32(col("dsize")))              // 'data' size
    val hx = when(col("doc_id") % 5 === 4,
      lpad(hex(col("doc_id")), 24, "0")).otherwise(wavHex)
    m.select(col("doc_id"), unhex(hx).as("content"))
      .select(col("doc_id"),
        wavSampleRate(col("content")).as("sample_rate"),
        wavChannels(col("content")).as("n_channels"),
        wavBits(col("content")).as("bit_depth"),
        wavDurationMs(col("content")).as("duration_ms"))
  }

  /** BM25 ranked retrieval, exact-integer fixed-point twin
    * ([[graft.operators.TextAnalysis.bm25FixedPointTopK]]): top-k
    * documents per keyword query, scored by the floored idf*·saturation
    * products the oracle replays term by term. The production double/ln
    * scorer ([[graft.operators.TextAnalysis.bm25Scores]]) is
    * spec-verified (`Bm25Spec`) per the tfIdf precedent — libm `ln` is
    * not engine-portable. Params from [[SketchParams.q112]]. */
  def q112Bm25(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q112
    import s.implicits._
    val q = p.queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    operators.TextAnalysis.bm25FixedPointTopK(
      t(s, dir, "documents"), "text", "doc_id", q,
      p.k, p.s1, p.s2)
  }

  /** Per-node triangle counts
    * ([[graft.operators.Components.triangleCounts]]) over the supplier
    * co-order graph: suppliers are linked when they co-supply an order's
    * high-quantity lines. Degree-ordered orientation Spark-side; the
    * oracle counts the same triangles with the naive ordered 3-way
    * self-join. Params from [[SketchParams.q113]]. */
  def q113Triangles(s: SparkSession, dir: String): DataFrame =
    operators.Components.triangleCounts(coOrderEdges(s, dir), "a", "b")

  /** Shared q113/q115/q118 graph: supplier co-order edges via
    * [[graft.operators.Components.coOccurrenceEdges]] (high-quantity
    * lines only; the default megagroup cap never binds here — TPC-H
    * orders carry ≤ 7 lines).
    *
    * The edge build (incidence distinct + megagroup cap + within-group
    * pair join + distinct) is consumed by THREE queries — q113's
    * triangles, q115's clustering coefficients, q118's k-core — so,
    * exactly like the q133 labeling and the q148 forest, each
    * (session, dir) pair materializes it ONCE as an eager
    * localCheckpoint and all three consumers scan the shared blocks
    * (at cluster scale: one co-occurrence shuffle instead of three).
    * Each query's ORACLE stays self-contained — its SQL twin still
    * builds the edge list from the base tables. Memo hygiene is
    * [[SessionMemo]]'s. */
  private val coOrderMemo = SessionMemo.checkpointed()
  private def coOrderEdges(s: SparkSession, dir: String): DataFrame =
    coOrderMemo(s, dir) {
      operators.Components.coOccurrenceEdges(
        t(s, dir, "lineitem")
          .filter(col("l_quantity") >= SketchParams.q113.minQty)
          .select(col("l_orderkey"), col("l_suppkey")),
        "l_orderkey", "l_suppkey")
    }

  /** Leakage-safe train/val/test split
    * ([[graft.operators.Sampling.leakageSafeSplit]]): the q49/q56
    * minhash near-dup pipeline feeds connected components, and the md5
    * permille bucket of each CLUSTER id assigns its members — so
    * near-duplicates can never straddle a split boundary (the eval-set
    * contamination guard). Params from [[SketchParams.q114]]. */
  def q114LeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q114
    val corpus = q49Corpus(s, dir)
    val pairs = q49Pairs(s, dir)
    operators.Sampling.leakageSafeSplit(corpus, "doc_id", pairs,
      "id_a", "id_b", p.valPermille, p.testPermille, p.seed, maxIter = 25)
  }

  /** Local clustering coefficients
    * ([[graft.operators.Components.clusteringCoefficients]]) over the
    * q113 supplier co-order graph — per-node triangle density as one
    * engine-exact double division. Params from [[SketchParams.q113]]. */
  def q115ClusteringCoeff(s: SparkSession, dir: String): DataFrame =
    operators.Components.clusteringCoefficients(coOrderEdges(s, dir),
      "a", "b")

  /** Match-quality evaluation
    * ([[graft.operators.Cascade.evaluateMatches]]): the exact-key subset
    * (what ruleMatch would find) is held out as gold, the fuzzy stage is
    * run over ALL customers as if keys were unavailable, and the
    * predicted pairs are graded pair-level — confusion counts plus
    * P/R/F1 as single engine-exact divisions. The standard
    * entity-resolution holdout harness, here grading q08's own fuzzy
    * kernel. */
  def q116MatchEval(s: SparkSession, dir: String): DataFrame = {
    val cPrep = t(s, dir, "customer").select(
      col("c_custkey").as("crawl_id"), col("c_name").as("crawl_name"),
      col("c_nationkey").as("block"))
    val sPrep = t(s, dir, "supplier").select(
      col("s_suppkey").as("abr_id"), col("s_name").as("abr_name"),
      col("s_nationkey").as("block"))
    val gold = cPrep.join(sPrep, col("crawl_id") === col("abr_id"))
      .select(col("crawl_id"), col("abr_id"))
    val score = exprs.levenshtein_ratio(col("crawl_name"), col("abr_name"))
    val predicted = Cascade.fuzzyMatch(cPrep, sPrep, "block", score,
        "crawl_id", Seq("abr_id"),
        Cascade.MatchConfig(fuzzyAcceptThreshold = 40.0,
          fuzzyHighConfidence = 65.0))
      .select(col("crawl_id"), col("abr_id"))
    Cascade.evaluateMatches(predicted, gold, "crawl_id", "abr_id")
  }

  /** PMI collocation extraction
    * ([[graft.operators.TextAnalysis.collocations]]): bigrams ranked by
    * exact-rational lift (monotone with PMI — no libm in the gate).
    * Params from [[SketchParams.q117]]. */
  def q117Collocations(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.collocations(t(s, dir, "documents"), "text",
      SketchParams.q117.minPairCount)

  /** k-core decomposition ([[graft.operators.Components.kCore]]) of the
    * q113 supplier co-order graph: the dense trading core after
    * cascading removal of low-degree suppliers. The oracle unrolls the
    * peel past fixpoint (extra rounds are identities). Params from
    * [[SketchParams.q118]]. */
  def q118KCore(s: SparkSession, dir: String): DataFrame =
    operators.Components.kCore(coOrderEdges(s, dir), "a", "b",
      SketchParams.q118.k)

  /** Dedup-screen quality evaluation: the near-dup corpus PLANTS its
    * ground truth (every base doc has a tail-truncated twin at
    * id + 1,000,000), so the minhash-LSH screen's pair output can be
    * graded pair-level with [[graft.operators.Cascade.evaluateMatches]]
    * — recall says how many planted twins the banding catches at the
    * q49 parameters; precision counts organically-similar base pairs
    * against it. The sketch-quality measurement harness a curation
    * pipeline runs before trusting a screen at scale. */
  def q119DedupEval(s: SparkSession, dir: String): DataFrame = {
    val corpus = q49Corpus(s, dir)
    val predicted = q49Pairs(s, dir).select(col("id_a"), col("id_b"))
    val gold = corpus.filter(col("doc_id") < 1000000L)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") + 1000000L).as("id_b"))
    Cascade.evaluateMatches(predicted, gold, "id_a", "id_b")
  }

  /** HITS hubs & authorities
    * ([[graft.operators.PageRank.hitsFixedPoint]]) over the q99
    * customer→supplier purchase bipartite graph: hub scores rank
    * customers by breadth-weighted buying, authority scores rank
    * suppliers by who the strong hubs buy from — the two-sided
    * importance measure one PageRank pass can't give. Max-normalized
    * integer fixed point; the oracle unrolls the half-steps. Params
    * from [[SketchParams.q120]]. */
  def q120Hits(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q120
    val edges = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2L + 1L).as("src"),
        (col("l_suppkey") * 2L).as("dst"))
    operators.PageRank.hitsFixedPoint(edges, "src", "dst",
      p.iters, p.scale)
  }

  /** Equi-depth histogram ([[graft.operators.Stats.equiDepthHistogram]])
    * of document lengths: exact-percentile boundaries (engine-portable
    * interpolation, the q102 precedent) + one partial hash-agg — no
    * ntile global sort. Params from [[SketchParams.q121]]. */
  def q121Histogram(s: SparkSession, dir: String): DataFrame =
    operators.Stats.equiDepthHistogram(
      t(s, dir, "documents"), "n_chars", SketchParams.q121.nBuckets)

  /** Fully-oracled twin of [[q40MediaPipeline]] (the q49/q51/q68
    * sketch-twin pattern): the SAME Multimodal plumbing — binary
    * payloads via [[graft.operators.Multimodal.fromText]], decoder-
    * boundary featurize over `mapPartitions` — but with
    * [[graft.operators.Multimodal.Decoder.PortableMd5]] extracting
    * md5-derived INTEGER features an external engine replays from the
    * same bytes, ranked by the q83 integer-exact quantized cosine
    * (exact `qdot` in the output so the oracle verifies the scoring
    * kernel, not only the rank). Together with q40 (rows-only; its
    * FNV-1a decoder is a JVM stub by design) this hash-verifies the
    * media → embedding → ANN COMPOSITION end-to-end. Params from
    * [[SketchParams.q122]]. */
  def q122MediaAnnOracle(s: SparkSession, dir: String): DataFrame = {
    import operators.Multimodal
    val p = SketchParams.q122
    val media = Multimodal.fromText(
      t(s, dir, "documents").filter(col("doc_id") < p.corpusMax),
      "doc_id", "text", "image")
    val feats = Multimodal
      .featurize(media, Multimodal.Decoder.PortableMd5)
      .toDF().select(col("id").as("vec_id"), col("feature").as("embedding"))
    Ann.quantizedTopK(feats, feats.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, levels = 1)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("qdot"))
  }

  /** Fellegi–Sunter probabilistic linkage
    * ([[graft.operators.Linkage]]): candidates block on nationkey with a
    * bounded custkey gap; the gold set is the candidates passing the
    * exact-mktsegment rule (the cascade-bootstrap pattern — a
    * high-precision rule stage labels pairs, FS generalizes to the
    * probabilistic score); m from the gold agreement rates,
    * frequency-based u from the value distributions, odds-ratio-product
    * scoring. The third field (account-balance mod bucket — IEEE floor,
    * identical both engines) is independent of the block, so scores
    * spread across agreement bands. Every statistic is an exact BIGINT
    * rational and every double a fixed op shape, so the DuckDB oracle
    * replays estimation AND scoring bit-for-bit. Params from
    * [[SketchParams.q123]]. */
  def q123FellegiSunter(s: SparkSession, dir: String): DataFrame =
    // memoized: q128 (mutual-best) consumes the scored frame whole — it
    // re-derived the full estimate+score chain per call (VERDICT r20
    // item 5, the measured q128 drift), while the memo makes the chain
    // build once per (session, dir) like every other shared stage
    q123ScoredMemo(s, dir) { q123FellegiSunterBuild(s, dir) }
  private val q123ScoredMemo = SessionMemo.checkpointed()

  private[graft] def q123FellegiSunterBuild(s: SparkSession, dir: String)
      : DataFrame = {
    val p = SketchParams.q123
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"),
      col("c_nationkey").cast("long").as("c_nation"),
      (floor(col("c_acctbal")).cast("long") % 100L).as("c_balmod"))
    val fields = Seq("c_mktsegment", "c_nation", "c_balmod")
    val l = cust.select(col("c_custkey").as("id_a"),
      col("c_nation").as("__blk"), col("c_mktsegment").as("__seg_a"))
    val r = cust.select(col("c_custkey").as("id_b"),
      col("c_nation").as("__blk"), col("c_mktsegment").as("__seg_b"))
    val blocked = l.join(r, Seq("__blk"))
      .filter(col("id_a") < col("id_b") &&
        col("id_b") - col("id_a") <= p.maxGap)
    val cands = blocked.select("id_a", "id_b")
    val gold = blocked.filter(col("__seg_a") === col("__seg_b"))
      .select("id_a", "id_b")
    val w = operators.Linkage.estimateWeights(cust, "c_custkey", fields,
      gold)
    operators.Linkage.scorePairs(cust, "c_custkey", fields, cands, w,
      p.threshold)
  }

  /** Blocking-scheme evaluation
    * ([[graft.operators.Linkage.evaluateBlocking]]): the q123 nation
    * block graded against adjacent-custkey pseudo-truth — reduction
    * ratio (how much of the quadratic pair space the block avoids),
    * pair completeness (the recall cap blocking imposes on every later
    * stage: adjacent pairs only survive when they share a nation), and
    * pairs quality. One output row; each metric one double division of
    * BIGINTs. Shares [[SketchParams.q123]]. */
  def q124BlockingEval(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q123
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("c_nation"))
    val l = cust.select(col("c_custkey").as("id_a"),
      col("c_nation").as("__blk"))
    val r = cust.select(col("c_custkey").as("id_b"),
      col("c_nation").as("__blk"))
    val cands = l.join(r, Seq("__blk"))
      .filter(col("id_a") < col("id_b") &&
        col("id_b") - col("id_a") <= p.maxGap)
      .select("id_a", "id_b")
    val gold = cust.select(col("c_custkey").as("id_a"),
        (col("c_custkey") + 1L).as("id_b"))
      .join(cust.select(col("c_custkey").as("id_b")), Seq("id_b"),
        "left_semi")
    operators.Linkage.evaluateBlocking(cust, "c_custkey", cands, gold)
  }

  /** Personalized PageRank
    * ([[graft.operators.PageRank.personalizedPageRankFixedPoint]]) over
    * the q99 symmetrized supplier–customer graph, seeded with every
    * tenth supplier — the TrustRank-style "distance to trusted seeds"
    * signal. Exact BIGINT fixed point; the oracle unrolls the seeded
    * iterations as CTEs. Params from [[SketchParams.q125]]. */
  def q125PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q125
    val e0 = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2L).as("a"),
        (col("o_custkey") * 2L + 1L).as("b"))
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    val seeds = t(s, dir, "supplier")
      .filter(col("s_suppkey") % p.seedMod === 0)
      .select((col("s_suppkey") * 2L).as("node"))
    operators.PageRank.personalizedPageRankFixedPoint(edges, "a", "b",
      seeds, "node", p.iters, p.scale, p.dampPct)
  }

  /** Unsupervised EM calibration of the Fellegi–Sunter model
    * ([[graft.operators.Linkage.estimateWeightsEM]]) over the q123
    * candidate pairs — no labeled gold: the two-class latent mixture
    * over agreement vectors, with responsibilities floor-quantized to
    * 2⁻³⁰ so every cross-pair reduction is an order-independent BIGINT
    * sum and the DuckDB oracle replays all `iters` iterations
    * bit-for-bit. Output: one row of the calibrated (π, m_f, u_f).
    * Params from [[SketchParams.q126]] (+ q123's blocking). */
  def q126EmLinkage(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q126
    val pb = SketchParams.q123
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"),
      col("c_nationkey").cast("long").as("c_nation"),
      (floor(col("c_acctbal")).cast("long") % 100L).as("c_balmod"))
    val fields = Seq("c_mktsegment", "c_nation", "c_balmod")
    val l = cust.select(col("c_custkey").as("id_a"),
      col("c_nation").as("__blk"))
    val r = cust.select(col("c_custkey").as("id_b"),
      col("c_nation").as("__blk"))
    val cands = l.join(r, Seq("__blk"))
      .filter(col("id_a") < col("id_b") &&
        col("id_b") - col("id_a") <= pb.maxGap)
      .select("id_a", "id_b")
    val em = operators.Linkage.estimateWeightsEM(cust, "c_custkey",
      fields, cands, p.iters, p.pi0, p.m0, p.u0)
    import s.implicits._
    Seq((em.pi,
      em.m("c_mktsegment"), em.u("c_mktsegment"),
      em.m("c_nation"), em.u("c_nation"),
      em.m("c_balmod"), em.u("c_balmod")))
      .toDF("pi", "m_mktsegment", "u_mktsegment",
        "m_nation", "u_nation", "m_balmod", "u_balmod")
  }

  /** Bigram-familiarity LM-fluency score
    * ([[graft.operators.TextAnalysis.bigramFamiliarity]]): every
    * document scored against the even-doc_id half of the corpus as the
    * trusted reference — the CCNet-style LM quality filter with the
    * n-gram model held in exact integer fixed point, so the oracle
    * replays training and scoring bit-for-bit. Params from
    * [[SketchParams.q127]]. */
  def q127BigramFamiliarity(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q127
    val docs = t(s, dir, "documents")
    operators.TextAnalysis.bigramFamiliarity(docs,
      docs.filter(col("doc_id") % p.refMod === 0),
      "text", "doc_id", p.quant)
  }

  /** Mutual-best one-to-one assignment
    * ([[graft.operators.Linkage.mutualBestAssignment]]) over the q123
    * Fellegi–Sunter matches — the resolution step that turns a scored
    * many-to-many match set into a one-to-one record alignment: a pair
    * survives iff each side is the other's best-scoring partner (ties
    * by smallest partner id). Shares [[SketchParams.q123]]; the oracle
    * replays q123's scoring then the same total-order argmax with
    * `row_number`. */
  def q128MutualBest(s: SparkSession, dir: String): DataFrame = {
    val scored = q123FellegiSunter(s, dir).filter(col("is_match"))
    operators.Linkage.mutualBestAssignment(scored)
  }

  /** Multi-source BFS hop distance
    * ([[graft.operators.Components.bfsHopDistance]]) over the q99
    * symmetrized supplier–customer graph — every node labeled with its
    * hop count to the nearest seed supplier (every
    * [[SketchParams.q129]].seedMod-th), capped at maxHops; the
    * "distance to a trusted set" feature (TrustRank's discrete
    * sibling). The oracle replays the exact frontier levels with a
    * recursive CTE + MIN(depth). */
  def q129BfsHops(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q129
    val e0 = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2L).as("a"),
        (col("o_custkey") * 2L + 1L).as("b"))
    val edges = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    val seeds = t(s, dir, "supplier")
      .filter(col("s_suppkey") % p.seedMod === 0)
      .select((col("s_suppkey") * 2L).as("node"))
    operators.Components.bfsHopDistance(edges, "a", "b",
      seeds, "node", p.maxHops)
  }

  /** Per-pair EM posterior probabilities
    * ([[graft.operators.Linkage.emPosteriors]]): q126's calibration
    * (same candidates, fields, starting point, iteration count)
    * followed by one more E-step that emits every candidate pair's
    * quantized match posterior — the per-pair decision surface the
    * one-row parameter query can't give. The oracle replays the 4
    * unrolled EM iterations AND the final per-pair E-step
    * bit-for-bit. */
  def q131EmPosteriors(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q126
    val pb = SketchParams.q123
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment"),
      col("c_nationkey").cast("long").as("c_nation"),
      (floor(col("c_acctbal")).cast("long") % 100L).as("c_balmod"))
    val fields = Seq("c_mktsegment", "c_nation", "c_balmod")
    val l = cust.select(col("c_custkey").as("id_a"),
      col("c_nation").as("__blk"))
    val r = cust.select(col("c_custkey").as("id_b"),
      col("c_nation").as("__blk"))
    val cands = l.join(r, Seq("__blk"))
      .filter(col("id_a") < col("id_b") &&
        col("id_b") - col("id_a") <= pb.maxGap)
      .select("id_a", "id_b")
    operators.Linkage.emPosteriors(cust, "c_custkey", fields, cands,
      p.iters, p.pi0, p.m0, p.u0)
  }

  /** Priority sampling ([[graft.operators.Sampling.prioritySample]],
    * Duffield–Lund–Thorup) of the document corpus weighted by
    * `n_chars` — k docs drawn without replacement, each carrying the
    * unbiased subset-sum estimator weight max(w, τ). The corpus
    * subsampling step that keeps downstream token-count estimates
    * honest. Params from [[SketchParams.q130]]; the oracle replays
    * the md5 uniforms, priorities, τ and estimator weights
    * bit-for-bit. */
  def q130PrioritySample(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q130
    operators.Sampling.prioritySample(
      t(s, dir, "documents"), "doc_id", "n_chars", p.k, p.seed)
  }

  /** Per-group priority sampling
    * ([[graft.operators.Sampling.prioritySampleByGroup]]): k documents
    * per language, weighted by `n_chars`, each carrying the
    * group-local unbiased subset-sum estimator weight — the stratified
    * corpus-capping step (no language crowded out, per-language token
    * totals still estimable). Params from [[SketchParams.q132]]. */
  def q132GroupPrioritySample(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q132
    operators.Sampling.prioritySampleByGroup(
      t(s, dir, "documents"), "lang", "doc_id", "n_chars", p.k, p.seed)
  }

  /** Synchronous label propagation
    * ([[graft.operators.Components.labelPropagation]]) over the q99
    * symmetrized supplier–customer graph — neighbor-majority
    * communities, finer than connected components. The oracle unrolls
    * every round's (count, min-label) argmax bit-for-bit. Params from
    * [[SketchParams.q133]]. */
  def q133LabelPropagation(s: SparkSession, dir: String): DataFrame =
    q133Labels(s, dir)

  /** The q133 labeling is consumed by THREE queries — q133 itself,
    * q135's modularity grade, q140's Rand index — and the 8-round
    * iterative LPA subplan is the most expensive job in the suite, so
    * recomputing it per query triples it (at cluster scale: three full
    * multi-round shuffle jobs instead of one). The labels frame is one
    * (node, label) row per node, so each (session, dir) pair
    * materializes it ONCE as an eager localCheckpoint and all three
    * queries scan the shared blocks; each query's ORACLE stays
    * self-contained (its SQL twin still unrolls the full recurrence).
    * [[SessionMemo]] builds it once even when the consumers arrive
    * concurrently (graft.Verify runs queries concurrently). */
  private val lpaMemo = SessionMemo.checkpointed()
  private def q133Labels(s: SparkSession, dir: String): DataFrame =
    lpaMemo(s, dir) {
      val p = SketchParams.q133
      val e0 = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2L).as("a"),
          (col("o_custkey") * 2L + 1L).as("b"))
      operators.Components.labelPropagation(e0, "a", "b", p.iters)
    }

  /** Reciprocal rank fusion
    * ([[graft.operators.TextAnalysis.reciprocalRankFusion]]): two
    * per-language document rankings — a length prior (`n_chars`) and a
    * vocabulary-richness prior (distinct-token count) — fused into one
    * robust per-language curation ranking with exact-BIGINT RRF
    * contributions. Params from [[SketchParams.q134]]. */
  def q134RankFusion(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q134
    val base = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      col("n_chars"),
      size(array_distinct(split(normText(col("text")), " ")))
        .cast("long").as("__v"))
    val wLen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val wVoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("__v").desc, col("doc_id").asc)
    val rLen = base.select(col("lang"), col("doc_id"),
      row_number().over(wLen).cast("long").as("rnk"))
    val rVoc = base.select(col("lang"), col("doc_id"),
      row_number().over(wVoc).cast("long").as("rnk"))
    operators.TextAnalysis.reciprocalRankFusion(Seq(rLen, rVoc),
      "lang", "doc_id", "rnk", p.kParam, p.topN)
  }

  /** Modularity of the q133 community labeling
    * ([[graft.operators.Components.modularity]]) — grade the LPA
    * communities on the same graph before acting on them, the
    * evaluate-first discipline q124 applies to blocking. One row;
    * exact-integer numerator, one double division.
    *
    * The result on this graph is INSTRUCTIVE, not flattering: sync LPA
    * on the dense bipartite supplier–customer graph oscillates into a
    * side-vs-side split (Q = −0.5, the bipartite worst case) — the
    * metric correctly says "discard this labeling", which is exactly
    * why the metric runs before any downstream use. On community-
    * structured graphs (the triangles spec, near-dup replica graphs)
    * the same pipeline scores strongly positive. */
  def q135LpaModularity(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2L).as("a"),
        (col("o_custkey") * 2L + 1L).as("b"))
    val labels = q133LabelPropagation(s, dir)
    operators.Components.modularity(e0, "a", "b", labels, "node", "label")
  }

  /** Snapshot diff ([[graft.operators.Scd.snapshotDiff]]): the CDC
    * classification between the customer table and a deterministically
    * mutated copy (deletes, balance changes, additions by modulus —
    * [[SketchParams.q136]]), keyed on `c_custkey`, comparing
    * (`c_acctbal`, `c_mktsegment`). One full-outer hash join; the
    * oracle replays the null-safe per-column comparison with
    * `IS DISTINCT FROM`. */
  def q136SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q136
    val before = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val kept = before.filter(col("c_custkey") % p.delMod =!= 0L)
      .withColumn("c_acctbal",
        when(col("c_custkey") % p.chgMod === 0L,
          col("c_acctbal") + 10.0).otherwise(col("c_acctbal")))
    val added = before.filter(col("c_custkey") % p.addMod === 0L)
      .withColumn("c_custkey", col("c_custkey") + p.addShift)
    operators.Scd.snapshotDiff(before, kept.unionByName(added),
      Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
  }

  /** Weighted label propagation
    * ([[graft.operators.Components.weightedLabelPropagation]]) over the
    * q99 graph with shipment MULTIPLICITY as the edge weight (repeated
    * supplier–customer lineitem rows pre-sum into one weighted edge) —
    * communities by traffic volume, not mere adjacency. Params from
    * [[SketchParams.q137]]. */
  def q137WeightedLpa(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q137
    val e0 = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2L).as("a"),
        (col("o_custkey") * 2L + 1L).as("b"),
        lit(1L).as("w"))
    operators.Components.weightedLabelPropagation(e0, "a", "b", "w",
      p.iters)
  }

  /** Peak order concurrency ([[graft.operators.Stats.maxConcurrency]]):
    * each order is open from `o_orderdate` to its last shipment
    * (`max(l_shipdate)`); the sweep reports the largest number of
    * simultaneously open orders per priority class — the O(N log N)
    * answer to the question an interval self-join makes quadratic. */
  def q138OrderConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate"))
      .agg(max(col("l_shipdate")).as("end_ts"))
    operators.Stats.maxConcurrency(iv, "o_orderdate", "end_ts",
      Seq("o_orderpriority"))
  }

  /** Order-coverage time ([[graft.operators.Stats.coveredTime]]): per
    * priority class, the total wall time with at least one order in
    * flight — the union length of the q138 intervals, in exact
    * microseconds (`unix_micros` ≡ DuckDB `epoch_us`). */
  def q139OrderCoverage(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate"))
      .agg(max(col("l_shipdate")).as("end_ts"))
      .select(col("o_orderpriority"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("s_us"),
        unix_micros(col("end_ts").cast("timestamp")).as("e_us"))
    operators.Stats.coveredTime(iv, "s_us", "e_us",
      Seq("o_orderpriority"))
  }

  /** Rand index ([[graft.operators.Components.randIndex]]) between the
    * q133 LPA labeling and the graph's bipartite side partition
    * (supplier = even node id, customer = odd) — quantifying q135's
    * finding: sync LPA on this dense bipartite graph collapses toward
    * the side split, and the pair-counting agreement with the side
    * partition measures exactly how far. One row, exact BIGINT pair
    * counts, one double division. */
  def q140RandIndex(s: SparkSession, dir: String): DataFrame = {
    val lpa = q133LabelPropagation(s, dir)
    val side = lpa.select(col("node"), (col("node") % 2L).as("side"))
    operators.Components.randIndex(lpa, "node", "label",
      side, "node", "side")
  }

  /** The reference's flagship e2e behavior under the hash gate
    * (test/entity_matching_test.py:29-86 re-expressed as an oracled
    * query): a deterministic variant corpus — per supplier seed an
    * exact copy (rule stage), a dropped-middle-word fuzzy variant
    * (fuzzy stage) and a first+last-word abbreviation (LLM-stub stage)
    * — driven through the REAL [[graft.pipeline.Pipeline]] (cleanAbr →
    * cleanCrawl → matchEntities with the deterministic stub), so
    * J1→J3→J2/J4→J5→U1 run end-to-end in one plan with the production
    * token-sort kernel doing the scoring.
    *
    * The construction makes the kernel engine-portable: names are
    * pre-cleaned Title Case (cleaning is identity), every seed blocks
    * alone (unique postcode), and each compared pair is a token-sorted
    * SUBSEQUENCE pair — the variant's sorted tokens are a subset of the
    * seed's — where Indel distance equals plain levenshtein, which
    * DuckDB computes natively over the same closed-form corpus. Fixed
    * word lengths (8/6) pin the two non-trivial scores at 3200/39 ≈
    * 82.05 (≥ 80 fuzzy accept, < 92 ⇒ medium) and 2400/35 ≈ 68.57
    * (< 80 ⇒ falls through, > 50 stub floor ⇒ adjudicated 95/medium). */
  def q141VariantCascade(s: SparkSession, dir: String): DataFrame = {
    val (abr, crawl) = variantCorpus(s, dir)
    pipeline.Pipeline.run(s, abr, crawl,
        pipeline.Pipeline.Config(enableLlm = true))
      .select(col("crawl_domain"), col("crawl_company_name"),
        col("crawl_abn"), col("abr_abn"), col("abr_company_name"),
        col("abr_entity_type"), col("abr_state"), col("abr_postcode"),
        col("match_method"),
        col("match_score").cast("double").as("match_score"),
        col("match_confidence"))
  }

  /** The deterministic q141 variant corpus (abr dimension, crawl
    * records) — shared with StreamingCascadeSpec's foreachBatch twin,
    * which re-runs the SAME corpus through the SAME pipeline in
    * micro-batches and asserts batch ≡ stream. */
  private[graft] def variantCorpus(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val w1 = Seq("Kangaroo", "Bellbird", "Bluewren", "Ironwood",
      "Seagrass", "Westwind", "Rockpool", "Sandbank", "Moonrise",
      "Starfall", "Rainbird", "Firetail", "Banksias", "Woodland",
      "Windmill", "Paddocks", "Shearers", "Saltbush", "Bluegums",
      "Opalmine")
    val w2 = Seq("Mining", "Baking", "Citrus", "Timber", "Marine",
      "Energy", "Safety", "Dental", "Optics", "Cement", "Bridge",
      "Copper", "Cotton", "Barley", "Salmon", "Grains", "Fabric",
      "Garden", "Harbor", "Quarry")
    val seeds = t(s, dir, "supplier").select(
      col("s_suppkey").as("idx"),
      lpad(col("s_suppkey").cast("string"), 11, "0").as("abn"),
      concat_ws(" ",
        element_at(array(w1.map(lit): _*),
          (col("s_suppkey") % 20).cast("int") + 1),
        element_at(array(w2.map(lit): _*),
          (expr("s_suppkey DIV 20") % 20).cast("int") + 1),
        lit("Pty"), lit("Ltd")).as("entity_name"),
      (col("s_suppkey") % 1000 + 2000).cast("string").as("postcode"))
    val abr = seeds.select(col("abn"), col("entity_name"),
      lit("Australian Private Company").as("entity_type"),
      lit("NSW").as("state"), col("postcode"))
    val wArr = split(col("entity_name"), " ")
    val crawl = seeds.select(explode(array(
        struct(
          concat(col("idx").cast("string"), lit("-exact.com.au"))
            .as("domain"),
          col("entity_name").as("company_name"),
          col("abn"), col("postcode")),
        struct(
          concat(col("idx").cast("string"), lit("-fuzzy.com.au"))
            .as("domain"),
          concat_ws(" ", element_at(wArr, 1), lit("Pty"), lit("Ltd"))
            .as("company_name"),
          lit(null).cast("string").as("abn"), col("postcode")),
        struct(
          concat(col("idx").cast("string"), lit("-abbrev.com.au"))
            .as("domain"),
          concat_ws(" ", element_at(wArr, 1), lit("Ltd"))
            .as("company_name"),
          lit(null).cast("string").as("abn"), col("postcode"))))
        .as("v"))
      .select(col("v.*"))
    (abr, crawl)
  }

  /** Sorted-neighborhood blocking
    * ([[graft.operators.Linkage.sortedNeighborhood]]): customers sorted
    * by the fuzzy key (market segment, zero-padded nation key), candidate
    * pairs within a rank window — the third blocking family (equi-key,
    * LSH, sorted-neighborhood) under the hash gate. The oracle replays
    * the rank with one `row_number` over the same total order. Params
    * from [[SketchParams.q142]]. */
  def q142SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q142
    val recs = t(s, dir, "customer").select(col("c_custkey"),
      concat_ws("#", col("c_mktsegment"),
        lpad(col("c_nationkey").cast("string"), 2, "0")).as("blk_key"))
    operators.Linkage.sortedNeighborhood(recs, "c_custkey", "blk_key",
      p.window)
  }

  /** Late-interaction MaxSim retrieval
    * ([[graft.operators.Ann.maxSimTopK]]): embeddings grouped into
    * 4-chunk documents, the first two documents' chunks replayed as
    * query token bags, exact-BIGINT quantized MaxSim, top-k docs per
    * query. Params from [[SketchParams.q143]]. */
  def q143MaxSim(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q143
    val emb = t(s, dir, "embeddings")
    val chunks = emb.select(
      expr(s"vec_id DIV ${p.chunksPerDoc}").as("doc"), col("embedding"))
    val qtoks = emb.filter(col("vec_id") < p.maxQueryVec)
      .select(expr(s"vec_id DIV ${p.chunksPerDoc}").as("qid"),
        col("vec_id").as("tok"), col("embedding"))
    operators.Ann.maxSimTopK(chunks, "doc", "embedding",
      qtoks, "qid", "tok", "embedding", p.k, p.levels)
  }

  /** LSH sketch-fidelity audit ([[graft.operators.Dedup.lshFidelity]]):
    * precision/recall of the md5-MinHash banding against exact
    * shingle-Jaccard ground truth on the near-dup corpus slice —
    * DELIBERATELY weak banding (2 bands of 4 rows) so the measured
    * recall sits strictly below 1 and the audit demonstrably catches
    * what the sketch loses. Params from [[SketchParams.q144]]. */
  def q144LshFidelity(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q144
    operators.Dedup.lshFidelity(
      nearDupCorpus(s, dir).filter(col("doc_id") % p.corpusMod === 0),
      "text", "doc_id", ngram = p.ngram, numHashes = p.numHashes,
      bands = p.bands, jaccardThreshold = p.jaccardThreshold)
  }

  /** DSIR-style importance ratio
    * ([[graft.operators.Selection.importanceRatio]]): every
    * `tgtMod`-th document is the curated target seed, the WHOLE corpus
    * is the raw reference, and each remaining doc scores the exact
    * quantized mean likelihood ratio of its hashed word features —
    * the two-distribution data-selection signal
    * ([[graft.operators.Selection.targetAffinity]] is the one-profile
    * sibling). Params from [[SketchParams.q145]]. */
  def q145ImportanceRatio(s: SparkSession, dir: String): DataFrame =
    q145Ir(s, dir)

  /** The q145 importance-ratio frame memoized per (session, dir) —
    * shared by q145 (the scoring report) and q205 (which RESAMPLES by
    * those weights), so one profile build + one scoring pass feeds
    * both within a Verify run (the q195Seg/q193Flags convention). */
  private val q145IrMemo = SessionMemo.checkpointed()
  private def q145Ir(s: SparkSession, dir: String): DataFrame =
    q145IrMemo(s, dir) {
      val p = SketchParams.q145
      operators.Selection.importanceRatio(t(s, dir, "documents"),
        "text", "doc_id",
        isTarget = col("doc_id") % p.tgtMod === 0,
        isReference = lit(true),
        nBuckets = p.nBuckets, quant = p.quant)
    }

  /** Training-mix plan ([[graft.operators.Sampling.mixturePlan]]): the
    * per-language token inventory planned against the
    * [[SketchParams.q146]] recipe (weights in ppm, fixed budget) —
    * per-language targets, sampling rates, and up-sampling epoch
    * counts, all exact-integer except the one rate division. The plan's
    * `sample_rate` feeds [[graft.operators.Sampling.mixtureSample]]
    * (q82) to execute. */
  def q146MixturePlan(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q146
    val inv = t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(sum(operators.TextAnalysis.tokenCount(col("text")).cast("long"))
        .as("n_tokens"))
    operators.Sampling.mixturePlan(inv, "lang", "n_tokens",
      p.weights.toMap, p.budget)
  }

  /** Dedup observability report: the q49 portable sketch pipeline run
    * to cluster assignments ([[graft.operators.Components
    * .dedupAssignments]]), then graded PER SOURCE — document count,
    * duplicate count (id ≠ its cluster keep-id), duplicate rate. The
    * per-source dup rate is what a curation team actually pages on
    * (one crawler gone feral shows up here before it poisons the mix);
    * variants attribute to their base doc's source. */
  def q147DedupReport(s: SparkSession, dir: String): DataFrame = {
    val corpus = q49Corpus(s, dir)
    val pairs = q49Pairs(s, dir)
    val assign = operators.Components.dedupAssignments(corpus, "doc_id",
      pairs, "id_a", "id_b")
    val src = t(s, dir, "documents")
      .select(col("doc_id").as("base_id"), col("source"))
    assign
      .select((col("id") % 1000000L).as("base_id"),
        (col("id") =!= col("keep_id")).as("is_dup"))
      .join(src, Seq("base_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
  }

  /** Minimum spanning forest ([[graft.operators.Components
    * .minimumSpanningForest]]): distributed Borůvka over the reduced
    * supplier–customer graph with shipment multiplicity as the weight
    * (heavy ties — the (w, lo, hi) total order decides). The MSF is
    * the single-linkage dendrogram of the graph: cutting it at weight
    * t reproduces the t-threshold components for every t at once
    * (spec-pinned). Params from [[SketchParams.q148]]. */
  def q148MinSpanningForest(s: SparkSession, dir: String): DataFrame =
    q148Forest(s, dir)

  /** The q148 forest is consumed by q148 itself AND q150's dendrogram
    * cut, and Borůvka is an iterative multi-job subplan — so, exactly
    * like the q133 labeling, each (session, dir) pair materializes it
    * ONCE as an eager localCheckpoint and both queries scan the shared
    * blocks (each query's ORACLE stays self-contained). */
  private val msfMemo = SessionMemo.checkpointed()
  private def q148Forest(s: SparkSession, dir: String): DataFrame =
    msfMemo(s, dir) {
      val p = SketchParams.q148
      val e0 = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_suppkey") % p.suppMod === 0 &&
          col("o_custkey") % p.custMod === 0)
        .groupBy((col("l_suppkey") * 2L).as("a"),
          (col("o_custkey") * 2L + 1L).as("b"))
        .agg(count(lit(1)).as("w"))
      operators.Components.minimumSpanningForest(e0, "a", "b", "w")
    }

  /** Dendrogram cut ([[q148MinSpanningForest]]'s payoff): drop forest
    * edges above the weight threshold and resolve components — the
    * EXACT cutWeight-threshold single-linkage clustering, read off the
    * shared MSF without touching the original 2.4M-candidate edge
    * list. Every node of the q148 graph gets a cluster id (nodes cut
    * loose label themselves). Params from [[SketchParams.q150]]. */
  def q150DendrogramCut(s: SparkSession, dir: String): DataFrame = {
    val p148 = SketchParams.q148
    val cut = q148Forest(s, dir)
      .filter(col("weight") <= SketchParams.q150.cutWeight)
    val nodes = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_suppkey") % p148.suppMod === 0 &&
        col("o_custkey") % p148.custMod === 0)
      .select(explode(array((col("l_suppkey") * 2L),
        (col("o_custkey") * 2L + 1L))).as("node")).distinct()
    nodes.join(
        operators.Components.connectedComponentsStar(cut, "id_a", "id_b")
          .withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node"))
        .as("cluster"))
  }

  /** Hilbert-curve layout key ([[graft.operators.Layout.hilbertKey]]):
    * q89's Z-order shape with the higher-locality linearization —
    * consecutive keys are always grid 4-neighbors, so range buckets
    * hold tighter 2-D rectangles (spec-measured against Z-order).
    * Bucketing via [[graft.operators.Layout.rangeBuckets]] — ntile
    * semantics off the distributed global row number, no
    * single-partition window (production: `repartitionByRange` on the
    * key). Params from [[SketchParams.q149]]. */
  def q149HilbertLayout(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q149
    val hk = operators.Layout.hilbertKey(
      col("p_partkey") % p.aMod, (col("p_size") * p.bMul) % p.bMod, p.bits)
    operators.Layout.rangeBuckets(
      t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("p_partkey"),
          hk.as("hkey")),
      Seq(col("hkey"), col("p_partkey")), p.nBuckets, "hbucket")
  }

  /** Directed n-gram containment join
    * ([[graft.operators.Dedup.containmentJoin]]): "A is mostly inside
    * B" over the near-dup corpus slice — the truncated variants are
    * PREFIXES of their originals, so every variant→original row scores
    * exactly 1.0 (the subset case Jaccard structurally misses). Params
    * from [[SketchParams.q151]]. */
  def q151ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q151
    Dedup.containmentJoin(
      nearDupCorpus(s, dir).filter(col("doc_id") % p.corpusMod === 0),
      "text", "doc_id", ngram = p.ngram, threshold = p.threshold,
      maxDf = Some(p.maxDf))
  }

  /** NN-Descent kNN graph ([[graft.operators.Ann.nnDescentPortable]]):
    * every embedding's k nearest neighbors at once — the graph that
    * feeds single-linkage clustering (q148), semantic dedup (q81) and
    * graph-ANN indexes — built by iterated co-neighbor candidate
    * generation, never an all-pairs join. md5-ring init, capped
    * reverse edges, integer squared-L2 over quantized vectors,
    * BottomK heap order; the oracle replays init and both descent
    * rounds as CTEs. Params from [[SketchParams.q152]]. */
  def q152KnnGraph(s: SparkSession, dir: String): DataFrame =
    q152Graph(s, dir)

  /** The NN-Descent graph is consumed by q152 itself AND q154's
    * single-linkage clustering, and the descent is an iterative
    * multi-job subplan — so it joins the memoized-checkpoint family
    * ([[SessionMemo.checkpointed]]; the operator's own round
    * checkpoints make the outer frame cheap to re-wrap). */
  private val knnMemo = SessionMemo.checkpointed()
  private def q152Graph(s: SparkSession, dir: String): DataFrame =
    knnMemo(s, dir) {
      val p = SketchParams.q152
      Ann.nnDescentPortable(t(s, dir, "embeddings"), "embedding",
        "vec_id", p.k, p.rounds, p.scale)
    }

  /** Semantic single-linkage clustering — the COMPOSITION payoff of
    * q152 + q148: the kNN graph's directed neighbor rows collapse to
    * undirected min-weight edges, [[graft.operators.Components
    * .minimumSpanningForest]] grows the dendrogram, and the
    * q150-style cut at [[SketchParams.q154]]'s squared-L2 threshold
    * labels EVERY vector with its exact distance-threshold cluster —
    * SemDeDup-style semantic dedup clusters without an all-pairs
    * join anywhere in the chain (descent candidates + forest edges
    * only). */
  def q154SemanticLinkage(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q154
    val knn = q152Graph(s, dir)
    val edges = knn.select(
        least(col("id"), col("neighbor_id")).as("a"),
        greatest(col("id"), col("neighbor_id")).as("b"), col("d"))
      .groupBy(col("a"), col("b")).agg(min(col("d")).as("w"))
    val cut = operators.Components.minimumSpanningForest(
        edges, "a", "b", "w")
      .filter(col("weight") <= p.cutWeight)
    knn.select(col("id").as("node")).distinct()
      .join(operators.Components.connectedComponentsStar(cut,
          "id_a", "id_b")
        .withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node"))
        .as("cluster"))
  }

  /** BPE subword tokenization under a fixed merge table
    * ([[graft.operators.TextAnalysis.bpeTokens]], real greedy merges —
    * the exact counter behind the q21 `subwordCount` surrogate):
    * corpus-wide token frequencies + document frequencies, the
    * vocabulary report a tokenizer rollout is judged by. Segmentation
    * is one codegen kernel call per document; the oracle replays every
    * merge as a double string-replace over the delimiter-joined
    * symbol stream. Params from [[SketchParams.q153]]. */
  def q153BpeTokens(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.bpeTokens(
        t(s, dir, "documents")
          .select(col("doc_id"), normText(col("text")).as("text")),
        "text", "doc_id", SketchParams.q153.merges)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), countDistinct(col("id")).as("n_docs"))

  /** Real MP4 / ISO-BMFF container decode over binary media columns
    * ([[graft.functions.Mp4Kernel]]) — the VIDEO leg of the q108/q111
    * header-gate family: per payload, major brand from `ftyp`, exact
    * millisecond duration from `moov/mvhd` (integer floor division of
    * timescale/duration), presentation width/height from the first
    * `trak/tkhd` (16.16 fixed point). Payloads are synthesized box
    * trees — ftyp + a VARIABLE-LENGTH `free` box (forcing a real box
    * walk, not fixed offsets) + moov{mvhd, trak{tkhd}} — with one in
    * four a garbage buffer (all fields -1/unknown). Map-only; the
    * parser touches only box headers. Oracle: DuckDB rebuilds the
    * trees and re-walks the top-level, moov-child and trak-child box
    * lists with recursive CTEs. */
  def q156Mp4Meta(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VideoHeader._
    def be32(c: Column): Column = lpad(hex(c), 8, "0")
    val unity = "000100000000000000000000000000000001000000000000" +
      "000000000000000040000000" // 16.16 unity matrix, 36 bytes
    val m = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("brand", element_at(
        array(lit("69736F6D"), lit("6D703432"), lit("61766331")),
        (col("doc_id") % 3).cast("int") + 1)) // isom / mp42 / avc1
      .withColumn("p", (col("doc_id") % 13).cast("int"))
      .withColumn("ts", element_at(
        array(lit(600), lit(1000), lit(90000), lit(48000)),
        (expr("doc_id div 3") % 4).cast("int") + 1))
      .withColumn("dur", (col("doc_id") % 100000L) * 37L + 1L)
      .withColumn("w", (lit(16) + col("doc_id") % 3840).cast("int"))
      .withColumn("h", (lit(16) + (col("doc_id") * 3) % 2160).cast("int"))
    val tkhd = concat(lit("0000005C746B686400000007"),
      lit("0000000000000000"), lit("00000001"), lit("00000000"),
      be32(col("dur")), lit("0000000000000000"), lit("00000000"),
      lit("00000000"), lit(unity),
      lpad(hex(col("w")), 4, "0"), lit("0000"),
      lpad(hex(col("h")), 4, "0"), lit("0000"))
    val mvhd = concat(lit("0000006C6D76686400000000"),
      lit("0000000000000000"), be32(col("ts")), be32(col("dur")),
      lit("000100000100"), lit("0000"), lit("0000000000000000"),
      lit(unity), lit("0".repeat(48)), lit("00000002"))
    val mp4Hex = concat(
      lit("0000001066747970"), col("brand"), lit("00000200"),
      be32(col("p") + 8), lit("66726565"), expr("repeat('00', p)"),
      lit("000000D86D6F6F76"), mvhd,
      lit("000000647472616B"), tkhd)
    val hx = when(col("doc_id") % 4 === 3,
      lpad(hex(col("doc_id")), 16, "0")).otherwise(mp4Hex)
    m.select(col("doc_id"), unhex(hx).as("content"))
      .select(col("doc_id"),
        mp4Brand(col("content")).as("brand"),
        mp4DurationMs(col("content")).as("duration_ms"),
        mp4Width(col("content")).as("width"),
        mp4Height(col("content")).as("height"))
  }

  /** Incremental kNN graph probe
    * ([[graft.operators.Ann.knnGraphProbePortable]]): every tenth
    * vector arrives as a NEW batch against the existing q152-parameter
    * descent graph over the rest — LSH-table seeding, exact scoring,
    * one neighbor-of-neighbor expansion along graph edges — the
    * batch-proportional ingest path that keeps the kNN backbone
    * maintainable without re-running the descent. Params from
    * [[SketchParams.q152]]/[[SketchParams.q157]]. */
  def q157KnnProbe(s: SparkSession, dir: String): DataFrame = {
    val p152 = SketchParams.q152
    val p = SketchParams.q157
    val emb = t(s, dir, "embeddings")
    val old = emb.filter(col("vec_id") % p.batchMod =!= 0)
    val batch = emb.filter(col("vec_id") % p.batchMod === 0)
    Ann.knnGraphProbePortable(q157OldGraph(s, dir), old, batch,
      "embedding", "vec_id", p152.k, p.expandRounds, p152.scale,
      p.tablePlanes, p.seedCap)
  }

  /** The old-slice descent graph BOTH q157 (probe) and q180 (merge)
    * serve against — the persisted-index story the r13 verdict asked
    * for: the backbone is built ONCE per (session, dir) and
    * materialized ([[SessionMemo.checkpointed]], the q49/q152
    * convention), so the serving queries pay probe/merge cost only,
    * not index-build cost.
    * Each query's ORACLE stays self-contained (its SQL twin replays the
    * full descent chain). */
  private val q157GraphMemo = SessionMemo.checkpointed()
  private def q157OldGraph(s: SparkSession, dir: String): DataFrame =
    q157GraphMemo(s, dir) {
      val p152 = SketchParams.q152
      val p = SketchParams.q157
      def built = Ann.nnDescentPortable(
        t(s, dir, "embeddings").filter(col("vec_id") % p.batchMod =!= 0),
        "embedding", "vec_id", p152.k, p152.rounds, p152.scale)
      // cross-session persistence (opt-in via SPARK_GRAFT_CENTROIDS_DIR,
      // the q92/q158 model-dir convention): the backbone is saved as a
      // parquet model and served from the scan — no re-descent, no
      // session-memo dependence (VERDICT r14 item 5)
      sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) =>
          implicit val spark: SparkSession = s
          Ann.trainOrLoadKnnGraph(
            s"$root/q157_graph_k${p152.k}_r${p152.rounds}_s${p152.scale}" +
              s"_m${p.batchMod}_${dir.replaceAll("[^A-Za-z0-9]", "_")}")(
            built)
        case None => built
      }
    }

  /** kNN-graph MERGE maintenance ([[graft.operators.Ann.knnGraphMerge]]):
    * the q157 batch is ABSORBED into the shared old-slice backbone —
    * probe heaps inserted, affected old nodes re-heaped via reverse
    * edges, then one NEW-edge-restricted descent round — yielding a
    * full (old ∪ batch) graph without re-descending the corpus. The
    * DuckDB twin replays descent + probe + all three merge stages
    * round for round. Params from [[SketchParams.q152]]/
    * [[SketchParams.q157]]. */
  def q180KnnMerge(s: SparkSession, dir: String): DataFrame = {
    val p152 = SketchParams.q152
    val p = SketchParams.q157
    val emb = t(s, dir, "embeddings")
    val old = emb.filter(col("vec_id") % p.batchMod =!= 0)
    val batch = emb.filter(col("vec_id") % p.batchMod === 0)
    Ann.knnGraphMerge(q157OldGraph(s, dir), old, batch, "embedding",
      "vec_id", p152.k, p.expandRounds, p152.scale, p.tablePlanes,
      p.seedCap)
  }

  /** Shared q181 fixture: deterministic binary-PGM ("P5") grayscale
    * bitmaps, four VARIANTS per image group g = doc_id div 4 — base,
    * brightness +16 (never clips: pixels ≤ 220), alternating +0/+1
    * noise, and a RESEEDED distinct image — over 16×16 or 24×24 rasters
    * by group parity (both grids divide unevenly into the 8×9 dHash
    * cells, so cross-multiplied mean compare is genuinely exercised).
    * Returned as `(doc_id, content binary)`; the DuckDB oracle rebuilds
    * the identical blobs and re-parses pixels from the hex (the
    * q108/q111/q156 convention). */
  private[graft] def pgmFixture(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q181
    val m = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("g", expr(s"doc_id div ${p.variants}"))
      .withColumn("v", (col("doc_id") % p.variants).cast("int"))
      .withColumn("w", (lit(16) + (col("g") % 2) * 8).cast("int"))
      .withColumn("seed", when(col("v") === 3,
        col("g") * p.distinctSeedMul + p.distinctSeedAdd).otherwise(col("g")))
    val pixHex = transform(
      sequence(lit(0), col("w") * col("w") - 1), i => {
        val base = ((i + 1) * (col("seed") * 3 + 7) * lit(40503L)) % 181 + 20
        val bright = when(col("v") === 1, lit(p.brighten)).otherwise(lit(0L))
        val noise = when(col("v") === 2,
          ((i / col("w")).cast("int") + i % col("w")) % 2)
          .otherwise(lit(0))
        lpad(hex(base + bright + noise), 2, "0")
      })
    // header "P5\n<w> <w>\n255\n" — 13 bytes for both 2-digit dims
    val hx = concat(lit("50350A"),
      when(col("w") === 16, lit("3136203136")).otherwise(lit("3234203234")),
      lit("0A3235350A"), array_join(pixHex, ""))
    m.select(col("doc_id"), unhex(hx).as("content"))
  }

  /** Perceptual media near-dup ([[graft.functions.PhashKernel]] +
    * [[graft.operators.Dedup.hammingNearDup]]): aHash/dHash 64-bit
    * fingerprints over real PGM bitmaps, then Hamming banding — the
    * near-dup path exact payload-md5 cannot provide (re-encoded /
    * brightened / noised twins change every byte but barely move a
    * perceptual hash). Brightness variants pair at Hamming 0 BY
    * ARITHMETIC (uniform shifts cancel in the mean compare), noise
    * variants pair low, reseeded images stay far. The oracle rebuilds
    * the blobs, re-parses pixels from hex, and replays pooling,
    * cross-multiplied thresholds, banding, and the exact Hamming
    * verify. Params from [[SketchParams.q181]]. */
  def q181PhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q181
    import graft.functions.Phash._
    val hashes = pgmFixture(s, dir)
      .select(col("doc_id"), ahash64(col("content")).as("ah"),
        dhash64(col("content")).as("dh"))
      .localCheckpoint(false)
    operators.Dedup.hammingNearDup(hashes, "dh", "doc_id", p.maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("long").as("hamming_d"))
      .join(hashes.select(col("doc_id").as("id_a"), col("ah").as("__aa")),
        Seq("id_a"))
      .join(hashes.select(col("doc_id").as("id_b"), col("ah").as("__ab")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming_d"),
        bit_count(col("__aa").bitwiseXOR(col("__ab"))).cast("long")
          .as("hamming_a"))
  }

  /** Shared q182 fixture: one deterministic HTML page per document —
    * title, an all-anchor nav bar, a link-led teaser, the document text
    * as the article body, a short tail note, and an anchor-heavy footer
    * (plus script/style noise the segmenter must drop). Both engines
    * build the identical string, so the oracle replays the full
    * segmentation. Anchor attributes are deliberately unquoted to keep
    * the SQL literal clean; the tag regexes never look at them. */
  /** Page template over an arbitrary (doc_id, __t)-normalized corpus —
    * the q182 fixture generalized so q184/q185 can template the
    * near-dup and contact-augmented corpora through the same page
    * shape. `footerExtra` (default empty) lands inside the footer div,
    * after "Example Corp" — q185 plants site-wide ABN/email noise
    * there. */
  private[graft] def htmlPages(docs: DataFrame,
      footerExtra: Column = lit("")): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><script>var x=1;</script><style>p{}</style>" +
        "</head><body>" +
        "<div><a href=/>Home</a> <a href=/a>About us</a> " +
        "<a href=/c>Contact</a></div>" +
        "<div>Read more: <a href=/r>"),
      regexp_extract(col("__t"), "^(\\S+( \\S+){0,2})", 1),
      lit("</a> today</div><p>"), col("__t"),
      lit("</p><p>Short tail note "), col("doc_id") % 7,
      lit("</p><div><a href=/t>Terms</a> <a href=/p>Privacy policy</a>" +
        " Copyright "), lit(2000) + col("doc_id") % 20,
      lit(" Example Corp"), footerExtra,
      lit("</div></body></html>")).as("html"))

  private[graft] def htmlFixture(s: SparkSession, dir: String): DataFrame =
    htmlPages(t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("__t")))

  /** Main-content / boilerplate extraction
    * ([[graft.sources.CrawlParse.blockFeatures]]): Kohlschütter block
    * segmentation + the boilerpipe NumWordsRules tree over the HTML
    * fixture — per-block word/anchor counts, link density, and the
    * keep verdict, all replayed in SQL (segmentation regexes, window
    * prev/next features, and the published thresholds). The missing
    * production step of the reference's S5 chain. */
  def q182MainContent(s: SparkSession, dir: String): DataFrame =
    sources.CrawlParse.blockFeatures(htmlFixture(s, dir), "doc_id", "html")
      .withColumnRenamed("url", "doc_id")

  /** Beam-search serving over the shared kNN backbone
    * ([[graft.operators.Ann.beamSearchStats]]): the q157 batch as
    * queries, LSH-table seeding into an ef-wide beam, one graph-edge
    * expansion scoring only UNSEEN pairs, top-k of the final beam —
    * HNSW's search layer without the hierarchy, every heap bit replayed
    * by the DuckDB twin. Params from [[SketchParams.q152]]/
    * [[SketchParams.q157]]/[[SketchParams.q183]]. */
  def q183BeamSearch(s: SparkSession, dir: String): DataFrame = {
    val p152 = SketchParams.q152
    val p = SketchParams.q157
    val pb = SketchParams.q183
    val emb = t(s, dir, "embeddings")
    val old = emb.filter(col("vec_id") % p.batchMod =!= 0)
    val batch = emb.filter(col("vec_id") % p.batchMod === 0)
    Ann.beamSearchPortable(q157OldGraph(s, dir), old, batch, "embedding",
      "vec_id", p152.k, pb.ef, pb.maxRounds, stopOnNoImprove = true,
      p152.scale, p.tablePlanes, p.seedCap)
  }

  /** Hamming-banding fidelity audit
    * ([[graft.operators.Dedup.hammingFidelity]]): measured precision /
    * recall of the SHIPPED 4×16-chunk banding against exact Hamming
    * ground truth — the q144 sketch-audit convention applied to
    * Hamming space, for BOTH 64-bit fingerprint families: the token
    * SimHash at an audit budget of Hamming 12 (wider than q31's
    * shipped 10-gate, measuring the banding's recall headroom beyond
    * it) and q181's perceptual dHash (maxHamming 6). Pigeonhole only
    * guarantees 4-chunk recall through 3 flips; these rows are the
    * measured answer beyond it. Ground truth needs no all-pairs join:
    * (h+1)-chunk banding is complete by pigeonhole, so the audit runs
    * on sampled slices (the gold buckets are 64/(h+1) bits wide).
    * Params from [[SketchParams.q186]]. */
  def q186HammingFidelity(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q186
    val p181 = SketchParams.q181
    // the md5-portable sibling of q31's xxhash fingerprint (the q50
    // twin convention): the BANDING under audit is identical, and the
    // oracle can replay every bit
    val sims = operators.Dedup.simhashPortable(
      nearDupCorpus(s, dir)
        .filter(col("doc_id") % p.simMod === 0 &&
          col("text").isNotNull && col("text") =!= ""),
      "text", "doc_id")
      .select(col("doc_id"), col("simhash").as("fp"))
    val ph = pgmFixture(s, dir)
      .filter(col("doc_id") % p.phMod === 0)
      .select(col("doc_id"),
        graft.functions.Phash.dhash64(col("content")).as("fp"))
    operators.Dedup.hammingFidelity(sims, "fp", "doc_id",
        p.simMaxHamming)
      .select(lit("simhash").as("sketch"), col("n_candidates"),
        col("n_gold"), col("n_covered"), col("precision"), col("recall"))
      .unionByName(
        operators.Dedup.hammingFidelity(ph, "fp", "doc_id",
            p181.maxHamming)
          .select(lit("dhash").as("sketch"), col("n_candidates"),
            col("n_gold"), col("n_covered"), col("precision"),
            col("recall")))
  }

  /** kNN-graph DELETE maintenance
    * ([[graft.operators.Ann.knnGraphDelete]]): a slice of the shared
    * old-slice backbone is deleted — dropped rows, reverse-affected
    * survivors re-heaped with a one-round neighbor-of-neighbor
    * backfill over the surviving adjacency — completing the index
    * maintenance story (q180 inserts, q187 deletes). The DuckDB twin
    * replays descent + drop + backfill heap-for-heap. Params from
    * [[SketchParams.q152]]/[[SketchParams.q157]]/
    * [[SketchParams.q187]]. */
  def q187KnnDelete(s: SparkSession, dir: String): DataFrame = {
    val p152 = SketchParams.q152
    val p157 = SketchParams.q157
    val p = SketchParams.q187
    val old = t(s, dir, "embeddings")
      .filter(col("vec_id") % p157.batchMod =!= 0)
    val del = old.filter(col("vec_id") % p.delMod === p.delRem)
      .select(col("vec_id"))
    Ann.knnGraphDelete(q157OldGraph(s, dir), old, del, "embedding",
      "vec_id", p152.k, p152.scale)
  }

  /** Two-layer HNSW-style beam serving
    * ([[graft.operators.Ann.hierarchicalBeamSearch]]): the q183 shape
    * with LSH seeding replaced by a navigable top layer — every
    * `layerMod`-th old vector forms the layer-1 corpus with its own
    * memoized descent graph; each query beams there first (width
    * `efL1`) and hands its layer-1 heap down as the layer-0 seed set.
    * The DuckDB twin replays both descents, both beam rounds, the
    * seed hand-off, and the visited-set anti-join. Params from
    * [[SketchParams.q152]]/[[SketchParams.q157]]/[[SketchParams.q183]]/
    * [[SketchParams.q189]]. */
  def q189HierarchicalBeam(s: SparkSession, dir: String): DataFrame = {
    val p152 = SketchParams.q152
    val p = SketchParams.q157
    val pb = SketchParams.q183
    val ph = SketchParams.q189
    val emb = t(s, dir, "embeddings")
    val old = emb.filter(col("vec_id") % p.batchMod =!= 0)
    val layer = old.filter(col("vec_id") % ph.layerMod === 1)
    val batch = emb.filter(col("vec_id") % p.batchMod === 0)
    Ann.hierarchicalBeamSearch(q157OldGraph(s, dir), old,
      q189LayerGraph(s, dir), layer, batch, "embedding", "vec_id",
      p152.k, pb.ef, pb.maxRounds, ph.efL1, ph.maxRoundsL1,
      stopOnNoImprove = true, p152.scale, p.tablePlanes, p.seedCap)
  }

  /** The layer-1 descent graph for q189 — memoized per (session, dir)
    * like [[q157OldGraph]] (same q152 build parameters, over the
    * layer slice). */
  private val q189LayerMemo = SessionMemo.checkpointed()
  private def q189LayerGraph(s: SparkSession, dir: String): DataFrame =
    q189LayerMemo(s, dir) {
      val p152 = SketchParams.q152
      val p = SketchParams.q157
      val ph = SketchParams.q189
      Ann.nnDescentPortable(
        t(s, dir, "embeddings")
          .filter(col("vec_id") % p.batchMod =!= 0)
          .filter(col("vec_id") % ph.layerMod === 1),
        "embedding", "vec_id", p152.k, p152.rounds, p152.scale)
    }

  /** Exact-fill sequence packing with document splitting
    * ([[graft.operators.Packing.packSequences]]): the GPT-style
    * pretraining packer — the documents corpus as one token stream,
    * chunked into exactly-`seqLen`-token sequences with docs splitting
    * across boundaries; per (doc, sequence) the within-doc piece
    * offset and length. Exact floor arithmetic over the two-phase
    * prefix sum, replayed by the DuckDB twin. Params from
    * [[SketchParams.q194]]. */
  def q194PackSequences(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q194
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
    operators.Packing.packSequences(docs, "n_tokens", "doc_id",
      p.seqLen)
  }

  /** WordPiece-style subword segmentation
    * ([[graft.operators.TextAnalysis.wordpieceVocab]] +
    * [[graft.operators.TextAnalysis.wordpieceSegment]]): the
    * frequency-ranked substring vocabulary, then the exact integer DP
    * (fewest pieces, then highest total frequency) over every distinct
    * corpus word — the tokenizer-family member BPE's greedy merges
    * can't express, with every cut replayed by the DuckDB twin's
    * unrolled DP. Params from [[SketchParams.q195]]. */
  def q195Wordpiece(s: SparkSession, dir: String): DataFrame =
    q195Seg(s, dir)

  /** The q195 segmentation frame (word, n_pieces, pieces, covered)
    * over every distinct corpus word — memoized per (session, dir) so
    * q195 (the segmentation gate) and q202 (the fertility evaluation)
    * share one vocabulary aggregation + unrolled DP within a Verify
    * pass (the q193Flags/q49Pairs convention; the DP is the suite's
    * single most expensive subplan). */
  private val q195SegMemo = SessionMemo.checkpointed()
  private def q195Seg(s: SparkSession, dir: String): DataFrame =
    q195SegMemo(s, dir) {
      implicit val spark: SparkSession = s
      val p = SketchParams.q195
      val docs = t(s, dir, "documents")
      // train-once-reuse (opt-in via SPARK_GRAFT_CENTROIDS_DIR, the q92
      // model-dir convention): the substring vocabulary is the trained
      // artifact; a serving run segments from the persisted parquet scan
      // instead of re-aggregating every corpus substring
      def built = operators.TextAnalysis.wordpieceVocab(docs, "text",
        p.vocabSize, p.maxPiece)
      val vocab = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) => operators.TextAnalysis.trainOrLoadWordpieceVocab(
          s"$root/q195_vocab_v${p.vocabSize}_p${p.maxPiece}" +
            s"_${dir.replaceAll("[^A-Za-z0-9]", "_")}")(built)
        case None => built
      }
      operators.TextAnalysis.wordpieceSegment(docs, "text", vocab,
        p.maxPiece, p.maxWord)
    }

  /** Tokenizer fertility evaluation
    * ([[graft.operators.TextAnalysis.tokenizerFertility]] over the
    * memoized q195 segmentation): occurrence-weighted pieces-per-word
    * and vocabulary coverage per language — the standard
    * multilingual-tokenizer quality report — in exact BIGINT fixed
    * point. Params from [[SketchParams.q195]]/[[SketchParams.q202]]. */
  def q202WordpieceFertility(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.tokenizerFertility(
      t(s, dir, "documents"), "text", "lang", q195Seg(s, dir),
      SketchParams.q202.quant)

  /** Moore–Lewis cross-entropy-difference selection
    * ([[graft.operators.Selection.mooreLewisSelect]]): an IN-DOMAIN
    * KN trigram model and a GENERAL KN model score the same held-out
    * documents; docs the in-domain model finds likelier are selected.
    * The classic targeted-selection baseline DSIR benchmarks against,
    * on the engine's exact-replay KN machinery — both models and both
    * scoring passes replayed by the DuckDB twin. Params from
    * [[SketchParams.q188]]/[[SketchParams.q203]]. */
  def q203MooreLewis(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q203
    val docs = t(s, dir, "documents")
    operators.Selection.mooreLewisSelect(
      docs.filter(col("doc_id") % p.inMod =!= 0 &&
        col("doc_id") % p.genMod =!= 0),
      docs.filter(col("doc_id") % p.inMod === 0),
      docs.filter(col("doc_id") % p.genMod === 0),
      "text", "doc_id", SketchParams.q188.quant)
  }

  /** Duplicate-aware downweighting
    * ([[graft.operators.Components.softDedupWeights]] over the shared
    * memoized q49 pair frame): instead of DROPPING near-duplicates
    * every document keeps a fixed-point weight 1/cluster_size — the
    * reweight-not-remove training-mix shape. Params from
    * [[SketchParams.q49]]/[[SketchParams.q204]]. */
  def q204SoftDedup(s: SparkSession, dir: String): DataFrame =
    operators.Components.softDedupWeights(
      q49Corpus(s, dir), "doc_id", q49Pairs(s, dir), "id_a", "id_b",
      SketchParams.q204.quant, maxIter = 25)

  /** DSIR end-to-end — importance-weighted RESAMPLING
    * ([[graft.operators.Sampling.prioritySample]] drawing by the
    * memoized q145 [[graft.operators.Selection.importanceRatio]]
    * weights): the two halves the library had separately, composed
    * into the full Xie et al. 2023 selection step — score every
    * candidate's target/reference likelihood ratio, then sample k docs
    * WITHOUT replacement proportional to it, each carrying the
    * unbiased Duffield–Lund–Thorup estimator weight. The md5 uniforms,
    * priorities, τ and estimator weights replay bit-for-bit (the q130
    * argument); the weights are the q145 exact fixed-point ratios.
    * Params from [[SketchParams.q145]]/[[SketchParams.q205]]. */
  def q205DsirResample(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q205
    val ir = q145Ir(s, dir)
    operators.Sampling.prioritySample(ir, "doc_id", "mean_ratio",
        p.k, p.seed)
      .join(ir.select(col("doc_id"), col("n_tokens"), col("ratio_sum")),
        col("id") === col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("ratio_sum"),
        col("weight"), col("priority"), col("est_weight"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift
    * ([[graft.operators.Stats.ksStatistic]]): the `n_chars` length
    * distribution of one language slice tested against the rest of
    * the corpus — exact BIGINT ECDF-gap numerator via the
    * [[graft.operators.Packing.prefixSums]] two-phase scan (both
    * cumulative counts in ONE pass, no global window), one portable
    * double divide for the statistic. The numeric-distribution
    * companion of the q171 χ² token drift. Params from
    * [[SketchParams.q206]]. */
  def q206KsDrift(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q206
    val docs = t(s, dir, "documents")
    operators.Stats.ksStatistic(
      docs.filter(col("lang") === p.lang),
      docs.filter(col("lang") =!= p.lang), "n_chars")
  }

  /** Per-source KS drift report
    * ([[graft.operators.Stats.ksStatisticByGroup]]): within every
    * `source`, the exact KS statistic between the q206 language
    * slice's length distribution and its complement — "which sources
    * shifted?", the report form of q206 (windows PARTITIONED by
    * group: parallel across sources, one shuffle). Params from
    * [[SketchParams.q206]]. */
  def q207KsBySource(s: SparkSession, dir: String): DataFrame =
    operators.Stats.ksStatisticByGroup(t(s, dir, "documents"),
      "source", col("lang") === SketchParams.q206.lang, "n_chars")

  /** Embedding-norm drift ([[graft.operators.Stats.ksStatistic]] over
    * the EXACT integer squared norm of floor-quantized embeddings —
    * the [[graft.operators.Ann]] integer-geometry convention): one
    * label slice's norm distribution tested against the rest. The
    * embedding-space health check a semantic-dedup pipeline runs on
    * ingest (encoder drift moves the norm distribution before it
    * moves ANN recall). Params from [[SketchParams.q208]]. */
  def q208EmbNormDrift(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q208
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        aggregate(
          operators.Ann.quantizeVec(col("embedding"), p.scale),
          lit(0L), (acc, x) => acc + x * x).as("norm2"))
    operators.Stats.ksStatistic(
      emb.filter(col("label") === p.label),
      emb.filter(col("label") =!= p.label), "norm2")
  }

  /** BM25 inverted-index artifact gate
    * ([[graft.operators.TextAnalysis.bm25Index]]): the snapshot the
    * q191 serving path loads — postings ⋈ per-term df ⋈ corpus totals,
    * pruned to the q112 benchmark term set (the serving-join shape) —
    * hash-verified column for column, so the PERSISTED model bits are
    * gated, not just the scores computed from them. Params from
    * [[SketchParams.q112]]. */
  def q197Bm25IndexDump(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q112
    val ix = operators.TextAnalysis.bm25Index(
      t(s, dir, "documents"), "text", "doc_id")
    val terms = p.queries.flatMap(_._2).distinct
    ix.postings
      .join(ix.termDf, Seq("term"))
      .crossJoin(ix.stats)
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc").as("doc_id"), col("dl"),
        col("tf"), col("df"), col("n"), col("l"))
  }

  /** Sequence-major packing manifest
    * ([[graft.operators.Packing.packManifest]]): the q194 stream
    * viewed from the TRAINER's side — per (sequence, doc piece) the
    * within-sequence start position and the sequence's doc count, the
    * inputs of the block-diagonal attention mask for packed
    * pretraining. Params from [[SketchParams.q194]]. */
  def q198PackManifest(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q194
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
    operators.Packing.packManifest(docs, "n_tokens", "doc_id",
      p.seqLen)
  }

  /** Multiclass one-vs-rest language/domain classifier
    * ([[graft.operators.Classifier.perceptronTrainMulti]] +
    * [[graft.operators.Classifier.perceptronScoreMulti]]): K
    * class-salted corpora (the q190 separable-by-construction
    * convention — the synthetic corpus's `lang` column shares one
    * vocabulary, so each class gets a PRIVATE md5 vocabulary instead),
    * one-vs-rest averaged perceptrons trained epoch by epoch in exact
    * integers, the held-out slice argmax-predicted (score DESC,
    * label ASC) — a TRAINING + multiclass-serving run the DuckDB twin
    * replays weight for weight. Params from [[SketchParams.q199]]. */
  def q199MulticlassPerceptron(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q199
    val real = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // Dictionary-encoded feature build (r22, guide §2.3/§4): the old
    // form materialized K class-salted md5 TEXTS per document and
    // re-tokenized them — two corpus-token-scale md5+string passes per
    // class replica dominating the query's task time. The class-salted
    // bucket is a pure function of (word, class):
    //   bucket(w, c) = md5Long60(substring(md5(w || ':' || c), 1, 8))
    //                    % nBuckets
    // (exactly the composition of the salting transform and
    // hashedFeatures' bucketing — hex md5 is lowercase, so the
    // re-tokenizer's lower() was an identity, and array_join/split
    // round-trip 1:1 because tokens cannot contain spaces), so it is
    // computed ONCE per distinct word on the vocabulary frame and
    // joined back — vocabulary-scale md5 instead of token-scale.
    // Parity corner: an all-whitespace/empty text splits to [""],
    // which the old pipeline salted into ONE real token — so the
    // token explode here must NOT drop empty tokens.
    val toks = real.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("__w"))
    val vocab = toks.select(col("__w")).distinct()
    val classBuckets = p.classes.map { c =>
      vocab.select(col("__w"), lit(c).as("__c"),
        (graft.functions.PortableHash.md5Long60(
          substring(md5(concat(col("__w"), lit(":" + c))), 1, 8))
          % p.nBuckets).as("bucket"))
    }.reduce(_.unionByName(_))
    val offs = p.classes.zipWithIndex.toMap
    val offExpr = p.classes.tail.foldLeft(
      when(col("__c") === p.classes.head,
        lit(offs(p.classes.head) * 1000000L))) { (e, c) =>
      e.when(col("__c") === c, lit(offs(c) * 1000000L)) }
    // (id, bucket, tf) over the K class replicas + the bias row per
    // replica doc — hashedFeatures' exact output shape on the salted
    // corpus (null-text docs contribute only their bias row there too)
    val tokFeats = toks.join(classBuckets, Seq("__w"))
      .select((col("doc_id") + offExpr).as("id"), col("bucket"),
        col("__c"))
      .groupBy(col("id"), col("bucket"), col("__c"))
      .agg(count(lit(1)).as("tf"))
    val biasRows = p.classes.map { c =>
      real.select((col("doc_id") + lit(offs(c) * 1000000L)).as("id"),
        lit(p.nBuckets.toLong).as("bucket"), lit(c).as("__c"),
        lit(1L).as("tf"))
    }.reduce(_.unionByName(_))
    val feats = tokFeats.select(col("id"), col("bucket"), col("tf"),
        col("__c"))
      .unionByName(biasRows.select(col("id"), col("bucket"), col("tf"),
        col("__c")))
    // replica ids shift by multiples of 1e6 ≡ 0 (mod evalMod), so the
    // train/eval split commutes with the class replication
    val trainFeats = feats.filter(col("id") % p.evalMod =!= 0)
    // train-once-reuse (opt-in via SPARK_GRAFT_CENTROIDS_DIR, the q92
    // convention): the trained multiclass table is the model artifact —
    // persisted once, served from parquet, hash-identical either way
    implicit val spark: SparkSession = s
    def trained = operators.Classifier.perceptronTrainMultiOnFeatures(
      trainFeats, p.classes.sorted, p.nBuckets, p.epochs)
    val weights = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
      case Some(root) => operators.Classifier.trainOrLoadWeightsMulti(
        s"$root/q199_k${p.classes.size}_nb${p.nBuckets}_e${p.epochs}")(
        trained)
      case None => trained
    }
    val evalFeats = feats.filter(col("id") % p.evalMod === 0)
      .localCheckpoint(false)
    operators.Classifier.perceptronScoreMultiOnFeatures(
        evalFeats.select(col("id"), col("bucket"), col("tf")), weights,
        "doc_id")
      .join(evalFeats.select(col("id").as("doc_id"), col("__c")
          .as("label")).distinct(),
        Seq("doc_id"))
      .select(col("doc_id"), col("label"), col("predicted"),
        col("score"), (col("predicted") === col("label")).as("correct"))
  }

  /** Learned-filter curation run — q190's trained perceptron WIRED
    * into the pipeline it was built for (the q184 convention: an
    * operator is not done until the flagship decision table consumes
    * it): the filter trains on the q190 labeled corpus (real text vs
    * garbled twins, train slice), then the held-out REAL docs flow
    * through the q169 decision-table shape with the LEARNED gate in
    * place of the Gopher heuristics — per doc the model score and
    * verdict, the blocklist verdict, the q49 near-dup drop, the final
    * keep, and the landing shard. The DuckDB twin replays training
    * weight-for-weight and every gate. Params from
    * [[SketchParams.q190]]/[[SketchParams.q49]]/[[SketchParams.q193]]. */
  /** The q193 per-doc decision frame (train → score → blocklist →
    * near-dup → kept) — memoized per (session, dir) so q193 (whole-doc
    * shard pack) and q196 (exact-fill sequence pack) share one
    * perceptron training run within a Verify pass. */
  private val q193FlagsMemo = SessionMemo.checkpointed()
  private def q193Flags(s: SparkSession, dir: String): DataFrame =
    q193FlagsMemo(s, dir) {
      val p = SketchParams.q190
      val real = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      decisionFlags(s, dir,
        real.filter(col("doc_id") % p.evalMod === 0))
    }

  /** The q190 trained weight table, memoized per (session, dir) — ONE
    * training run shared by the q193 decision chain and the q218 data
    * card (zero retraining across the observability family). */
  private val q190WeightsMemo = SessionMemo.checkpointed()
  private def q190CurWeights(s: SparkSession, dir: String): DataFrame =
    q190WeightsMemo(s, dir) {
      val p = SketchParams.q190
      val real = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val junkText = array_join(transform(
        split(trim(lower(col("text"))), "\\s+"),
        w => substring(md5(concat(w, lit(":junk"))), 1, 8)), " ")
      val corpus = real.select(col("doc_id"), col("text"),
          lit(1L).as("label"))
        .unionByName(real.select(
          (col("doc_id") + lit(1000000L)).as("doc_id"),
          junkText.as("text"), lit(-1L).as("label")))
      implicit val spark: SparkSession = s
      def trained = operators.Classifier.perceptronTrain(
        corpus.filter(col("doc_id") % p.evalMod =!= 0), "text",
        "doc_id", "label", p.nBuckets, p.epochs)
      // the q92/q199 artifact opt-in: the curation filter the q193
      // family and the q218 card score with is itself a servable model
      sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) => operators.Classifier.trainOrLoadWeights(
          s"$root/q190_nb${p.nBuckets}_e${p.epochs}")(trained)
        case None => trained
      }
    }

  /** The q193 per-doc decision chain (score → blocklist → near-dup →
    * keep) over an arbitrary real-doc slice, scored with the SHARED
    * [[q190CurWeights]] model. `pairs` (if given) supplies a
    * precomputed minhash pair list over the slice instead of running
    * the sketch inside — the q218 card reuses ITS pair frame for both
    * the dup flags and the cluster resolution. */
  private def decisionFlags(s: SparkSession, dir: String,
      eval0: DataFrame,
      pairs: Option[DataFrame] = None): DataFrame = {
    val p = SketchParams.q190
    val p49 = SketchParams.q49
    val pc = SketchParams.q193
    val weights = q190CurWeights(s, dir)
    val eval = eval0.localCheckpoint(false)
    val scored = operators.Classifier.perceptronScore(eval, weights,
      "text", "doc_id", p.nBuckets)
    val blocked = operators.TextAnalysis.blocklistGate(eval, "text",
        "doc_id", pc.patterns)
      .select(col("doc_id"), col("blocked"))
    val dupIds = pairs.getOrElse(
        operators.Dedup.minhashLshPortable(eval, "text",
          "doc_id", p49.ngram, p49.numHashes, p49.bands,
          p49.jaccardThreshold))
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    eval
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
      .join(scored.select(col("doc_id"), col("score"),
        col("predicted")), Seq("doc_id"))
      .join(blocked, Seq("doc_id"))
      .join(dupIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("score"),
        col("predicted"), col("blocked"),
        coalesce(col("__dup"), lit(false)).as("dup_drop"))
      .withColumn("kept",
        col("predicted") && !col("blocked") && !col("dup_drop"))
  }

  /** The q218 card's FULL-corpus minhash pair list (the q49 portable
    * kernel over every real doc), shared by the card's dup flags AND
    * its cluster resolution — one sketch pass. */
  private val q218PairsMemo = SessionMemo.checkpointed()
  private def q218Pairs(s: SparkSession, dir: String): DataFrame =
    q218PairsMemo(s, dir) {
      val p49 = SketchParams.q49
      operators.Dedup.minhashLshPortable(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id",
        p49.ngram, p49.numHashes, p49.bands, p49.jaccardThreshold)
    }

  /** The q218 card's decision frame: the SAME chain over the WHOLE
    * real corpus (the q193 eval residue hits only 4 of the 20 sources
    * — doc_id % 5 aliases src{doc_id % 20} — so the card scores every
    * doc with the shared model instead; training still happens
    * exactly once via [[q190CurWeights]], and the dup flags reuse
    * [[q218Pairs]]). */
  private val q218FlagsMemo = SessionMemo.checkpointed()
  private def q218Flags(s: SparkSession, dir: String): DataFrame =
    q218FlagsMemo(s, dir) {
      decisionFlags(s, dir,
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        pairs = Some(q218Pairs(s, dir)))
    }

  def q193LearnedCuration(s: SparkSession, dir: String): DataFrame = {
    val pc = SketchParams.q193
    val flags = q193Flags(s, dir)
    val packed = operators.Packing.assignShards(
        flags.filter(col("kept")).select(col("doc_id"), col("n_tokens")),
        "n_tokens", "doc_id", pc.budget)
      .select(col("doc_id"), col("shard_id"))
    flags.join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("score"),
        col("predicted"), col("blocked"), col("dup_drop"), col("kept"),
        col("shard_id"))
  }

  /** Curation → exact-fill packing end-to-end
    * ([[q193Flags]] → [[graft.operators.Packing.packSequences]]): the
    * kept docs of the learned-curation decision table laid out as ONE
    * curated token stream and chunked into exactly-`seqLen`-token
    * training sequences — the full pretraining data path (trained
    * filter → blocklist → near-dup → exact-fill pack) hash-verified
    * in a single composition. Params from [[SketchParams.q190]]/
    * [[SketchParams.q193]]/[[SketchParams.q194]]. */
  def q196CurationPack(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q194
    val kept = q193Flags(s, dir).filter(col("kept"))
      .select(col("doc_id"), col("n_tokens"))
    operators.Packing.packSequences(kept, "n_tokens", "doc_id",
      p.seqLen)
  }

  /** Hybrid retrieval: BM25 ⊕ ANN fused by reciprocal-rank fusion —
    * the RAG-era serving composition, query-by-example over the shared
    * corpus (embeddings ⋈ documents on vec_id = doc_id): each q157
    * batch doc queries the old slice BOTH ways — its distinct terms
    * through [[graft.operators.TextAnalysis.bm25FixedPointTopK]] and
    * its vector through the beam loop over the persisted backbone —
    * and [[graft.operators.TextAnalysis.reciprocalRankFusion]]
    * combines the two rankings in exact fixed point. Every stage is
    * hash-replayed: the BM25 integer form, the beam unroll, and the
    * RRF arithmetic. Params from [[SketchParams.q157]]/
    * [[SketchParams.q183]]/[[SketchParams.q191]]. */
  /** The q191 BM25 inverted-index snapshot over the old-slice corpus —
    * built once per (session, dir) (each frame localCheckpointed, the
    * q157 backbone convention) and, under SPARK_GRAFT_CENTROIDS_DIR,
    * persisted parquet so serving runs never re-tokenize the corpus.
    * Index-served scores are integer-identical to recomputed ones
    * (`Bm25Spec`), so the q191 hash gate is unchanged. */
  private val q191IndexMemo =
    SessionMemo[operators.TextAnalysis.Bm25Index](ix =>
      SessionMemo.unpersist(ix.postings, ix.termDf, ix.stats))
  private def q191Bm25Index(s: SparkSession, dir: String,
      corpusDocs: DataFrame): operators.TextAnalysis.Bm25Index =
    q191IndexMemo(s, dir) {
      implicit val spark: SparkSession = s
      def built = operators.TextAnalysis.bm25Index(
        corpusDocs, "text", "doc_id")
      val ix = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) => operators.TextAnalysis.trainOrLoadBm25Index(
          s"$root/q191_bm25_${dir.replaceAll("[^A-Za-z0-9]", "_")}")(built)
        case None => built
      }
      operators.TextAnalysis.Bm25Index(
        ix.postings.localCheckpoint(true),
        ix.termDf.localCheckpoint(true),
        ix.stats.localCheckpoint(true))
    }

  /** The q191 candidate-generation parts (query terms, corpus docs,
    * BM25 ranks, beam-ANN ranks), memoized per (session, dir) so the
    * two consumers — q191's RRF fusion and q224's trained reranker —
    * run the index probes ONCE (r18). */
  private final case class HybridParts(
      queryTerms: DataFrame, corpusDocs: DataFrame,
      bmRanks: DataFrame, annRanks: DataFrame)
  // corpusDocs is a lazy plan over the base tables, and bmRanks reads
  // the q191 index only through its own checkpoint: release frees the
  // three checkpoints this build made, never another memo's blocks
  private val q191PartsMemo = SessionMemo[HybridParts](p =>
    SessionMemo.unpersist(p.queryTerms, p.bmRanks, p.annRanks))
  private def q191Parts(s: SparkSession, dir: String): HybridParts =
    q191PartsMemo(s, dir) {
      val p152 = SketchParams.q152
      val p = SketchParams.q157
      val pb = SketchParams.q183
      val ph = SketchParams.q191
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val old = emb.filter(col("vec_id") % p.batchMod =!= 0)
      val batch = emb.filter(col("vec_id") % p.batchMod === 0)
      val corpusDocs = docs.join(
        old.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_semi")
      // query-by-example keeps each query doc's top `qTerms` terms by
      // (tf DESC, term ASC) — Lucene MoreLikeThis semantics. Without the
      // cap a query's FULL term set fans the scoring join out by
      // |queries sharing each term|; with it the fan-out is bounded by
      // qTerms per query regardless of vocabulary shape.
      val queryTerms = docs.join(
          batch.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_semi")
        .select(col("doc_id").as("query_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("query_id"), col("term"))
        .agg(count(lit(1)).as("__tf"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("__tf").desc, col("term").asc)))
        .filter(col("__rn") <= ph.qTerms)
        .select(col("query_id"), col("term"))
        .localCheckpoint(true)
      val bm25Ranks = operators.TextAnalysis
        .bm25FixedPointTopKFromIndex(q191Bm25Index(s, dir, corpusDocs),
          queryTerms, ph.k)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("score_q").desc,
              col("doc_id").cast("string").asc)).cast("long"))
        .select(col("query_id"), col("doc_id"), col("rank"),
          col("score_q"))
        .localCheckpoint(true)
      val annRanks = Ann.beamSearchPortable(q157OldGraph(s, dir), old,
          batch, "embedding", "vec_id", ph.k, ph.k, pb.maxRounds,
          stopOnNoImprove = true, p152.scale, p.tablePlanes, p.seedCap)
        .select(col("id").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"), col("d"))
        .localCheckpoint(true)
      HybridParts(queryTerms, corpusDocs, bm25Ranks, annRanks)
    }

  def q191HybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    val ph = SketchParams.q191
    val parts = q191Parts(s, dir)
    operators.TextAnalysis.reciprocalRankFusion(
      Seq(parts.bmRanks, parts.annRanks), "query_id", "doc_id", "rank",
      ph.rrfK, ph.k)
  }

  /** TRAINED reranker over the hybrid candidates (r18) — the learned
    * second stage every retrieval pipeline ships: the q190 averaged
    * perceptron ([[graft.operators.Classifier.perceptronTrainOnFeatures]])
    * trained on PAIR FEATURES of the q191 candidate set (both ranks
    * with absent = k+1, both presence flags, query-term overlap, bias —
    * all small integers, so training and scoring stay in exact BIGINT
    * arithmetic) against EXACT-kNN gold labels
    * ([[graft.operators.Ann.exactTopKPortable]]). Queries split by
    * parity: even (query_id/batchMod) pairs train, odd queries get
    * reranked — the held-out lane the spec grades recall on. The DuckDB
    * twin replays candidate generation, gold, every epoch, and the
    * rerank. Params from [[SketchParams.q224]]. */
  def q224TrainedReranker(s: SparkSession, dir: String): DataFrame =
    q224Reranked(s, dir, extended = true)

  /** [[q224TrainedReranker]] with the r19 raw-score features
    * switchable (`extended = false` = the r18 rank-only model) — the
    * spec grades held-out recall of the extended model against the
    * rank-only one. Raw scores enter as per-query level-quantized
    * integers (the q83 pattern: value·levels // per-query max — exact
    * BIGINT, scale-free, bounded by `levels`): `f_bm25q` from the
    * fixed-point BM25 score (absent = 0, the worst), `f_annd` from the
    * exact integer ANN distance (absent = levels, the worst). */
  private[graft] def q224Reranked(s: SparkSession, dir: String,
      extended: Boolean): DataFrame = {
    val p152 = SketchParams.q152
    val p = SketchParams.q157
    val ph = SketchParams.q191
    val pr = SketchParams.q224
    val parts = q191Parts(s, dir)
    val emb = t(s, dir, "embeddings")
    val old = emb.filter(col("vec_id") % p.batchMod =!= 0)
    val batch = emb.filter(col("vec_id") % p.batchMod === 0)
    val cand = parts.bmRanks.select(col("query_id"), col("doc_id"))
      .unionByName(parts.annRanks.select(col("query_id"), col("doc_id")))
      .distinct()
    val docTerms = parts.corpusDocs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    val overlap = parts.queryTerms.join(docTerms, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("__ov"))
    val absent = lit((ph.k + 1).toLong)
    // per-query maxima for the level quantization: over each query's
    // own top-k candidate scores, so the features are scale-free and
    // bounded — and the quantization replays exactly in integer SQL
    val qmaxB = parts.bmRanks.groupBy(col("query_id"))
      .agg(max(col("score_q")).as("__qmax"))
    val dmaxA = parts.annRanks.groupBy(col("query_id"))
      .agg(max(col("d")).as("__dmax"))
    val feats0 = cand
      .join(parts.bmRanks.select(col("query_id"), col("doc_id"),
        col("rank").as("__rb"), col("score_q").as("__bs")),
        Seq("query_id", "doc_id"), "left")
      .join(parts.annRanks.select(col("query_id"), col("doc_id"),
        col("rank").as("__ra"), col("d").as("__ad")),
        Seq("query_id", "doc_id"), "left")
      .join(overlap, Seq("query_id", "doc_id"), "left")
      .join(qmaxB, Seq("query_id"), "left")
      .join(dmaxA, Seq("query_id"), "left")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("__rb"), absent).as("f_bm25"),
        coalesce(col("__ra"), absent).as("f_ann"),
        col("__rb").isNotNull.cast("long").as("f_inb"),
        col("__ra").isNotNull.cast("long").as("f_ina"),
        coalesce(col("__ov"), lit(0L)).as("f_ov"),
        // both scores are non-negative, so Spark's `div` and DuckDB's
        // `//` agree (floor = truncate); NULL anywhere -> the absent
        // default via coalesce
        coalesce(expr(s"(__bs * ${pr.levels}) div nullif(__qmax, 0)"),
          lit(0L)).as("f_bm25q"),
        coalesce(expr(s"(__ad * ${pr.levels}) div nullif(__dmax, 0)"),
          lit(pr.levels.toLong)).as("f_annd"))
      .localCheckpoint(true)
    val featStructs = Seq(
      struct(lit(0L).as("bucket"), lit(1L).as("tf")),
      struct(lit(1L).as("bucket"), col("f_bm25").as("tf")),
      struct(lit(2L).as("bucket"), col("f_ann").as("tf")),
      struct(lit(3L).as("bucket"), col("f_inb").as("tf")),
      struct(lit(4L).as("bucket"), col("f_ina").as("tf")),
      struct(lit(5L).as("bucket"), col("f_ov").as("tf"))) ++
      (if (extended) Seq(
        struct(lit(6L).as("bucket"), col("f_bm25q").as("tf")),
        struct(lit(7L).as("bucket"), col("f_annd").as("tf")))
      else Seq.empty)
    val pfeats = feats0.select(col("query_id"), col("doc_id"),
        explode(array(featStructs: _*)).as("__f"))
      .select(col("query_id"), col("doc_id"),
        col("__f.bucket").as("bucket"), col("__f.tf").as("tf"))
    // gold feeds ONLY trainFeats, whose lineage the trainer itself
    // eagerly pins (perceptronTrainOnFeatures checkpointTracked) — a
    // separate eager checkpoint here materialized the exact-kNN pass
    // twice (r22: one fewer action + block write; same rows)
    val gold = Ann.exactTopKPortable(old, batch, "embedding", "vec_id",
        "vec_id", pr.gold, p152.scale)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        lit(1L).as("__hit"))
    val labeled = cand.join(gold, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        when(col("__hit").isNotNull, 1L).otherwise(-1L).as("y"))
    // query ids are multiples of batchMod; integer-divide before the
    // parity split (Column./ would promote to double)
    val isTrain = expr(s"(query_id div ${p.batchMod}) % 2 = 0")
    // the pair encoding query_id·1e6 + doc_id is sound ONLY while
    // doc_id ∈ [0, 1e6) — a larger id would silently merge two distinct
    // (query, doc) training examples, and the DuckDB twin shares the
    // constant so the hash oracle could not catch it; fail fast
    // map-side instead (r19 ADVICE)
    def pairId(q: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(assert_true(d.between(0L, 999999L),
        lit("q224: doc_id outside [0, 1e6) — the pair-id encoding " +
          "would collide")).isNull,
        q * 1000000L + d)
    val trainFeats = pfeats.filter(isTrain)
      .select(pairId(col("query_id"), col("doc_id")).as("id"),
        col("bucket"), col("tf"))
      .join(labeled.filter(isTrain)
        .select(pairId(col("query_id"), col("doc_id")).as("id"),
          col("y")), Seq("id"))
    val weights = operators.Classifier
      .perceptronTrainOnFeatures(trainFeats, pr.epochs)
    pfeats.filter(!isTrain)
      .join(weights.select(col("bucket"), col("w")), Seq("bucket"),
        "left")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * coalesce(col("w"), lit(0L))).as("score"))
      .withColumn("new_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc,
            col("doc_id").cast("string").asc)).cast("long"))
      .filter(col("new_rank") <= ph.k)
  }

  /** Contrastive triplet mining from the shared kNN backbone
    * ([[graft.operators.Ann.tripletMining]]): each old-slice node
    * yields (anchor, positive, negative) training triplets — positives
    * from its graph heap, negatives walked off the ':trip' md5 ring
    * skipping self and neighbors — with exact integer distances for
    * semi-hard filtering. The DuckDB twin replays ring, walk, skip
    * rule, and distances. Params from [[SketchParams.q152]]/
    * [[SketchParams.q157]]/[[SketchParams.q192]]. */
  def q192TripletMining(s: SparkSession, dir: String): DataFrame = {
    val p152 = SketchParams.q152
    val p = SketchParams.q157
    val ph = SketchParams.q192
    val old = t(s, dir, "embeddings")
      .filter(col("vec_id") % p.batchMod =!= 0)
    Ann.tripletMining(q157OldGraph(s, dir), old, "embedding", "vec_id",
      p152.k, ph.perTriplet, p152.scale)
  }

  /** Averaged-perceptron quality filter
    * ([[graft.operators.Classifier.perceptronTrain]]): the
    * `linearScoreWithWeights` model TRAINED from labeled data — the
    * DCLM/fastText curation workflow, where positives are the curated
    * corpus and negatives are junk. The labeled set is built in-query
    * (the q167/q181 fixture convention): every document contributes
    * its real text as a positive and a GARBLED twin (each word
    * replaced by an md5-derived junk token — same length statistics,
    * disjoint vocabulary) as a negative, so classes are balanced by
    * construction and the learned signal is vocabulary membership —
    * exactly what a fastText quality filter encodes. Trains on two
    * thirds, scores the held-out third; every epoch's integer weight
    * vector is replayed by the DuckDB twin, so the TRAINING RUN itself
    * is hash-verified, not just the scorer. Params from
    * [[SketchParams.q190]]. */
  def q190Perceptron(s: SparkSession, dir: String): DataFrame =
    q190Scored(s, dir)

  /** The q190 held-out scored frame (doc_id, score, predicted, label,
    * correct) memoized per (session, dir) — shared by q190 (the
    * report), q209 (the PR curve over it) and q210 (its exact AUC),
    * so one perceptron training run feeds all three within a Verify
    * pass (the q145Ir/q195Seg convention). */
  private val q190ScoredMemo = SessionMemo.checkpointed()
  private def q190Scored(s: SparkSession, dir: String): DataFrame =
    q190ScoredMemo(s, dir) {
      val p = SketchParams.q190
      val real = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val junkText = array_join(transform(
        split(trim(lower(col("text"))), "\\s+"),
        w => substring(md5(concat(w, lit(":junk"))), 1, 8)), " ")
      val corpus = real.select(col("doc_id"), col("text"),
          lit(1L).as("label"))
        .unionByName(real.select(
          (col("doc_id") + lit(1000000L)).as("doc_id"),
          junkText.as("text"), lit(-1L).as("label")))
      val train = corpus.filter(col("doc_id") % p.evalMod =!= 0)
      val weights = operators.Classifier.perceptronTrain(train, "text",
        "doc_id", "label", p.nBuckets, p.epochs)
      operators.Classifier.perceptronScore(
          corpus.filter(col("doc_id") % p.evalMod === 0), weights, "text",
          "doc_id", p.nBuckets)
        .join(corpus.select(col("doc_id"), col("label")), Seq("doc_id"))
        .select(col("doc_id"), col("score"), col("predicted"),
          col("label"),
          (col("predicted") === (col("label") > 0)).as("correct"))
    }

  /** Exact precision–recall curve
    * ([[graft.operators.Classifier.prCurve]]) of the trained q190
    * quality filter on its held-out slice: every operating point the
    * filter could run at, with exact BIGINT confusion counts off the
    * [[graft.operators.Packing.prefixSums]] scan and one portable
    * divide each for precision/recall — the threshold-picking
    * artifact behind the q193 curation gate. */
  def q209PrCurve(s: SparkSession, dir: String): DataFrame =
    operators.Classifier.prCurve(q190Scored(s, dir), "score", "label")

  /** Exact ROC-AUC ([[graft.operators.Classifier.aucExact]], the
    * Mann–Whitney rank identity with midrank ties) of the trained
    * q190 filter on its held-out slice — 2·U as an exact BIGINT, one
    * portable divide for the statistic: the single-number model
    * quality gate a retraining pipeline alarms on. */
  def q210AucExact(s: SparkSession, dir: String): DataFrame =
    operators.Classifier.aucExact(q190Scored(s, dir), "score", "label")

  /** Per-language exact AUC
    * ([[graft.operators.Classifier.aucExactByGroup]]) of the trained
    * q190 filter — the model-fairness slice report: each eval doc
    * (real or junk twin) carries its BASE document's language
    * (doc_id mod 1e6 keys the twin back), and every language reports
    * its own exact Mann–Whitney 2·U — "does the filter rank equally
    * well in every language?", the per-slice companion of q210. */
  def q212AucByLang(s: SparkSession, dir: String): DataFrame = {
    val langs = t(s, dir, "documents")
      .select(col("doc_id").as("__base"), col("lang"))
    q190Scored(s, dir)
      .withColumn("__base",
        when(col("doc_id") >= 1000000L, col("doc_id") - 1000000L)
          .otherwise(col("doc_id")))
      .join(langs, Seq("__base"))
      .select(col("lang"), col("score"), col("label"))
      .transform(df => operators.Classifier.aucExactByGroup(
        df, "lang", "score", "label"))
  }

  /** DSIR importance ratio over the paper's ACTUAL feature space —
    * hashed unigrams ∪ bigrams (Xie et al. 2023 §2.2;
    * [[graft.operators.Selection.importanceRatio]] with
    * `bigrams = true`): order information enters the target/reference
    * profiles, so boilerplate with target-like word bags but alien
    * word ORDER stops scoring target-like. Same q145 slices and
    * quantized-rational arithmetic. */
  def q216DsirBigrams(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q145
    operators.Selection.importanceRatio(t(s, dir, "documents"),
      "text", "doc_id",
      isTarget = col("doc_id") % p.tgtMod === 0,
      isReference = lit(true),
      nBuckets = p.nBuckets, quant = p.quant, bigrams = true)
  }

  /** Matryoshka-truncation recall audit: exact top-k over the FIRST
    * `dims` embedding coordinates vs exact top-k over the full vector
    * (the MRL question — Kusupati et al. 2022, "Matryoshka
    * Representation Learning": how much ranking quality do prefix
    * dimensions retain?), reported per query as recall@k via
    * [[graft.operators.Ann.annRecallAudit]]. Both sides are the
    * engine's exact integer-geometry top-k
    * ([[graft.operators.Ann.exactTopKPortable]]); truncation is a
    * map-only `slice`. The audit that decides whether a 4× cheaper
    * prefix index is safe to serve. Params from
    * [[SketchParams.q214]]. */
  def q214MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q214
    val emb = t(s, dir, "embeddings")
    val trunc = emb.select(col("vec_id"),
      slice(col("embedding"), 1, p.dims).as("embedding"))
    val full = operators.Ann.exactTopKPortable(emb,
      emb.filter(col("vec_id") < p.maxQueryId), "embedding", "vec_id",
      "vec_id", p.k, p.scale)
    val pre = operators.Ann.exactTopKPortable(trunc,
      trunc.filter(col("vec_id") < p.maxQueryId), "embedding",
      "vec_id", "vec_id", p.k, p.scale)
    operators.Ann.annRecallAudit(full, pre)
  }

  /** Isotonic calibrator FIT, hash-gated
    * ([[graft.operators.Classifier.isotonicCalibrate]] over the q211
    * bins): per bin the pooled monotone rate. The oracle replays PAVA
    * as bounded MATERIALIZED merge rounds (merge-first-violation; the
    * isotonic fit is UNIQUE whatever order adjacent violators pool —
    * Robertson–Wright–Dykstra — so the engine's stack merges and the
    * twin's one-merge-per-round land on identical fitted values, and
    * IEEE division is correctly rounded, so equal rationals give
    * bit-equal doubles). Output drops the pool-count columns (the
    * pool PARTITION can differ between valid PAVA orders only where
    * pooled rates tie; the fitted values cannot). */
  def q215IsotonicFit(s: SparkSession, dir: String): DataFrame = {
    // train-once-reuse (opt-in via SPARK_GRAFT_CENTROIDS_DIR, the q92/
    // q199 convention): the fitted calibrator is the model artifact
    implicit val spark: SparkSession = s
    def fitted = operators.Classifier.isotonicCalibrate(
      q211CalibrationBins(s, dir)
        .select(col("bin"), col("lo"), col("n"), col("n_pos")))
    val cal = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
      case Some(root) => operators.Classifier.trainOrLoadCalibrator(
        s"$root/q215_isotonic")(fitted)
      case None => fitted
    }
    cal.select(col("bin"), col("lo"), col("n"), col("n_pos"),
      col("cal_rate"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer — the missing member
    * of the tokenizer family (BPE q153, WordPiece q195, fertility
    * q202): [[graft.operators.TextAnalysis.unigramLmTrain]] runs
    * Kudo-2018 Viterbi-EM in exact fixed point (candidate substrings →
    * quantized unigram scores → Viterbi E-step → occurrence-weighted
    * recount, pruning unused pieces, chars always kept) and
    * [[graft.operators.TextAnalysis.unigramLmSegment]] emits the final
    * per-word-type segmentation. The DuckDB twin unrolls BOTH EM
    * iterations and the final DP as CTEs, so TRAINING and serving
    * hash-verify end-to-end. Params from [[SketchParams.q217]]. */
  def q217UnigramLm(s: SparkSession, dir: String): DataFrame =
    q217Seg(s, dir)

  /** The q217 segmentation frame, memoized per (session, dir) — the
    * EM training + final DP run once for q217 and q219's fertility
    * report (the q195Seg convention). The trained model rides the
    * SPARK_GRAFT_CENTROIDS_DIR artifact opt-in (the q92/q199
    * convention; (piece, c, q) round-trips bit-exactly). */
  private val q217SegMemo = SessionMemo.checkpointed()
  private def q217Seg(s: SparkSession, dir: String): DataFrame =
    q217SegMemo(s, dir) {
      val p = SketchParams.q217
      TextAnalysis.unigramLmSegment(t(s, dir, "documents"), "text",
        q217Model(s, dir), p.maxPiece, p.maxWord)
    }

  /** The TRAINED q217 model (piece, c, q), memoized separately from
    * the segmentation so q219's byte-fallback run over an EXTENDED
    * corpus re-uses the one EM training (r18: one training of q217
    * for all consumers — q217/q219/q220). */
  private val q217ModelMemo = SessionMemo.checkpointed()
  private def q217Model(s: SparkSession, dir: String): DataFrame =
    q217ModelMemo(s, dir) {
      val p = SketchParams.q217
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents")
      def trained = TextAnalysis.unigramLmTrain(docs, "text", p.iters,
        p.quant, p.maxPiece, p.maxWord, p.minFreq)
      sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
        case Some(root) => TextAnalysis.trainOrLoadUnigramModel(
          s"$root/q217_i${p.iters}_p${p.maxPiece}_w${p.maxWord}")(
          trained)
        case None => trained
      }
    }

  /** Unigram-tokenizer fertility per language WITH BYTE FALLBACK
    * (r18): the q202 occurrence-weighted report over a
    * [[graft.operators.TextAnalysis.byteFallbackSegment]] of the q217
    * tokenizer — every word segments (long/OOV-char words as their
    * UTF-8 bytes), so coverage is 1.0 by construction (`covered_q` =
    * quant proves it in the hash) and `n_fallback_occ`/`fallback_q`
    * report the byte-lane traffic, the real coverage signal. The
    * corpus is extended with a variant lane (doc_id % 7 == 0 docs emit
    * one extra doc gluing their first tokens with 'ß' — a character
    * the training corpus lacks — one short and one > maxWord gluing)
    * so BOTH fallback lanes demonstrably fire in the oracle. The model
    * is the memoized [[q217Model]] (one EM for q217/q219/q220); only
    * the word-TYPE-scale final segmentation re-runs over the extended
    * types. */
  def q219UnigramFertility(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q217
    val toks = split(trim(lower(col("text"))), "\\s+")
    val base = t(s, dir, "documents").select(col("lang"), col("text"))
    val variant = t(s, dir, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select(col("lang"),
        concat_ws(" ",
          concat_ws("ß", slice(toks, 1, 2)),
          concat_ws("ß", slice(toks, 1, 3))).as("text"))
    val xdocs = base.unionByName(variant)
    // the memoized q217 segmentation already covers EVERY base word
    // type — only the variant lane's glued types (a corpus-fraction-of-7
    // vocabulary) still need the Viterbi DP, so the extended
    // segmentation is the memo plus a tiny delta (r19: re-running the
    // full-vocabulary DP here was the round's one regression, 3.7 s for
    // work the memo had already done). The anti-join keeps the union a
    // set: word types are unique across the two frames by construction,
    // but a base word showing up glued would otherwise double-join the
    // fertility count.
    val extraSeg = operators.TextAnalysis.unigramLmSegment(variant,
        "text", q217Model(s, dir), p.maxPiece, p.maxWord)
      .join(q217Seg(s, dir).select(col("word")), Seq("word"), "left_anti")
    val seg = operators.TextAnalysis.byteFallbackSegment(
      q217Seg(s, dir).unionByName(extraSeg))
    operators.TextAnalysis.tokenizerFertilityFallback(
      xdocs, "text", "lang", seg, SketchParams.q202.quant)
  }

  /** Per-source pretraining DATA CARD — the artifact a curation team
    * publishes with a dataset release: ONE report row per source over
    * ONE population (every real document, scored with the SHARED
    * [[q190CurWeights]] model — zero retraining), composing the
    * observability family: the q193/q213 curation funnel sliced by
    * source ([[q218Flags]] — docs, kept, token yield), the q147
    * dedup-rate shape (q56 component resolution over the SAME
    * memoized full-corpus pair list [[q218Pairs]] the dup flags use —
    * one sketch pass), the q207 per-source KS drift of the q206
    * language slice (LEFT joined — one-sided sources carry NULL), and
    * the q146 mixture plan over the KEPT token inventory (the
    * post-curation mixture a trainer would actually sample). Params
    * from [[SketchParams.q218]]. */
  def q218DataCard(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q218
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val funnel = q218Flags(s, dir)
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
    val assign = operators.Components.dedupAssignments(
      t(s, dir, "documents").select(col("doc_id")), "doc_id",
      q218Pairs(s, dir), "id_a", "id_b")
    val dedup = assign
      .select(col("id").as("doc_id"),
        (col("id") =!= col("keep_id")).as("is_dup"))
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
    val drift = operators.Stats.ksStatisticByGroup(
        t(s, dir, "documents"), "source",
        col("lang") === SketchParams.q206.lang, "n_chars")
      .select(col("source"), col("ks").as("ks_drift"))
    val plan = operators.Sampling.mixturePlan(
        funnel.select(col("source"), col("kept_tokens")),
        "source", "kept_tokens", p.weights.toMap, p.budget)
      .select(col("source"), col("weight_ppm"), col("target_tokens"),
        col("sample_rate"), col("epochs"))
    funnel
      .join(dedup, Seq("source"))
      .join(drift, Seq("source"), "left")
      .join(broadcast(plan), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("kept_tokens"),
        (col("kept_tokens").cast("double") /
          col("total_tokens").cast("double")).as("token_yield"),
        col("n_dups"),
        (col("n_dups").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        col("ks_drift"), col("weight_ppm"), col("target_tokens"),
        col("sample_rate"), col("epochs"))
  }

  /** Temperature-scaled mixture plan
    * ([[graft.operators.Sampling.temperaturePlan]]): per-language
    * targets ∝ n^α over the corpus token inventory — the third
    * mixture strategy alongside q146's explicit recipe and q201's
    * UniMax waterfilling, exact end-to-end (IEEE sqrt + floor-quant +
    * arbitrary-precision integer shares; the DuckDB twin replays with
    * HUGEINT). Params from [[SketchParams.q221]]. */
  def q221TemperaturePlan(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q221
    val inv = t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(sum(operators.TextAnalysis.tokenCount(col("text")).cast("long"))
        .as("n_tokens"))
    operators.Sampling.temperaturePlan(inv, "lang", "n_tokens",
      p.budget, p.alphaHalvings, p.quant)
  }

  /** Suffix-array EXACTSUBSTR dedup
    * ([[graft.operators.SuffixArray.exactSubstrDedup]]) — the real Lee
    * et al. 2022 method over the near-dup corpus: prefix-doubling
    * suffix ranks (each round ONE range exchange via the q142
    * global-rank trick), adjacent-rank LCP ≥ minSpan certified by the
    * binary-decomposition rank checks, non-first occurrences of every
    * duplicated span removed and documents reassembled (the q77
    * first-occurrence policy). The truncated twins guarantee ≥
    * minSpan-token shared prefixes, so removals demonstrably fire. The
    * DuckDB twin unrolls all [[SketchParams.q222]].rounds doubling
    * rounds as CTEs — the entire suffix array, not a sampled check,
    * hash-verifies. */
  def q222ExactSubstr(s: SparkSession, dir: String): DataFrame =
    q222Dedup(s, dir)

  /** The q222 EXACTSUBSTR dedup result, memoized — shared by q222 and
    * q236's dedup-aware mixture plan (r19): the SA build runs once per
    * session per sf dir. */
  private val q222DedupMemo = SessionMemo.checkpointed()
  private def q222Dedup(s: SparkSession, dir: String): DataFrame =
    q222DedupMemo(s, dir) {
      val p = SketchParams.q222
      operators.SuffixArray.exactSubstrDedup(
        nearDupCorpus(s, dir), "text", "doc_id", p.minSpan, p.rounds,
        p.baseSpan)
    }

  /** The complete Gopher repetition table
    * ([[graft.operators.TextAnalysis.gopherRepetitionReport]]): all 13
    * published repetition fractions (dup line/para + char, top-2/3/4
    * gram chars, dup-5..10 gram chars as true position unions) and the
    * pass flag, per doc, over a LINED corpus derived deterministically
    * from the fixture (the raw documents carry no newlines): tokens
    * grouped 8-to-a-line, lines 4-to-a-paragraph, rejoined with
    * \n / \n\n. Params from [[SketchParams.q223]]. */
  def q223GopherRepetition(s: SparkSession, dir: String): DataFrame =
    q223Report(s, dir)

  /** The q223 lined corpus + per-doc repetition report, memoized —
    * shared by q223 and q228's per-source funnel (r18). */
  private val q223ReportMemo = SessionMemo.checkpointed()
  private def q223Report(s: SparkSession, dir: String): DataFrame =
    q223ReportMemo(s, dir) {
      val p = SketchParams.q223
      val toks = split(trim(col("text")), "\\s+")
      val nLines = floor((size(toks) - 1).cast("double") / p.lineTokens)
        .cast("int")
      val lines = transform(sequence(lit(0), nLines),
        li => concat_ws(" ",
          slice(toks, li * p.lineTokens + 1, lit(p.lineTokens))))
      val nParas = floor((size(lines) - 1).cast("double") / p.paraLines)
        .cast("int")
      val lined = t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws("\n\n", transform(sequence(lit(0), nParas),
            pi => concat_ws("\n",
              slice(lines, pi * p.paraLines + 1, lit(p.paraLines)))))
            .as("text"))
      operators.TextAnalysis.gopherRepetitionReport(lined, "text",
        "doc_id", p.topNs, p.dupNs, p.topThresholds, p.dupThresholds,
        p.dupLineMax, p.dupParaMax, p.dupLineCharMax, p.dupParaCharMax)
    }

  /** Per-source Gopher repetition FUNNEL (r18): the q223 report read
    * the way a curation run reads it — per source, the doc count, the
    * pass count/rate, and how many docs each gate FAMILY rejects
    * (line/para duplication, top-gram domination, duplicated n-grams).
    * Counts are exact BIGINT over threshold comparisons of the shared
    * per-doc report (memoized — the 13-fraction pipeline runs once for
    * q223 and q228); the only double is the final pass-rate divide. */
  def q228RepetitionFunnel(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q223
    val rep = q223Report(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val failLine = col("dup_line_frac") > p.dupLineMax ||
      col("dup_line_char_frac") > p.dupLineCharMax
    val failPara = col("dup_para_frac") > p.dupParaMax ||
      col("dup_para_char_frac") > p.dupParaCharMax
    val failTop = p.topNs.zip(p.topThresholds).map { case (n, th) =>
      col(s"top_${n}_gram_char_frac") > th }.reduce(_ || _)
    val failDup = p.dupNs.zip(p.dupThresholds).map { case (n, th) =>
      col(s"dup_${n}_gram_char_frac") > th }.reduce(_ || _)
    rep.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("repetition_pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(failLine, 1L).otherwise(0L)).as("n_fail_line"),
        sum(when(failPara, 1L).otherwise(0L)).as("n_fail_para"),
        sum(when(failTop, 1L).otherwise(0L)).as("n_fail_top"),
        sum(when(failDup, 1L).otherwise(0L)).as("n_fail_dupgram"))
      .select(col("source"), col("n_docs"), col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"),
        col("n_fail_line"), col("n_fail_para"), col("n_fail_top"),
        col("n_fail_dupgram"))
  }

  /** Span-level exact-substring DECONTAMINATION
    * ([[graft.operators.SuffixArray.exactSubstrContamination]]): the
    * Lee et al. §6.2 train–test overlap at the method's own
    * granularity — every ≥ minSpan-token run a corpus doc shares with
    * any benchmark doc is removed, via ONE generalized suffix array
    * over corpus ∪ benchmark (cross-side signature membership instead
    * of q222's first-occurrence policy). Benchmark lane = truncated
    * twins of doc_id % benchMod == 0 at offset ids, so contamination
    * demonstrably fires. Params from [[SketchParams.q229]]. */
  def q229ExactSubstrDecontam(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q229
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("text"))
    val bench = docs.filter(col("doc_id") % p.benchMod === 0)
      .select((col("doc_id") + p.benchOffset).as("doc_id"),
        regexp_replace(col("text"), " [^ ]+$", "").as("text"))
    operators.SuffixArray.exactSubstrContamination(docs, bench,
      "text", "doc_id", p.minSpan, p.rounds, p.baseSpan)
  }

  /** Persisted-suffix-array incremental EXACTSUBSTR probe
    * ([[graft.operators.SuffixArray.buildSubstrIndex]] →
    * [[graft.operators.SuffixArray.saveSubstrIndex]] →
    * [[graft.operators.SuffixArray.loadSubstrIndex]] →
    * [[graft.operators.SuffixArray.exactSubstrProbe]]): the Lee et al.
    * §6.2 serving form — the corpus's rank/signature tables are built
    * ONCE, persisted on the IndexStore generation protocol, and an
    * incoming batch (truncated twins, the q229 lane shape) is
    * decontaminated against the FROZEN artifact at batch-proportional
    * cost: batch suffixes re-rank themselves in corpus rank space
    * through the saved base-window and doubling-key maps, then
    * semi-join the corpus certificate set. The whole chain — save,
    * load, probe — runs inside the query (memoized per session so
    * repeat timings measure the PROBE, the serving cost); the DuckDB
    * twin replays the equivalent full-rebuild contamination image
    * (probe ≡ rebuild is spec-pinned in `SubstrIndexSpec`). Params
    * from [[SketchParams.q230]]. */
  def q230SubstrIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q230
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("text"))
    val batch = docs.filter(col("doc_id") % p.probeMod === 0)
      .select((col("doc_id") + p.probeOffset).as("doc_id"),
        regexp_replace(col("text"), " [^ ]+$", "").as("text"))
    val (ix, _) = q230IndexMemo(s, dir) {
      savedSubstrIndex(s, "graft-q230")(operators.SuffixArray
        .buildSubstrIndex(docs, "text", "doc_id", p.minSpan, p.baseSpan))
    }
    operators.SuffixArray.exactSubstrProbe(ix, batch, "text", "doc_id")
  }
  private val q230IndexMemo = substrIndexMemo()

  /** NORMALIZED-text exact-substring decontamination
    * ([[graft.operators.SuffixArray.exactSubstrContaminationNormalized]])
    * — the matcher run the way Lee et al. actually run it: matching on
    * a per-token normalized view (lowercase → Unicode NFC → strip
    * non-alphanumerics; punct-only tokens become SIDE-SPECIFIC
    * sentinels so they can never certify a cross-side match), removal
    * on the raw text via the position map per-token normalization
    * preserves. The benchmark lane is the q229 truncated twin
    * UPPER-CASED — contamination the raw q229 matcher provably misses
    * (spec-pinned) and this one catches. Params from
    * [[SketchParams.q231]]. */
  def q231NormalizedDecontam(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q231
    // fused kernel (r22): one call per document instead of a 3-deep
    // expression tree per token — bit-parity with the old
    // concat_ws/transform/split chain is spec-pinned
    // (UnicodeKernelSpec), incl. the null-text → "" concat_ws corner
    // via the coalesce
    def tokNorm(c: Column, sentinel: String): Column =
      coalesce(
        functions.exprs.tok_norm_sentinel(c, lit(sentinel)), lit(""))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("raw"))
    val corpus = docs
      .withColumn("norm", tokNorm(col("raw"), "\u0001c"))
    val bench = docs.filter(col("doc_id") % p.benchMod === 0)
      .select((col("doc_id") + p.benchOffset).as("doc_id"),
        upper(regexp_replace(col("raw"), " [^ ]+$", "")).as("raw"))
      .withColumn("norm", tokNorm(col("raw"), "\u0001b"))
    operators.SuffixArray.exactSubstrContaminationNormalized(corpus,
      bench, "raw", "norm", "doc_id", p.minSpan, p.rounds, p.baseSpan)
  }

  /** Memorization-frequency report
    * ([[graft.operators.SuffixArray.memorizationReport]]): the Carlini
    * et al. 2022 measurement — per benchmark doc, how many of its
    * ≥ minSpan-token spans occur verbatim in the corpus, the covered-
    * token interval union, and the occurrence-COUNT grading (max /
    * total corpus frequency of the overlapping spans — memorization
    * likelihood grows log-linearly in duplication, so the count, not
    * the boolean, is the risk signal). Corpus = the q222 near-dup
    * corpus (so frequencies ≥ 2 are exercised); bench = 2-word
    * truncated twins at disjoint ids. Params from
    * [[SketchParams.q232]]. */
  def q232MemorizationReport(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q232
    val bench = t(s, dir, "documents")
      .filter(col("doc_id") % p.benchMod === 0)
      .select((col("doc_id") + p.benchOffset).as("doc_id"),
        regexp_replace(normText(col("text")), " [^ ]+ [^ ]+$", "")
          .as("text"))
    // served off the SHARED near-dup-corpus counted index (one sig
    // build for q232+q233+q234, VERDICT r19 item 2) — output ≡ the
    // fresh memorizationReport rebuild at p.baseSpan: the report
    // depends only on which minSpan-token spans occur at which corpus
    // counts, not on the rank space (cross-baseSpan spec-pinned in
    // `SubstrIndexSpec`)
    operators.SuffixArray.exactSubstrProbeReport(
      nearDupIndex(s, dir), bench, "text", "doc_id")
  }

  /** Duplication-frequency spectrum
    * ([[graft.operators.SuffixArray.duplicationSpectrum]]): Lee et
    * al. 2022's histogram of duplicated ≥ minSpan-token span mass by
    * occurrence-frequency scale (floor(log2 count) buckets, exact
    * integer bucketing via binary-digit length) over the q222
    * near-dup corpus. THE read before choosing dedup aggressiveness:
    * high-frequency tail ⇒ template flooding, mass at 2–4 ⇒ organic
    * quotation. Params from [[SketchParams.q233]]. */
  def q233DupSpectrum(s: SparkSession, dir: String): DataFrame = {
    // served off the SHARED counted index (one sig build for
    // q232+q233+q234): the spectrum reads only the per-group counts
    // ix.sig already carries — two aggregations, no rank build.
    // Output ≡ duplicationSpectrum(nearDupCorpus, minSpan=50) at any
    // baseSpan (cross-baseSpan spec-pinned in `SubstrIndexSpec`);
    // [[SketchParams.q233]] documents the oracle's replay params.
    operators.SuffixArray.duplicationSpectrumFromIndex(
      nearDupIndex(s, dir))
  }

  /** SERVED memorization report
    * ([[graft.operators.SuffixArray.exactSubstrProbeReport]]): the
    * q232 measurement at serving cost — the near-dup corpus's COUNTED
    * certificate index is built/saved/loaded ONCE (the q230
    * IndexStore convention, memoized per session), then the incoming
    * batch re-ranks its suffixes through the frozen maps and
    * inner-joins the counted signature table for the Carlini-style
    * frequency grading, cost ∝ batch tokens. The DuckDB twin replays
    * the full-rebuild image (probe ≡ rebuild spec-pinned in
    * `SubstrIndexSpec`). Params from [[SketchParams.q234]]. */
  def q234MemorizationProbe(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q234
    val batch = t(s, dir, "documents")
      .filter(col("doc_id") % p.probeMod === 0)
      .select((col("doc_id") + p.probeOffset).as("doc_id"),
        regexp_replace(normText(col("text")), " [^ ]+ [^ ]+$", "")
          .as("text"))
    operators.SuffixArray.exactSubstrProbeReport(
      nearDupIndex(s, dir), batch, "text", "doc_id")
  }

  /** The near-dup-corpus COUNTED certificate index (minSpan/baseSpan
    * from [[SketchParams.q234]]) — built, persisted, and re-loaded
    * ONCE per (session, dir), shared by q232 (memorization report),
    * q233 (duplication spectrum), and q234 (served probe): the three
    * measurements read the same counted signature groups, so one
    * build serves all (VERDICT r19 item 2 — q232/q233 each rebuilt an
    * identical ~8 s sig frame). */
  private def nearDupIndex(s: SparkSession,
      dir: String): operators.SuffixArray.SubstrIndex = {
    val p = SketchParams.q234
    nearDupIndexMemo(s, dir) {
      savedSubstrIndex(s, "graft-neardup-ix")(
        operators.SuffixArray.buildSubstrIndex(
          nearDupCorpus(s, dir), "text", "doc_id", p.minSpan, p.baseSpan))
    }._1
  }
  private val nearDupIndexMemo = substrIndexMemo()

  /** DEDUP-AWARE temperature plan: the q221 mixture arithmetic run
    * over EFFECTIVE (post-EXACTSUBSTR) per-source token inventories
    * instead of raw counts — a source whose mass is mostly duplicated
    * spans (mirrors, templates) contributes its UNIQUE tokens to the
    * plan, so the temperature flattening cannot be gamed by
    * duplication (the Lee et al. §5 observation that duplicated text
    * inflates naive mixture weights, applied to the planning stage).
    * Inventory = Σ per doc of (n_tokens − n_dropped) from the MEMOIZED
    * q222 dedup (the SA build runs once for both queries), twins
    * mapped back to their base doc's source; raw_tokens kept alongside
    * so the discount is observable per source. Params from
    * [[SketchParams.q236]]. */
  def q236DedupTempPlan(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q236
    val dd = q222Dedup(s, dir)
      .select(
        when(col("doc_id") >= 1000000L, col("doc_id") - 1000000L)
          .otherwise(col("doc_id")).as("base_id"),
        col("n_tokens"), (col("n_tokens") - col("n_dropped")).as("kept"))
    val inv = dd
      .join(t(s, dir, "documents")
        .select(col("doc_id").as("base_id"), col("source")),
        Seq("base_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("raw_tokens"),
        sum(col("kept")).as("eff_tokens"))
      .localCheckpoint(false)
    operators.Sampling.temperaturePlan(
        inv.select(col("source"), col("eff_tokens")), "source",
        "eff_tokens", p.budget, p.alphaHalvings, p.quant)
      .join(inv.select(col("source"), col("raw_tokens")), Seq("source"))
      .select(col("source"), col("raw_tokens"),
        col("n_tokens").as("eff_tokens"), col("s_q"),
        col("target_tokens"), col("sample_rate"), col("epochs"))
  }

  /** Tokenizer-aware exact-fill packing — the q194 packer budgeted by
    * what the trainer actually sees: per-doc UNIGRAM-TOKENIZER token
    * counts (Σ tf·n_pieces off the memoized [[q217Seg]] segmentation —
    * whitespace word counts under-count multilingual/rare-word text)
    * flow through [[graft.operators.Packing.packSequences]]. The full
    * tokenize→count→pack composition hash-verifies: the DuckDB twin
    * replays the EM, the segmentation, the per-doc counts, and the
    * running-offset pack in one WITH. */
  def q220TokenizedPack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packSequences(q217DocTokens(s, dir), "n_tokens",
      "doc_id", SketchParams.q194.seqLen)

  /** Per-doc TRAINER-billable token counts (Σ tf·n_pieces off the
    * memoized [[q217Seg]] segmentation) — the shared budget column of
    * the tokenized pack (q220), the tokenized temperature plan (q226)
    * and the tokenized card budget (q227): one q217 EM training feeds
    * every consumer (r18). Docs with no words emit no row. */
  private def q217DocTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .join(q217Seg(s, dir).select(col("word"), col("n_pieces")),
        Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("n_pieces")).as("n_tokens"))

  /** Temperature-scaled mixture plan in TRAINER-BILLABLE tokens (r18):
    * q221's p ∝ n^α arithmetic with the language inventory measured by
    * the q217 unigram tokenizer (Σ tf·n_pieces per language off the
    * memoized segmentation) instead of whitespace words — the mixture
    * numbers a trainer can actually bill against. One q217 training
    * for all consumers; the DuckDB twin replays EM + counts + plan in
    * one WITH. Params from [[SketchParams.q221]]. */
  def q226TokenizedTempPlan(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q221
    val inv = t(s, dir, "documents")
      .select(col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .join(q217Seg(s, dir).select(col("word"), col("n_pieces")),
        Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("tf") * col("n_pieces")).as("n_tokens"))
    operators.Sampling.temperaturePlan(inv, "lang", "n_tokens",
      p.budget, p.alphaHalvings, p.quant)
  }

  /** Per-source card BUDGET in trainer-billable tokens (r18): the q218
    * funnel and mixture plan re-measured under the q217 unigram
    * tokenizer — same kept flags (the memoized [[q218Flags]] decision
    * chain, zero retraining), same [[SketchParams.q218]] recipe, but
    * total/kept tokens and the plan's sample rates computed over
    * [[q217DocTokens]]. The dedup-rate and drift columns live on q218
    * (token units don't move them); this is the card's budget page in
    * the unit the trainer bills. */
  def q227TokenizedCardBudget(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q218
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val funnel = q218Flags(s, dir).select(col("doc_id"), col("kept"))
      .join(q217DocTokens(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"), col("kept"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
    val plan = operators.Sampling.mixturePlan(
        funnel.select(col("source"), col("kept_tokens")),
        "source", "kept_tokens", p.weights.toMap, p.budget)
      .select(col("source"), col("weight_ppm"), col("target_tokens"),
        col("sample_rate"), col("epochs"))
    funnel.join(broadcast(plan), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("total_tokens"), col("kept_tokens"),
        (col("kept_tokens").cast("double") /
          col("total_tokens").cast("double")).as("token_yield"),
        col("weight_ppm"), col("target_tokens"), col("sample_rate"),
        col("epochs"))
  }

  /** Curation funnel report — the per-stage accounting of the q193
    * decision chain as a TRUE funnel (stages attributed exclusively in
    * pipeline order: quality-fail first, then blocklist among the
    * predicted, then near-dup among the unblocked — the four counts
    * partition the slice), plus token yield: the one-row operational
    * summary a curation run publishes ("how much did each gate cost
    * us?"). Shares the memoized q193 flags — no retraining. */
  def q213CurationFunnel(s: SparkSession, dir: String): DataFrame =
    q193Flags(s, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(when(!col("predicted"), 1L).otherwise(0L))
        .as("n_fail_quality"),
      sum(when(col("predicted") && col("blocked"), 1L).otherwise(0L))
        .as("n_fail_blocklist"),
      sum(when(col("predicted") && !col("blocked") && col("dup_drop"),
        1L).otherwise(0L)).as("n_fail_dup"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(when(col("kept"), col("n_tokens")).otherwise(0L))
        .as("kept_tokens"))
    .select(col("n_docs"), col("n_fail_quality"),
      col("n_fail_blocklist"), col("n_fail_dup"), col("n_kept"),
      col("total_tokens"), col("kept_tokens"),
      (col("n_kept").cast("double") / col("n_docs").cast("double"))
        .as("kept_rate"),
      (col("kept_tokens").cast("double") /
        col("total_tokens").cast("double")).as("token_yield"))

  /** Calibration / reliability bins
    * ([[graft.operators.Classifier.calibrationBins]]) of the trained
    * q190 filter on its held-out slice: per fixed-width score bin the
    * exact counts and empirical positive rate — the reliability
    * diagram behind trusting the filter's margins (and the training
    * input of a monotone calibrator). Floor-division bin ids exact in
    * both engines' semantics on NEGATIVE scores (the pmod trick).
    * Params from [[SketchParams.q211]]. */
  def q211CalibrationBins(s: SparkSession, dir: String): DataFrame =
    operators.Classifier.calibrationBins(q190Scored(s, dir),
      "score", "label", SketchParams.q211.binWidth)

  /** Interpolated Kneser–Ney trigram gate
    * ([[graft.operators.TextAnalysis.knTrigramGate]]): the CCNet LM
    * filter as a real smoothed trigram model — discounted trigram mass
    * backing off through CONTINUATION-count bigrams to an add-one
    * continuation unigram (D = 3/4) — scored in the q127 no-libm
    * discipline (exact BIGINT counts, IEEE correctly-rounded double
    * tree, floored fixed point), with the q160 head/middle/tail
    * tercile. The q160 reference split: every `refMod`-th doc trains
    * the model, the rest are scored. Params from
    * [[SketchParams.q188]]. */
  def q188KnTrigram(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q188
    val docs = t(s, dir, "documents")
    operators.TextAnalysis.knTrigramGate(
      docs.filter(col("doc_id") % p.refMod =!= 0),
      docs.filter(col("doc_id") % p.refMod === 0),
      "text", "doc_id", p.quant, p.nBuckets)
  }

  /** KN-curriculum shard packing
    * ([[graft.operators.TextAnalysis.knTrigramScore]] →
    * [[graft.operators.Packing.assignShards]] with `orderCol`): the
    * q188 LM familiarity score ORDERS the training stream fluent-first
    * (the warm-up curriculum a pretraining run starts on), and the
    * two-phase prefix sum packs it under the shard budget — the
    * trained LM artifact wired into the packing pipeline (the q196
    * composition convention applied to the KN family). Docs without a
    * trigram (under 3 tokens) have no familiarity signal and drop
    * from the curriculum. Params from [[SketchParams.q188]]/
    * [[SketchParams.q200]]. */
  def q200KnCurriculum(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q188
    val budget = SketchParams.q200.maxTokensPerShard
    val docs = t(s, dir, "documents")
    val model = operators.TextAnalysis.knTrigramModelPinned(
      docs.filter(col("doc_id") % p.refMod === 0), "text")
    val scored = operators.TextAnalysis.knTrigramScore(
      docs.filter(col("doc_id") % p.refMod =!= 0), model, "text",
      "doc_id", p.quant)
    val ordered = scored
      .join(docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("kn_mean"),
        (-col("kn_mean")).as("__ord"))
    operators.Packing.assignShards(ordered, "n_tokens", "doc_id",
        budget, orderCol = Some("__ord"))
      .join(ordered.select(col("doc_id"), col("kn_mean")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("kn_mean"),
        col("tok_offset"), col("shard_id"))
  }

  /** UniMax-style per-language token-budget allocation
    * ([[graft.operators.Sampling.tokenBudgetAllocate]]): integer
    * waterfilling splits the total budget across languages —
    * low-resource languages taken whole, the surplus redistributed
    * round by round — then each language's budget fills greedily with
    * whole docs in deterministic md5 order. The sf0.01 mix exercises
    * three waterfilling rounds (de/es/fr whole → zh whole → en
    * capped). Params from [[SketchParams.q201]]. */
  def q201UnimaxAlloc(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q201
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens"))
    operators.Sampling.tokenBudgetAllocate(docs, "lang", "n_tokens",
      "doc_id", p.budgetTokens, p.seed)
  }

  /** Main-content-aware curation run (VERDICT r14 item 3 — q182 wired
    * into the pipeline it was built for): the q169 decision-table shape
    * where every gate scores [[graft.sources.CrawlParse.mainContent]]
    * instead of whole-page text. The near-dup corpus slice is templated
    * into pages (nav/teaser/footer boilerplate around each doc), main
    * content is extracted, and Gopher quality + the rare-phrase
    * blocklist + md5-MinHash-LSH near-dup (q49 parameters, over MAIN
    * text — the truncated twins still pair because the shared body
    * dominates the shingle set) + prefix-sum packing all run on the
    * extracted text. Docs whose every block is classified boilerplate
    * fall out of `mainContent`; they surface with n_tokens=0 and all
    * gates false — a page with no main content is not trainable text.
    * Scale shape: segmentation is map-only + one url-key window
    * exchange; the gates and sketch join run on the (smaller) main
    * corpus; decision assembly is equi-joins on doc_id.
    * Params from [[SketchParams.q184]]. */
  def q184MainCuration(s: SparkSession, dir: String): DataFrame = {
    val p49 = SketchParams.q49
    val p = SketchParams.q184
    val slice = nearDupCorpus(s, dir)
      .filter(col("doc_id") % p.corpusMod === 0)
    val pages = htmlPages(slice.select(col("doc_id"), col("text").as("__t")))
    // one segmentation pass feeds quality + blocklist + sketch + counts
    val main = sources.CrawlParse.mainContent(pages, "doc_id", "html")
      .select(col("url").as("doc_id"), col("main_text"))
      .localCheckpoint(false)
    val quality = operators.TextAnalysis
      .gopherQuality(main, "main_text", "doc_id")
      .select(col("doc_id"), col("keep").as("keep_quality"))
    val blocked = operators.TextAnalysis
      .blocklistGate(main, "main_text", "doc_id", p.patterns)
      .select(col("doc_id"), col("blocked"))
    val dupIds = operators.Dedup.minhashLshPortable(main, "main_text",
        "doc_id", p49.ngram, p49.numHashes, p49.bands,
        p49.jaccardThreshold)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    val flags = main
      .select(col("doc_id"),
        size(split(trim(col("main_text")), "\\s+")).cast("long")
          .as("n_tokens"))
      .join(quality, Seq("doc_id"))
      .join(blocked, Seq("doc_id"))
      .join(dupIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("keep_quality"),
        col("blocked"), coalesce(col("__dup"), lit(false)).as("dup_drop"))
      .withColumn("kept",
        col("keep_quality") && !col("blocked") && !col("dup_drop"))
    val packed = operators.Packing.assignShards(
        flags.filter(col("kept")).select(col("doc_id"), col("n_tokens")),
        "n_tokens", "doc_id", p.budget)
      .select(col("doc_id"), col("shard_id"))
    slice.select(col("doc_id"))
      .join(flags.join(packed, Seq("doc_id"), "left"), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("keep_quality"), lit(false)).as("keep_quality"),
        coalesce(col("blocked"), lit(false)).as("blocked"),
        coalesce(col("dup_drop"), lit(false)).as("dup_drop"),
        coalesce(col("kept"), lit(false)).as("kept"),
        col("shard_id"))
  }

  /** S5 extractor parity, whole-page vs main text (VERDICT r14 item 3,
    * second half): the reference scrapes fields from WHOLE-PAGE text
    * (extract/commoncrawl_scraper.py:183-209), so its postcode field
    * happily matches the page title's 4-digit doc number or the
    * footer's copyright year, and its ABN field matches the site
    * owner's footer ABN on every page. This fixture plants a REAL
    * postcode / email / ABN in some documents' body text and site-wide
    * ABN + webmaster-email noise in the footer, then runs the same
    * extractors over both whole-page text and extracted main content:
    * whole-page columns surface title/footer junk, main columns keep
    * exactly the body facts. Map-only apart from the segmentation
    * window. Params from [[SketchParams.q185]]. */
  def q185MainExtractParity(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q185
    val aug = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("__t0"))
      .select(col("doc_id"), concat(col("__t0"),
        when(col("doc_id") % p.pcMod === 0,
          concat(lit(" located at postcode "),
            (lit(3000) + col("doc_id") % 1000).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % p.emailMod === 0,
          concat(lit(" contact info"), col("doc_id"),
            lit("@main.example.com.au"))).otherwise(lit("")),
        when(col("doc_id") % p.abnMod === 0,
          lit(" ABN " + p.bodyAbn + " registered")).otherwise(lit("")))
        .as("__t"))
    val pages = htmlPages(aug, footerExtra = lit(p.footerExtra))
      .localCheckpoint(false)
    val whole = sources.CrawlParse.htmlText(col("html"))
    val main = sources.CrawlParse.mainContent(pages, "doc_id", "html")
      .select(col("url").as("doc_id"), col("main_text"))
    pages.select(col("doc_id"), whole.as("__w"))
      .join(main, Seq("doc_id"), "left")
      .select(col("doc_id"),
        functions.Cleaning.extractPostcode(col("__w"))
          .as("postcode_whole"),
        functions.Cleaning.extractPostcode(col("main_text"))
          .as("postcode_main"),
        functions.Cleaning.extractAbn(col("__w")).as("abn_whole"),
        functions.Cleaning.extractAbn(col("main_text")).as("abn_main"),
        array_join(functions.Cleaning.extractEmails(col("__w")), ",")
          .as("emails_whole"),
        array_join(functions.Cleaning.extractEmails(col("main_text")),
          ",").as("emails_main"))
  }

  /** PQ-ADC compressed-domain ANN
    * ([[graft.operators.Ann.pqCodebooksPortable]] +
    * [[graft.operators.Ann.pqTopK]]): corpus vectors stored as m
    * sub-centroid codes (m bytes vs 4·dim — the billion-scale memory
    * story), queries scored by m lookup-table reads per candidate. The
    * DuckDB oracle unrolls all m sub-quantizer trainings, the code
    * assignment, the LUTs AND the ADC scan, so the whole compression
    * pipeline — not just the ranking — is hash-verified. Params from
    * [[SketchParams.q158]]. */
  def q158PqTopk(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val p = SketchParams.q158
    val emb = t(s, dir, "embeddings")
    // train-once-reuse (opt-in via SPARK_GRAFT_CENTROIDS_DIR, the q92
    // convention): the sub-codebooks the oracle hash-verifies are the
    // model worth persisting; serving then pays only encode + scan
    def trained = Ann.pqCodebooksPortable(emb, "embedding", "vec_id",
      p.m, p.ks, p.iters, p.scale)
    val books = sys.env.get("SPARK_GRAFT_CENTROIDS_DIR") match {
      case Some(root) => Ann.trainOrLoadPqCodebooks(
        s"$root/q158_m${p.m}_ks${p.ks}_iters${p.iters}_scale${p.scale}")(trained)
      case None => trained
    }
    Ann.pqTopK(emb, emb.filter(col("vec_id") < p.maxQueryId),
      "embedding", "vec_id", "vec_id", k = p.k, m = p.m, ks = p.ks,
      iters = p.iters, scale = p.scale, codebooks = Some(books))
  }

  /** Bloom-gated decontamination
    * ([[graft.operators.Dedup.bloomDecontaminate]]): q74's exact screen
    * routed through a distributed-built Bloom prefilter fused into the
    * corpus scan — the blocklist shape that survives benchmarks too big
    * to broadcast. Output is row-identical to the exact screen by
    * construction (no false negatives; false positives die in the
    * confirm join), so the oracle is the exact overlap SQL at q159's
    * own split — the q69-salted adjudication; the pruning ratio itself
    * is measured in BloomDecontamSpec. Params from
    * [[SketchParams.q159]]. */
  def q159BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q159
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("text"))
    val isBench = col("doc_id") % p.benchMod === p.benchRem
    operators.Dedup.bloomDecontaminate(
      docs.filter(!isBench), docs.filter(isBench),
      "text", "doc_id", p.ngram, p.expectedItems, p.fpp)
  }

  /** CCNet-style paragraph-familiarity gate
    * ([[graft.operators.TextAnalysis.paragraphFamiliarityGate]]): the
    * q127 reference bigram model applied per fixed word span, each
    * document carrying its overall and WORST-span fixed-point scores
    * plus a head/middle/tail bucket from an exact ntile — the
    * keep-the-head decision CCNet applies per perplexity tercile, with
    * every ordering key exact BIGINT so the bucketing replays
    * bit-for-bit. Params from [[SketchParams.q160]]. */
  def q160ParagraphGate(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q160
    val docs = t(s, dir, "documents")
    operators.TextAnalysis.paragraphFamiliarityGate(
      docs.filter(col("doc_id") % p.refMod =!= 0),
      docs.filter(col("doc_id") % p.refMod === 0),
      "text", "doc_id", p.spanWords, p.quant, p.nBuckets)
  }

  /** Greedy k-center diverse selection
    * ([[graft.operators.Selection.kCenterAssignment]]): Gonzalez's
    * farthest-point 2-approximation over the embeddings — k diverse
    * exemplars covering the space, every vector labeled with its
    * nearest exemplar and exact integer distance. The oracle unrolls
    * the seed choice and every greedy round, so the SELECTION ITSELF is
    * hash-verified, not just the assignment. Params from
    * [[SketchParams.q161]]. */
  def q161KCenterSelect(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q161
    operators.Selection.kCenterAssignment(
      t(s, dir, "embeddings"), "embedding", "vec_id", p.k, p.scale)
  }

  /** IVF-PQ / IVFADC ([[graft.operators.Ann.ivfPqTopK]]): the serving
    * index billion-scale ANN actually runs — coarse inverted lists
    * prune the scan to nprobe/nlist of the corpus, residual PQ codes
    * compress what remains, per-(query, list) LUTs score candidates
    * with m lookups each. Coarse training, residuals, sub-quantizer
    * training, encoding, probing and the scan are ALL unrolled in the
    * DuckDB oracle. Params from [[SketchParams.q162]]. */
  def q162IvfPqTopk(s: SparkSession, dir: String): DataFrame =
    ivfPqResult(s, dir)

  /** The q162 IVF-PQ result (build + serve at the SketchParams.q162
    * point) is consumed twice — q162 itself and q168's recall audit —
    * and the build trains nlist coarse + m sub-quantizers (a multi-job
    * subplan), so it shares one eager checkpoint per (session, dir):
    * the q133/q148/q152 memo convention. */
  private val ivfPqMemo = SessionMemo.checkpointed()
  private def ivfPqResult(s: SparkSession, dir: String): DataFrame =
    ivfPqMemo(s, dir) {
      val p = SketchParams.q162
      val emb = t(s, dir, "embeddings")
      Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < p.maxQueryId),
        "embedding", "vec_id", "vec_id", k = p.k, nlist = p.nlist,
        nprobe = p.nprobe, m = p.m, ks = p.ks, iters = p.iters,
        scale = p.scale)
    }

  /** Two-stage IVF-PQ serving
    * ([[graft.operators.Ann.ivfPqRefineTopK]]): the q162 ADC scan
    * widened to top-r candidates, then exact integer re-scoring of
    * those r and the final top-k — the FAISS `IndexRefineFlat`
    * refinement every production IVF-PQ deployment ships. The DuckDB
    * twin replays the whole chain: coarse + sub-quantizer trainings,
    * ADC at depth r, the exact re-score, the re-rank. Params from
    * [[SketchParams.q162]]/[[SketchParams.q225]]. */
  def q225IvfPqRefine(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q162
    val pr = SketchParams.q225
    val emb = t(s, dir, "embeddings")
    Ann.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < p.maxQueryId),
      "embedding", "vec_id", "vec_id", k = p.k, r = pr.r,
      nlist = p.nlist, nprobe = p.nprobe, m = p.m, ks = p.ks,
      iters = p.iters, scale = p.scale)
  }

  /** Signed random projection + projected exact top-k
    * ([[graft.operators.Ann.signedProjection]] +
    * [[graft.operators.Ann.projectedTopK]]): Johnson–Lindenstrauss
    * reduction with the md5 ±1 matrix (64→16 = 4× per-distance cost
    * cut), then the brute-force scan in the projected space — project
    * once at ingest, index the projection. The oracle embeds the sign
    * matrix and replays projection + ranking exactly. Params from
    * [[SketchParams.q163]]. */
  def q163JlProjection(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q163
    val emb = t(s, dir, "embeddings")
    Ann.projectedTopK(emb, emb.filter(col("vec_id") < p.maxQueryId),
      "embedding", "vec_id", "vec_id", k = p.k, outDims = p.outDims,
      scale = p.scale)
  }

  /** Cross-source contamination matrix
    * ([[graft.operators.Dedup.sourceOverlapMatrix]]): distinct shared
    * n-grams and directed containment per source pair — the report
    * that exposes mirror sites and double-ingestion before they skew a
    * training mix. Params from [[SketchParams.q164]]. */
  def q164SourceOverlap(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.sourceOverlapMatrix(
      t(s, dir, "documents")
        .select(col("source"), normText(col("text")).as("text")),
      "text", "source", SketchParams.q164.ngram)

  /** BPE compression report
    * ([[graft.operators.TextAnalysis.bpeTokens]] + grouping): per
    * (lang, source), corpus chars vs REAL subword tokens under the
    * q153 merge table and the chars-per-token ratio — the number that
    * drives tokenizer choice and per-language cost accounting. */
  def q165BpeCompression(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        normText(col("text")).as("text"))
    val counts = operators.TextAnalysis.bpeTokens(
        docs.select(col("doc_id"), col("text")),
        "text", "doc_id", SketchParams.q153.merges)
      .groupBy(col("id")).agg(count(lit(1)).as("n_tokens"))
      .select(col("id").as("doc_id"), col("n_tokens"))
    docs.join(counts, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars"),
        col("n_tokens"),
        (col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("chars_per_token"))
  }

  /** Aho–Corasick blocklist gate
    * ([[graft.operators.TextAnalysis.blocklistGate]]): the C4-style
    * banned-phrase screen as ONE codegen'd automaton pass per document
    * — total and distinct-pattern hit counts at a cost independent of
    * blocklist size. The oracle replays overlapping-match semantics by
    * explicit position scans. Params from [[SketchParams.q166]]. */
  def q166BlocklistGate(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.blocklistGate(
      t(s, dir, "documents")
        .select(col("doc_id"), normText(col("text")).as("text")),
      "text", "doc_id", SketchParams.q166.patterns)

  /** Luhn-gated card PII ([[graft.functions.Pii.cardScan]]): card-shaped
    * digit runs counted, mod-10-VALIDATED (the checksum kills the false
    * positives a bare length regex produces), and only valid runs
    * redacted. The fixture synthesizes one known-valid and one
    * known-invalid run per customer IN-QUERY — the check digit is
    * computed by both engines, so the oracle verifies the generator AND
    * the validator. Params from [[SketchParams.q167]]. */
  def q167LuhnCards(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q167
    val pan = concat(lit("4"),
      lpad((col("c_custkey") % p.panMod).cast("string"), 14, "0"))
    val chk = functions.Pii.luhnCheckDigit(pan)
    val contact = concat(col("c_name"),
      when(col("c_custkey") % p.validMod === 0,
        concat(lit(" card "), pan, chk.cast("string"))).otherwise(lit("")),
      lit(" ref "), pan, ((chk + 1) % 10).cast("string"))
    t(s, dir, "customer")
      .select(col("c_custkey"), functions.Pii.cardScan(contact).as("__s"))
      .select(col("c_custkey"),
        col("__s.n_digit_runs").as("n_digit_runs"),
        col("__s.n_valid_cards").as("n_valid_cards"),
        (col("__s.n_valid_cards") > 0).as("has_card"),
        col("__s.redacted").as("redacted"))
  }

  /** ANN recall audit ([[graft.operators.Ann.exactTopKPortable]] +
    * [[graft.operators.Ann.annRecallAudit]]): per-query recall@k of the
    * q162 IVF-PQ index against exact integer kNN over the same query
    * sample — the q144 tune→measure convention applied to the vector-
    * index family, hash-verified end-to-end (the oracle nests the FULL
    * q162 pipeline). Params shared with [[SketchParams.q162]]. */
  def q168AnnRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q162
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < p.maxQueryId)
    val exact = Ann.exactTopKPortable(emb, queries,
      "embedding", "vec_id", "vec_id", k = p.k, scale = p.scale)
    // the audited index IS q162's memoized result — the audit reads the
    // checkpoint instead of re-training the same model
    Ann.annRecallAudit(exact, ivfPqResult(s, dir))
  }

  /** End-to-end curation run — the training-data flagship composition
    * (the q141 convention applied to the curation family): ONE decision
    * table over the q49 corpus slice composing the Gopher quality gate
    * ([[graft.operators.TextAnalysis.gopherQuality]]), the rare-phrase
    * Aho–Corasick blocklist, near-dup drop against the MEMOIZED q49
    * minhash pair list (drop any doc duplicating a smaller id), and
    * the q78 prefix-sum packing of the survivors — per doc: every gate
    * verdict, the final keep decision, and the shard it lands in, all
    * hash-verified by one composed oracle. Params from
    * [[SketchParams.q169]]. */
  def q169CurationRun(s: SparkSession, dir: String): DataFrame = {
    val p49 = SketchParams.q49
    val p = SketchParams.q169
    val corpus = nearDupCorpus(s, dir)
      .filter(col("doc_id") % p49.corpusMod === 0)
    val quality = operators.TextAnalysis
      .gopherQuality(corpus, "text", "doc_id")
      .select(col("doc_id"), col("keep").as("keep_quality"))
    val blocked = operators.TextAnalysis
      .blocklistGate(corpus, "text", "doc_id", p.patterns)
      .select(col("doc_id"), col("blocked"))
    val dupIds = q49Pairs(s, dir)
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    val flags = corpus
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .join(quality, Seq("doc_id"))
      .join(blocked, Seq("doc_id"))
      .join(dupIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("keep_quality"),
        col("blocked"), coalesce(col("__dup"), lit(false)).as("dup_drop"))
      .withColumn("kept",
        col("keep_quality") && !col("blocked") && !col("dup_drop"))
    val packed = operators.Packing.assignShards(
        flags.filter(col("kept")).select(col("doc_id"), col("n_tokens")),
        "n_tokens", "doc_id", p.budget)
      .select(col("doc_id"), col("shard_id"))
    flags.join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("keep_quality"),
        col("blocked"), col("dup_drop"), col("kept"), col("shard_id"))
  }

  /** Distinctive terms per source
    * ([[graft.operators.TextAnalysis.distinctiveTerms]]): exact
    * fixed-point rate-ratio keywords, top-k per source via the BottomK
    * heap — the dataset-card report. Params from
    * [[SketchParams.q170]]. */
  def q170DistinctiveTerms(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q170
    operators.TextAnalysis.distinctiveTerms(
      t(s, dir, "documents")
        .select(col("source"), normText(col("text")).as("text")),
      "text", "source", p.k, p.quant, p.minCount)
  }

  /** Token-distribution drift ([[graft.operators.Stats.tokenDrift]]):
    * χ² per md5 feature-hash bucket between the even- and odd-id
    * snapshot halves — the ingest-shift monitor, exact counts + one
    * identically-shaped double chain. Params from
    * [[SketchParams.q171]]. */
  def q171TokenDrift(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q171
    operators.Stats.tokenDrift(
      t(s, dir, "documents")
        .select(col("doc_id"), normText(col("text")).as("text")),
      "text", col("doc_id") % p.splitMod === 0, p.nBuckets)
  }

  /** Lang-id confusion matrix: the q22 classifier evaluated against the
    * corpus's labeled `lang` column — per (true, predicted) counts and
    * per-true-class fractions, the classifier-eval report (the q116
    * match-eval convention applied to lang-id). */
  def q172LangIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = q22LangId(s, dir)
    val m = pred.groupBy(col("lang"), col("lang_id"))
      .agg(count(lit(1)).as("n"))
    val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
    m.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("lang_id"), col("n"),
        (col("n").cast("double") / col("__t").cast("double"))
          .as("frac_of_true"))
  }

  /** Poisson bootstrap over corpus mean document length
    * ([[graft.operators.Sampling.poissonBootstrap]]): B single-pass
    * resampling replicates with exact md5-drawn Poisson(1) weights —
    * the replicate means' spread is the metric's sampling
    * distribution, and the whole resample is hash-verified. Params
    * from [[SketchParams.q173]]. */
  def q173PoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q173
    operators.Sampling.poissonBootstrap(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "n_chars", "doc_id", p.replicates, p.seedTag)
  }

  /** MAD robust outlier gate ([[graft.operators.Stats.madOutliers]]):
    * per-language document-length outliers by Hampel's |x − med| >
    * k·MAD rule — the robust replacement for fixed length thresholds
    * (50% breakdown point; a handful of giant docs can't drag the gate
    * the way they drag a mean ± kσ). Params from
    * [[SketchParams.q174]]. */
  def q174MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q174
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    // derived contamination (the q86/q136 convention): every injMod-th
    // doc re-added at injMul x its length — the gate must catch exactly
    // this mass while the median stays put
    val injected = base.filter(col("doc_id") % p.injMod === 0)
      .select((col("doc_id") + p.idOffset).as("doc_id"), col("lang"),
        (col("n_chars") * p.injMul).as("n_chars"))
    operators.Stats.madOutliers(base.unionByName(injected),
      "n_chars", "doc_id", "lang", p.k)
  }

  /** Leakage-safe k-fold CV assignment
    * ([[graft.operators.Sampling.leakageSafeFolds]]): every q49
    * near-dup cluster draws ONE md5-deterministic fold, so no fold
    * holds a near-copy of another's data — q114's contamination guard
    * applied to cross-validation, over the same memoized pair list.
    * Params from [[SketchParams.q175]]. */
  def q175KfoldSplit(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q175
    operators.Sampling.leakageSafeFolds(q49Corpus(s, dir), "doc_id",
      q49Pairs(s, dir), "id_a", "id_b", p.folds, p.seed, maxIter = 25)
  }

  /** Rendezvous (HRW) routing + resize-movement report
    * ([[graft.operators.Layout.rendezvousAssign]]): every doc's worker
    * before and after growing the worker set by one — the oracle
    * hash-verifies the routing AND the movement flags; the spec pins
    * the HRW guarantee (movers only ever land on the NEW worker,
    * ~1/(n+1) of the corpus). Params from [[SketchParams.q176]]. */
  def q176Rendezvous(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q176
    t(s, dir, "documents").select(col("doc_id"),
        operators.Layout.rendezvousAssign(col("doc_id"), p.before)
          .as("worker_before"),
        operators.Layout.rendezvousAssign(col("doc_id"),
          p.before :+ p.added).as("worker_after"))
      .withColumn("moved", col("worker_before") =!= col("worker_after"))
  }

  /** Unicode NFC normalization gate
    * ([[graft.functions.NfcNormalize]]): encoding variants of the same
    * text (precomposed U+00E9 vs 'e'+combining U+0301, built in-query
    * by both engines) collapse to ONE fingerprint after NFC — the
    * hygiene pass that keeps exact dedup and every hash-keyed stage
    * from treating byte-variants as distinct documents. Params from
    * [[SketchParams.q177]]. */
  def q177NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q177
    val raw = concat(lit("caf"),
      when(col("doc_id") % p.decompMod === 0, lit("e\u0301"))
        .otherwise(lit("\u00e9")),
      lit(" menu item "),
      expr(s"CAST(doc_id DIV ${p.decompMod} AS STRING)"))
    val nfc = functions.exprs.nfc_normalize(raw)
    t(s, dir, "documents").select(col("doc_id"),
      length(raw).cast("long").as("raw_chars"),
      length(nfc).cast("long").as("nfc_chars"),
      (raw =!= nfc).as("changed"),
      md5(nfc).as("fp"))
  }

  /** Weighted-Jaccard near-dup join
    * ([[graft.operators.Dedup.weightedJaccardJoin]]): tf-aware
    * resemblance via the integer-expansion reduction — the whole
    * md5-portable banded pipeline reused over t#1…t#c expansions, so
    * set Jaccard of the expansions IS the weighted Jaccard of capped
    * counts, and the oracle replays expansion + sketch + verify.
    * Params from [[SketchParams.q178]]. */
  def q178WeightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val p = SketchParams.q178
    operators.Dedup.weightedJaccardJoin(
      nearDupCorpus(s, dir).filter(col("doc_id") % p.corpusMod === 0),
      "text", "doc_id", p.cap, p.numHashes, p.bands, p.jaccardThreshold)
  }

  /** Degree assortativity
    * ([[graft.operators.Components.degreeAssortativity]]) of the
    * SHARED q113 co-order graph (the memoized edge checkpoint — no
    * rebuild): Newman's one-number structure check; on a dedup or
    * co-occurrence graph a sudden assortative shift usually means a
    * template flooded the corpus. Exact BIGINT moments + one double
    * chain, hash-verified. */
  def q179Assortativity(s: SparkSession, dir: String): DataFrame =
    operators.Components.degreeAssortativity(
      coOrderEdges(s, dir), "a", "b")

  /** Shard packing under EXACT BPE token budgets — the q153 tokenizer
    * closing its loop with q78's distributed prefix-sum packing: per-doc
    * counts come from the real merge-table segmentation (one codegen
    * kernel call + count, no surrogate), so the shard capacity is the
    * budget a training run actually bills against. Params from
    * [[SketchParams.q153]]/[[SketchParams.q155]]. */
  def q155BpePack(s: SparkSession, dir: String): DataFrame = {
    val counts = operators.TextAnalysis.bpeTokens(
        t(s, dir, "documents")
          .select(col("doc_id"), normText(col("text")).as("text")),
        "text", "doc_id", SketchParams.q153.merges)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"))
      .select(col("id").as("doc_id"), col("n_tokens"))
    operators.Packing.assignShards(counts, "n_tokens", "doc_id",
      SketchParams.q155.maxTokensPerShard)
  }

  // ------------------------------------------------------------- contract

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_revenue_by_priority" -> (q02RevenueByPriority _),
    "q03_rule_join" -> (q03RuleJoin _),
    "q04_semi_join" -> (q04SemiJoin _),
    "q05_anti_join" -> (q05AntiJoin _),
    "q06_distinct" -> (q06Distinct _),
    "q07_window_top1" -> (q07WindowTop1 _),
    "q08_match_cascade" -> (qMatchCascade _),
    "q09_clean_names" -> (q09CleanNames _),
    "q10_extract_contacts" -> (q10ExtractContacts _),
    "q11_abn_validate" -> (q11AbnValidate _),
    "q12_json_extract" -> (q12JsonExtract _),
    "q13_hourly_windows" -> (q13HourlyWindows _),
    "q14_region_monthly" -> (q14RegionMonthly _),
    "q15_union_stages" -> (q15UnionStages _),
    "q16_rolling_agg" -> (q16RollingAgg _),
    "q17_above_avg" -> (q17AboveAvg _),
    "q18_hash_sample" -> (q18HashSample _),
    "q19_to_json" -> (q19ToJson _),
    "q26_dedup_pipeline" -> (q26DedupPipeline _),
    "q27_quality_filter" -> (q27QualityFilter _),
    "q28_pivot" -> (q28Pivot _),
    "q36_asof_join" -> (q36AsofJoin _),
    "q38_term_stats" -> (q38TermStats _),
    "q39_bigrams" -> (q39Bigrams _),
    "q37_range_join" -> (q37RangeJoin _),
    "q20_dedup_exact" -> (q20DedupExact _),
    "q21_token_stats" -> (q21TokenStats _),
    "q22_lang_id" -> (q22LangId _),
    "q23_fingerprint" -> (q23Fingerprint _),
    "q24_cosine_topk" -> (q24CosineTopK _),
    "q25_binary_meta" -> (q25BinaryMeta _),
    "q30_minhash_lsh" -> (q30MinHashLsh _),
    "q31_simhash" -> (q31SimHash _),
    "q32_ngram_jaccard" -> (q32NgramJaccard _),
    "q33_embed_neardup" -> (q33EmbedNearDup _),
    "q34_lsh_topk" -> (q34LshTopK _),
    "q35_token_sort_fuzzy" -> (q35TokenSortFuzzy _),
    "q40_media_pipeline" -> (q40MediaPipeline _),
    "q41_sql_surface" -> (q41SqlSurface _),
    "q42_length_quantiles" -> (q42LengthQuantiles _),
    "q43_sessions" -> (q43Sessions _),
    "q44_top_parts_per_brand" -> (q44TopPartsPerBrand _),
    "q45_set_ops" -> (q45SetOps _),
    "q46_null_semantics" -> (q46NullSemantics _),
    "q47_stratified_sample" -> (q47StratifiedSample _),
    "q48_funnel" -> (q48Funnel _),
    "q49_minhash_oracle" -> (q49MinhashOracle _),
    "q50_simhash_oracle" -> (q50SimhashOracle _),
    "q51_ann_lsh_oracle" -> (q51LshAnnOracle _),
    "q52_rollup" -> (q52Rollup _),
    "q53_stats_moments" -> (q53StatsMoments _),
    "q54_explode_tokens" -> (q54ExplodeTokens _),
    "q55_ivf_topk" -> (q55IvfTopK _),
    "q56_dedup_clusters" -> (q56DedupClusters _),
    "q57_window_distribution" -> (q57WindowDistribution _),
    "q58_cube" -> (q58Cube _),
    "q59_array_ops" -> (q59ArrayOps _),
    "q60_salted_agg" -> (q60SaltedAgg _),
    "q61_full_outer" -> (q61FullOuter _),
    "q62_collect_sorted" -> (q62CollectSorted _),
    "q63_window_nav" -> (q63WindowNav _),
    "q64_subqueries" -> (q64Subqueries _),
    "q65_string_funcs" -> (q65StringFuncs _),
    "q66_date_ops" -> (q66DateOps _),
    "q67_incremental_dedup" -> (q67IncrementalDedup _),
    "q68_ivf_oracle" -> (q68IvfOracle _),
    "q69_salted_fuzzy" -> (q69SaltedFuzzy _),
    "q70_repetition_stats" -> (q70RepetitionStats _),
    "q71_gopher_quality" -> (q71GopherQuality _),
    "q72_bigram_repetition" -> (q72BigramRepetition _),
    "q73_token_sort_oracle" -> (q73TokenSortOracle _),
    "q74_decontaminate" -> (q74Decontaminate _),
    "q75_pii_redact" -> (q75PiiRedact _),
    "q76_substring_dup" -> (q76SubstringDup _),
    "q77_span_dedup" -> (q77SpanDedup _),
    "q78_shard_pack" -> (q78ShardPack _),
    "q79_interval_join" -> (q79IntervalJoin _),
    "q80_asof_forward" -> (q80AsofForward _),
    "q81_semantic_dedup" -> (q81SemanticDedup _),
    "q82_mixture_sample" -> (q82MixtureSample _),
    "q83_quantized_topk" -> (q83QuantizedTopK _),
    "q84_kmv_distinct" -> (q84KmvDistinct _),
    "q85_doc_chunks" -> (q85DocChunks _),
    "q86_domain_gate" -> (q86DomainGate _),
    "q87_url_canonical" -> (q87UrlCanonical _),
    "q88_char_diversity" -> (q88CharDiversity _),
    "q89_zorder" -> (q89Zorder _),
    "q90_lang_balance" -> (q90LangBalance _),
    "q91_lsh_multiprobe" -> (q91LshMultiProbe _),
    "q92_ivf_kmeans" -> (q92IvfKmeans _),
    "q93_substring_general" -> (q93SubstringGeneral _),
    "q94_semantic_clusters" -> (q94SemanticClusters _),
    "q95_target_affinity" -> (q95TargetAffinity _),
    "q96_heavy_sources" -> (q96HeavySources _),
    "q97_shuffled_pack" -> (q97ShuffledPack _),
    "q98_quality_classifier" -> (q98QualityClassifier _),
    "q99_pagerank" -> (q99PageRank _),
    "q100_topk_agg" -> (q100TopKAgg _),
    "q101_scd2_merge" -> (q101Scd2 _),
    "q102_grouped_quantiles" -> (q102GroupedQuantiles _),
    "q103_retention_cohorts" -> (q103RetentionCohorts _),
    "q104_curriculum_pack" -> (q104CurriculumPack _),
    "q105_session_window" -> (q105SessionWindow _),
    "q106_weighted_pagerank" -> (q106WeightedPageRank _),
    "q107_prefix_join" -> (q107PrefixJoin _),
    "q108_media_meta" -> (q108MediaMeta _),
    "q109_approx_quantiles" -> (q109ApproxQuantiles _),
    "q110_media_gate" -> (q110MediaGate _),
    "q111_wav_meta" -> (q111WavMeta _),
    "q112_bm25" -> (q112Bm25 _),
    "q113_triangles" -> (q113Triangles _),
    "q114_leakage_split" -> (q114LeakageSplit _),
    "q115_clustering_coeff" -> (q115ClusteringCoeff _),
    "q116_match_eval" -> (q116MatchEval _),
    "q117_collocations" -> (q117Collocations _),
    "q118_kcore" -> (q118KCore _),
    "q119_dedup_eval" -> (q119DedupEval _),
    "q120_hits" -> (q120Hits _),
    "q121_histogram" -> (q121Histogram _),
    "q122_media_ann_oracle" -> (q122MediaAnnOracle _),
    "q123_fellegi_sunter" -> (q123FellegiSunter _),
    "q124_blocking_eval" -> (q124BlockingEval _),
    "q125_personalized_pagerank" -> (q125PersonalizedPagerank _),
    "q126_em_linkage" -> (q126EmLinkage _),
    "q127_bigram_familiarity" -> (q127BigramFamiliarity _),
    "q128_mutual_best" -> (q128MutualBest _),
    "q129_bfs_hops" -> (q129BfsHops _),
    "q130_priority_sample" -> (q130PrioritySample _),
    "q131_em_posteriors" -> (q131EmPosteriors _),
    "q132_group_priority_sample" -> (q132GroupPrioritySample _),
    "q133_label_propagation" -> (q133LabelPropagation _),
    "q134_rank_fusion" -> (q134RankFusion _),
    "q135_lpa_modularity" -> (q135LpaModularity _),
    "q136_snapshot_diff" -> (q136SnapshotDiff _),
    "q137_weighted_lpa" -> (q137WeightedLpa _),
    "q138_order_concurrency" -> (q138OrderConcurrency _),
    "q139_order_coverage" -> (q139OrderCoverage _),
    "q140_rand_index" -> (q140RandIndex _),
    "q141_variant_cascade" -> (q141VariantCascade _),
    "q142_sorted_neighborhood" -> (q142SortedNeighborhood _),
    "q143_maxsim_topk" -> (q143MaxSim _),
    "q144_lsh_fidelity" -> (q144LshFidelity _),
    "q145_importance_ratio" -> (q145ImportanceRatio _),
    "q146_mixture_plan" -> (q146MixturePlan _),
    "q147_dedup_report" -> (q147DedupReport _),
    "q148_min_spanning_forest" -> (q148MinSpanningForest _),
    "q149_hilbert_layout" -> (q149HilbertLayout _),
    "q150_dendrogram_cut" -> (q150DendrogramCut _),
    "q151_containment_join" -> (q151ContainmentJoin _),
    "q152_knn_graph" -> (q152KnnGraph _),
    "q153_bpe_tokens" -> (q153BpeTokens _),
    "q154_semantic_linkage" -> (q154SemanticLinkage _),
    "q155_bpe_pack" -> (q155BpePack _),
    "q156_mp4_meta" -> (q156Mp4Meta _),
    "q157_knn_probe" -> (q157KnnProbe _),
    "q158_pq_topk" -> (q158PqTopk _),
    "q159_bloom_decontaminate" -> (q159BloomDecontaminate _),
    "q160_paragraph_gate" -> (q160ParagraphGate _),
    "q161_kcenter_select" -> (q161KCenterSelect _),
    "q162_ivfpq_topk" -> (q162IvfPqTopk _),
    "q163_jl_projection" -> (q163JlProjection _),
    "q164_source_overlap" -> (q164SourceOverlap _),
    "q165_bpe_compression" -> (q165BpeCompression _),
    "q166_blocklist_gate" -> (q166BlocklistGate _),
    "q167_luhn_cards" -> (q167LuhnCards _),
    "q168_ann_recall_audit" -> (q168AnnRecallAudit _),
    "q169_curation_run" -> (q169CurationRun _),
    "q170_distinctive_terms" -> (q170DistinctiveTerms _),
    "q171_token_drift" -> (q171TokenDrift _),
    "q172_langid_confusion" -> (q172LangIdConfusion _),
    "q173_poisson_bootstrap" -> (q173PoissonBootstrap _),
    "q174_mad_outliers" -> (q174MadOutliers _),
    "q175_kfold_split" -> (q175KfoldSplit _),
    "q176_rendezvous" -> (q176Rendezvous _),
    "q177_nfc_normalize" -> (q177NfcNormalize _),
    "q178_weighted_jaccard" -> (q178WeightedJaccard _),
    "q179_assortativity" -> (q179Assortativity _),
    "q180_knn_merge" -> (q180KnnMerge _),
    "q181_phash_neardup" -> (q181PhashNeardup _),
    "q182_main_content" -> (q182MainContent _),
    "q183_beam_search" -> (q183BeamSearch _),
    "q184_main_curation" -> (q184MainCuration _),
    "q185_main_extract_parity" -> (q185MainExtractParity _),
    "q186_hamming_fidelity" -> (q186HammingFidelity _),
    "q187_knn_delete" -> (q187KnnDelete _),
    "q188_kn_trigram" -> (q188KnTrigram _),
    "q189_hnsw_beam" -> (q189HierarchicalBeam _),
    "q190_perceptron" -> (q190Perceptron _),
    "q191_hybrid_retrieval" -> (q191HybridRetrieval _),
    "q192_triplet_mining" -> (q192TripletMining _),
    "q193_learned_curation" -> (q193LearnedCuration _),
    "q194_pack_sequences" -> (q194PackSequences _),
    "q195_wordpiece" -> (q195Wordpiece _),
    "q196_curation_pack" -> (q196CurationPack _),
    "q197_bm25_index" -> (q197Bm25IndexDump _),
    "q198_pack_manifest" -> (q198PackManifest _),
    "q199_multiclass_perceptron" -> (q199MulticlassPerceptron _),
    "q200_kn_curriculum" -> (q200KnCurriculum _),
    "q201_unimax_alloc" -> (q201UnimaxAlloc _),
    "q202_wordpiece_fertility" -> (q202WordpieceFertility _),
    "q203_moore_lewis" -> (q203MooreLewis _),
    "q204_soft_dedup" -> (q204SoftDedup _),
    "q205_dsir_resample" -> (q205DsirResample _),
    "q206_ks_drift" -> (q206KsDrift _),
    "q207_ks_by_source" -> (q207KsBySource _),
    "q208_emb_norm_drift" -> (q208EmbNormDrift _),
    "q209_pr_curve" -> (q209PrCurve _),
    "q210_auc_exact" -> (q210AucExact _),
    "q211_calibration_bins" -> (q211CalibrationBins _),
    "q212_auc_by_lang" -> (q212AucByLang _),
    "q213_curation_funnel" -> (q213CurationFunnel _),
    "q214_matryoshka_recall" -> (q214MatryoshkaRecall _),
    "q215_isotonic_fit" -> (q215IsotonicFit _),
    "q216_dsir_bigrams" -> (q216DsirBigrams _),
    "q217_unigram_lm" -> (q217UnigramLm _),
    "q218_data_card" -> (q218DataCard _),
    "q219_unigram_fertility" -> (q219UnigramFertility _),
    "q220_tokenized_pack" -> (q220TokenizedPack _),
    "q221_temperature_plan" -> (q221TemperaturePlan _),
    "q222_exact_substr" -> (q222ExactSubstr _),
    "q223_gopher_repetition" -> (q223GopherRepetition _),
    "q224_trained_reranker" -> (q224TrainedReranker _),
    "q225_ivfpq_refine" -> (q225IvfPqRefine _),
    "q226_tokenized_temp_plan" -> (q226TokenizedTempPlan _),
    "q227_tokenized_card_budget" -> (q227TokenizedCardBudget _),
    "q228_repetition_funnel" -> (q228RepetitionFunnel _),
    "q229_exact_substr_decontam" -> (q229ExactSubstrDecontam _),
    "q230_substr_index_probe" -> (q230SubstrIndexProbe _),
    "q231_normalized_decontam" -> (q231NormalizedDecontam _),
    "q232_memorization_report" -> (q232MemorizationReport _),
    "q233_dup_spectrum" -> (q233DupSpectrum _),
    "q234_memorization_probe" -> (q234MemorizationProbe _),
    "q236_dedup_temp_plan" -> (q236DedupTempPlan _))

  def oracleSql: Map[String, String] = OracleSql.all
}
