package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cleaning

/** S2–S5 — the Common Crawl extraction chain (SURVEY.md §2.1), re-expressed
  * over a DataFrame of (url, html) rows. The reference fetches one page per
  * HTTP round-trip serially (commoncrawl_scraper.py:211-222); here fetching
  * is a pluggable per-partition stage ([[Fetcher]]) and all field
  * extraction (F1–F8, F15) is codegen'd column expressions, so the parse of
  * billions of pages is a single map-only pass.
  */
object CrawlParse {

  /** HTML → visible-ish text: drop script/style blocks, strip tags,
    * collapse whitespace (the BeautifulSoup get_text stand-in,
    * commoncrawl_scraper.py:198-199). */
  def htmlText(html: Column): Column =
    Cleaning.cleanText(regexp_replace(
      regexp_replace(html,
        "(?is)<(script|style)[^>]*>.*?</\\1>", " "),
      "(?s)<[^>]+>", " "))

  /** `<title>` contents (commoncrawl_scraper.py:201-202). */
  def htmlTitle(html: Column): Column =
    Cleaning.cleanText(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1))

  /** All `<script type="application/ld+json">` payloads as a JSON-array
    * string (commoncrawl_scraper.py:187-196 keeps them as an opaque blob). */
  def jsonLd(html: Column): Column =
    to_json(regexp_extract_all(html,
      lit("(?is)<script[^>]*application/ld\\+json[^>]*>(.*?)</script>"), lit(1)))

  /** Full parse: (url, html) → the 10-field stg.common_crawl_raw_companies
    * shape (commoncrawl_scraper.py:183-209, [[graft.model.CrawlCompany]]).
    *
    * The page text and the domain are computed once per page, in a
    * projection of their own: each has several consumers, so Spark keeps
    * that projection instead of inlining the regex chain into every
    * consumer (common-subexpression elimination would not dedupe it across
    * the interpreted ABN pick and both of its `coalesce` branches). */
  def parse(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    val (html, text, domain) = (col("__html"), col("__text"), col("__domain"))
    pages
      .filter(length(col(htmlCol)) > 0) // P3 — empty-fetch drop (:219-221)
      .select(col(urlCol).as("url"), col(htmlCol).as("__html"),
        htmlText(col(htmlCol)).as("__text"),
        Cleaning.extractDomain(col(urlCol)).as("__domain"))
      .select(
        col("url"),
        domain.as("domain"),
        Cleaning.extractCompanyName(domain).as("company_name"),
        Cleaning.extractAbn(text).as("abn"),
        htmlTitle(html).as("title"),
        Cleaning.extractEmails(text).as("emails"),
        Cleaning.extractPhones(text).as("phones"),
        Cleaning.extractPostcode(text).as("postcode"),
        jsonLd(html).as("structured_data"),
        Cleaning.snippet(text).as("snippet"))
  }


  /** Kohlschütter block segmentation + shallow-feature classification —
    * the production step the reference's S5 chain skips
    * (commoncrawl_scraper.py:183-209 takes whole-page text; every real
    * web corpus runs a boilerplate pass first). Per page: split the
    * HTML into visual blocks at block-tag boundaries
    * ([[graft.functions.HtmlBlockKernel.BlockTagPattern]];
    * script/style/comments stripped first — a comment containing '>'
    * would otherwise leak text past the generic tag strip, ADVICE
    * r14), compute each block's word count,
    * anchor-word count, and link density, then classify with
    * boilerpipe's public NumWordsRulesClassifier — the WSDM 2010
    * decision tree over (prev link density, current/prev/next word
    * counts, current link density) with its published thresholds
    * (0.333333 / 0.555556 / 16 / 15 / 4 / 40 / 17). Missing prev/next
    * blocks contribute (0 words, 0.0 density), boilerpipe's empty-block
    * convention.
    *
    * Scale shape: segmentation + per-block features are ONE fused
    * codegen kernel call per page (r22,
    * [[graft.functions.HtmlBlockKernel]] — bit-identical to the old
    * 4-pass regexp_replace chain + per-block extraction, spec-pinned
    * in `HtmlBlockKernelSpec`) and ONE hash exchange on the page key
    * for the prev/next window — no joins, no corpus-wide state; the
    * q182 oracle replays segmentation, features, and the tree
    * verbatim.
    *
    * @return (url, block_idx, text, n_words, n_anchor_words,
    *         link_density, keep) — one row per non-empty block,
    *         `block_idx` 1-based in document order */
  def blockFeatures(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = pages.select(col(urlCol).as("url"),
        explode(graft.functions.exprs.html_blocks(col(htmlCol)))
          .as("__b"))
      .select(col("url"), col("__b.pos").as("pos"),
        col("__b.text").as("text"), col("__b.n_words").as("n_words"),
        col("__b.n_anchor_words").as("n_anchor_words"))
      .filter(col("n_words") > 0)
    val w = Window.partitionBy(col("url")).orderBy(col("pos"))
    blocks
      .withColumn("block_idx", row_number().over(w).cast("long"))
      .withColumn("link_density",
        col("n_anchor_words").cast("double") / col("n_words"))
      .withColumn("__prev_words", coalesce(lag(col("n_words"), 1).over(w),
        lit(0L)))
      .withColumn("__prev_ld", coalesce(lag(col("link_density"), 1).over(w),
        lit(0.0)))
      .withColumn("__next_words", coalesce(lead(col("n_words"), 1).over(w),
        lit(0L)))
      .withColumn("keep",
        when(col("link_density") > 0.333333, lit(false))
          .when(col("__prev_ld") <= 0.555556,
            col("n_words") > 16 || col("__next_words") > 15 ||
              col("__prev_words") > 4)
          .otherwise(col("n_words") > 40 || col("__next_words") > 17))
      .select(col("url"), col("block_idx"), col("text"), col("n_words"),
        col("n_anchor_words"), col("link_density"), col("keep"))
  }

  /** Main-content extraction: the kept blocks of [[blockFeatures]]
    * joined back into one text per page, document order — the optional
    * stage in front of the curation gates (drop it in before Gopher /
    * blocklist / dedup and they stop scoring nav bars and footers). */
  def mainContent(pages: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame =
    blockFeatures(pages, urlCol, htmlCol)
      .filter(col("keep"))
      .groupBy(col("url"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("block_idx"), col("text")))),
        s => s.getField("text")), " ").as("main_text"))

  /** S4 — WARC record point-fetch boundary. The reference issues one HTTP
    * Range request per index row (commoncrawl_scraper.py:167-181); at scale
    * this is an I/O-bound `mapPartitions` fan-out with a pooled client per
    * partition. Tests inject a deterministic stub; a real implementation
    * supplies an HTTP-backed Fetcher. */
  trait Fetcher extends Serializable {
    /** Return the page body for (warcFile, offset, length), or "" on error
      * (errors drop the row downstream, :219-221). */
    def fetch(warcFile: String, offset: Long, length: Long): String
  }

  /** §3.2 composition — the whole Common Crawl entry point as one lazy
    * DAG: index rows → per-partition WARC fetch → field extraction →
    * stg.common_crawl_raw_companies shape. (The reference runs this as a
    * serial driver loop with one HTTP round-trip per page,
    * commoncrawl_scraper.py:211-222.) */
  def ingest(index: DataFrame, fetcher: Fetcher): DataFrame =
    parse(fetchPages(index, fetcher))

  /** Run the fetch stage: index rows (url, warc_filename, offset, length) →
    * (url, html) via per-partition fetcher fan-out. */
  def fetchPages(index: DataFrame, fetcher: Fetcher): DataFrame = {
    val spark = index.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("html", StringType)))
    val rdd = index.select(col("url").cast("string"),
        col("warc_filename").cast("string"),
        col("offset").cast("long"), col("length").cast("long"))
      .rdd.mapPartitions { it =>
        it.map { r =>
          Row(r.getString(0), fetcher.fetch(r.getString(1), r.getLong(2), r.getLong(3)))
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
