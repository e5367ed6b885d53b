package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference pipeline's cleaning / standardization / extraction scalar
  * functions (SURVEY.md §2.7 F1–F17), re-expressed as pure `Column`
  * combinators over Spark's codegen'd builtin expressions. Citations are
  * file:line into /root/reference/.
  */
object Cleaning {

  /** F1 — collapse whitespace runs to single spaces, trim
    * (extract/commoncrawl_scraper.py:25-26). */
  def cleanText(c: Column): Column =
    regexp_replace(trim(c), "\\s+", " ")

  /** F2 — URL → netloc, strip leading `www.`
    * (extract/commoncrawl_scraper.py:28-30). Regex-based (engine-portable)
    * rather than parse_url so the DuckDB oracle can mirror it exactly. */
  def extractDomain(url: Column): Column =
    regexp_replace(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1),
      "^www\\.", "")

  /** F3 — domain minus first matching TLD suffix, '-'/'_' → space,
    * title-case (extract/commoncrawl_scraper.py:32-38). The reference strips
    * at most ONE suffix, trying `.com.au .net.au .org.au .au .com .net .org`
    * in that priority order — a single alternation with the compound TLDs
    * first reproduces that. */
  def extractCompanyName(domain: Column): Column =
    exprs.py_title(translate(
      regexp_replace(domain,
        "\\.(?:com\\.au|net\\.au|org\\.au|au|com|net|org)$", ""),
      "-_", "  "))

  /** F4 — ABN mod-89 checksum (extract/commoncrawl_scraper.py:40-48). */
  def abnValid(c: Column): Column = exprs.abn_valid(c)

  /** F5 — first checksum-valid ABN-looking substring of free text, else null
    * (extract/commoncrawl_scraper.py:50-57). Two patterns tried in order;
    * within each, first match whose space-stripped form passes F4. */
  def extractAbn(text: Column): Column = {
    def firstValid(pattern: String, group: Int): Column = {
      val candidates = regexp_extract_all(text, lit(pattern), lit(group))
      val valid = filter(candidates,
        x => exprs.abn_valid(regexp_replace(x, "[\\s-]", "")))
      element_at(concat(valid, array(lit(null).cast("string"))), 1)
    }
    val cleaned = (c: Column) => regexp_replace(c, "[\\s-]", "")
    val hit = coalesce(
      firstValid("(?i)ABN[:\\s]*([0-9 ]{11,20})", 1),
      firstValid("\\b(\\d{2}\\s?\\d{3}\\s?\\d{3}\\s?\\d{3})\\b", 1))
    cleaned(hit)
  }

  /** F6 — all email-shaped substrings → array
    * (extract/commoncrawl_scraper.py:59-60). */
  def extractEmails(text: Column): Column =
    regexp_extract_all(text,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0))

  /** F7 — all AU phone-shaped substrings → array
    * (extract/commoncrawl_scraper.py:62-63). */
  def extractPhones(text: Column): Column =
    regexp_extract_all(text,
      lit("(?:\\+61\\s?[2-478](?:[ -]?\\d){8}|\\(0[2-478]\\)(?:[ -]?\\d){8}|0[2-478](?:[ -]?\\d){8})"),
      lit(0))

  /** F8 — first AU postcode (0289 prefixes or 1000-9999), else null
    * (extract/commoncrawl_scraper.py:65-67). */
  def extractPostcode(text: Column): Column =
    nullif(regexp_extract(text, "\\b(0[289][0-9]{2}|[1-9][0-9]{3})\\b", 1), lit(""))

  /** F9 — company-name normalization: non-[alnum space &] → space, collapse,
    * trim, title-case; null-safe (transform/data_cleaning.py:56-61).
    * Title-casing uses [[graft.functions.PyTitle]] for exact Python
    * `str.title()` parity ("3d"→"3D", "o'brien"→"O'Brien" — `initcap`
    * differs on those boundaries, SURVEY.md §7.3). */
  def cleanCompanyName(name: Column): Column =
    exprs.py_title(trim(regexp_replace(
      regexp_replace(name, "[^A-Za-z0-9 &]", " "), "\\s+", " ")))

  /** F10 — strip non-digits; empty → null (transform/data_cleaning.py:64-68). */
  def cleanPostcode(pc: Column): Column =
    nullif(regexp_replace(pc, "\\D", ""), lit(""))

  /** F11 — strip spaces/hyphens; keep iff exactly 11 chars else null
    * (transform/data_cleaning.py:71-75). */
  def cleanAbn(abn: Column): Column = {
    val stripped = regexp_replace(abn, "[\\s-]", "")
    when(length(stripped) === 11, stripped)
  }

  /** State alias map (transform/data_cleaning.py:31-40). */
  val StateMapping: Map[String, String] = Map(
    "NSW" -> "NSW", "NEW SOUTH WALES" -> "NSW",
    "VIC" -> "VIC", "VICTORIA" -> "VIC",
    "QLD" -> "QLD", "QUEENSLAND" -> "QLD",
    "SA" -> "SA", "SOUTH AUSTRALIA" -> "SA",
    "WA" -> "WA", "WESTERN AUSTRALIA" -> "WA",
    "TAS" -> "TAS", "TASMANIA" -> "TAS",
    "NT" -> "NT", "NORTHERN TERRITORY" -> "NT",
    "ACT" -> "ACT", "AUSTRALIAN CAPITAL TERRITORY" -> "ACT")

  /** F12 — uppercase + strip dots + collapse spaces, exact alias lookup,
    * fuzzy fallback against the 16 alias keys (score > 85), else null
    * (transform/data_cleaning.py:43-53). The fallback scorer is
    * [[SimKernel.wratio]] — `process.extractOne`'s DEFAULT scorer, which
    * is what the reference actually invokes (data_cleaning.py:50) —
    * with fuzzywuzzy's disjoint-token-set quirk rejected (see the WRatio
    * kernel scaladoc; bug-compatible WRatio would floor every
    * length-mismatched score at 85.5 and map junk onto a state).
    * CleaningSpec records where it departs from the earlier Indel
    * fallback: the two agree on every alias key and near-exact typo,
    * WRatio additionally accepts containment-style inputs
    * ("NSW AUSTRALIA"). */
  def standardizeState(state: Column): Column = {
    val norm = cleanText(upper(regexp_replace(state, "\\.", " ")))
    val exact = StateMapping.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(norm === lit(k), lit(v)).otherwise(acc)
    }
    // fuzzy fallback: argmax of the scorer over the 16 keys, accept > 85;
    // ties break to the lexicographically largest (score, std) struct,
    // deterministic — the reference's extractOne is scan-order-dependent
    val scored = StateMapping.keys.toSeq.sorted.map { k =>
      struct(exprs.wratio(norm, lit(k)).as("score"),
        lit(StateMapping(k)).as("std"))
    }
    val best = array_max(array(scored: _*))
    val fuzzy = when(best.getField("score") > 85.0, best.getField("std"))
    coalesce(exact, fuzzy)
  }

  /** F14 — address synthesis: "{state} {postcode}" iff both present
    * (extract/abr_parser.py:66). */
  def synthesizeAddress(state: Column, pc: Column): Column =
    when(state.isNotNull && pc.isNotNull, concat_ws(" ", state, pc))

  /** F17 — ABR bulk date format parse (extract/abr_parser.py:55). */
  def parseAbrDate(c: Column): Column =
    coalesce(to_date(c, "yyyyMMdd"), to_date(c))

  /** U2 — snippet truncate (extract/commoncrawl_scraper.py:208). */
  def snippet(text: Column, n: Int = 500): Column = substring(text, 1, n)
}
