package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** String-similarity kernels re-implementing the semantics the reference
  * pipeline gets from rapidfuzz/fuzzywuzzy (see SURVEY.md §2.8):
  *
  *   - Indel ratio: `100 * (1 - dist / (|a| + |b|))` where `dist` is the
  *     insert/delete-only edit distance (no substitutions). Equivalent to
  *     `rapidfuzz.fuzz.ratio` (reference use:
  *     /root/reference/transform/data_cleaning.py:50-52).
  *   - Token-sort ratio: whitespace-tokenize, sort tokens, rejoin, then
  *     Indel ratio — `rapidfuzz.fuzz.token_sort_ratio` (reference use:
  *     /root/reference/transform/entity_matching.py:151-153).
  *
  * NOTE: Indel distance is NOT Levenshtein (`substitution = cost 2` here,
  * not 1), so Spark's builtin `levenshtein` is intentionally not used.
  *
  * Methods are plain static functions so generated code (doGenCode in
  * [[SimExpressions]]) can call them directly — keeping the fuzzy-join
  * scoring inside whole-stage codegen.
  *
  * Per-pair cost: the Indel LCS runs bit-parallel (Hyyrö) when the shorter
  * string has at most 64 chars — a few word operations per char of the
  * longer one — and falls back to the O(|a|·|b|) DP above that; token-sort
  * tokenizes with a char scan instead of `split("\\s+")`. Both give the
  * same results as the DP and the regex split (SimKernelSpec).
  */
object SimKernel {

  /** Insert/delete-only edit distance = |a| + |b| - 2 * LCS(a, b). When
    * the shorter string has at most 64 chars the LCS is Hyyrö's
    * bit-parallel recurrence over one `Long` (one step per char of the
    * longer string); longer strings take the O(|a|*|b|) DP. */
  def indelDistance(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    // bit vector / DP row over the shorter string
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val lcs = if (s.length <= 64) lcsBitParallel(s, t) else lcsDp(s, t)
    a.length + b.length - 2 * lcs
  }

  /** Per-thread match masks of [[lcsBitParallel]], one per UTF-16 char:
    * bit j of `masks(c)` is set iff s(j) == c, and cleared again after the
    * call. */
  private val matchMasks = ThreadLocal.withInitial(() => new Array[Long](65536))

  /** LCS length for |s| <= 64 (Hyyrö 2004): V starts all ones; per char c
    * of t, with M the positions of c in s,
    * V = (V + (V & M)) | (V & ~M); the LCS is the count of zero bits in
    * V's low |s| bits. */
  private def lcsBitParallel(s: String, t: String): Int = {
    val masks = matchMasks.get
    val n = s.length
    var j = 0
    while (j < n) { masks(s.charAt(j)) |= 1L << j; j += 1 }
    var v = -1L
    var i = 0
    while (i < t.length) {
      val u = v & masks(t.charAt(i))
      v = (v + u) | (v - u)
      i += 1
    }
    j = 0
    while (j < n) { masks(s.charAt(j)) = 0L; j += 1 }
    val low = if (n == 64) v else v & ((1L << n) - 1)
    n - java.lang.Long.bitCount(low)
  }

  /** LCS length by the row DP over the shorter string `s`. */
  private def lcsDp(s: String, t: String): Int = {
    val n = s.length
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var j = 0
    var i = 0
    while (i < t.length) {
      val tc = t.charAt(i)
      j = 0
      while (j < n) {
        cur(j + 1) =
          if (s.charAt(j) == tc) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      i += 1
    }
    prev(n)
  }

  /** rapidfuzz `fuzz.ratio` semantics, scale 0..100. Both-empty => 100. */
  def indelRatio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 100.0
    else 100.0 * (1.0 - indelDistance(a, b).toDouble / total)
  }

  /** Classic Levenshtein distance (unit-cost substitutions) over UTF-16
    * chars — semantically the builtin `levenshtein`, reimplemented on
    * char arrays because Spark's `UTF8String.levenshteinDistance` decodes
    * UTF-8 bytes per cell and measures ~4× slower in the blocked fuzzy
    * join's hot loop. (Astral-plane codepoints count as 2 here vs 1
    * there; identical on BMP text, which is all the pipeline handles.) */
  def levenshteinDistance(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    // DP row over the shorter string
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = j; j += 1 }
    var i = 0
    while (i < t.length) {
      cur(0) = i + 1
      val tc = t.charAt(i)
      j = 0
      while (j < n) {
        val sub = if (s.charAt(j) == tc) prev(j) else prev(j) + 1
        val other = math.min(prev(j + 1), cur(j)) + 1
        cur(j + 1) = math.min(sub, other)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      i += 1
    }
    prev(n)
  }

  /** Normalized Levenshtein similarity `100·(1 − dist/max(|a|,|b|))` — the
    * engine-portable fuzzy score of the match cascade's oracled shell
    * (both-empty ⇒ NaN, mirroring the 0/0 of the composed-builtin form so
    * the DuckDB twin stays bit-identical). */
  def levenshteinRatio(a: String, b: String): Double = {
    val m = math.max(a.length, b.length)
    if (m == 0) Double.NaN
    else 100.0 * (1.0 - levenshteinDistance(a, b).toDouble / m)
  }

  /** Java's `\\s` class: space, tab, newline, vertical tab, form feed,
    * carriage return. */
  private def isRegexSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** The maximal runs of non-`\\s` chars, in order — the non-empty parts
    * of `s.split("\\s+")`, found by a scan instead of a regex. */
  private def tokens(s: String): Array[String] = {
    val out = new java.util.ArrayList[String](4)
    var start = -1
    var i = 0
    while (i < s.length) {
      if (isRegexSpace(s.charAt(i))) {
        if (start >= 0) { out.add(s.substring(start, i)); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out.add(if (start == 0) s else s.substring(start))
    out.toArray(new Array[String](out.size))
  }

  /** Whitespace-tokenize, lexicographically sort, single-space rejoin.
    * Matches rapidfuzz's token_sort normalization (which does not lowercase
    * unless a processor is supplied — the reference supplies none; SURVEY.md
    * §2.4 J4 fine print). Tokens are `split("\\s+")`'s over the trimmed
    * string. */
  def tokenSortNormalize(s: String): String = {
    val toks = tokens(s.trim)
    if (toks.length <= 1) return if (toks.isEmpty) "" else toks(0)
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(toks(0))
    var i = 1
    while (i < toks.length) { sb.append(' ').append(toks(i)); i += 1 }
    sb.toString
  }

  def tokenSortRatio(a: String, b: String): Double =
    indelRatio(tokenSortNormalize(a), tokenSortNormalize(b))

  // ---- WRatio family — the `process.extractOne` default scorer the
  // reference's F12 fuzzy fallback uses (data_cleaning.py:50). The
  // composition follows fuzzywuzzy's published WRatio algorithm
  // (ratio / token_sort / token_set plus partial variants, scales
  // 0.95 / 0.9 / 0.6, length-ratio breakpoints 1.5 and 8) with two
  // deliberate rapidfuzz-style refinements, both documented here because
  // they are divergences from bug-compatible fuzzywuzzy:
  //   1. partial over EMPTY input scores 0, not 100. fuzzywuzzy inherits
  //      difflib's ratio("", "") == 1.0, which makes
  //      partial_token_set_ratio 100 for ANY two strings with disjoint
  //      token sets — under WRatio's scaling that floors every
  //      length-mismatched pair at 85.5, so the reference's `score > 85`
  //      gate would map arbitrary junk onto some state. We reject that
  //      bug the same way SURVEY §1.3 rejects the type erasure.
  //   2. partial alignment is a COMPLETE search over all windows of the
  //      longer string (rapidfuzz semantics) instead of the alignment
  //      anchors fuzzywuzzy samples from difflib's matching blocks —
  //      never smaller, identical on short name text.
  // Scores are doubles on the 0..100 scale (no per-stage int rounding).

  /** fuzzywuzzy `utils.full_process` with `force_ascii=True`: drop
    * non-ASCII chars, replace each ASCII non-word char with a space
    * (the reference's regex is `\W`, so underscores are word chars and
    * survive; runs are NOT collapsed — faithful to the reference),
    * lowercase, trim. */
  def fullProcess(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) {
        if (Character.isLetterOrDigit(c) || c == '_')
          sb.append(Character.toLowerCase(c))
        else sb.append(' ')
      }
      i += 1
    }
    sb.toString.trim
  }

  /** Best-alignment partial ratio: max Indel ratio of the shorter string
    * against every |shorter|-length window of the longer. Empty input
    * scores 0 (refinement 1 above). Early-exits on a perfect window. */
  def partialRatio(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.length == l.length) return indelRatio(s, l)
    var best = 0.0
    var start = 0
    val last = l.length - s.length
    while (start <= last && best < 100.0) {
      val r = indelRatio(s, l.substring(start, start + s.length))
      if (r > best) best = r
      start += 1
    }
    best
  }

  /** (sorted intersection, intersection+diffAB, intersection+diffBA) of
    * the whitespace token sets — the three strings fuzzywuzzy's
    * `_token_set` compares pairwise. */
  private def tokenSetParts(a: String, b: String): (String, String, String) = {
    val ta = tokens(a).toSet
    val tb = tokens(b).toSet
    val sect = ta.intersect(tb).toSeq.sorted.mkString(" ")
    val d1 = ta.diff(tb).toSeq.sorted.mkString(" ")
    val d2 = tb.diff(ta).toSeq.sorted.mkString(" ")
    (sect, (sect + " " + d1).trim, (sect + " " + d2).trim)
  }

  /** `fuzz.token_set_ratio`: max pairwise Indel ratio over the token-set
    * constructions — 100 whenever one token set contains the other. */
  def tokenSetRatio(a: String, b: String): Double = {
    val (s, c1, c2) = tokenSetParts(a, b)
    math.max(indelRatio(c1, c2),
      math.max(indelRatio(s, c1), indelRatio(s, c2)))
  }

  /** `fuzz.partial_token_set_ratio` (with refinement 1: an empty
    * intersection contributes 0, not difflib's spurious 100). */
  def partialTokenSetRatio(a: String, b: String): Double = {
    val (s, c1, c2) = tokenSetParts(a, b)
    math.max(partialRatio(c1, c2),
      math.max(partialRatio(s, c1), partialRatio(s, c2)))
  }

  /** `fuzz.partial_token_sort_ratio`. */
  def partialTokenSortRatio(a: String, b: String): Double =
    partialRatio(tokenSortNormalize(a), tokenSortNormalize(b))

  /** `fuzz.WRatio` — full-process both sides, then the length-ratio-gated
    * max over the scaled sub-scores (composition per fuzzywuzzy, scales
    * 0.95 / 0.9 / 0.6, breakpoints 1.5 and 8). Either side empty after
    * processing → 0. */
  def wratio(a: String, b: String): Double = {
    val p1 = fullProcess(a)
    val p2 = fullProcess(b)
    if (p1.isEmpty || p2.isEmpty) return 0.0
    val base = indelRatio(p1, p2)
    val lenRatio =
      math.max(p1.length, p2.length).toDouble / math.min(p1.length, p2.length)
    if (lenRatio < 1.5)
      math.max(base,
        math.max(tokenSortRatio(p1, p2), tokenSetRatio(p1, p2)) * 0.95)
    else {
      // fuzzywuzzy drops to 0.6 only STRICTLY above 8 (`if len_ratio > 8`)
      val partialScale = if (lenRatio > 8.0) 0.6 else 0.9
      math.max(base, math.max(
        partialRatio(p1, p2) * partialScale,
        math.max(partialTokenSortRatio(p1, p2), partialTokenSetRatio(p1, p2))
          * 0.95 * partialScale))
    }
  }

  // UTF8String entry points for generated code --------------------------
  def indelRatioUTF8(a: UTF8String, b: UTF8String): Double =
    indelRatio(a.toString, b.toString)

  def tokenSortRatioUTF8(a: UTF8String, b: UTF8String): Double =
    tokenSortRatio(a.toString, b.toString)

  def levenshteinRatioUTF8(a: UTF8String, b: UTF8String): Double =
    levenshteinRatio(a.toString, b.toString)

  def wratioUTF8(a: UTF8String, b: UTF8String): Double =
    wratio(a.toString, b.toString)
}
