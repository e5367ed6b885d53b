package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst scalar expressions (SURVEY.md §2.9): the only compute in
  * the reference pipeline that Spark's builtin function library cannot
  * express. All are deterministic, null-intolerant, and codegen via a
  * static call into the kernel objects so fuzzy-join scoring stays inside
  * whole-stage codegen (no UDF/serialization overhead in the hot join path).
  */

/** `rapidfuzz.fuzz.token_sort_ratio` parity — SURVEY.md §2.8 X1. */
case class TokenSortRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_sort_ratio"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SimKernel.tokenSortRatioUTF8(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SimKernel.tokenSortRatioUTF8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenSortRatio =
    copy(left = newLeft, right = newRight)
}

/** Hilbert-curve cell index of two reduced integer dimensions — the
  * layout key behind [[graft.operators.Layout.hilbertKey]]; a JVM
  * kernel because the per-level rotation state makes a builtin-column
  * form exponential in `bits` (see [[HilbertKernel]]). */
case class HilbertKey(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_key"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    HilbertKernel.xy2d(bits, l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HilbertKernel.xy2d($bits, $a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertKey =
    copy(left = newLeft, right = newRight)
}

/** `rapidfuzz.fuzz.ratio` (Indel ratio) parity — SURVEY.md §2.8 X2. */
case class IndelRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "indel_ratio"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SimKernel.indelRatioUTF8(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SimKernel.indelRatioUTF8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IndelRatio =
    copy(left = newLeft, right = newRight)
}

/** Normalized Levenshtein similarity (0..100) — the oracled fuzzy-shell
  * score, as one codegen'd kernel call instead of
  * `levenshtein`/`greatest`/`length` expression plumbing (~4× faster in
  * the blocked-join hot loop; see [[SimKernel.levenshteinDistance]]). */
case class LevenshteinRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "levenshtein_ratio"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SimKernel.levenshteinRatioUTF8(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SimKernel.levenshteinRatioUTF8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LevenshteinRatio =
    copy(left = newLeft, right = newRight)
}

/** `fuzz.WRatio` parity (the `process.extractOne` default scorer) — the
  * reference's F12 fuzzy fallback (data_cleaning.py:50); see
  * [[SimKernel.wratio]] for the composition and the two documented
  * refinements over bug-compatible fuzzywuzzy. */
case class WRatio(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "wratio"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SimKernel.wratioUTF8(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SimKernel.wratioUTF8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WRatio =
    copy(left = newLeft, right = newRight)
}

/** ABN mod-89 checksum validity — SURVEY.md §2.7 F4. */
case class AbnValid(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "abn_valid"

  override protected def nullSafeEval(v: Any): Any =
    AbnKernel.isValidUTF8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AbnKernel.isValidUTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): AbnValid =
    copy(child = newChild)
}

/** 64-bit SimHash fingerprint of a token array — the custom kernel behind
  * [[graft.operators.Dedup.simhashNearDup]]. Input: array<string>. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any): Any =
    SimHashKernel.simhash64(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashKernel.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Batch md5-MinHash signature (array<string> shingles → array<string> of
  * k per-hash-function minima) — see [[MinHashKernel.md5SigUTF8]]. */
case class MinHashMd5Sig(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_md5_sig"

  override protected def nullSafeEval(v: Any): Any =
    MinHashKernel.md5SigUTF8(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.md5SigUTF8($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashMd5Sig =
    copy(child = newChild)
}

/** Distinct word n-gram shingles in one codegen'd pass — replaces the
  * nested transform/concat_ws/slice builtin chain in the md5-portable
  * sketch pipelines (same output set; see [[ShingleKernel]]). */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(v: Any): Any =
    ShingleKernel.wordNgramsUTF8(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernel.wordNgramsUTF8($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Distinct xxhash64'd word n-grams in one codegen'd pass — the fused,
  * bit-identical form of the hashed-shingle builtin chain (see
  * [[ShingleKernel.wordNgramHashesUTF8]]). */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_ngram_hashes"

  override protected def nullSafeEval(v: Any): Any =
    ShingleKernel.wordNgramHashesUTF8(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernel.wordNgramHashesUTF8($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)
}

/** Jaccard of two SORTED long arrays via one merge scan — the banded
  * near-dup verify kernel (see [[SetKernel.sortedJaccard]]). */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_jaccard"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    SetKernel.sortedJaccard(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SetKernel.sortedJaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

/** Capped-tf integer expansion (t → t#1…t#c, c = min(count, cap)) in one
  * codegen'd pass — the map-only multiset encoding behind
  * [[graft.operators.Dedup.weightedJaccardJoin]] (see
  * [[ShingleKernel.tfExpand]]). */
case class TfExpand(child: Expression, cap: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tf_expand"

  override protected def nullSafeEval(v: Any): Any =
    ShingleKernel.tfExpandUTF8(v.asInstanceOf[UTF8String], cap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleKernel.tfExpandUTF8($c, $cap)")

  override protected def withNewChildInternal(newChild: Expression): TfExpand =
    copy(child = newChild)
}

/** Python `str.title()` parity — SURVEY.md §2.7 F9 divergence note. */
case class PyTitle(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "py_title"

  override protected def nullSafeEval(v: Any): Any =
    TitleKernel.titleUTF8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TitleKernel.titleUTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): PyTitle =
    copy(child = newChild)
}

/** Greedy BPE segmentation over a fixed merge table (see
  * [[BpeKernel]]): the merge table is a compile-time constant of the
  * expression, shipped once per codegen stage via `addReferenceObj`
  * (not re-parsed per row), so tokenization stays inside whole-stage
  * codegen like the fuzzy kernels. */
case class BpeSegment(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_segment"

  @transient private lazy val mergeArr: Array[Array[String]] =
    merges.map(m => Array(m._1, m._2)).toArray

  override protected def nullSafeEval(v: Any): Any =
    BpeKernel.segmentUTF8(v.asInstanceOf[UTF8String], mergeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", mergeArr,
      "java.lang.String[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeKernel.segmentUTF8($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegment =
    copy(child = newChild)
}

/** Membership probe against a pre-built Bloom filter
  * (`org.apache.spark.util.sketch.BloomFilter` — Spark's public sketch,
  * the same structure `DataFrameStatFunctions.bloomFilter` builds with a
  * distributed aggregate): the filter is a compile-time constant of the
  * expression, shipped once per codegen stage via `addReferenceObj` and
  * probed per row with zero allocation, so a Bloom PREFILTER stays
  * inside whole-stage codegen on the corpus scan — the pattern behind
  * [[graft.operators.Dedup.bloomDecontaminate]], where the filter
  * replaces a benchmark-sized broadcast hash relation with ~10 bits per
  * element and no false negatives. Probes the UTF-8 bytes of the child
  * string (BloomFilter's own `putString` domain). */
case class BloomMightContain(child: Expression,
    filter: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(v: Any): Any =
    filter.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", filter,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** Aho–Corasick blocklist statistics — (total occurrences including
  * overlaps, distinct patterns hit) in ONE pass over the text (see
  * [[AhoCorasick]]). The automaton is built once from the pattern list
  * at expression construction and shipped per codegen stage via
  * `addReferenceObj` (the BPE merge-table convention), so the C4-style
  * banned-phrase screen stays inside whole-stage codegen at any
  * blocklist size. */
case class BlocklistStats(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_matches",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_patterns",
      org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "blocklist_stats"

  @transient private lazy val automaton = new AhoCorasick(patterns)

  override protected def nullSafeEval(v: Any): Any =
    automaton.matchStatsUTF8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acAutomaton", automaton,
      "graft.functions.AhoCorasick")
    defineCodeGen(ctx, ev, c => s"$ref.matchStatsUTF8($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistStats =
    copy(child = newChild)
}

/** Unicode NFC normalization (see [[UnicodeKernel]]) — run before any
  * hash-keyed stage so encoding variants of the same text dedup
  * together. Codegen'd; the `isNormalized` fast path makes it
  * near-free on ASCII-dominated corpora. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(v: Any): Any =
    UnicodeKernel.nfcUTF8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeKernel.nfcUTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Fused per-token normalization with a sentinel for emptied tokens —
  * the codegen'd replacement for the q231 `transform(split(...), ...)`
  * chain; bit-parity contract in [[UnicodeKernel.tokNormSentinel]]
  * (spec-pinned in `UnicodeKernelSpec`). Null-intolerant: callers that
  * relied on `concat_ws` mapping a null token array to "" must
  * coalesce. */
case class TokNormSentinel(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tok_norm_sentinel"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    UnicodeKernel.tokNormSentinel(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.UnicodeKernel.tokNormSentinel($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokNormSentinel =
    copy(left = newLeft, right = newRight)
}

/** Fused Kohlschütter block segmentation + shallow features — one
  * codegen'd call per page replacing the 4-pass regexp_replace chain +
  * per-block extraction of [[graft.sources.CrawlParse.blockFeatures]];
  * bit-parity contract in [[HtmlBlockKernel.blocksUTF8]] (spec-pinned
  * in `HtmlBlockKernelSpec`). Emits only blocks with n_words > 0,
  * carrying the original split position. */
case class HtmlBlocks(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_words",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_anchor_words",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "html_blocks"

  override protected def nullSafeEval(v: Any): Any =
    HtmlBlockKernel.blocksUTF8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HtmlBlockKernel.blocksUTF8($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlBlocks =
    copy(child = newChild)
}

/** Exact BIGINT squared-L2 distance of two quantized long vectors —
  * the codegen'd replacement for `aggregate(zip_with(...))` on the ANN
  * hot paths (r21); see [[VecKernel.sqL2Long]]. */
case class SqL2Long(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_l2_long"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecKernel.sqL2Long(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernel.sqL2Long($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqL2Long =
    copy(left = newLeft, right = newRight)
}

/** Squared-L2 distance of two array<double> vectors, left-to-right
  * fold order (bit-parity with the `aggregate` sequential fold) — see
  * [[VecKernel.sqL2Double]]. */
case class SqL2Double(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_l2_double"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecKernel.sqL2Double(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernel.sqL2Double($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqL2Double =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two array<double> vectors, left-to-right fold order
  * — see [[VecKernel.dotDouble]]. */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_double"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecKernel.dotDouble(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernel.dotDouble($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDouble =
    copy(left = newLeft, right = newRight)
}

/** Exact BIGINT dot product of two quantized long vectors — see
  * [[VecKernel.dotLong]]. */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_long"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    VecKernel.dotLong(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernel.dotLong($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

/** First 60 bits of md5 as a non-negative BIGINT — the portable-hash
  * primitive as one codegen kernel call; see
  * [[PortableHashKernel.md5Long60]] and [[PortableHash.md5Long60]]
  * for the bit-parity argument. */
case class Md5Long60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  // analysis-time type checking (ADVICE r21): the builtin chain this
  // kernel replaced got implicit casts from the analyzer; without
  // declared input types a non-string child would pass analysis and
  // fail at runtime with a ClassCastException
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_long60"

  override protected def nullSafeEval(v: Any): Any =
    PortableHashKernel.md5Long60(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableHashKernel.md5Long60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Long60 =
    copy(child = newChild)
}

/** Portable 60-bit md5-SimHash of a token array — see
  * [[SimHashKernel.simhashMd5_60]]. */
case class SimHashMd5_60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  // analysis-time type checking (ADVICE r21) — see [[Md5Long60]]
  override def inputTypes = Seq(org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StringType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_md5_60"

  override protected def nullSafeEval(v: Any): Any =
    SimHashKernel.simhashMd5_60(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHashKernel.simhashMd5_60($c)")

  override protected def withNewChildInternal(
      newChild: Expression): SimHashMd5_60 =
    copy(child = newChild)
}

/** A run-constant value (`current_timestamp()` once the optimizer has
  * folded it) that codegens as a reference, not an inlined literal, so the
  * generated source — and its codegen-cache entry — stays the same from run
  * to run. The hash ignores the value: codegen walks hash-ordered
  * expression sets, and a value-dependent order renames variables. */
case class RunConstant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def foldable: Boolean = false
  override def hashCode(): Int = getClass.getName.hashCode
  override def prettyName: String = "run_constant"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = if (child.foldable) child.eval(null) else null
    if (v == null) child.genCode(ctx)
    else {
      val ref = ctx.addReferenceObj("runConstant", v,
        CodeGenerator.boxedType(dataType))
      ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
        isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): RunConstant =
    copy(child = newChild)
}

/** Column-level entry points + SQL registration. */
object exprs {
  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def token_sort_ratio(a: Column, b: Column): Column =
    col(TokenSortRatio(ex(a), ex(b)))
  def indel_ratio(a: Column, b: Column): Column =
    col(IndelRatio(ex(a), ex(b)))
  def levenshtein_ratio(a: Column, b: Column): Column =
    col(LevenshteinRatio(ex(a), ex(b)))
  def wratio(a: Column, b: Column): Column =
    col(WRatio(ex(a), ex(b)))
  def abn_valid(a: Column): Column = col(AbnValid(ex(a)))
  def minhash_md5_sig(gset: Column, k: Int): Column =
    col(MinHashMd5Sig(ex(gset), k))
  def word_ngrams(text: Column, n: Int): Column =
    col(WordNgrams(ex(text), n))
  def word_ngram_hashes(text: Column, n: Int): Column =
    col(WordNgramHashes(ex(text), n))
  def tf_expand(text: Column, cap: Int): Column =
    col(TfExpand(ex(text), cap))
  def sorted_jaccard(a: Column, b: Column): Column =
    col(SortedJaccard(ex(a), ex(b)))
  def simhash64(tokens: Column): Column = col(SimHash64(ex(tokens)))
  def hilbert_key(a: Column, b: Column, bits: Int): Column =
    col(HilbertKey(ex(a), ex(b), bits))
  def py_title(a: Column): Column = col(PyTitle(ex(a)))
  def bpe_segment(text: Column, merges: Seq[(String, String)]): Column =
    col(BpeSegment(ex(text), merges))
  def bloom_might_contain(text: Column,
      filter: org.apache.spark.util.sketch.BloomFilter): Column =
    col(BloomMightContain(ex(text), filter))
  def blocklist_stats(text: Column, patterns: Seq[String]): Column =
    col(BlocklistStats(ex(text), patterns))
  def nfc_normalize(text: Column): Column = col(NfcNormalize(ex(text)))
  /** Fused per-token normalize (q231): null in → null out (wrap in
    * coalesce where the concat_ws('', null) = "" behavior matters). */
  def tok_norm_sentinel(text: Column, sentinel: Column): Column =
    col(TokNormSentinel(ex(text), ex(sentinel)))
  /** Fused block segmentation (q182/q184/q185): null html → null. */
  def html_blocks(html: Column): Column = col(HtmlBlocks(ex(html)))
  def sq_l2_long(a: Column, b: Column): Column =
    col(SqL2Long(ex(a), ex(b)))
  def sq_l2_double(a: Column, b: Column): Column =
    col(SqL2Double(ex(a), ex(b)))
  def dot_long(a: Column, b: Column): Column =
    col(DotLong(ex(a), ex(b)))
  def dot_double(a: Column, b: Column): Column =
    col(DotDouble(ex(a), ex(b)))
  def md5_long60(a: Column): Column = col(Md5Long60(ex(a)))
  def simhash_md5_60(tokens: Column): Column =
    col(SimHashMd5_60(ex(tokens)))
  def run_constant(c: Column): Column = col(RunConstant(ex(c)))

  /** Register `token_sort_ratio`, `indel_ratio`, `abn_valid` for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "token_sort_ratio", es => TokenSortRatio(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "indel_ratio", es => IndelRatio(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "levenshtein_ratio", es => LevenshteinRatio(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "wratio", es => WRatio(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "abn_valid", es => AbnValid(es.head), "scala_udf")
    // n arrives as a literal in SQL: word_ngrams(text, 3)
    def litInt(e: Expression): Int =
      e.eval(null).asInstanceOf[Number].intValue()
    reg.createOrReplaceTempFunction(
      "word_ngrams", es => WordNgrams(es.head, litInt(es(1))), "scala_udf")
    reg.createOrReplaceTempFunction(
      "word_ngram_hashes",
      es => WordNgramHashes(es.head, litInt(es(1))), "scala_udf")
  }
}
