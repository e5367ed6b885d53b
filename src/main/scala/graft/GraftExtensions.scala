package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.{AbnValid, AHash64, DHash64, IndelRatio, PyTitle, SimHash64, SortedJaccard, TfExpand, TokenSortRatio, WRatio, WordNgramHashes, WordNgrams}

/** SparkSessionExtensions installer: makes the engine's custom expressions
  * available to pure-SQL users at session build time —
  *
  * {{{
  * val spark = graft.Sessions.local()   // installs these extensions
  * spark.sql("SELECT token_sort_ratio(a, b) FROM t")
  * }}}
  *
  * or on any builder via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. (No custom
  * optimizer rules or strategies are required for reference parity —
  * SURVEY.md §4; this is the registration point where a similarity-join
  * rewrite rule would land.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.SimilarityPrefilter)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")
    e.injectFunction((FunctionIdentifier("token_sort_ratio"),
      info("token_sort_ratio",
        "token_sort_ratio(a, b) - rapidfuzz token_sort_ratio (0..100)"),
      (es: Seq[Expression]) => TokenSortRatio(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("indel_ratio"),
      info("indel_ratio", "indel_ratio(a, b) - rapidfuzz fuzz.ratio (0..100)"),
      (es: Seq[Expression]) => IndelRatio(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("abn_valid"),
      info("abn_valid", "abn_valid(s) - ABN mod-89 checksum validity"),
      (es: Seq[Expression]) => AbnValid(es.head)))
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    e.injectFunction((FunctionIdentifier("py_title"),
      info("py_title", "py_title(s) - Python str.title() semantics"),
      (es: Seq[Expression]) => PyTitle(es.head)))
    e.injectFunction((FunctionIdentifier("wratio"),
      info("wratio", "wratio(a, b) - fuzz.WRatio composite similarity (0..100)"),
      (es: Seq[Expression]) => WRatio(es.head, es(1))))
    def litInt(ex: Expression): Int = ex.eval(null).asInstanceOf[Number].intValue()
    e.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(text, n) - distinct word n-gram shingles"),
      (es: Seq[Expression]) => WordNgrams(es.head, litInt(es(1)))))
    e.injectFunction((FunctionIdentifier("word_ngram_hashes"),
      info("word_ngram_hashes",
        "word_ngram_hashes(text, n) - distinct xxhash64'd word n-grams"),
      (es: Seq[Expression]) => WordNgramHashes(es.head, litInt(es(1)))))
    // r14 kernels (VERDICT r14 item 8): the weighted-Jaccard encoding,
    // the merge-scan verify, and the perceptual hashes
    e.injectFunction((FunctionIdentifier("tf_expand"),
      info("tf_expand",
        "tf_expand(text, cap) - capped-tf multiset encoding t -> t#1..t#c"),
      (es: Seq[Expression]) => TfExpand(es.head, litInt(es(1)))))
    e.injectFunction((FunctionIdentifier("sorted_jaccard"),
      info("sorted_jaccard",
        "sorted_jaccard(a, b) - Jaccard of two SORTED long arrays " +
          "(one merge scan)"),
      (es: Seq[Expression]) => SortedJaccard(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("ahash64"),
      info("ahash64",
        "ahash64(pgm) - 64-bit perceptual average hash of a binary P5 " +
          "bitmap (null when malformed)"),
      (es: Seq[Expression]) => AHash64(es.head)))
    e.injectFunction((FunctionIdentifier("dhash64"),
      info("dhash64",
        "dhash64(pgm) - 64-bit perceptual gradient hash of a binary P5 " +
          "bitmap (null when malformed)"),
      (es: Seq[Expression]) => DHash64(es.head)))
  }
}
