package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimKernel

/** rapidfuzz-parity suite for the Indel/token-sort kernels (SURVEY.md §2.8,
  * FIXTURES.md B5). Recorded values follow the published rapidfuzz
  * definition (Indel ratio = 100*(1 - dist/(|a|+|b|)), dist =
  * insert/delete-only edit distance). Property checks use seeded random
  * corpora (deterministic).
  */
class SimKernelSpec extends AnyFunSuite {

  private val recorded = Seq(
    ("this is a test", "this is a test!", 96.5517), // rapidfuzz docs example
    ("kitten", "sitting", 61.5385),                 // LCS=4 → dist 5 / 13
    ("abc", "abc", 100.0),
    ("abc", "", 0.0),
    ("", "", 100.0),
    ("ab", "ba", 50.0),                             // LCS=1 → dist 2 / 4
    ("flaw", "lawn", 75.0),                         // LCS=3 → dist 2 / 8
    ("CA", "ABC", 40.0),                            // LCS=1 → dist 3 / 5
    ("Acme Pty Ltd", "Acme Pty Ltd", 100.0))

  test("indelRatio matches recorded rapidfuzz values") {
    recorded.foreach { case (a, b, want) =>
      val got = SimKernel.indelRatio(a, b)
      assert(math.abs(got - want) < 5e-4, s"($a, $b): got $got want $want")
    }
  }

  test("tokenSortRatio is invariant to token order (fuzzywuzzy doc example)") {
    assert(SimKernel.tokenSortRatio(
      "fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 100.0)
    assert(SimKernel.tokenSortRatio("new york mets", "mets new york") == 100.0)
  }

  test("tokenSortRatio is case-sensitive (no default preprocessing — " +
      "SURVEY.md §2.4 J4 fine print)") {
    assert(SimKernel.tokenSortRatio("ACME", "acme") < 100.0)
  }

  private val vocab = Vector("acme", "pty", "ltd", "group", "services",
    "the", "australia", "mining", "&", "co")
  private def randomName(rng: scala.util.Random): String =
    Seq.fill(1 + rng.nextInt(4))(vocab(rng.nextInt(vocab.size))).mkString(" ")

  test("property: symmetry, bounds, identity (seeded corpus)") {
    val rng = new scala.util.Random(42)
    (1 to 300).foreach { _ =>
      val a = randomName(rng); val b = randomName(rng)
      val r = SimKernel.indelRatio(a, b)
      assert(r >= 0.0 && r <= 100.0)
      assert(math.abs(r - SimKernel.indelRatio(b, a)) < 1e-12)
      assert(SimKernel.indelRatio(a, a) == 100.0)
      val ts = SimKernel.tokenSortRatio(a, b)
      assert(ts >= 0.0 && ts <= 100.0)
      assert(math.abs(ts - SimKernel.tokenSortRatio(b, a)) < 1e-12)
      val shuffled = rng.shuffle(a.split("\\s+").toSeq).mkString(" ")
      assert(SimKernel.tokenSortRatio(a, shuffled) == 100.0)
    }
  }

  // the pre-bit-parallel kernels, kept here as the reference: the row DP
  // over the shorter string and the regex tokenizer
  private def lcsBrute(a: String, b: String): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.length)(b.length)
  }
  private def refIndelDistance(a: String, b: String): Int =
    a.length + b.length - 2 * lcsBrute(a, b)
  private def refIndelRatio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 100.0
    else 100.0 * (1.0 - refIndelDistance(a, b).toDouble / total)
  }
  private def refTokenSortNormalize(s: String): String = {
    val trimmed = s.trim
    if (trimmed.isEmpty) ""
    else {
      val toks = trimmed.split("\\s+")
      java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
      toks.mkString(" ")
    }
  }

  private def refTokenSetRatio(a: String, b: String): Double = {
    val ta = a.split("\\s+").iterator.filter(_.nonEmpty).toSet
    val tb = b.split("\\s+").iterator.filter(_.nonEmpty).toSet
    val sect = ta.intersect(tb).toSeq.sorted.mkString(" ")
    val c1 = (sect + " " + ta.diff(tb).toSeq.sorted.mkString(" ")).trim
    val c2 = (sect + " " + tb.diff(ta).toSeq.sorted.mkString(" ")).trim
    math.max(refIndelRatio(c1, c2),
      math.max(refIndelRatio(sect, c1), refIndelRatio(sect, c2)))
  }

  // ASCII, non-ASCII (é, 漢), the six chars of `\\s`, and a control char
  // that `trim` strips but `\\s` does not match
  private val alphabets = Vector("abcd", "ab ", "abcdéé漢 \t\n\u000b\f\r\u0001",
    "acme pty ltd group services é漢\u0001 \t",
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789 ")
  /** A seeded pair of lengths 0–150: independent draws, or `b` an edit of
    * `a` (long common subsequences), around the 64-char word size. */
  private def randomPair(rng: scala.util.Random): (String, String) = {
    val alpha = alphabets(rng.nextInt(alphabets.size))
    def draw(n: Int) = Seq.fill(n)(alpha(rng.nextInt(alpha.length))).mkString
    val len = () => rng.nextInt(4) match {
      case 0 => rng.nextInt(10)
      case 1 => 60 + rng.nextInt(9)   // 60..68: both sides of 64
      case _ => rng.nextInt(151)
    }
    val a = draw(len())
    val b =
      if (rng.nextBoolean()) draw(len())
      else a.flatMap(c => rng.nextInt(10) match {
        case 0 => ""
        case 1 => draw(2)
        case 2 => draw(1)
        case _ => c.toString
      }).take(150)
    (a, b)
  }

  test("indel distance = |a|+|b| - 2*LCS (cross-check vs brute-force LCS)") {
    val rng = new scala.util.Random(7)
    (1 to 3000).foreach { _ =>
      val (a, b) = randomPair(rng)
      assert(SimKernel.indelDistance(a, b) == refIndelDistance(a, b),
        s"a=$a b=$b")
      assert(SimKernel.indelDistance(b, a) == refIndelDistance(a, b))
    }
    // the word-size edges exactly: shorter side 63, 64, 65 chars
    for (n <- Seq(63, 64, 65); m <- Seq(n, n + 1, 150)) {
      val a = "ab" * 40 take n
      val b = ("ba" * 80 take m - 1) + "a"
      assert(SimKernel.indelDistance(a, b) == refIndelDistance(a, b), s"n=$n m=$m")
      assert(SimKernel.indelDistance(a, a) == 0)
    }
  }

  test("token-sort and token-set kernels are bit-identical to the regex-split reference") {
    val rng = new scala.util.Random(11)
    (1 to 3000).foreach { _ =>
      val (a, b) = randomPair(rng)
      assert(SimKernel.tokenSortNormalize(a) == refTokenSortNormalize(a),
        s"a=$a")
      val want = refIndelRatio(refTokenSortNormalize(a), refTokenSortNormalize(b))
      assert(SimKernel.tokenSortRatio(a, b) == want, s"a=$a b=$b")
      assert(SimKernel.indelRatio(a, b) == refIndelRatio(a, b), s"a=$a b=$b")
      assert(SimKernel.tokenSetRatio(a, b) == refTokenSetRatio(a, b), s"a=$a b=$b")
    }
    Seq("", " ", "\u0001", " \t\n\u000b\f\r", "\u0001a\u000bb\u0001",
        "x", " b  a ", "é 漢\u0001 a").foreach { s =>
      assert(SimKernel.tokenSortNormalize(s) == refTokenSortNormalize(s), s)
    }
  }
}
