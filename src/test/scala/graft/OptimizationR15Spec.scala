package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AhoCorasick, AsciiClassOutRatio, IndicNorm}
import graft.ops.Text

/** Pins for the round-15 per-row hot-path rewrites (guide §4): every
  * fast path must be bit-identical to the slow/reference form it
  * replaces — the oracles replay the ORIGINAL forms, so these
  * equivalences are what keeps 423/423 green. */
class OptimizationR15Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // mixed corpus: ASCII, boundaries, multibyte, marks, astral, quotes
  private val richChar: Gen[String] = Gen.frequency(
    8 -> Gen.alphaLowerChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\t", "_", "0", "9", "|", "'", "''", ":"),
    2 -> Gen.oneOf("slow", "dup", "hash join", "the", "a"),
    1 -> Gen.oneOf("é", "नमस्ते", "চ", "𐍈", "।", "۔", "“", "…"))
  private val richDoc: Gen[String] = Gen.listOf(richChar).map(_.mkString)
  private def docs(n: Int, seed0: Long = 0L): Seq[String] =
    (0 until n).map(i =>
      richDoc.pureApply(Gen.Parameters.default, Seed(seed0 + i)))

  test("AhoCorasick UTF8String fast paths == String traversal (counts, totals)") {
    val kws = IndexedSeq("slow", "dup", "hash join", "lo", "w", "नमस्ते", "a_b")
    val ac = new AhoCorasick(kws)
    for (t <- docs(400) ++ Seq("", "slow", " slow ", "slowx", "x_slow",
      "hash join hash join", "www w", "नमस्ते जी", "slow नमस्ते dup")) {
      val ref = ac.countMatches(t)
      val u = UTF8String.fromString(t)
      assert(ac.countMatchesUtf8(u).toSeq == ref.toSeq, s"text=<$t>")
      assert(ac.countTotal(u) == ref.sum, s"text=<$t>")
    }
  }

  test("AhoCorasick cache overflow evicts one entry, not the whole cache") {
    // regression pin for the r14 ADVICE item: a caller cycling many
    // distinct lexicons must not wipe hot entries wholesale. Behavior
    // contract only (same instance back for a re-requested hot key
    // while the cache is within bounds after overflow churn).
    val hot = IndexedSeq("keep", "me")
    val first = AhoCorasick.shared(hot)
    (0 until 80).foreach { i =>
      AhoCorasick.shared(IndexedSeq(s"junk$i"))
    }
    // 80 one-word lexicons are far below the cells budget, so nothing
    // is evicted: the hot key keeps its instance (no clear-storm)
    val again = AhoCorasick.shared(hot)
    assert(AhoCorasick.shared(hot) eq again)
    assert(first eq again)
  }

  test("AhoCorasick cache is bounded by dense-table cells, not entry count") {
    def kw(i: Int) = IndexedSeq(f"w$i%03dabcdefgh")
    val one = new AhoCorasick(kw(0)).denseCells
    val budget = 2 * one + one / 2
    val cache = new AhoCorasick.Cache(budget)
    val a0 = cache.get(kw(0))
    val a1 = cache.get(kw(1))
    assert(cache.totalCells == 2 * one && cache.size == 2)
    assert(cache.get(kw(0)) eq a0, "a cached lexicon is a hit")
    // a third does not fit: the oldest goes, the others stay
    val a2 = cache.get(kw(2))
    assert(cache.totalCells == 2 * one && cache.size == 2)
    assert((cache.get(kw(1)) eq a1) && (cache.get(kw(2)) eq a2))
    // a lexicon larger than the whole budget is built and returned but
    // not kept, and evicts nothing
    val big = (0 until 20).map(i => ('a' + i).toChar.toString * 6)
    assert(new AhoCorasick(big).denseCells > budget)
    val b = cache.get(big)
    assert(b.countMatches("aaaaaa bbbbbb cccccc").sum == 3)
    assert(!(cache.get(big) eq b) && cache.size == 2 && (cache.get(kw(2)) eq a2))
    // churn through many lexicons never exceeds the budget
    (100 until 300).foreach { i => cache.get(kw(i)); assert(cache.totalCells <= budget) }
    // the executor-wide cache holds every shipped lexicon at once
    import graft.sources.Lexicons
    val shipped = Lexicons.languages.flatMap(l => Seq(Lexicons.nsfw(l), Lexicons.stopwords(l))) ++
      Seq(Lexicons.nsfwUnion(), Lexicons.stopwordUnion())
    assert(shipped.map(l => new AhoCorasick(l.toIndexedSeq).denseCells).sum <= AhoCorasick.MaxCells)
  }

  test("WordNgramRepScore interned-window count == string-keyed reference") {
    def reference(toks: Seq[String], n: Int): Double = {
      if (toks.size < n) return 0.0
      val counts = new java.util.HashMap[String, Int]()
      val total = toks.size - n + 1
      (0 until total).foreach { i =>
        counts.merge(toks.slice(i, i + n).mkString(" "), 1, _ + _)
      }
      var rep = 0L
      counts.values.forEach(c => if (c >= 2) rep += c)
      rep.toDouble / total
    }
    val tokenGen = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("a", "b", "ab", "the", "नमस्ते", ""),
      1 -> Gen.alphaLowerChar.map(_.toString)))
    for (trial <- 0 until 60; n <- Seq(2, 5)) {
      val toks = tokenGen.pureApply(Gen.Parameters.default, Seed(trial.toLong))
      val got = Seq(Tuple1(toks)).toDF("l")
        .select(graft.functions.GraftFunctions.wordNgramRep(col("l"), n))
        .as[Double].head()
      assert(got == reference(toks, n), s"trial=$trial n=$n toks=$toks")
    }
  }

  test("NormalizeUnicode ASCII fast path returns input; non-ASCII still normalizes") {
    for (form <- Seq("NFC", "NFKC")) {
      val f = graft.functions.NormalizeUnicode(
        org.apache.spark.sql.catalyst.expressions.Literal("x"), form)
      for (t <- docs(150, 500L) ++ Seq("", "plain ascii ''|", "ﬁ ﬂ", "é", "Ａ")) {
        val got = f.compute(UTF8String.fromString(t)).toString
        val want = java.text.Normalizer.normalize(t,
          java.text.Normalizer.Form.valueOf(form))
        assert(got == want, s"form=$form text=<$t>")
      }
    }
  }

  test("IndicNormalize fast path == IndicNorm.normalize for every route") {
    val langs = Seq("english", "hindi", "bengali", "tamil", "urdu",
      "kashmiri", "unknown", null)
    val texts = docs(120, 900L) ++ Seq(
      "", "plain ascii", "with | pipe", "isn't it", "doubled '' quotes",
      "a | b '' c", "नमस्ते | ':", "“curly” … stuff", "x: y", "clean.")
    for (lang <- langs; t <- texts) {
      val expr = graft.functions.IndicNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal("x"),
        org.apache.spark.sql.catalyst.expressions.Literal("y"))
      val got = expr.compute(UTF8String.fromString(t),
        if (lang == null) null else UTF8String.fromString(lang)).toString
      assert(got == IndicNorm.normalize(t, lang), s"lang=$lang text=<$t>")
    }
  }

  test("IndicNormalize end-to-end in a codegen'd projection (null lang passes through)") {
    val df = Seq(
      (1L, "plain ascii text", "en"),
      (2L, "pipe | here", "hindi"),
      (3L, "it's fine '' really", "urdu"),
      (4L, "नमस्ते|", "hindi"),
      (5L, "“curly”…", "es"),
      (6L, "no lang row", null)
    ).toDF("id", "text", "lang")
    val got = df.select($"id",
      graft.functions.GraftFunctions.indicNormalize($"text", $"lang").as("t"))
      .as[(Long, String)].collect().toMap
    val want = Seq(
      (1L, "plain ascii text", "en"), (2L, "pipe | here", "hindi"),
      (3L, "it's fine '' really", "urdu"), (4L, "नमस्ते|", "hindi"),
      (5L, "“curly”…", "es"), (6L, "no lang row", null))
      .map { case (i, t, l) => i -> IndicNorm.normalize(t, l) }.toMap
    assert(got == want)
  }

  test("fused LshBandKeys == HOF md5/array_join composition") {
    import graft.ops.{MinHash, Text}
    val df = (docs(200, 3000L) ++ Seq("a b c d e f g h i j", "x y z"))
      .toDF("text")
      .select(Text.shingleSet($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
      .select(MinHash.signature($"sh", 32).as("sig"))
    for ((bands, rpb) <- Seq((8, 4), (4, 8))) {
      val bad = df.filter(
        to_json(MinHash.bandKeys($"sig", bands, rpb)) =!=
          to_json(MinHash.bandKeysHof($"sig", bands, rpb))).count()
      assert(bad == 0, s"bands=$bands rowsPerBand=$rpb")
    }
  }

  test("fused IntBandKeys == HOF aggregate/slice composition") {
    import graft.ops.Vectors
    val sigs = (0 until 150).map { i =>
      Tuple1((0 until 16).map(j => (i * 31 + j * 7) % 2).toArray)
    }
    val df = sigs.toDF("sig")
    def fused(bands: Int, rpb: Int) =
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.IntBandKeys(
          org.apache.spark.sql.graft.bridge.expression(col("sig")), bands, rpb))
    for ((bands, rpb) <- Seq((4, 4), (8, 2))) {
      val bad = df.filter(
        to_json(fused(bands, rpb)) =!=
          to_json(Vectors.intBandKeysHof($"sig", bands, rpb))).count()
      assert(bad == 0, s"bands=$bands rpb=$rpb")
    }
  }

  test("AsciiClassOutRatio fused == regex composition for the engine's classes") {
    val df = (docs(300, 1500L) ++ Seq("", " ", "abc", "ABC", "012",
      "mix 3d é𐍈", "\n\t")).toDF("text")
    for (cls <- Seq("[a-z ]", "[a-z]", "[^0-9]")) {
      assert(AsciiClassOutRatio.parse(cls).isDefined, cls)
      val bad = df.filter(
        Text.charClassOutRatio($"text", cls) =!=
          Text.charClassOutRatioRegex($"text", cls)).count()
      assert(bad == 0, s"class=$cls")
    }
    // Unicode / escaped classes must NOT take the fused path
    for (cls <- Seq("[\\p{L}\\s]", "[\\p{L} ]", "[a\\-z]"))
      assert(AsciiClassOutRatio.parse(cls).isEmpty, cls)
  }
}
