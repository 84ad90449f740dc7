package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/** Unit vectors for the custom Catalyst expressions, including the
  * Unicode edge cases from FIXTURES.md §10. */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("r")).collect()(0).getAs[T]("r")

  private def oneSeq(c: org.apache.spark.sql.Column, text: String): List[String] =
    Seq(text).toDF("t").select(c.as("r")).collect()(0).getSeq[String](0).toList

  test("minhash signature matches a BigInt reference implementation") {
    // guards the 128-bit split-multiply mod 2^61-1 against the
    // straightforward arbitrary-precision form
    val shingles = Seq("a b c", "b c d", "c d e", "zebra quick fox", "x")
    val M = BigInt(2).pow(61) - 1
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): BigInt = BigInt(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val expected = (0 until 32).map { p =>
      val a = BigInt(2L * p * 2654435761L + 1)
      val b = BigInt(p.toLong * 40503 + 7)
      shingles.map(s => (a * h(s) + b).mod(M)).min.toLong
    }
    val got = Seq(shingles).toDF("sh")
      .select(graft.ops.MinHash.signature($"sh", 32).as("sig"))
      .collect()(0).getSeq[Long](0)
    assert(got == expected)
  }

  test("codegen'd expressions compile under fallback=false and match eval") {
    // The five hot-path expressions implement doGenCode (plan-reference
    // call into the JIT-compiled compute body) so their projections
    // stay inside whole-stage codegen. Spark silently reverts to
    // interpreted eval on Janino errors — fallback=false turns that
    // silent revert into a test failure, and comparing against the
    // interpreted path pins the two implementations to each other.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val vecs = Seq(
        (Seq(1.0f, 2.0f, -0.5f), Seq(0.5f, -1.0f, 4.0f)),
        (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f)))
      val dot = vecs.toDF("a", "b")
        .select(graft.ops.Vectors.dot($"a", $"b").as("d"))
        .collect().map(_.getDouble(0)).toSeq
      assert(dot == Seq(1.0 * 0.5 - 2.0 + (-0.5) * 4.0, 0.0))

      val sig = Seq(Seq("a b", "b c"), Seq.empty[String]).toDF("sh")
        .select(graft.ops.MinHash.signature($"sh", 8).as("s"))
        .collect()
      assert(sig(0).getSeq[Long](0).length == 8)
      assert(sig(1).isNullAt(0), "empty shingles must stay null")

      val grams = Seq(Seq("x", "y", "z")).toDF("t")
        .select(org.apache.spark.sql.graft.bridge.column(
          graft.functions.WordGramHashes(
            org.apache.spark.sql.graft.bridge.expression(col("t")), 2)).as("g"))
        .collect()(0).getSeq[String](0)
      assert(grams.length == 2 && grams.forall(_.length == 32))

      val signs = Seq(Seq(1.0, -1.0, 1.0), Seq(-1.0, -1.0, 1.0))
      val bits = Seq(Seq(1.0f, 0.5f, 2.0f)).toDF("v")
        .select(org.apache.spark.sql.graft.bridge.column(
          graft.functions.HyperplaneBits(
            org.apache.spark.sql.graft.bridge.expression(col("v")), signs))
          .as("b"))
        .collect()(0).getSeq[Int](0)
      assert(bits == Seq(1, 1)) // 1-0.5+2>0; -1-0.5+2>0

      val fps = Seq(Seq("a", "b", "c", "d", "e")).toDF("t")
        .select(graft.ops.Winnow.selection($"t", 2, 2).as("f"))
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      assert(fps.nonEmpty && fps.forall(_.getInt(1) <= 0))

      // the scalar-expression module (keyword automaton, splitters,
      // normalizers, repetition scores, rolling hash) — every dataType
      // shape the module emits must survive codegen: map, int, string,
      // array<string>, double, nullable string, long
      val kws = Seq("slow", "hash join")
      assert(one[Map[String, Int]](keywordMatches($"t", kws),
        "slow hash join") == Map("slow" -> 1, "hash join" -> 1))
      assert(one[Int](keywordCount($"t", kws), "slow slower") == 1)
      assert(one[String](keywordRedact($"t", kws, "[*]"), "a slow b")
        == "a [*] b")
      val spans = Seq("slow x").toDF("t")
        .select(keywordSpans($"t", kws).as("r"))
        .collect()(0).getSeq[scala.collection.Seq[Int]](0)
      assert(spans.map(s => (s(0), s(1))).toList == List((0, 4)))
      assert(one[String](graft.ops.Text.normalizeWs($"t"), "  a\t b ")
        == "a b")
      assert(oneSeq(graft.functions.GraftFunctions.splitKeepDelim(
        $"t", SentenceDelimiterPattern), "a. b") == List("a.", " b"))
      assert(one[String](normalizeUnicode($"t", "NFKC"), "ﬁ") == "fi")
      assert(one[Double](charNgramRep($"t", 2), "ababab") > 0.0)
      assert(one[Double](wordNgramRep(split($"t", " "), 2),
        "a b a b") > 0.0)
      assert(one[String](GraftFunctions.removeNonTerminalPuncSpan(
        $"t", 2.0), "one two three. junk") == "one two three.")
      // removed chunk → null must survive the codegen null path
      val removed = Seq("abc...").toDF("t")
        .select(GraftFunctions.removeNonTerminalPuncSpan($"t", 2.0).as("r"))
        .collect()(0)
      assert(removed.isNullAt(0))
      assert(one[Long](rollingHash($"t"), "abc") ==
        one[Long](rollingHash($"t"), "abc"))
      val tok = oneSeq(graft.ops.Text.trivialTokenize($"t", "en"), "a b")
      assert(tok == List("a", "b"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("jaro_winkler: strcmp95 vectors, integer-truncated transpositions") {
    def jw(a: String, b: String): Double =
      Seq((a, b)).toDF("a", "b")
        .select(GraftFunctions.jaroWinkler($"a", $"b").as("r"))
        .collect()(0).getDouble(0)
    def close(x: Double, y: Double): Unit = assert(math.abs(x - y) < 1e-12,
      s"$x vs $y")
    // classic published vectors (agree with DuckDB's independent impl)
    close(jw("MARTHA", "MARHTA"), 0.9611111111111111)
    close(jw("DIXON", "DICKSONX"), 0.8133333333333332)
    close(jw("CRATE", "TRACE"), 0.7333333333333334) // jaro>0.7 but prefix 0
    close(jw("aaaaaaaaaa", "aaaaaaaaab"), 0.96) // prefix capped at 4
    close(jw("abcdefgh", "abzzzzzz"), 0.5) // below 0.7: NO winkler boost
    // odd mismatch count floors (Winkler's strcmp95 integer division):
    // matched seqs differ in 3 positions -> t=1, not 1.5
    close(jw("Customer#000000102", "Cutomer#000001230"), 0.9380174291938996)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "abc") == 0.0)
    assert(jw("", "") == 0.0) // DuckDB convention: empty scores 0
    assert(jw("ab", "ba") == 0.0) // window 0: no matches
    // SQL surface
    GraftFunctions.registerSql(spark)
    val viaSql = spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS r")
      .collect()(0).getDouble(0)
    close(viaSql, 0.9611111111111111)
  }

  test("remove_non_terminal_punc_span mirrors the reference flow (F20)") {
    import graft.functions.NonTerminalPuncSpanRemove.eval
    // valid terminal → unchanged
    assert(eval("hello world.", 2) == "hello world.")
    // exception suffix → removed
    assert(eval("abc...", 2) == null)
    assert(eval("abc####", 2) == null)
    // invalid tail truncates at the LAST terminal punctuation
    assert(eval("one two three. junk junk", 2) == "one two three.")
    // cut too short for the word threshold → removed
    assert(eval("a. xx", 5) == null)
    // no terminal punctuation at all → empty cut → removed
    assert(eval("a b c", 2) == null)
    // DataFrame/SQL surface
    val got = one[String](
      graft.functions.GraftFunctions
        .removeNonTerminalPuncSpan($"t", 2.0), "one two three: tail")
    assert(got == "one two three:")
  }

  test("sentence split routes delimiters by language (F22)") {
    import graft.ops.Text
    assert(oneSeq(Text.sentenceSplit($"t", "hindi"), "नमस्ते। कैसे हो? ठीक")
      == List("नमस्ते।", "कैसे हो?", "ठीक"))
    assert(oneSeq(Text.sentenceSplit($"t", "english"), "Hi there. Ok! end")
      == List("Hi there.", "Ok!", "end"))
    // danda is NOT a delimiter for english
    assert(oneSeq(Text.sentenceSplit($"t", "english"), "a। b")
      == List("a। b"))
    // urdu splits on Arabic question mark / full stop
    assert(oneSeq(Text.sentenceSplit($"t", "urdu"), "کیا؟ ہاں۔ اور")
      == List("کیا؟", "ہاں۔", "اور"))
  }

  test("split_keep_delim keeps danda/urdu delimiters attached (F1)") {
    val got = oneSeq(splitKeepDelim($"t", SentenceDelimiterPattern), "क।ख॥ग؟x")
    // ॥ is two । in sequence? No — U+0965 is one char; class contains ॥
    assert(got == Seq("क।", "ख॥", "ग؟", "x"))
  }

  test("split_keep_delim attaches trailing newlines and keeps remainder") {
    val got = oneSeq(splitKeepDelim($"t", SentenceDelimiterPattern), "a.\n\nb! c? d")
    assert(got == Seq("a.\n\n", "b!", " c?", " d"))
  }

  test("keyword automaton: word boundaries, phrases, counts") {
    val kws = Seq("slow", "hash join", "dup")
    assert(one[Map[String, Int]](keywordMatches($"t", kws),
      "slow hash join slower dup hash join") ==
      Map("slow" -> 1, "hash join" -> 2, "dup" -> 1))
    // 'slower' must not match 'slow' (boundary), '_slow' neither
    assert(one[Int](keywordCount($"t", kws), "slower _slow slowx") == 0)
    assert(one[Int](keywordCount($"t", kws), "slow, dup; hash join.") == 3)
  }

  test("keyword spans: [start,end) char offsets in match order (F15)") {
    val got = Seq("slow x hash join y slow").toDF("t")
      .select(keywordSpans($"t", Seq("slow", "hash join")).as("r"))
      .collect()(0).getSeq[scala.collection.Seq[Int]](0)
      .map(s => (s(0), s(1))).toList
    assert(got == List((0, 4), (7, 16), (19, 23)))
  }

  test("keyword automaton: overlapping distinct keywords all count") {
    val got = one[Map[String, Int]](
      keywordMatches($"t", Seq("hash join", "join")), "hash join")
    assert(got == Map("hash join" -> 1, "join" -> 1))
  }

  test("keyword redact: boundary-valid hits masked, embedded keys kept") {
    val kws = Seq("slow", "hash join", "dup")
    // whole-word hits masked (punctuation-adjacent too); 'slower'
    // and '_slow' untouched; whitespace and ordering preserved
    assert(one[String](keywordRedact($"t", kws),
      "slow, slower hash join _slow dup.") == "[*], slower [*] _slow [*].")
    // custom mask + nested keys: 'hash join' swallows 'join'
    assert(one[String](keywordRedact($"t", Seq("hash join", "join"), "X"),
      "a hash join b join") == "a X b X")
    // no hits → identity
    assert(one[String](keywordRedact($"t", kws), "nothing here") ==
      "nothing here")
    // Brahmic boundaries: whole word masked; a key embedded in a
    // longer word (vowel-sign continuation) stays untouched
    assert(one[String](keywordRedact($"t", Seq("चूतिया")), "चूतिया बोला") ==
      "[*] बोला")
    assert(one[String](keywordRedact($"t", Seq("चूत")), "चूतिया बोला") ==
      "चूतिया बोला")
  }

  test("normalize NFKC folds compatibility forms") {
    assert(one[String](normalizeUnicode($"t"), "ﬁ①ｱ") == "fi1ア")
    assert(one[String](normalizeUnicode($"t", "NFC"), "ﬁ") == "ﬁ")
  }

  test("char ngram repetition score (F17 semantics)") {
    // "aaaa": 10 2-grams? "aaaa" has 3 bigrams all "aa": distinct=1,
    // k=floor(sqrt(1))=1, top1=3, total=3 → 1.0
    assert(one[Double](charNgramRep($"t", 2), "aaaa") == 1.0)
    // "abcd": 3 distinct bigrams, k=1, top=1, total=3
    assert(math.abs(one[Double](charNgramRep($"t", 2), "abcd") - 1.0 / 3) < 1e-12)
    assert(one[Double](charNgramRep($"t", 5), "abc") == 0.0)
  }

  test("word ngram repetition score (F18 semantics)") {
    val toks = split($"t", " ")
    // tokens a b a b a → bigrams: (a b),(b a),(a b),(b a) → all freq 2 → 1.0
    assert(one[Double](wordNgramRep(toks, 2), "a b a b a") == 1.0)
    // a b c d → 3 distinct bigrams once each → 0.0
    assert(one[Double](wordNgramRep(toks, 2), "a b c d") == 0.0)
    assert(one[Double](wordNgramRep(toks, 9), "a b") == 0.0)
  }

  test("rolling hash: deterministic, order-sensitive") {
    val h1 = one[Long](rollingHash($"t"), "hello world")
    val h2 = one[Long](rollingHash($"t"), "world hello")
    assert(h1 == one[Long](rollingHash($"t"), "hello world"))
    assert(h1 != h2)
    assert(h1 >= 0)
  }

  test("SQL registration: graft_* callable from spark.sql") {
    GraftFunctions.registerSql(spark)
    val r = spark.sql(
      """SELECT graft_keyword_count('slow dup x', 'slow,dup') AS c,
        |graft_normalize('ﬁ') AS n,
        |graft_word_ngram_rep(array('a','b','a','b','a'), 2) AS w,
        |graft_collapse_ws('  a\t\tb  ') AS ws,
        |graft_trivial_tokenize('کیا۔', 'ur') AS ut,
        |graft_keyword_redact('slow dup x', 'slow,dup') AS rd,
        |graft_keyword_redact('slow dup x', 'slow,dup', '#') AS rd2""".stripMargin)
      .collect()(0)
    assert(r.getAs[Int]("c") == 2)
    assert(r.getAs[String]("n") == "fi")
    assert(r.getAs[Double]("w") == 1.0)
    assert(r.getAs[String]("ws") == "a b")
    assert(r.getSeq[String](4) == Seq("کیا", "۔"))
    assert(r.getAs[String]("rd") == "[*] [*] x")
    assert(r.getAs[String]("rd2") == "# # x")
  }

  test("graft_mojibake_count/repair callable from SQL, match the Column forms") {
    GraftFunctions.registerSql(spark)
    val s = "cafÃ© donâ€™t â€œquotedâ€ plainÂ x"
    val r = spark.sql(
      s"""SELECT graft_mojibake_count('$s') AS c,
         |graft_mojibake_repair('$s') AS rep""".stripMargin).collect()(0)
    assert(r.getAs[Long]("c") == 5L)
    assert(r.getAs[String]("rep") == "café don’t “quoted” plain x")
    import spark.implicits._
    val col = Seq(s).toDF("t")
      .select(graft.ops.Text.mojibakeCount($"t").as("c"),
        graft.ops.Text.mojibakeRepair($"t").as("rep")).collect()(0)
    assert(col.getAs[Long]("c") == r.getAs[Long]("c"))
    assert(col.getAs[String]("rep") == r.getAs[String]("rep"))
  }

  test("charClassOutRatio on continuation-only bytes == regex form, never NaN") {
    import graft.ops.Text
    val df = Seq(Array(0x80), Array(0x80, 0xbf, 0x80)).map(_.map(_.toByte))
      .toDF("b").select($"b".cast("string").as("t"))
    for (cls <- Seq("[a-z ]", "[^0-9]")) {
      assert(graft.functions.AsciiClassOutRatio.parse(cls).isDefined, cls)
      df.select(Text.charClassOutRatio($"t", cls), Text.charClassOutRatioRegex($"t", cls))
        .as[(Double, Double)].collect().foreach { case (fused, regex) =>
          assert(!fused.isNaN && fused == regex, s"class=$cls fused=$fused regex=$regex")
        }
    }
  }

  test("charClassOutRatio on mixed invalid UTF-8 == regex form") {
    import graft.ops.Text
    import org.scalacheck.Gen
    // ASCII, well-formed multi-byte sequences, and malformed ones: stray
    // continuations, bytes never in UTF-8, overlongs, surrogates, past
    // U+10FFFF, and sequences cut short
    val pieces = Seq(Seq(0x61), Seq(0x20), Seq(0x39), Seq(0x41), Seq(0x7a),
      Seq(0xc3, 0xa9), Seq(0xe0, 0xa4, 0xa8), Seq(0xf0, 0x90, 0x8d, 0x88),
      Seq(0x80), Seq(0xbf), Seq(0xff), Seq(0xfe),
      Seq(0xc0, 0xaf), Seq(0xc1, 0x81), Seq(0xe0, 0x80, 0xaf), Seq(0xf0, 0x80, 0x80, 0xaf),
      Seq(0xed, 0xa0, 0x80), Seq(0xed, 0xbf, 0xbf), Seq(0xf4, 0x90, 0x80, 0x80),
      Seq(0xf5, 0x80, 0x80, 0x80), Seq(0xc3), Seq(0xe0, 0xa4), Seq(0xf0, 0x90, 0x8d))
    val gen = Gen.listOf(Gen.oneOf(pieces)).map(_.flatten.map(_.toByte).toArray)
    val docs = Seq(Seq(0x61, 0x80), Seq(0x80, 0x61), Seq(0x61, 0xc3), Seq(0xe0, 0xa4, 0x61))
      .map(_.map(_.toByte).toArray) ++
      (0 until 400).map(i => gen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(i)))
    val df = docs.toDF("b").select($"b".cast("string").as("t"), $"b")
    def valid(b: Array[Byte]) = scala.util.Try(java.nio.charset.StandardCharsets.UTF_8
      .newDecoder().decode(java.nio.ByteBuffer.wrap(b))).isSuccess
    assert(docs.count(!valid(_)) > 300, "most inputs must be malformed")
    for (cls <- Seq("[a-z ]", "[a-z]", "[^0-9]", "[A-Z0-9]")) {
      assert(graft.functions.AsciiClassOutRatio.parse(cls).isDefined, cls)
      df.select(Text.charClassOutRatio($"t", cls), Text.charClassOutRatioRegex($"t", cls), $"b")
        .as[(Double, Double, Array[Byte])].collect().foreach { case (fused, regex, b) =>
          assert(fused == regex,
            s"class=$cls bytes=${b.map(_ & 0xff).mkString(",")} fused=$fused regex=$regex")
        }
    }
  }

  test("charClassOutRatio: an && intersection class stays on the regex path") {
    import graft.ops.Text
    assert(graft.functions.AsciiClassOutRatio.parse("[a&&b]").isEmpty)
    // {a} ∩ {b} is empty, so every char is out of the class
    assert(one[Double](Text.charClassOutRatio($"t", "[a&&b]"), "ab") == 1.0)
  }

  test("graft_lang_name/graft_lang_code callable from SQL") {
    GraftFunctions.registerSql(spark)
    val r = spark.sql(
      """SELECT graft_lang_name('urd') AS n, graft_lang_code('URDU') AS c,
        |graft_lang_name('klingon') AS u""".stripMargin).collect()(0)
    assert(r.getString(0) == "urdu")
    assert(r.getString(1) == "ur")
    assert(r.getString(2) == "klingon")
  }

  test("graft_word_gram_hashes: null array elements hash as empty string") {
    GraftFunctions.registerSql(spark)
    val got = spark.sql(
      "SELECT graft_word_gram_hashes(array('a', cast(null as string), 'b'), 2) AS g")
      .collect()(0).getSeq[String](0)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Seq(md5hex("a "), md5hex(" b")))
  }

  test("graft_winnow_fingerprints callable from SQL, matches the Column form") {
    GraftFunctions.registerSql(spark)
    import spark.implicits._
    val text = "a b c d e f g h i j k l"
    val viaSql = spark.sql(
      s"SELECT graft_winnow_fingerprints(split('$text', ' '), 5, 4) AS f")
      .selectExpr("transform(f, x -> struct(x.h, x.nj)) AS f")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val viaCol = Seq(text).toDF("t")
      .select(graft.ops.Winnow.selection(
        org.apache.spark.sql.functions.split($"t", " "), 5, 4).as("f"))
      .selectExpr("transform(f, x -> struct(x.h, x.nj)) AS f")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("GraftExtensions injects the full SQL surface (spark.sql.extensions path)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.Literal
    // apply the extension to a fresh extensions object and materialize
    // its registry — exactly what session construction does with
    // spark.sql.extensions=graft.GraftExtensions
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val registry = org.apache.spark.sql.graft.testbridge.registerFunctions(
      ext, FunctionRegistry.builtin.clone().asInstanceOf[FunctionRegistry])
    // one source of truth: every registerSql name resolves via injection
    val names = GraftFunctions.sqlFunctions.map(_._1)
    assert(names.nonEmpty)
    names.foreach { n =>
      assert(registry.functionExists(FunctionIdentifier(n)), n)
    }
    // an injected builder produces a working expression
    val collapse = registry.lookupFunction(
      FunctionIdentifier("graft_collapse_ws"), Seq(Literal.create("  a\t\tb  ")))
    assert(collapse.eval(null).toString == "a b")
  }

  test("native bloom probe: bloom_filter_agg/might_contain, no false negatives, no ScalaUDF") {
    // The two incremental-dedup bloom prefilters (queries/Dedup.scala,
    // streaming/StreamOps.scala) build the filter with bloom_filter_agg
    // and probe with might_contain — the codegen'd Catalyst pair that
    // replaced the last per-row Scala closures in src/main. Pins:
    // (a) ZERO false negatives — every member hash must pass the probe
    //     (the property the anti-join equality proofs rest on);
    // (b) the probe plan carries no ScalaUDF node.
    val members = (0 until 2000).map(i => s"doc-$i")
    val bf = members.toDF("h")
      .agg(GraftFunctions.bloomFilterAgg(xxhash64($"h"), 2000L, 20000L))
      .head
    assert(!bf.isNullAt(0))
    val probe = members.toDF("h")
      .filter(GraftFunctions.bloomMightContain(
        bf.getAs[Array[Byte]](0), xxhash64($"h")))
    assert(probe.count() == members.size) // no false negatives, ever
    assert(!probe.queryExecution.executedPlan.toString.contains("UDF"),
      "bloom probe must stay native (no ScalaUDF in the plan)")
    // and the ~1% fpp sizing really prunes: non-members mostly rejected
    val fps = (0 until 2000).map(i => s"other-$i").toDF("h")
      .filter(GraftFunctions.bloomMightContain(
        bf.getAs[Array[Byte]](0), xxhash64($"h"))).count()
    assert(fps < 200, s"false-positive count $fps out of 2000")
  }
}
