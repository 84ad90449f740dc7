package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.ops.Text
import graft.queries.Events
import graft.streaming.StreamOps

/** Property tests (SURVEY §5.3): round trips and invariants over
  * ScalaCheck-generated token streams, each batch driven through one
  * real Spark plan. (Plain Gen + fixed seeds — the scalatestplus bridge
  * isn't among the offline deps.) */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val token = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val doc = Gen.listOf(token).map(_.mkString(" "))

  private def sampleDocs(n: Int): Seq[String] =
    (0 until n).map(i => doc.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // Rich alphabet for the fused-expression pins: letters, every
  // whitespace flavor, pad marks (ASCII + danda + Urdu), the backslash
  // quirk, multibyte and non-BMP codepoints.
  private val richChar: Gen[String] = Gen.frequency(
    6 -> Gen.alphaLowerChar.map(_.toString),
    3 -> Gen.oneOf(" ", " ", "\t", "\n", "", "\f", "\r"),
    3 -> Gen.oneOf("!", ",", ".", "(", ")", "[", "]", "-", "^", "~",
      "।", "॥", "۔", "،", "٪"),
    1 -> Gen.oneOf("\\", "é", "नम", "𐍈", "A", "Z"))
  private val richDoc: Gen[String] =
    Gen.listOf(richChar).map(_.mkString)
  private def richDocs(n: Int): Seq[String] =
    (0 until n).map(i => richDoc.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("fused JaccardSim == array_intersect composition on shingle sets") {
    val df = richDocs(200).toDF("text")
      .withColumn("i", monotonically_increasing_id())
    val pairs = df.select($"i".as("ia"), Text.shingleSet($"text", 2).as("a"))
      .crossJoin(df.limit(20).select(Text.shingleSet($"text", 2).as("b")))
    val bad = pairs.filter(
      Text.jaccard($"a", $"b") =!= Text.jaccardHof($"a", $"b")).count()
    assert(bad == 0)
  }

  // Shingle-sketch pins: words from ASCII, the shipped Devanagari /
  // Bengali / Tamil stopword lexicons, astral-plane codepoints, tokens
  // holding \n, \t, NUL and other bytes below 0x20, and a mix; small
  // pools so shingles repeat inside a doc and overlap across docs;
  // single and double spaces plus leading/trailing ones (empty tokens).
  private lazy val sketchPools: Seq[Seq[String]] = {
    import graft.sources.Lexicons
    val pools = Seq(Seq("the", "a", "fox", "dog", "river", "x"),
      Lexicons.stopwords("hindi").take(6), Lexicons.stopwords("bengali").take(6),
      Lexicons.stopwords("tamil").take(6), Seq("𐍈", "𝔘𝔫𝔦", "😀x", "a𐌰b"),
      Seq("a\nb", "\t", "x\u0001", "\u001f\u007f", "\u0000", "a", "q\r"))
    pools :+ pools.flatMap(_.take(2))
  }

  /** Texts for the sketch properties: generated docs, long docs
    * (thousands of shingles, most repeated), near-dup partners (each
    * doc minus its last token), edge cases, and invalid UTF-8 (lone
    * continuation, 0xFF, surrogate, overlong, truncated sequence,
    * continuation-only tokens) cast from binary. */
  private def sketchTexts(): org.apache.spark.sql.DataFrame = {
    val gen = sketchDocs(120) ++ (0 until 4).map(i =>
      Gen.listOfN(3000, Gen.oneOf(sketchPools.last)).map(_.mkString(" "))
        .pureApply(Gen.Parameters.default, Seed(7500L + i)))
    val texts = gen ++ gen.map(d => d.substring(0, math.max(0, d.lastIndexOf(' ')))) ++
      Seq("", " ", "a", "a b", "a  b", "a b c", "  a b c  ", "x x x x x x x",
        "x x x x y x x x x", "a \uFFFDb c d", null)
    val invalid = Seq("a \u0080b c d", "a \u0080b c e", "x y \u00ff z w",
      "\u00ed\u00a0\u0080 q r s", "\u00c0\u00af a b c", "a b \u00e0\u00a4 c d",
      "\u0080\u0080 \u0080\u0080 \u0080\u0080 \u0080").map(_.map(_.toByte).toArray)
    texts.toDF("text")
      .unionByName(invalid.toDF("b").select($"b".cast("string").as("text")))
      .withColumn("id", monotonically_increasing_id())
  }

  /** The shingle strings a sketch names, in sketch order: each offset's
    * slice of the raw text (or of its U+FFFD re-encoding when the
    * header says so), ending at the n-th space at or after it. */
  private def decodeSketch(raw: Array[Byte], sk: Seq[Int]): Seq[String] = {
    val n = sk.head >>> 1
    val bytes =
      if ((sk.head & 1) == 1) new String(raw, "UTF-8").getBytes("UTF-8") else raw
    sk.tail.map { s =>
      var e = s
      var spaces = 0
      while (e < bytes.length && (bytes(e) != ' ' || { spaces += 1; spaces < n })) e += 1
      new String(bytes, s, e - s, "UTF-8")
    }
  }

  private def validUtf8(raw: Array[Byte]): Boolean =
    scala.util.Try(java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .decode(java.nio.ByteBuffer.wrap(raw))).isSuccess

  test("shingle sketch: decoded slices == sort_array(Text.shingleSet), header == (n, validity)") {
    import graft.ops.MinHash
    val df = sketchTexts().filter($"text".isNotNull).localCheckpoint()
    for (n <- Seq(1, 2, 3)) {
      val rows = df.select($"text".cast("binary"), MinHash.sketch($"text", n),
          sort_array(Text.shingleSet($"text", n)))
        .as[(Array[Byte], Seq[Int], Seq[String])].collect()
      var nonEmpty = 0
      var reencoded = 0
      for ((raw, sk, want) <- rows) {
        val ctx = s"n=$n text=${raw.map(_ & 0xff).mkString(",")}"
        if (want.isEmpty) assert(sk.isEmpty, ctx)
        else {
          nonEmpty += 1
          assert(sk.head >>> 1 == n, ctx)
          assert(((sk.head & 1) == 1) == !validUtf8(raw), ctx)
          if ((sk.head & 1) == 1) reencoded += 1
          assert(decodeSketch(raw, sk) == want, ctx)
        }
      }
      // not vacuous: most texts sketch, and the invalid ones re-encode
      assert(nonEmpty > 200 && reencoded == 7, s"n=$n nonEmpty=$nonEmpty reencoded=$reencoded")
    }
  }
  private def sketchDocs(n: Int): Seq[String] = {
    val g = for {
      pool <- Gen.oneOf(sketchPools)
      k <- Gen.choose(0, 16)
      words <- Gen.listOfN(k, Gen.oneOf(pool))
      seps <- Gen.listOfN(k, Gen.frequency(8 -> " ", 1 -> "  "))
      lead <- Gen.frequency(4 -> "", 1 -> " ")
      trail <- Gen.frequency(4 -> "", 1 -> " ")
    } yield lead + words.zip(seps).map { case (w, s) => s + w }.mkString.drop(1) + trail
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(7000L + i)))
  }

  test("shingle sketch: signature and exact Jaccard == the shingle-string path") {
    import graft.ops.MinHash
    val df = sketchTexts()
      .select($"id", $"text", MinHash.sketch($"text", 3).as("sk"),
        Text.shingleSet($"text", 3).as("sh"))
      .localCheckpoint()
    val badSig = df.filter(
      !(MinHash.textSignature($"text", $"sk", 32) <=> MinHash.signature($"sh", 32)) ||
        !(size($"sk") <=> when(size($"sh") > 0, size($"sh") + 1).otherwise(size($"sh")))).count()
    assert(badSig == 0)
    def side(s: String) = df.select(df.columns.map(c => col(c).as(s"${c}_$s")): _*)
    val pairs = side("a").crossJoin(side("b")).filter($"id_a" <= $"id_b")
      .select($"id_a", $"id_b",
        MinHash.sketchJaccard($"sk_a", $"text_a", $"sk_b", $"text_b").as("got"),
        Text.jaccard($"sh_a", $"sh_b").as("want"))
      .localCheckpoint()
    assert(pairs.filter(!($"got" <=> $"want")).count() == 0)
    // not vacuous: partial overlaps, and invalid texts that match
    // through their U+FFFD decoding
    assert(pairs.filter($"want" > 0.0 && $"want" < 1.0).count() > 100)
    val fffd = df.filter($"text" === "a \uFFFDb c d").select("id").as[Long].head()
    assert(pairs.filter(($"id_a" === fffd || $"id_b" === fffd) && $"id_a" =!= $"id_b" &&
      $"want" === 1.0).count() == 1)
  }

  test("shingle sketch byte order: a prefix sorts first, high bytes after ASCII") {
    import graft.ops.MinHash
    def sk(text: String, n: Int): Seq[Int] =
      Seq(text).toDF("t").select(MinHash.sketch($"t", n)).as[Seq[Int]].head()
    // "a"@3 < "ab"@0 < "abc"@5: a slice that ends sorts before any byte
    assert(sk("ab a abc", 1) == Seq(1 << 1, 3, 0, 5))
    // z(7A) < ~(7E) < DEL(7F) < é(C3 A9): bytes compare unsigned
    assert(sk("é z ~ \u007f", 1) == Seq(1 << 1, 3, 5, 7, 0))
    // the first difference inside and after the first 8-byte word
    assert(sk("abcdefgé abcdefgzz", 1) == Seq(1 << 1, 10, 0))
    assert(sk("abcdefghé abcdefghz", 1) == Seq(1 << 1, 11, 0))
    // a NUL byte sorts after the end of the shorter slice; equal
    // slices keep the first occurrence
    assert(sk("a\u0000 a a", 1) == Seq(1 << 1, 3, 0))
    // shingles of 3 whose first 4 bytes agree
    assert(sk("the cat sat the cat sa", 3) == Seq(3 << 1, 4, 8, 12, 0))
    val texts = Seq("a ab", "ab abc", "é z", "z é", "é", "e", "abcdefgé abcdefgzz",
      "abcdefgzz abcdefgé", "abcdefghé", "abcdefghz", "the cat sat", "the cat sa")
    val df = texts.toDF("text").withColumn("id", monotonically_increasing_id())
      .select($"id", $"text", MinHash.sketch($"text", 1).as("sk"),
        Text.shingleSet($"text", 1).as("sh"))
    def side(s: String) = df.select(df.columns.map(c => col(c).as(s"${c}_$s")): _*)
    val got = side("a").crossJoin(side("b"))
      .select(MinHash.sketchJaccard($"sk_a", $"text_a", $"sk_b", $"text_b"),
        Text.jaccard($"sh_a", $"sh_b"))
      .as[(Double, Double)].collect()
    assert(got.forall { case (g, w) => g == w })
    assert(got.count(_._1 == 1.0 / 3) >= 2 && got.count(_._1 == 1.0) > texts.size)
  }

  test("fused CollapseWs == regex trim+collapse composition") {
    val df = richDocs(300).toDF("text")
    val bad = df.filter(
      Text.normalizeWs($"text") =!= Text.normalizeWsRegex($"text")).count()
    assert(bad == 0)
  }

  test("fused TrivialTokenize == 3-regex composition (hi and ur routes)") {
    val df = richDocs(300).toDF("text")
    for (lang <- Seq("hi", "ur")) {
      val bad = df.filter(
        to_json(Text.trivialTokenize($"text", lang)) =!=
          to_json(Text.trivialTokenizeRegex($"text", lang))).count()
      assert(bad == 0, s"lang=$lang")
    }
  }

  test("doc2lines ∘ lines2doc = identity (posexplode round trip)") {
    val df = sampleDocs(60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rebuilt = df
      .select($"doc_id", posexplode(Text.tokens($"text")).as(Seq("pos", "tok")))
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"pos", $"tok"))),
        x => x.getField("tok")), " ").as("re"))
    val bad = rebuilt.join(df, "doc_id").filter($"re" =!= $"text").count()
    assert(bad == 0)
  }

  test("word count == token array size >= 1 for all generated docs") {
    val df = sampleDocs(60).toDF("text")
    val bad = df.filter(
      Text.wordCount($"text") =!= size(Text.tokens($"text")) ||
        Text.wordCount($"text") < 1).count()
    assert(bad == 0)
  }

  test("ngram count = max(0, tokens-n+1); jaccard(self)=1 when shingles exist") {
    for (n <- 1 to 4) {
      val df = sampleDocs(40).toDF("text")
      val bad = df.select(
        size(Text.tokens($"text")).as("toks"),
        size(Text.wordNgrams(Text.tokens($"text"), n)).as("ngrams"),
        Text.jaccard(Text.shingleSet($"text", n), Text.shingleSet($"text", n)).as("j"))
        .filter(
          $"ngrams" =!= greatest($"toks" - (n - 1), lit(0)) ||
            !(($"j" === 1.0) || ($"toks" < n && $"j" === 0.0)))
        .count()
      assert(bad == 0, s"n=$n")
    }
  }

  test("dedup-by-hash idempotence: dedup(dedup(x)) = dedup(x)") {
    val df = (sampleDocs(30) ++ sampleDocs(30)).toDF("text") // planted dups
    val once = df.dropDuplicates("text")
    assert(once.count() == once.dropDuplicates("text").count())
    assert(once.count() == 30)
  }

  test("indic normalization is idempotent over generated + punctuated docs") {
    import graft.functions.IndicNorm
    val punct = Gen.oneOf("“", "”", "—", "–", "…", "''", "|", ":", " नमस्ते",
      " ", "‍", ".")
    val mixed = for {
      d <- doc; p1 <- punct; p2 <- punct
    } yield d + p1 + " x" + p2
    val docs = (0 until 80).map(i =>
      mixed.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    for (lang <- Seq("hindi", "bengali", "english", "urdu", "unknown"); t <- docs) {
      val once = IndicNorm.normalize(t, lang)
      assert(IndicNorm.normalize(once, lang) == once,
        s"not idempotent for lang=$lang text=$t")
    }
  }

  test("split-keep-delimiter reassembles to the input (generated docs)") {
    val punctDoc = for {
      d <- doc; tail <- Gen.oneOf(".", "!", "?", "", "!!", ". tail")
    } yield d.replace(' ', '.') + tail
    val docs = (0 until 60).map(i =>
      punctDoc.pureApply(Gen.Parameters.default, Seed(2000L + i)))
      .filter(_.nonEmpty)
    val df = docs.toDF("t")
      .select($"t",
        graft.functions.GraftFunctions.splitKeepDelim($"t", "[.!?]+").as("l"))
      .select(($"t" === array_join($"l", "")).as("ok"))
    assert(df.filter(!$"ok").count() == 0)
  }

  test("prefix-filter jaccard join equals naive quadratic on random corpora") {
    import graft.ops.{MinHash, Text}
    // near-dup pairs planted by sharing prefixes of the same doc
    val base = sampleDocs(25).filter(_.split(" ").length >= 8)
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split(" ")
      Seq((i * 2L, t), (i * 2L + 1, toks.dropRight(1).mkString(" ")))
    }.toDF("doc_id", "text")
    val sets = docs.filter(size(Text.tokens($"text")) >= 3)
      .select($"doc_id", lit("g").as("g"), Text.shingleSet($"text", 3).as("sh"))
    val fast = MinHash.jaccardPairsExact(sets, "doc_id", "sh", Seq("g"), 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val a = sets.select($"g", $"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = sets.select($"g", $"doc_id".as("id_b"), $"sh".as("sh_b"))
    val naive = a.join(b, Seq("g")).filter($"id_a" < $"id_b")
      .filter(Text.jaccard($"sh_a", $"sh_b") >= 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(fast == naive)
    assert(naive.nonEmpty)
  }

  test("fused WordGramHashes == transform(wordNgrams, md5) on rich docs") {
    import org.apache.spark.sql.Column
    def fused(c: Column, n: Int) =
      org.apache.spark.sql.graft.bridge.column(
        graft.functions.WordGramHashes(
          org.apache.spark.sql.graft.bridge.expression(c), n))
    val df = richDocs(300).toDF("text")
      .select(Text.tokens($"text").as("l"))
    for (n <- Seq(1, 3, 8)) {
      val bad = df.select(
        fused($"l", n).as("a"),
        transform(Text.wordNgrams($"l", n), g => md5(g)).as("b"))
        .filter($"a" =!= $"b").count()
      assert(bad == 0, s"n=$n")
    }
  }

  test("dupSpans island merge equals brute-force interval union (random hit sets)") {
    import graft.ops.SubstrDedup
    // random duplicated-position sets driven through the REAL op by
    // planting the same token at chosen positions in two docs, then
    // checked against a driver-side interval-union reference
    val n = 3
    val posGen = Gen.listOf(Gen.choose(0, 40)).map(_.distinct.sorted)
    (0 until 30).foreach { seed =>
      val dup = posGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // tokens 0..49: token i is SHARED between the two docs iff a
      // planted interval [p, p+n) covers it; a gram duplicates iff all
      // its n tokens are shared (position-tagged names make any other
      // cross- or within-doc gram collision impossible)
      def toks(pfx: String): Seq[String] = (0 until 50).map { i =>
        if (dup.exists(p => i >= p && i < p + n)) s"s$i" else s"$pfx$i"
      }
      val df = Seq((1L, toks("a")), (2L, toks("b"))).toDF("id", "l")
      val got = SubstrDedup.dupSpans(df, "id", "l", n, 2)
        .filter($"id" === 1L)
        .select($"span_start", $"span_end")
        .as[(Long, Long)].collect().toSet
      // reference: duplicated gram starts are every q where tokens
      // q..q+n-1 are all shared; merge [q, q+n) intervals
      val shared = (0 until 50).map(i => dup.exists(p => i >= p && i < p + n))
      val starts = (0 to 50 - n).filter(q => (q until q + n).forall(shared))
      val merged = starts.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, q) if q <= e => (s, math.max(e, q + n)) :: rest
        case (acc, q) => (q.toLong, (q + n).toLong) :: acc
      }.toSet
      assert(got == merged, s"seed=$seed dup=$dup")
    }
  }

  test("prefixSumByKey equals window running sum on random keyed data") {
    import graft.ops.Skew
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 500).map { i =>
      val seed = Seed(9000L + i)
      val k = Gen.oneOf("a", "b", "c", "d").pureApply(Gen.Parameters.default, seed)
      val v = Gen.choose(0L, 1000L).pureApply(Gen.Parameters.default, seed.next)
      (i.toLong, k, v)
    }
    val df = rows.toDF("id", "k", "v").repartition(7)
    val expected = rows.groupBy(_._2).flatMap { case (_, g) =>
      val sorted = g.sortBy(_._1)
      sorted.zip(sorted.scanLeft(0L)(_ + _._3).tail).map { case ((id, _, _), c) => (id, c) }
    }.toMap
    val got = Skew.prefixSumByKey(df, "k", Seq($"id"), $"v", "cum")
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    assert(got == expected)
    val win = df.withColumn("cum",
      sum($"v").over(Window.partitionBy($"k").orderBy($"id")))
      .select($"id", $"cum").as[(Long, Long)].collect().toMap
    assert(got == win)
  }

  test("bloom prefilter never changes an anti-join (no false negatives)") {
    // Generated corpus/batch with forced hash collisions across the
    // split: the bloom-prefiltered anti join must equal the plain one
    // for every seed — the exactness claim dd_bloom_incremental and the
    // streaming state read both rest on.
    for (seed <- 0 until 3) {
      val texts = (0 until 300).map { i =>
        val g = Gen.oneOf((0 until 40).map(j => s"text$j")) // heavy overlap
        (i.toLong, g.pureApply(Gen.Parameters.default, Seed(seed * 1000L + i)))
      }
      val df = texts.toDF("id", "t").withColumn("h", md5($"t"))
      val corpus = df.filter($"id" % 3 =!= 0).select($"h")
      val batch = df.filter($"id" % 3 === 0).select($"id", $"h")
      val plain = batch.join(corpus, Seq("h"), "left_anti")
        .select($"id").as[Long].collect().toSet
      val bloom = batch.stat.bloomFilter("h", 1000L, 0.01)
      val bc = spark.sparkContext.broadcast(bloom)
      val mightContain =
        udf((x: String) => x != null && bc.value.mightContainString(x))
      val pre = batch.join(corpus.filter(mightContain($"h")), Seq("h"), "left_anti")
        .select($"id").as[Long].collect().toSet
      assert(pre == plain, s"seed=$seed")
    }
  }

  test("hash split: disjoint by construction, stable, ~90/5/5") {
    val ids = (0L until 4000L).toDF("doc_id")
    val bucket = graft.ops.Sampling.hash48($"doc_id") % 100
    val split = ids.select($"doc_id",
      when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test").as("split"))
    val counts = split.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum == 4000L)
    assert(counts("train") > 3400 && counts("train") < 3800, counts)
    assert(counts("val") > 100 && counts("val") < 300, counts)
    assert(counts("test") > 100 && counts("test") < 300, counts)
    // replayable: identical assignment on recompute
    val again = split.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(again == counts)
    // one id, one split (disjointness): doc-level assignment is a pure
    // function, so distinct (id, split) pairs == id count
    assert(split.distinct().count() == 4000L)
  }

  test("fused WinnowFingerprints == HOF selection composition") {
    // rich docs: whitespace runs, multibyte, empty-ish — the fused loop
    // must agree with the array_distinct/array_min spec everywhere,
    // including docs with fewer grams than the window (empty result)
    val df = (richDocs(150) ++ sampleDocs(150)).toDF("text")
    val toks = Text.tokens($"text")
    // filter FIRST: the HOF spec itself breaks below w windows (its
    // sequence() descends) — the fused form handles that (next assert)
    val got = df.filter(size(toks) >= lit(8)).localCheckpoint()
      .select(
        graft.ops.Winnow.selection(toks, 5, 4).as("fused"),
        graft.ops.Winnow.selectionHof(toks, 5, 4).as("hof"))
    // compare element-wise: same length, same (h, nj) at every index
    val bad = got.filter(not($"fused" <=> $"hof")).count()
    assert(bad == 0, s"$bad rows diverge between fused and HOF winnow")
    // short docs (< w windows): fused returns empty, HOF's sequence()
    // would descend — the fused form must simply be empty
    val short = Seq("a b c").toDF("text")
      .select(graft.ops.Winnow.selection(Text.tokens($"text"), 5, 4).as("f"))
      .select(size($"f")).as[Int].head
    assert(short == 0)
  }

  test("winnowing: detection guarantee, density bound, rightmost ties") {
    // Schleimer '03 theorem: any shared run of >= w+k-1 tokens yields a
    // shared selected fingerprint. Build doc pairs with a planted
    // 8-token common run (k=5, w=4) inside random noise.
    val noise = sampleDocs(40).map(_.split(" ").filter(_.nonEmpty))
    val planted = (0 until 20).map { i =>
      val run = (0 until 8).map(j => s"run${i}x$j")
      val a = (noise(2 * i).take(10) ++ run ++ Seq(s"enda$i")).mkString(" ")
      val b = (Seq(s"startb$i") ++ run ++ noise(2 * i + 1).take(10)).mkString(" ")
      (i.toLong * 2, a, i.toLong * 2 + 1, b)
    }
    val docs = planted.flatMap { case (ia, a, ib, b) => Seq((ia, a), (ib, b)) }
      .toDF("doc_id", "text")
    val toks = Text.tokens($"text")
    val fp = docs.filter(size(toks) >= lit(8))
      .select($"doc_id", explode(graft.ops.Winnow.selection(toks, 5, 4)).as("f"))
      .select($"doc_id", $"f.h".as("h"), (-$"f.nj").as("pos"))
    val byDoc = fp.select($"doc_id", $"h").distinct()
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    planted.foreach { case (ia, _, ib, _) =>
      assert(byDoc(ia).intersect(byDoc(ib)).nonEmpty,
        s"planted 8-token run between $ia/$ib produced no shared fingerprint")
    }
    // density: selected-per-doc <= windows-per-doc, and >= ng/(w?) lower
    // bound is probabilistic — pin the hard upper bound plus nonempty
    val counts = fp.groupBy($"doc_id").count().as[(Long, Long)].collect()
    val lens = docs.select($"doc_id", size(Text.tokens($"text")))
      .as[(Long, Int)].collect().toMap
    counts.foreach { case (id, c) =>
      val windows = lens(id) - 4 - 4 + 1 // ng - w + 1, ng = n_tok - k + 1
      assert(c >= 1 && c <= windows, s"doc $id: $c selected of $windows windows")
    }
    // rightmost tie rule: a constant-token doc has every gram hash equal,
    // so each window's winner is its rightmost position — selection is
    // every position from w-1 on, exactly one fingerprint value
    val const = Seq((0L, Seq.fill(12)("tok").mkString(" "))).toDF("doc_id", "text")
    val sel = const
      .select(explode(graft.ops.Winnow.selection(Text.tokens($"text"), 5, 4)).as("f"))
      .select($"f.h", (-$"f.nj").as("pos")).as[(Long, Long)].collect()
    assert(sel.map(_._1).distinct.length == 1)
    // ng = 12-5+1 = 8 grams; windows start 0..4; rightmost of window i is
    // i+3 -> positions 3..7
    assert(sel.map(_._2).sorted.toSeq == Seq(3L, 4L, 5L, 6L, 7L))
  }

  test("windowed KS: identical day == 0 / p 1; disjoint day == 1 / p ~0") {
    // counts table directly into the shared KS tail: day d0 is the
    // reference; d1 repeats it exactly, d2 is support-disjoint
    val c = Seq(
      ("click", "2024-01-01", 1.0, 5L), ("click", "2024-01-01", 2.0, 5L),
      ("click", "2024-01-02", 1.0, 5L), ("click", "2024-01-02", 2.0, 5L),
      ("click", "2024-01-03", 9.0, 4L), ("click", "2024-01-03", 8.0, 6L)
    ).toDF("event_type", "window_day", "v", "cnt")
    val rows = graft.queries.Events.ksOverDayValueCounts(c)
      .select($"window_day", $"ks_stat", $"p_value")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows("2024-01-02") == (0.0, 1.0),
      s"identical distribution must give KS 0, p 1: $rows")
    assert(rows("2024-01-03")._1 == 1.0,
      s"disjoint supports must give KS 1: $rows")
    assert(rows("2024-01-03")._2 < 0.05,
      s"disjoint supports must reject at n=10: $rows")
  }

  test("attribution: every model's credits sum to total purchase revenue") {
    // the conservation invariant that makes first/last/linear
    // comparable — integer micro-units mean EXACT equality, and the
    // streaming twin must conserve identically (same credit emission)
    import org.apache.spark.sql.functions._
    val total = Events.load(spark, TestSpark.Sf)
      .filter($"event_type" === "purchase")
      .select(($"value".cast("decimal(18,6)") * 1000000).cast("long").as("vm"))
      .agg(sum($"vm")).as[Long].head()
    val perModel = Events.qAttribution.fn(spark, TestSpark.Sf)
      .groupBy($"model")
      .agg(sum(($"attributed_value" * 1000000).cast("long")).as("m"))
      .as[(String, Long)].collect().toMap
    assert(perModel.keySet == Set("first", "last", "linear"))
    for ((m, v) <- perModel)
      assert(v == total, s"model $m leaks revenue: $v != $total")
    val streamed = StreamOps.statefulAttribution(spark, TestSpark.Sf)
      .groupBy($"model").agg(sum($"credit").as("m"))
      .as[(String, Long)].collect().toMap
    for ((m, v) <- streamed)
      assert(v == total, s"streaming model $m leaks revenue: $v != $total")
    // the weighted (time-decay) model conserves under NON-uniform
    // weights too — the largest-remainder rule generalizes
    val decay = Events.qAttributionDecay.fn(spark, TestSpark.Sf)
      .agg(sum(($"attributed_value" * 1000000).cast("long")))
      .as[Long].head()
    assert(decay == total, s"decay model leaks revenue: $decay != $total")
  }

  test("exact KS drift: a time-shifted copy of the same values scores 0") {
    // first half and second half carry identical value multisets ->
    // ECDFs agree at every grid point
    val base = Seq(1.0, 2.0, 2.0, 3.0, 5.0)
    val rows = (base.zipWithIndex.map { case (v, i) =>
      (i.toLong, 1000000L + i * 1000L, 1L, "click", v, "{}")
    } ++ base.zipWithIndex.map { case (v, i) =>
      (100L + i, 9000000000L + i * 1000L, 1L, "click", v, "{}")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_ks_ev").toString
    try {
      rows.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      val ks = graft.queries.Events.qKsDrift.fn(spark, dir)
        .select($"ks_stat").as[Double].collect()
      assert(ks.toSeq == Seq(0.0), s"identical halves must give KS 0: ${ks.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("TopNRows buffer: serialize ∘ deserialize = identity; merge == bulk update") {
    // The shuffle-spill path (serialize/deserialize) and the partial-
    // merge path are exactly the branches a local[n] happy path can
    // skip — exercise them directly on randomized buffers.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, CreateStruct, NullsFirst, SortOrder}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val row = CreateStruct(Seq(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, IntegerType, nullable = false)))
    val order = Seq(SortOrder(
      BoundReference(1, IntegerType, nullable = false),
      Ascending, NullsFirst, Seq.empty))
    val agg = graft.functions.TopNRows(row, order, n = 5)
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { trial =>
      val rows = (0 until 40).map(i =>
        InternalRow(i.toLong, rnd.nextInt(8))) // heavy ties on the key
      // bulk update into one buffer
      val one = rows.foldLeft(agg.createAggregationBuffer())(agg.update)
      // split across two partials, serialize both, merge
      val (l, r) = rows.splitAt(17)
      val bufL = agg.deserialize(agg.serialize(
        l.foldLeft(agg.createAggregationBuffer())(agg.update)))
      val bufR = agg.deserialize(agg.serialize(
        r.foldLeft(agg.createAggregationBuffer())(agg.update)))
      val merged = agg.merge(bufL, bufR)
      def keys(b: graft.functions.TopNRowsBuffer): Seq[Int] = {
        val arr = agg.eval(b)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until arr.numElements()).map(i => arr.getStruct(i, 2).getInt(1))
      }
      // the kept SORT-KEY multiset must match exactly (row identity may
      // differ under ties — the documented refinement), and both must
      // equal the true bottom-5 keys
      val want = rows.map(_.getInt(1)).sorted.take(5)
      assert(keys(one) == want, s"trial $trial bulk: ${keys(one)} vs $want")
      assert(keys(merged) == want, s"trial $trial merged: ${keys(merged)} vs $want")
    }
  }

  test("TopNRows via the rule == window row_number form on randomized ties") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 500).map(i =>
      (rnd.nextInt(20).toLong, rnd.nextInt(5), i.toLong)) // ties galore
    val df = data.toDF("k", "s", "id")
    val em = spark.sessionState.experimentalMethods
    val prev = em.extraOptimizations
    def topk() = df
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"k").orderBy($"s", $"id"))) // total order: exact
      .filter($"rk" <= 3)
    val baseline =
      try { em.extraOptimizations = Seq.empty; topk().collect().toSet }
      finally em.extraOptimizations = prev
    val rewritten =
      try {
        em.extraOptimizations = Seq(graft.plans.WindowTopKToAgg)
        val r = topk()
        assert(r.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }.isEmpty)
        r.collect().toSet
      } finally em.extraOptimizations = prev
    assert(rewritten == baseline)
  }

  test("HNSW on random vectors: ef >= n is exhaustive-exact; results sorted; degrees bounded") {
    val dims = 6
    def randVec(seed: Long): Array[Float] = {
      var s = seed
      Array.fill(dims) {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33).toInt % 1000).toFloat / 500f - 1f
      }
    }
    for (trial <- 0 until 5) {
      val n = 40 + trial * 37
      val rows = (0 until n).map(i =>
        (i.toLong, randVec(trial * 100000L + i))).toArray
      val idx = graft.ops.Hnsw.build(rows, m = 5, efConstruction = 24)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var sa = 0.0; var sb = 0.0
        var i = 0
        while (i < dims) {
          d += a(i).toDouble * b(i).toDouble
          sa += a(i).toDouble * a(i)
          sb += b(i).toDouble * b(i)
          i += 1
        }
        val nn = math.sqrt(sa) * math.sqrt(sb)
        if (nn == 0) 0.0 else d / nn
      }
      for (qi <- Seq(0, n / 2, n - 1)) {
        val q = rows(qi)._2
        val brute = rows.map { case (id, v) => (id, cos(q, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(7).map(_._1).toSeq
        // ef >= n: the beam expands the whole connected component
        val got = idx.search(q, 7, ef = n + 10)
        assert(got.map(_._1) == brute,
          s"trial $trial q $qi: ${got.map(_._1)} != $brute")
        assert(got == got.sortBy { case (id, c) => (-c, id) })
      }
    }
  }

  test("kendall cell identity: randomized tied (x,y) batches == brute pair scan") {
    // the d_kendall_tau contingency-cell P/Q against the O(n^2)
    // definition, on small randomized heavily-tied batches
    val pair = for {
      x <- Gen.choose(0L, 5L); y <- Gen.choose(0L, 5L)
    } yield (x, y)
    for (trial <- 0 until 20) {
      val n = 3 + trial
      val rows = (0 until n).map(i => pair.pureApply(
        Gen.Parameters.default, Seed(trial * 1000L + i)))
      var (bc, bd) = (0L, 0L)
      for (i <- 0 until n; j <- (i + 1) until n) {
        val dx = rows(i)._1.compare(rows(j)._1)
        val dy = rows(i)._2.compare(rows(j)._2)
        if (dx * dy > 0) bc += 1
        if (dx * dy < 0) bd += 1
      }
      val cells = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      var (cc, cd) = (0L, 0L)
      for (((x1, y1), c1) <- cells; ((x2, y2), c2) <- cells
           if x1 < x2 && y1 != y2) {
        if (y1 < y2) cc += c1 * c2 else cd += c1 * c2
      }
      assert((cc, cd) == (bc, bd), s"trial $trial: cells ($cc,$cd) != brute ($bc,$bd)")
    }
  }

  test("HLL merge law: random shard assignments always max-merge to the one-shot registers") {
    import graft.ops.Hll
    for (trial <- 0 until 3) {
      val nShards = 2 + trial * 3
      val vals = (1L to 3000L).toDF("v")
        .select(concat(lit(s"t$trial-"), $"v".cast("string")).as("v"))
        .withColumn("g",
          pmod(xxhash64($"v", lit(trial)), lit(nShards)).cast("string"))
      val whole = Hll.registers(vals.withColumn("g", lit("all")), Seq("g"), $"v")
      val merged = Hll.registers(vals, Seq("g"), $"v")
        .groupBy($"reg").agg(max($"mr").as("mr"))
        .withColumn("g", lit("all")).select($"g", $"reg", $"mr")
      assert(whole.except(merged).isEmpty && merged.except(whole).isEmpty,
        s"trial $trial ($nShards shards)")
    }
  }

  test("target encoding: distributed min/max == brute per-row LOO fold") {
    // q_target_encoding's broadcast-agg plan must equal the textbook
    // per-row recomputation, bits and all (same DECIMAL-exact moments,
    // same fixed-order double ops).
    val base = spark.read.parquet(s"${TestSpark.Sf}/lineitem.parquet")
      .join(spark.read.parquet(s"${TestSpark.Sf}/part.parquet"),
        $"p_partkey" === $"l_partkey")
      .select($"p_brand",
        $"l_extendedprice".cast("decimal(18,2)").as("x"))
      .as[(String, java.math.BigDecimal)].collect().toSeq
    val byBrand = base.groupBy(_._1)
    val sums = byBrand.view.mapValues(rs =>
      (rs.size.toLong, rs.map(_._2).reduce(_.add(_)))).toMap
    val mu = sums.values.map(_._2).reduce(_.add(_)).doubleValue() /
      sums.values.map(_._1).sum.toDouble
    val brute = byBrand.map { case (b, rs) =>
      val (n, s) = sums(b)
      val encs = rs.map { case (_, x) =>
        (s.subtract(x).doubleValue() + 10.0 * mu) / (n - 1 + 10).toDouble
      }
      b -> (math.floor(encs.min * 1e6).toLong,
        math.floor(encs.max * 1e6).toLong)
    }
    val got = graft.queries.Relational.qTargetEncoding
      .fn(spark, TestSpark.Sf)
      .select($"p_brand", $"enc_min_micros", $"enc_max_micros")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == brute)
  }
}
