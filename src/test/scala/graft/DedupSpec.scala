package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Buckets, ConnectedComponents, MinHash, SimHash, Text}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog near the old stone bridge while birds sing in the tall green trees above the quiet river bank today"
  private val nearDup = base.replace("quiet", "silent") // one-token edit → high jaccard
  private val distinct1 = "completely different content about database engines and query planners with hash joins and sort merge operators running on distributed clusters"
  private val distinct2 = "yet another unrelated document mentioning streaming watermarks state stores and checkpoint intervals for long running pipelines"

  test("minhash candidate pairs find the planted near-dup, nothing else") {
    val docs = Seq(
      (0L, base), (1L, nearDup), (2L, distinct1), (3L, distinct2)
    ).toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text",
      shingleSize = 3, numPerm = 32, bands = 8, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  /** The shingle-string LSH path `candidatePairs` ran before shingle
    * sketches (string sets, their signature, hash-set Jaccard verify),
    * as (id_a, id_b, jaccard) rows. */
  private def stringPathPairs(docs: DataFrame, blockCols: Seq[String],
      threshold: Double, maxBucket: Int): Set[(Long, Long, Double)] = {
    val sets = docs
      .select((col("doc_id").as("id") +: Text.shingleSet(col("text"), 3).as("sh")
        +: blockCols.map(col)): _*)
      .filter(size(col("sh")) > 0)
    val banded = sets.withColumn("sig", MinHash.signature(col("sh"), 32))
      .select((col("id") +: posexplode(MinHash.bandKeys(col("sig"), 8, 4)).as(Seq("band", "key"))
        +: blockCols.map(col)): _*)
    def side(s: String) = sets.select(col("id").as(s"id_$s"), col("sh").as(s"sh_$s"))
    Buckets.pairs(banded, blockCols ++ Seq("band", "key"), "id", maxBucket)
      .join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
      .withColumn("jaccard", Text.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
  }

  test("sketch candidatePairs == the shingle-string path, with and without blockCols") {
    val fixtures = Seq(
      (0L, "g1", base), (1L, "g1", nearDup), (2L, "g1", distinct1),
      (3L, "g2", base), (4L, "g2", base + " coda"), (5L, "g2", distinct2),
      (6L, "g1", base + " extra"), (7L, "g2", nearDup), (8L, "g1", ""),
      (9L, "g2", "too short")).toDF("doc_id", "grp", "text")
    val sf = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select($"doc_id", $"lang".as("grp"), $"text")
    val cases = for {
      (name, docs) <- Seq("fixtures" -> fixtures, "sf0.001" -> sf)
      blocks <- Seq(Nil, Seq("grp"))
      threshold <- Seq(0.0, 0.5)
    } yield (name, docs, blocks, threshold, 1000)
    for ((name, docs, blocks, threshold, cap) <-
        cases :+ (("fixtures", fixtures, Nil, 0.5, 3))) {
      val got = MinHash.candidatePairs(docs, "doc_id", "text", threshold = threshold,
          maxBucket = cap, blockCols = blocks)
        .as[(Long, Long, Double)].collect().toSet
      val want = stringPathPairs(docs, blocks, threshold, cap)
      assert(got == want, s"$name blockCols=$blocks threshold=$threshold maxBucket=$cap")
      assert(want.nonEmpty, s"$name blockCols=$blocks threshold=$threshold")
    }
  }

  test("incremental LSH state: parquet round trip, equals full recompute on batch pairs") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val batch = docs.filter($"doc_id" % 4 === 0)
    // Corpus state built once and STORED — the incremental contract.
    val stateDir = java.nio.file.Files.createTempDirectory("graft-lsh-state").toString
    MinHash.lshState(corpus, "doc_id", "text").write.mode("overwrite").parquet(stateDir)
    val corpusState = spark.read.parquet(stateDir)
    val got = MinHash.incrementalCandidatePairs(
        MinHash.lshState(batch, "doc_id", "text"), corpusState)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // Reference: full recompute over everything, keep pairs touching batch.
    val full = MinHash.candidatePairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = full.filter(p => p._1 % 4 == 0 || p._2 % 4 == 0)
    assert(got == expected)
    assert(got.nonEmpty, "sf0.001 plants near-dup families across the split")
  }

  test("connected components: chain and isolated pair (both paths agree)") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
    val local = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.run(edges, smallGraphMax = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == want && dist == want)
  }

  test("connected components: 60-node chain converges (pointer jumping)") {
    // Diameter 59 > maxIter=20 plain rounds — only O(log d) doubling
    // converges. Edit-chain dedup graphs really look like this.
    // smallGraphMax=0 forces the DISTRIBUTED path — the union-find fast
    // path must not mask a pointer-jumping regression.
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges, smallGraphMax = 0)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 60 && comp.values.forall(_ == 1L))
    val localComp = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(localComp == comp)
  }

  test("connected components executes its edge plan once, on both paths") {
    // the edges are the lazy LSH verify plan; a non-deterministic tap
    // on src counts every row that plan emits
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text", threshold = 0.5)
    val n = pairs.count()
    assert(n > 0)
    for (smallGraphMax <- Seq(2000000L, 0L)) {
      val acc = spark.sparkContext.longAccumulator(s"cc_edges_$smallGraphMax")
      val tap = udf((x: Long) => { acc.add(1); x }).asNondeterministic()
      val edges = pairs.select(tap($"id_a").as("src"), $"id_b".as("dst"))
      val labels = ConnectedComponents.run(edges, smallGraphMax = smallGraphMax)
      assert(acc.value == n, s"smallGraphMax=$smallGraphMax: ${acc.value} edge rows for $n edges")
      labels.collect()
      assert(acc.value == n, s"smallGraphMax=$smallGraphMax: labels re-ran the edge plan")
    }
  }

  test("connected components: empty edge list returns empty, no NPE") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.run(edges).count() == 0)
    assert(ConnectedComponents.run(edges, smallGraphMax = 0).count() == 0)
  }

  test("incremental components: batch merge equals full recompute") {
    // Base: {1,2,3} labelled 1, {5,4} labelled 4, {10,11} labelled 10.
    val baseEdges = Seq((1L, 2L), (2L, 3L), (5L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val base = ConnectedComponents.run(baseEdges)
    // Batch: bridges the first two components (3-5), attaches a brand-new
    // node to the first (2-20), and adds a disjoint new pair (30-31).
    // {10,11} is untouched and must keep its label without a recompute.
    val newEdges = Seq((3L, 5L), (2L, 20L), (30L, 31L)).toDF("src", "dst")
    val got = ConnectedComponents.incremental(base, newEdges)
      .as[(Long, Long)].collect().toMap
    val full = ConnectedComponents.run(baseEdges.unionAll(newEdges))
      .as[(Long, Long)].collect().toMap
    assert(got == full)
    assert(got(20L) == 1L && got(4L) == 1L && got(10L) == 10L
      && got(30L) == 30L)
  }

  test("incremental components: empty batch is the identity on base labels") {
    val base = ConnectedComponents.run(Seq((1L, 2L), (7L, 8L)).toDF("src", "dst"))
    val got = ConnectedComponents.incremental(
        base, Seq.empty[(Long, Long)].toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("minhash on corpus with no near-dups yields zero pairs and empty clusters") {
    val docs = Seq((0L, distinct1), (1L, distinct2)).toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text", threshold = 0.5)
    assert(pairs.count() == 0)
    assert(MinHash.clusters(pairs).count() == 0)
  }

  test("oversized LSH buckets star-connect instead of dropping pairs") {
    // maxBucket=3 with a 5-doc near-identical family: all 5 must still
    // land in one cluster via star pairs to the bucket-min id.
    val docs = (0L until 5L).map(i => (i, base + s" tail$i")).toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucket = 3)
    val comp = MinHash.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(comp.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(comp.values.toSet == Set(0L))
  }

  test("minhash clusters keep min id per component") {
    val docs = Seq(
      (10L, base), (11L, nearDup), (12L, base + " extra"), (20L, distinct1)
    ).toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(docs, "doc_id", "text", threshold = 0.5)
    val comp = MinHash.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(10L))
    assert(comp.keySet == Set(10L, 11L, 12L))
  }

  test("prefix-filter jaccard join equals the naive quadratic (zero recall loss)") {
    val docs = Seq(
      (0L, "g1", base), (1L, "g1", nearDup), (2L, "g1", distinct1),
      (3L, "g2", base), (4L, "g2", base + " coda"), (5L, "g2", distinct2)
    ).toDF("doc_id", "grp", "text")
    val sets = docs.select($"doc_id", $"grp", Text.shingleSet($"text", 3).as("sh"))
    val fast = MinHash.jaccardPairsExact(sets, "doc_id", "sh", Seq("grp"), 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val a = sets.select($"grp", $"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = sets.select($"grp", $"doc_id".as("id_b"), $"sh".as("sh_b"))
    val naive = a.join(b, Seq("grp")).filter($"id_a" < $"id_b")
      .filter(Text.jaccard($"sh_a", $"sh_b") >= 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(fast == naive)
    assert(naive.contains((0L, 1L)) && naive.contains((3L, 4L)))
  }

  test("simhash: near-dups close in hamming, distinct docs far") {
    val df = Seq((0L, base), (1L, nearDup), (2L, distinct1))
      .toDF("doc_id", "text")
      .withColumn("toks", Text.tokens($"text"))
      .select($"doc_id", SimHash.simhash64("toks").as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(0L), m(1L)) <= 6)
    assert(ham(m(0L), m(2L)) > 10)
  }

  test("simhash banded pairs equal the all-pairs form (pigeonhole recall 1)") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .withColumn("toks", Text.tokens($"text"))
    val banded = SimHash.neardupPairs(docs, "doc_id", "toks", maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val hashed = docs.select($"doc_id", SimHash.simhash64("toks").as("sh"))
    val brute = hashed.as("a").join(hashed.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(SimHash.hamming("a.sh", "b.sh") <= 3)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "corpus should contain simhash near-dups")
  }

  test("md5 token hash = top 60 bits of a JVM MessageDigest md5") {
    val toks = Seq("hello", "", "naïve", "क्या", "a b")
    val got = Seq(Tuple1(toks)).toDF("toks")
      .select(SimHash.md5TokenHashes("toks").as("hs"))
      .as[Seq[Long]].head
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = toks.map { t =>
      val raw = md.digest(t.getBytes("UTF-8"))
      var h = 0L
      (0 until 7).foreach(j => h = (h << 8) | (raw(j) & 0xffL))
      (h << 4) | ((raw(7) >> 4) & 0xfL)
    }
    assert(got == want)
  }

  test("md5 simhash60: 60-bit banding equals the all-pairs form") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .withColumn("toks", Text.tokens($"text"))
      .withColumn("hs", SimHash.md5TokenHashes("toks"))
    val hashed = docs.select($"doc_id".as("id"),
      SimHash.simhashFromHashes("hs", 60).as("sh"))
    val banded = SimHash.neardupPairsBanded(hashed, maxHamming = 3,
        totalBits = 60, maxBucket = 1000)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val brute = hashed.as("a").join(hashed.as("b"), $"a.id" < $"b.id")
      .filter(SimHash.hamming("a.sh", "b.sh") <= 3)
      .select($"a.id", $"b.id").as[(Long, Long)].collect().toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "corpus should contain simhash near-dups")
    // all hashes fit 60 bits — banding masks assume no stray high bits
    assert(hashed.filter($"sh" < 0 || $"sh" >= (1L << 60)).count() == 0)
  }

  test("exact-hash dedup is idempotent under whitespace normalization") {
    val docs = Seq((0L, "A  b  c"), (1L, "a b C"), (2L, "other")).toDF("doc_id", "text")
    val n = docs.select(md5(Text.normalizeWs($"text")).as("h")).distinct().count()
    assert(n == 2)
  }

  /** Write a planted documents table and run a registered Spec on it. */
  private def withPlantedDocs(docs: Seq[(Long, String)])(
      run: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_planted").toString
    try {
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      run(dir)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("SNM pairs the planted near-identical neighbors, skips unrelated text") {
    // same 24-char prefix → adjacent in sort order; one mid-string edit
    val a = base
    val b = base.replace("river", "creek")
    withPlantedDocs(Seq((0L, a), (1L, b), (2L, distinct1), (3L, distinct2))) { dir =>
      val got = graft.queries.Dedup.ddSnmPairs.fn(spark, dir)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(got.contains((0L, 1L)),
        "near-identical prefixes must sort adjacent and pair")
      assert(!got.contains((2L, 3L)) && !got.contains((3L, 2L)),
        "unrelated docs must fail the edit-distance gate")
      assert(!got.exists(p => p._1 == p._2), "no self pairs")
    }
  }

  test("multi-pass SNM: reversed-key pass catches head-divergent tail-identical pair") {
    // a and z share a long identical tail but divergent heads: the
    // forward sort scatters them behind >w fillers, the reversed sort
    // makes them adjacent. Fillers are mutually distant text.
    val tail = " shared closing boilerplate that every page of this site appends verbatim"
    val a = "aaaa unique head one" + tail
    val z = "zzzz other head two " + tail
    val fillers = Seq("cccc", "ffff", "hhhh", "mmmm", "qqqq", "tttt").zipWithIndex
      .map { case (p, i) => (10L + i, s"$p filler document number $i with its own distinct content entirely") }
    val docs = Seq((0L, a), (1L, z)) ++ fillers
    withPlantedDocs(docs) { dir =>
      val multi = graft.queries.Dedup.ddSnmMultipass.fn(spark, dir)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val single = graft.queries.Dedup.ddSnmPairs.fn(spark, dir)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(multi.contains((0L, 1L)),
        s"reversed pass must pair the shared-tail docs: $multi")
      assert(!single.contains((0L, 1L)),
        s"forward-only pass should miss them (planting assumption): $single")
    }
  }

  test("CDC chunks: a shared passage hashes to the same chunks at any offset") {
    // the same long passage embedded at different offsets in two docs —
    // fixed-size chunking would misalign, content-defined cuts must not
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " * 2
    val docA = "first document header: " + passage
    val docB = "a completely different and much longer preamble sits here before " +
      "the shared body arrives " + passage
    withPlantedDocs(Seq((0L, docA), (1L, docB))) { dir =>
      val shared = graft.queries.Dedup.ddCdcChunks.fn(spark, dir)
        .filter($"n_docs" === 2).count()
      assert(shared >= 2,
        s"shared passage must yield shared content-defined chunks, got $shared")
    }
  }

  test("CDC chunks: a prefix insertion disturbs only the first chunk boundary") {
    val docA = base + " " + distinct1 + " " + distinct2
    val docB = "zz inserted. " + docA
    withPlantedDocs(Seq((0L, docA), (1L, docB))) { dir =>
      val out = graft.queries.Dedup.ddCdcChunks.fn(spark, dir).collect()
      // every chunk after the first cut is content-identical between the
      // two docs → nearly all chunks appear in both
      val nShared = out.count(_.getAs[Long]("n_docs") == 2)
      assert(nShared >= 2,
        s"insertion must not re-cut downstream chunks, shared=$nShared")
    }
  }

  test("weighted jaccard: query == brute multiset fold over in-block pairs") {
    val rows = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select($"doc_id", $"lang", $"source", $"text")
      .as[(Long, String, String, String)].collect().toSeq
    def shingles(t: String): Seq[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 3) Seq.empty
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" "))
    }
    val withSh = rows.map { case (id, lang, src, text) =>
      (id, (lang, src), shingles(text))
    }.filter(_._3.nonEmpty)
    val brute = (for {
      Seq(a, b) <- withSh.groupBy(_._2).values.flatMap(_.sortBy(_._1)
        .combinations(2)).toSeq
      sa = a._3.toSet; sb = b._3.toSet
      inter = (sa & sb).size.toDouble
      if inter / (sa.size + sb.size - inter) >= 0.5
    } yield {
      val tfa = a._3.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tfb = b._3.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val smin = (tfa.keySet & tfb.keySet).toSeq
        .map(t => math.min(tfa(t), tfb(t))).sum
      val (na, nb) = (a._3.size.toLong, b._3.size.toLong)
      def r6(x: Double) = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      (a._1, b._1) -> (r6(smin.toDouble / (na + nb - smin)),
        r6(smin.toDouble / na), r6(smin.toDouble / nb))
    }).toMap
    assert(brute.nonEmpty, "test corpus must contain at least one pair")
    val got = graft.queries.Dedup.ddWeightedJaccard.fn(spark, TestSpark.Sf)
      .select($"id_a", $"id_b", $"w_jaccard", $"cont_a", $"cont_b")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(got == brute)
    // weighted <= set bound never violated: J_w in (0, 1], cont in (0, 1]
    for ((_, (jw, ca, cb)) <- got)
      assert(jw > 0 && jw <= 1 && ca <= 1 && cb <= 1 && jw <= math.min(ca, cb))
  }

  test("b-bit minhash: estimates == slot-match recompute; 2-bit never loses full matches") {
    val sig = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .filter(size(Text.tokens($"text")) >= 3)
      .select($"doc_id", Text.shingleSet($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
      .select($"doc_id", MinHash.signature($"sh", 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val got = graft.queries.Dedup.ddBbitMinhash.fn(spark, TestSpark.Sf)
      .select($"id_a", $"id_b", $"est_full_milli", $"est_2bit_milli")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty, "test corpus must contain verified pairs")
    for ((a, b, ef, e2) <- got) {
      val (sa, sb) = (sig(a), sig(b))
      val mf = sa.zip(sb).count { case (x, y) => x == y }.toLong
      val mb = sa.zip(sb).count { case (x, y) => x % 4 == y % 4 }.toLong
      assert(mb >= mf, s"pair ($a,$b): low-bit matches can only be added")
      assert(ef == mf * 1000 / 32, s"pair ($a,$b) full estimate")
      assert(e2 == math.max(mb - 8, 0L) * 1000 / 24,
        s"pair ($a,$b) 2-bit estimate")
    }
  }

  test("icws weighted minhash: estimate structure, MAE identity, accuracy envelope") {
    val got = graft.queries.Dedup.ddIcwsMinhash.fn(spark, TestSpark.Sf)
      .select($"id_a", $"id_b", $"w_jaccard_milli", $"est_icws_milli",
        $"mae_icws_milli")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty, "test corpus must contain verified pairs")
    val maeCols = got.map(_._5).distinct
    assert(maeCols.length == 1, "corpus MAE must be one shared value")
    // estimates are m/16 fractions: floor(m*1000/16) for m in 0..16
    val legal = (0 to 16).map(m => m * 1000L / 16).toSet
    for ((a, b, jw, est, _) <- got) {
      assert(legal.contains(est), s"pair ($a,$b): est $est not an m/16 grid point")
      assert(jw >= 500 && jw <= 1000, s"pair ($a,$b): verified pairs only")
    }
    // the reported MAE is exactly the mean |est - exact| of the rows
    val recomputed = got.map(r => math.abs(r._4 - r._3)).sum / got.length
    assert(maeCols.head == recomputed,
      s"MAE ${maeCols.head} != recomputed $recomputed")
    // k=16 accuracy envelope: sigma <= sqrt(0.25/16) = 0.125 -> a mean
    // error beyond 250 milli would mean the sampler is NOT consistent
    assert(maeCols.head <= 250,
      s"ICWS estimator off the theoretical envelope: MAE ${maeCols.head}")
  }

  test("lsh recall: threshold nesting, ratio arithmetic, caught bounded") {
    val got = graft.queries.Dedup.ddLshRecall.fn(spark, TestSpark.Sf)
      .select($"threshold", $"n_exact", $"n_caught", $"recall_milli")
      .as[(Double, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 3)
    assert(got.exists(_._2 > 0), "planted corpus must yield exact pairs")
    for ((thr, ne, nc, rm) <- got) {
      assert(nc <= ne, s"thr $thr: caught $nc exceeds exact $ne")
      if (ne > 0) assert(rm == nc * 1000 / ne, s"thr $thr ratio")
    }
    // higher thresholds select SUBSETS of the exact pair set
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse,
      "n_exact must be monotone decreasing in threshold")
  }

  test("lsh precision: fixed candidate set, monotone decreasing good fraction") {
    val got = graft.queries.Dedup.ddLshPrecision.fn(spark, TestSpark.Sf)
      .select($"threshold", $"n_candidates", $"n_good", $"precision_milli")
      .as[(Double, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 3)
    val cands = got.map(_._2).distinct
    assert(cands.length == 1 && cands.head > 0,
      "one shared candidate set across thresholds")
    for ((thr, nc, ng, pm) <- got) {
      assert(ng <= nc && pm == ng * 1000 / nc, s"thr $thr arithmetic")
    }
    assert(got.map(_._3).toSeq == got.map(_._3).toSeq.sorted.reverse,
      "n_good must be monotone decreasing in threshold")
  }

  test("median CI: rank selection == brute order statistics per source") {
    val bySrc = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .select($"source", $"n_chars".cast("long"))
      .as[(String, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val brute = bySrc.map { case (src, xs) =>
      val n = xs.size.toLong
      val half = 1.96 * math.sqrt(n.toDouble)
      val lo = math.max(1L, math.floor((n.toDouble - half) / 2.0).toLong)
      val md = (n + 1) / 2
      val hi = math.min(n, math.ceil(1.0 + (n.toDouble + half) / 2.0).toLong)
      src -> (n, xs((md - 1).toInt), xs((lo - 1).toInt), xs((hi - 1).toInt),
        lo, hi)
    }
    val got = graft.queries.TrainingPrep.dMedianCi.fn(spark, TestSpark.Sf)
      .select($"source", $"n", $"median", $"ci_lo", $"ci_hi", $"lo_rank",
        $"hi_rank")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6, r._7)).toMap
    assert(got == brute)
    for ((src, (_, med, lo, hi, _, _)) <- got)
      assert(lo <= med && med <= hi, s"source $src CI must bracket the median")
  }
}
