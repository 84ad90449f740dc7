package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graphs

/** Degree-ordered triangle enumeration: equality with the brute
  * id-ordered walk, plus the hub-boundedness property that motivates
  * the orientation (VERDICT r10 directive #2). */
class GraphsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def triSet(df: DataFrame): Set[Seq[Long]] =
    df.select(array_sort(array(col("a"), col("b"), col("c"))).as("t"))
      .as[Seq[Long]].collect().toSet

  test("trianglesOrdered equals the id-ordered brute walk (degree ties included)") {
    // K4 minus one edge plus a tail: triangles {0,1,2}, {0,2,4}... built
    // so several nodes TIE on degree (the (degree, id) tie-break path).
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (0L, 4L), (2L, 4L)).toDF("src", "dst")
    val brute = edges.as("e1")
      .join(edges.as("e2"), col("e2.src") === col("e1.dst"))
      .join(edges.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val got = triSet(Graphs.trianglesOrdered(edges))
    assert(got == triSet(brute) && got.nonEmpty)
    // exactly-once: row count equals distinct-set size
    assert(Graphs.trianglesOrdered(edges).count() == got.size)
  }

  test("planted hub: wedge work stays linear, hub out-degree is zero") {
    // Star with hub id 0 (the LOWEST id — the adversarial case for
    // id-ordering, which would give the hub out-degree k and C(k,2)
    // wedges) plus t spoke-spoke edges, each closing one triangle
    // through the hub. Under degree orientation every spoke points AT
    // the hub, so the hub contributes zero wedges and total wedge count
    // is exactly t — the curve grows with the planted triangles, not
    // with the hub's C(k,2).
    val curve = for (k <- Seq(1000, 4000, 16000)) yield {
      val t = k / 10
      val spokes = (1 to k).map(i => (0L, i.toLong))
      val closing = (1 to t).map(i => ((2 * i - 1).toLong, (2 * i).toLong))
      val edges = (spokes ++ closing).toDF("src", "dst")
      val od = Graphs.orientByDegree(edges)
        .groupBy(col("src")).agg(count(lit(1)).as("od"))
      val hubOd = od.filter(col("src") === 0L)
        .select(col("od")).as[Long].collect().headOption.getOrElse(0L)
      assert(hubOd == 0L, s"k=$k hub out-degree $hubOd")
      val wedges = od.agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)))
        .as[Long].head()
      assert(wedges == t.toLong,
        s"k=$k wedges $wedges != planted $t (id-ordering would be ${k.toLong * (k - 1) / 2})")
      assert(Graphs.trianglesOrdered(edges).count() == t.toLong)
      (k, wedges)
    }
    info(s"hub wedge curve (k -> wedges): ${curve.mkString(", ")}")
  }

  test("lshLabelEdges: null labels pair with nothing (the oracle's = join)") {
    val rnd = new scala.util.Random(7)
    val v = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val w = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val emb = Seq((1L, v, None), (2L, v, None), (3L, v, Some(4)), (4L, v, Some(4)),
      (5L, w, None), (6L, w, Some(2)), (7L, w, Some(2)))
      .toDF("vec_id", "embedding", "label")
    val edges = graft.queries.Similarity.lshLabelEdges(emb, threshold = 0.35)
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((3L, 4L), (6L, 7L)))
  }

  test("e_modularity == brute Newman-Girvan Q over the same LP partition") {
    // independent recomputation: collect the LSH graph + LP labels the
    // query builds, compute Q per community driver-side with the same
    // float discipline, compare floor-micros exactly
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val ver = graft.queries.Similarity.lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint()
    val lab = graft.queries.Similarity
      .lpLabels(emb.select($"vec_id"), edges)
      .as[(Long, Long)].collect().toMap
    val es = edges.as[(Long, Long)].collect()
    val m2 = es.length.toDouble
    val intra2 = es.filter { case (s, d) => lab(s) == lab(d) }
      .groupBy { case (s, _) => lab(s) }.view.mapValues(_.length.toLong).toMap
    val dsum = es.groupBy { case (s, _) => lab(s) }
      .view.mapValues(_.length.toLong).toMap
    val expected = lab.values.toSeq.distinct.map { c =>
      val num = intra2.getOrElse(c, 0L).toDouble * m2 -
        dsum.getOrElse(c, 0L).toDouble * dsum.getOrElse(c, 0L).toDouble
      c -> math.floor(num / (m2 * m2) * 1000000).toLong
    }.toMap
    val got = graft.queries.Similarity.eModularity
      .fn(spark, TestSpark.Sf)
      .select($"community", $"q_micros", $"q_total_micros")
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == expected.keySet)
    for ((c, q, _) <- got) assert(q == expected(c), s"community $c")
    // Q_total is the exact-integer sum, identical on every row, in range
    val totals = got.map(_._3).distinct
    assert(totals.length == 1 && totals.head >= -1000000 && totals.head <= 1000000)
    info(s"modularity of LP partition at sf0.001: Q_total_micros=${totals.head}")
  }

  test("neighborhood function == brute multi-source BFS on the same edge set") {
    import graft.queries.Similarity
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val edges = Similarity.lshLabelEdges(emb, threshold = 0.2)
      .as[(Long, Long)].collect()
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nodes = emb.select(col("vec_id")).as[Long].collect().sorted
    val seeds = nodes.take(63)
    // brute BFS per seed, counting nodes within distance r
    val perSeedReach: Seq[Array[Set[Long]]] = seeds.map { s0 =>
      val reach = Array.fill(5)(Set.empty[Long])
      reach(0) = Set(s0)
      for (r <- 1 to 4)
        reach(r) = reach(r - 1) ++
          reach(r - 1).flatMap(v => adj.getOrElse(v, Set.empty))
      reach
    }.toSeq
    val expected = (0 to 4).map(r => perSeedReach.map(_(r).size.toLong).sum)
    val got = Similarity.eNeighborhoodFunction.fn(spark, TestSpark.Sf)
      .select(col("r"), col("reached_pairs"), col("effective_diameter"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == expected,
      s"reached pairs ${got.map(_._2).toSeq} vs brute $expected")
    val effExpected = (0 to 4).find(r => 10 * expected(r) >= 9 * expected(4)).get
    assert(got.forall(_._3 == effExpected))
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted,
      "neighborhood function must be monotone")
  }

  test("assortativity == brute degree-pair Pearson on the same edge set") {
    import graft.queries.Similarity
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val edges0 = Similarity.lshLabelEdges(emb, threshold = 0.2)
      .as[(Long, Long)].collect()
    val edges = edges0 ++ edges0.map(_.swap)
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xs = edges.map(e => deg(e._1)); val ys = edges.map(e => deg(e._2))
    val n = edges.length.toLong
    def s(v: Seq[Long]) = v.map(BigInt(_)).sum
    def s2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
    val (sx, sy) = (s(xs.toSeq), s(ys.toSeq))
    val num = (BigInt(n) * s2(xs.toSeq, ys.toSeq) - sx * sy).toDouble
    val dx = (BigInt(n) * s2(xs.toSeq, xs.toSeq) - sx * sx).toDouble
    val dy = (BigInt(n) * s2(ys.toSeq, ys.toSeq) - sy * sy).toDouble
    val expected = math.floor(num / (math.sqrt(dx) * math.sqrt(dy)) * 1e6)
      .toLong
    val got = Similarity.eAssortativity.fn(spark, TestSpark.Sf)
      .select(col("n_directed_edges"), col("assortativity_micros"))
      .as[(Long, Long)].collect()
    assert(got.length == 1 && got.head._1 == n)
    assert(got.head._2 == expected,
      s"assortativity ${got.head._2} vs brute $expected")
    // undirected symmetry: the directed-pair correlation is symmetric
    // by construction, so it must be a genuine correlation in [-1, 1]
    assert(got.head._2 >= -1000000 && got.head._2 <= 1000000)
  }

  test("degree powerlaw: histogram and MLE alpha == brute fold over the edge set") {
    import graft.queries.Similarity
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val edges = Similarity.lshLabelEdges(emb, threshold = 0.2)
      .as[(Long, Long)].collect()
    val deg = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.size.toLong).toMap
    val hist = deg.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tail = deg.values.filter(_ >= 2).toSeq
    val sl = tail.map(d => java.math.BigDecimal
        .valueOf(math.log(d.toDouble / 1.5))
        .setScale(9, java.math.RoundingMode.HALF_UP))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    val alpha = math.floor(
      (1.0 + tail.size.toDouble / sl.doubleValue) * 1e6).toLong
    val got = Similarity.eDegreePowerlaw.fn(spark, TestSpark.Sf)
      .select(col("degree"), col("n_nodes"), col("alpha_micros"),
        col("n_tail"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == hist, "histogram")
    assert(got.forall(r => r._3 == alpha && r._4 == tail.size.toLong),
      s"alpha ${got.head._3} vs brute $alpha")
    assert(alpha > 1000000, "MLE alpha must exceed 1 by construction")
  }

  test("cluster agreement: ARI/NMI == brute contingency fold; identity partition scores 1") {
    import graft.queries.Similarity
    val got = Similarity.eClusterAgreement.fn(spark, TestSpark.Sf)
      .select(col("n"), col("ari_micros"), col("nmi_micros"))
      .as[(Long, Long, Long)].collect()
    assert(got.length == 1)
    val (n, ari, nmi) = got.head
    // brute recompute from the same LP assignment (via the query's own
    // building blocks is circular; recompute the METRICS from raw
    // (class, community) pairs instead)
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val edges0 = Similarity.lshLabelEdges(emb, threshold = 0.2)
    val lab = graft.queries.Similarity.eLabelPropagation
      .fn(spark, TestSpark.Sf)
      .select(col("vec_id"), col("community")).as[(Long, Long)].collect()
      .toMap
    val cls = emb.select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val pairsCt = cls.keys.toSeq.map(v => (cls(v), lab(v)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def c2(x: Long) = BigInt(x) * (x - 1) / 2
    val ai = pairsCt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val bj = pairsCt.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val sij = pairsCt.values.map(c2).sum
    val sa = ai.values.map(c2).sum
    val sb = bj.values.map(c2).sum
    val tt = c2(n)
    val bruteAri = math.floor(
      (BigInt(2) * (tt * sij - sa * sb)).toDouble /
        (tt * (sa + sb) - BigInt(2) * sa * sb).toDouble * 1e6).toLong
    assert(ari == bruteAri, s"ARI $ari vs brute $bruteAri")
    assert(nmi > 0 && nmi <= 1000000)
    assert(edges0.count() > 0)
    // sanity on the metric itself: a partition identical to the truth
    // has ARI = NMI = 1 (brute formula, planted)
    val ident = Map((1L, 1L) -> 3L, (2L, 2L) -> 4L)
    val ia = ident.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val isij = ident.values.map(c2).sum
    val isa = ia.values.map(c2).sum
    val itt = c2(7)
    assert((BigInt(2) * (itt * isij - isa * isa)) ==
      (itt * (isa + isa) - BigInt(2) * isa * isa))
  }

  test("HITS fold: planted funnel separates hubs from authorities; cycle is uniform") {
    // S and T only point, A and B are only pointed at: authority mass
    // must live entirely on {A, B} (A first — heavier in-weight) and
    // hub mass entirely on {S, T} (S first)
    val cells = Seq(("S", "A", 2L), ("S", "B", 1L), ("T", "A", 1L))
    val states = Seq("A", "B", "S", "T")
    val (h, a) = graft.queries.Events.hitsFold(cells, states, rounds = 4)
    assert(a("A") > a("B") && a("B") > 0.0, s"authorities $a")
    assert(a("S") == 0.0 && a("T") == 0.0, s"pure hubs must have 0 authority: $a")
    assert(h("S") > h("T") && h("T") > 0.0, s"hubs $h")
    assert(h("A") == 0.0 && h("B") == 0.0, s"pure authorities must have 0 hub: $h")
    assert(math.abs(a.values.sum - 1.0) < 1e-6 &&
      math.abs(h.values.sum - 1.0) < 1e-6, "each half-step is L1-normalized")
    // a symmetric cycle has no structure to rank: every score equal
    val cyc = Seq(("x", "y", 1L), ("y", "z", 1L), ("z", "x", 1L))
    val (hc, ac) = graft.queries.Events.hitsFold(cyc, Seq("x", "y", "z"), 4)
    assert(hc.values.toSet.size == 1 && ac.values.toSet.size == 1,
      s"cycle must be uniform: $hc / $ac")
  }
}
