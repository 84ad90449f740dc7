package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Buckets, Vectors}

/** Similarity search over `embeddings` (array<float>[64], labels 0-9):
  * centroid aggregation, brute-force and cell-pruned top-k cosine kNN,
  * and embedding near-dup pairs.
  *
  * Oracle parity: the DuckDB side mirrors the exact sequential fold
  * (list_reduce over per-index products in double), so cosine values
  * are bit-identical and ranking ties cannot diverge.
  */
object Similarity {

  /** DuckDB dot product mirroring Vectors.dot's left fold (dim=64). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private[queries] def cosSql(qa: String, qb: String): String =
    s"${dotSql(qa, qb)} / (sqrt(${dotSql(qa, qa)}) * sqrt(${dotSql(qb, qb)}))"

  /** Shared oracle CTEs replaying [[graft.ops.Vectors.neardupLsh]]'s
    * 16-bit / 4-band md5-derived hyperplane signatures in DuckDB:
    * yields `cand(ida, idb)` — the DISTINCT candidate pairs (ida < idb)
    * that share at least one band bucket, exactly the set
    * `Buckets.pairs` emits below the star cap. No star-cap in SQL —
    * parity holds because no verify-scale band bucket nears
    * `maxBucket` (max 178 members at sf0.1 vs cap 1000); a tripped cap
    * surfaces via the graft_buckets_* observe metric. */
  private def lshCandCtes: String = s"""
      sig AS (SELECT vec_id,
        list_transform(range(0, 16), b ->
          CASE WHEN list_reduce(list_transform(range(1, 65), d ->
            (CASE WHEN ascii(substr(md5(b::VARCHAR || '_' || d::VARCHAR), 1, 1)) % 2 = 0
                  THEN 1.0 ELSE -1.0 END) * embedding[d]::DOUBLE),
            (x, y) -> x + y) > 0 THEN 1 ELSE 0 END) AS sig
        FROM embeddings),
      bands AS (SELECT vec_id, b,
          sig[b*4+1]*8 + sig[b*4+2]*4 + sig[b*4+3]*2 + sig[b*4+4] AS key
        FROM sig CROSS JOIN unnest(range(0, 4)) AS t(b)),
      cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.key = b.key AND a.vec_id < b.vec_id)"""

  /** LSH-bucketed, label-verified similarity edges (id_a < id_b) — the
    * graph-analytics family's shared edge build. Candidates come from
    * [[graft.ops.Vectors.neardupLsh]]'s hyperplane band buckets
    * (capped + observed via `Buckets.pairs`, NEVER a label-blocked
    * quadratic join); each candidate is then verified exactly:
    * same label AND cosine >= threshold. Both verifications are
    * id-keyed joins / row-local filters, so the only quadratic-capable
    * step is inside the capped scaffold. Plan shape pinned in PlanSpec
    * ("graph edge build"). The declared graph semantics ARE the
    * LSH-candidate graph — band recall vs the exact label-blocked
    * graph is probabilistic (measured at sf0.1 by tools/GraphLshProbe:
    * 192/391 edges at thr 0.35, 4131/10981 at 0.2) and the oracle
    * replays the identical signatures, so Spark and DuckDB agree on
    * every edge by construction at any scale where the cap is silent. */
  private[graft] def lshLabelEdges(emb: DataFrame, threshold: Double)
      : DataFrame = {
    // r15 (guide §8: push the decision into the blocking key). The old
    // form generated ALL band-bucket pairs, shuffled them through the
    // dedup exchange, attached the 64-float embedding payload to every
    // one, verified the cosine, and only THEN dropped cross-label
    // pairs — profiled at 8× as an 87 MB pair shuffle + 174 MB
    // payload-join read with ~70 s of task time. Label equality is an
    // equality the verify applies anyway, so it moves INTO the bucket
    // key: (band, key, label) buckets emit exactly the same-label
    // subset of the (band, key) candidates — identical surviving edge
    // set wherever the star cap is silent (it is at every oracle SF:
    // max coarse bucket 178 vs cap 1000, and refined buckets are ~L×
    // smaller still) — and the pair explosion, dedup exchange, payload
    // joins and cosine pass all run on ~1/L of the rows (L≈10 labels).
    // A null label equals nothing under the verify's `=` (and the
    // oracle's join), but a null bucket-key component groups with other
    // nulls — unlabelled vectors leave before bucketing.
    val labelled = emb.filter(col("label").isNotNull)
    Vectors.neardupVerify(labelled,
        Vectors.neardupCandidatesBy(labelled, Seq("label")), threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Per-label mean vector via positional explode + exact decimal sums
    * (vector aggregation that scales: one shuffle keyed (label, pos)). */
  val eCentroids: Spec = Spec(
    "e_centroids",
    oracle = Some("""
      WITH t AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS v
                 FROM embeddings)
      SELECT label, CAST(pos AS BIGINT) AS pos,
        ROUND(CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS centroid,
        COUNT(*) AS n
      FROM t GROUP BY label, pos ORDER BY label, pos""")) { (s, dir) =>
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", ($"pos" + 1).cast("long").as("pos"))
      .agg(
        round(sum(round($"v".cast("double"), 9).cast("decimal(28,12)")).cast("double") / count(lit(1)), 6)
          .as("centroid"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"pos")
  }

  /** Brute-force cosine top-5 for query vectors (vec_id < 10). */
  val eKnnBrute: Spec = Spec(
    "e_knn_brute",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk"""),
    bench = true) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Vectors.knnBrute(emb.filter($"id" < 10), emb, 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** Cell-pruned (IVF-style) top-5: candidates share the query's label
    * cell — the scale path where cells bound the scan. */
  val eKnnCell: Spec = Spec(
    "e_knn_ivf",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    Vectors.knnCell(emb.filter($"id" < 20), emb, "label", 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** Embedding near-duplicate pairs within label cells — the blocked
    * quadratic kept as a small-scale EXACT validation baseline.
    * The scale path is [[eNearDupLsh]] (hyperplane-bucketed, Σbucket²
    * cost); this form exists to pin its recall and as the oracle of
    * record for exact all-pairs semantics at verify scale. */
  val eNearDup: Spec = Spec(
    "e_neardup_cosine",
    oracle = Some(s"""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
      ORDER BY id_a, id_b""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .withColumn("n", Vectors.norm($"embedding"))
    val a = emb.select($"label", $"vec_id".as("id_a"),
      $"embedding".as("va"), $"n".as("na"))
    val b = emb.select($"label", $"vec_id".as("id_b"),
      $"embedding".as("vb"), $"n".as("nb"))
    a.join(b, Seq("label"))
      .filter($"id_a" < $"id_b")
      .withColumn("cos_sim", Vectors.cosine($"va", $"vb", $"na", $"nb"))
      .filter($"cos_sim" >= 0.35)
      .select($"id_a", $"id_b", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  /** Near-dup pairs via random-hyperplane LSH (16 bits, 4 bands) +
    * exact cosine verification — the 100 TB path: candidates come from
    * band buckets, never an all-pairs (or label-blocked) join. The
    * oracle rebuilds the identical md5-derived hyperplane matrix, so
    * the probabilistic candidate set matches EXACTLY; recall vs the
    * all-pairs form is pinned in VectorOpsSpec. The oracle has no
    * star-cap — parity holds because no verify-scale band bucket nears
    * `maxBucket`; a tripped cap surfaces via the graft_buckets_*
    * observe metric (see Buckets.pairs). */
  val eNearDupLsh: Spec = Spec(
    "e_neardup_lsh",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      scored AS (SELECT ida, idb,
          ${cosSql("ea.embedding", "eb.embedding")} AS cos
        FROM cand
          JOIN embeddings ea ON ea.vec_id = ida
          JOIN embeddings eb ON eb.vec_id = idb)
      SELECT ida AS id_a, idb AS id_b, ROUND(cos, 6) AS cos_sim
      FROM scored WHERE cos >= 0.35 ORDER BY id_a, id_b""")) { (s, dir) =>
    import s.implicits._
    Vectors.neardupLsh(
        Tables.load(s, dir, "embeddings"), threshold = 0.35)
      .select($"id_a", $"id_b", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  /** Two-stage quantized ANN (int8 coarse scan → exact re-rank): the
    * 4×-memory-reduction scale path. Fully oracled end to end — the
    * quantizer is floor(x+0.5) over IEEE doubles (deterministic in
    * both engines, see [[graft.ops.Vectors.quantize]]), so DuckDB
    * replays quantization, integer coarse scoring, the rerank-50
    * shortlist, and the exact re-rank, and must land on the identical
    * top-5. Recall ≥ 0.9 vs brute force additionally pinned in
    * VectorOpsSpec. */
  val eKnnQuantized: Spec = Spec(
    "e_knn_quantized",
    oracle = Some(s"""
      WITH e AS (
        SELECT vec_id, embedding,
          list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma
        FROM embeddings),
      qz AS (
        SELECT vec_id, embedding,
          list_transform(embedding,
            x -> CAST(floor(x::DOUBLE / ma * 127 + 0.5) AS INT)) AS q,
          ma / 127 AS scale,
          sqrt(${dotSql("embedding", "embedding")}) AS nrm
        FROM e),
      coarse AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
          list_reduce(list_transform(range(1, 65),
              i -> CAST(a.q[i] * b.q[i] AS BIGINT)), (x, y) -> x + y)::DOUBLE
            * a.scale * b.scale / (a.nrm * b.nrm) AS ccos
        FROM qz a JOIN qz b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
      short AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS srk
          FROM coarse) WHERE srk <= 50),
      ex AS (
        SELECT s.qid, s.cid,
          ${cosSql("qe.embedding", "ce.embedding")} AS cos
        FROM short s
          JOIN embeddings qe ON qe.vec_id = s.qid
          JOIN embeddings ce ON ce.vec_id = s.cid),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM ex)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Vectors.knnQuantized(emb.filter($"id" < 10), emb, 5, rerank = 50)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** DuckDB squared-L2 mirroring Vectors.nearestCell's sequential fold
    * ((x-c)² accumulated left to right in double). */
  private def distSql(v: String, c: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> ($v[i]::DOUBLE - $c[i]) * ($v[i]::DOUBLE - $c[i])), (x, y) -> x + y)"

  /** Shared k-means CTE chain (k=8, deterministic first-k init,
    * decimal-exact means) up to the second-iteration assignment. */
  private val kmeansCtes = s"""
      c0 AS (
        SELECT vec_id AS cell, list_transform(embedding, x -> x::DOUBLE) AS cent
        FROM embeddings WHERE vec_id < 8),
      a1 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
      c1 AS (
        SELECT cell, pos,
          CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v FROM a1)
        GROUP BY cell, pos),
      c1l AS (SELECT cell, list(cval ORDER BY pos) AS cent FROM c1 GROUP BY cell),
      a2 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c1l c) WHERE rk = 1)"""

  /** LEARNED IVF coarse quantizer: deterministic Lloyd's k-means (k=8,
    * first-k init, decimal-exact means), oracle-checked END TO END —
    * DuckDB re-runs both iterations and must reproduce every centroid
    * component to 6 decimals and every cell size exactly. */
  val eKmeansCentroids: Spec = Spec(
    "e_kmeans_centroids",
    oracle = Some(s"""
      WITH $kmeansCtes
      SELECT cell, CAST(pos AS BIGINT) AS pos,
        FLOOR(CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
          * 1000000) / 1000000 AS centroid,
        COUNT(*) AS n
      FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
              unnest(embedding) AS v FROM a2)
      GROUP BY cell, pos ORDER BY cell, pos""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents1 = Vectors.kmeansCentroids(emb, k = 8, iters = 1)
    emb
      .withColumn("cell", Vectors.nearestCell($"embedding", cents1))
      .select($"cell", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"cell", ($"pos" + 1).cast("long").as("pos"))
      .agg(
        // floor-truncate instead of round: rounding has half-way ties
        // where engines disagree at the last digit; floor on the
        // bit-identical mean is tie-free.
        (floor(sum(round($"v".cast("double"), 9).cast("decimal(28,12)")).cast("double") /
          count(lit(1)) * 1000000).cast("double") / 1000000).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy($"cell", $"pos")
  }

  /** kNN through the LEARNED quantizer: corpus and queries assigned to
    * their nearest learned centroid, candidates restricted to the
    * query's cell — e_knn_ivf with trained cells instead of labels.
    * Oracle replays the full train+assign+search chain. */
  val eKnnIvfLearned: Spec = Spec(
    "e_knn_ivf_learned",
    oracle = Some(s"""
      WITH $kmeansCtes,
      c2 AS (
        SELECT cell, pos,
          CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v FROM a2)
        GROUP BY cell, pos),
      c2l AS (SELECT cell, list(cval ORDER BY pos) AS cent FROM c2 GROUP BY cell),
      a3 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c2l c) WHERE rk = 1),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM a3 q JOIN a3 c ON c.cell = q.cell AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 20),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents2 = Vectors.kmeansCentroids(emb, k = 8, iters = 2)
    val assigned = emb
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .withColumn("cell", Vectors.nearestCell($"vec", cents2))
    Vectors.knnCell(assigned.filter($"id" < 20), assigned, "cell", 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** IVF MULTIPROBE through the learned quantizer: each query probes
    * its 2 nearest cells (corpus stays single-cell) — the standard
    * recall lever at hard cell boundaries. Oracle replays train +
    * 2-cell probe + search end to end. */
  val eKnnIvfMultiprobe: Spec = Spec(
    "e_knn_ivf_multiprobe",
    oracle = Some(s"""
      WITH $kmeansCtes,
      c2 AS (
        SELECT cell, pos,
          CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v FROM a2)
        GROUP BY cell, pos),
      c2l AS (SELECT cell, list(cval ORDER BY pos) AS cent FROM c2 GROUP BY cell),
      a3 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c2l c) WHERE rk = 1),
      q3 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c2l c
          WHERE e.vec_id < 20) WHERE rk <= 2),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q3 q JOIN a3 c ON c.cell = q.cell AND c.vec_id <> q.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents2 = Vectors.kmeansCentroids(emb, k = 8, iters = 2)
    val corpus = emb
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .withColumn("cell", Vectors.nearestCell($"vec", cents2))
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("id"), $"embedding".as("vec"),
        explode(Vectors.nearestCells($"embedding", cents2, nprobe = 2))
          .as("cell"))
    Vectors.knnCell(queries, corpus, "cell", 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  private def dist8(a: String, c: String): String =
    s"list_reduce(list_transform(range(1, 9), i -> ($a[i]::DOUBLE - $c[i]) * ($a[i]::DOUBLE - $c[i])), (x, y) -> x + y)"
  private def dot8(a: String, c: String): String =
    s"list_reduce(list_transform(range(1, 9), i -> $a[i]::DOUBLE * $c[i]), (x, y) -> x + y)"

  /** PRODUCT-quantized ANN ([[graft.ops.Vectors.knnPq]]): 8 subspaces
    * × 16 learned centroids (deterministic Lloyd per subspace, the
    * e_kmeans recipe), asymmetric-distance coarse scoring from the
    * corpus side's 8 codes only, exact re-rank of the 50-shortlist.
    * The oracle re-trains every codebook, re-encodes the corpus,
    * replays ADC (subspace dots rounded to 9dp, summed as DECIMAL so
    * order can't matter) and must land on the identical top-5. */
  val eKnnPq: Spec = Spec(
    "e_knn_pq",
    oracle = Some(s"""
      WITH sub AS (
        SELECT vec_id, m, embedding[(m*8+1):(m*8+8)] AS sv
        FROM embeddings CROSS JOIN unnest(range(0, 8)) t(m)),
      c0 AS (SELECT m, vec_id AS cell,
               list_transform(sv, x -> x::DOUBLE) AS cent
             FROM sub WHERE vec_id < 16),
      a1 AS (SELECT vec_id, m, sv, cell FROM (
          SELECT s.vec_id, s.m, s.sv, c.cell,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ${dist8("s.sv", "c.cent")}, c.cell) AS rk
          FROM sub s JOIN c0 c ON c.m = s.m) WHERE rk = 1),
      c1 AS (SELECT m, cell, pos,
               CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
             FROM (SELECT m, cell, generate_subscripts(sv, 1) AS pos,
                     unnest(sv) AS v FROM a1)
             GROUP BY m, cell, pos),
      cbp AS (SELECT c0.m, c0.cell, p.pos,
                COALESCE(c1.cval, c0.cent[CAST(p.pos AS INT)]) AS cval
              FROM c0 CROSS JOIN unnest(range(1, 9)) p(pos)
              LEFT JOIN c1 ON c1.m = c0.m AND c1.cell = c0.cell
                          AND c1.pos = p.pos),
      cb AS (SELECT m, cell, list(cval ORDER BY pos) AS cent
             FROM cbp GROUP BY m, cell),
      enc AS (SELECT vec_id, m, cell FROM (
          SELECT s.vec_id, s.m, b.cell,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ${dist8("s.sv", "b.cent")}, b.cell) AS rk
          FROM sub s JOIN cb b ON b.m = s.m) WHERE rk = 1),
      nrm AS (SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS n
              FROM embeddings),
      adc AS (
        SELECT q.vec_id AS qid, e.vec_id AS cid,
          SUM(CAST(round(${dot8("q.sv", "b.cent")}, 9) AS DECIMAL(28,12))) AS adot
        FROM sub q
          JOIN enc e ON e.m = q.m AND e.vec_id <> q.vec_id
          JOIN cb b ON b.m = e.m AND b.cell = e.cell
        WHERE q.vec_id < 10
        GROUP BY qid, cid),
      coarse AS (
        SELECT adc.qid, adc.cid,
          CAST(adot AS DOUBLE) / (qn.n * cn.n) AS ccos
        FROM adc JOIN nrm qn ON qn.vec_id = adc.qid
                 JOIN nrm cn ON cn.vec_id = adc.cid),
      short AS (SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS srk
          FROM coarse) WHERE srk <= 50),
      ex AS (SELECT s.qid, s.cid,
               ${cosSql("qe.embedding", "ce.embedding")} AS cos
             FROM short s
               JOIN embeddings qe ON qe.vec_id = s.qid
               JOIN embeddings ce ON ce.vec_id = s.cid),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM ex)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val books = Vectors.pqCodebooks(emb, dim = 64, m = 8, k = 16, iters = 1)
    val e = emb.select($"vec_id".as("id"), $"embedding".as("vec"))
    Vectors.knnPq(e.filter($"id" < 10), e, books, 5, rerank = 50)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** IVF-PQ ([[graft.ops.Vectors.knnIvfPq]]): learned coarse cells
    * (deterministic Lloyd, the kmeansCtes recipe) + product
    * quantization of the RESIDUALS, ADC search restricted to the
    * query's cell, exact re-rank. The oracle re-trains the coarse
    * quantizer AND all 8 residual codebooks, re-encodes, replays ADC
    * and the re-rank — every stage deterministic by the same decimal/
    * floor discipline as e_kmeans_centroids and e_knn_pq. */
  val eKnnIvfPq: Spec = Spec(
    "e_knn_ivf_pq",
    oracle = Some(s"""
      WITH $kmeansCtes,
      res AS (
        SELECT a.vec_id, a.cell, a.embedding,
          list_transform(range(1, 65),
            i -> a.embedding[i]::DOUBLE - c.cent[i]) AS rv
        FROM a2 a JOIN c1l c ON c.cell = a.cell),
      sub AS (
        SELECT vec_id, cell, m, rv[(m*8+1):(m*8+8)] AS sv
        FROM res CROSS JOIN unnest(range(0, 8)) t(m)),
      p0 AS (SELECT m, vec_id AS pcell, sv AS cent
             FROM sub WHERE vec_id < 16),
      pa1 AS (SELECT vec_id, m, sv, pcell FROM (
          SELECT s.vec_id, s.m, s.sv, c.pcell,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ${dist8("s.sv", "c.cent")}, c.pcell) AS rk
          FROM sub s JOIN p0 c ON c.m = s.m) WHERE rk = 1),
      pc1 AS (SELECT m, pcell, pos,
               CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
             FROM (SELECT m, pcell, generate_subscripts(sv, 1) AS pos,
                     unnest(sv) AS v FROM pa1)
             GROUP BY m, pcell, pos),
      pcbp AS (SELECT p0.m, p0.pcell, p.pos,
                COALESCE(pc1.cval, p0.cent[CAST(p.pos AS INT)]) AS cval
              FROM p0 CROSS JOIN unnest(range(1, 9)) p(pos)
              LEFT JOIN pc1 ON pc1.m = p0.m AND pc1.pcell = p0.pcell
                           AND pc1.pos = p.pos),
      pcb AS (SELECT m, pcell, list(cval ORDER BY pos) AS cent
             FROM pcbp GROUP BY m, pcell),
      enc AS (SELECT vec_id, cell, m, pcell FROM (
          SELECT s.vec_id, s.cell, s.m, b.pcell,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ${dist8("s.sv", "b.cent")}, b.pcell) AS rk
          FROM sub s JOIN pcb b ON b.m = s.m) WHERE rk = 1),
      nrm AS (SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS n
              FROM embeddings),
      qc AS (
        SELECT r.vec_id, r.cell,
          CAST(round(${dotSql("r.embedding", "c.cent")}, 9) AS DECIMAL(28,12)) AS qcdot
        FROM res r JOIN c1l c ON c.cell = r.cell WHERE r.vec_id < 10),
      qsub AS (
        SELECT vec_id, cell, m, embedding[(m*8+1):(m*8+8)] AS sv
        FROM res CROSS JOIN unnest(range(0, 8)) t(m)
        WHERE vec_id < 10),
      adc AS (
        SELECT q.vec_id AS qid, e.vec_id AS cid,
          SUM(CAST(round(${dot8("q.sv", "b.cent")}, 9) AS DECIMAL(28,12))) AS adot
        FROM qsub q
          JOIN enc e ON e.m = q.m AND e.cell = q.cell AND e.vec_id <> q.vec_id
          JOIN pcb b ON b.m = e.m AND b.pcell = e.pcell
        GROUP BY qid, cid),
      coarse AS (
        SELECT adc.qid, adc.cid,
          CAST(qc.qcdot + adc.adot AS DOUBLE) / (qn.n * cn.n) AS ccos
        FROM adc JOIN qc ON qc.vec_id = adc.qid
                 JOIN nrm qn ON qn.vec_id = adc.qid
                 JOIN nrm cn ON cn.vec_id = adc.cid),
      short AS (SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS srk
          FROM coarse) WHERE srk <= 50),
      ex AS (SELECT s.qid, s.cid,
               ${cosSql("qe.embedding", "ce.embedding")} AS cos
             FROM short s
               JOIN embeddings qe ON qe.vec_id = s.qid
               JOIN embeddings ce ON ce.vec_id = s.cid),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM ex)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents1 = Vectors.kmeansCentroids(emb, k = 8, iters = 1)
    val assigned = emb.select($"vec_id", $"embedding")
      .withColumn("cell", Vectors.nearestCell($"embedding", cents1))
      .withColumn("resid", Vectors.residual($"embedding", $"cell", cents1))
      .localCheckpoint() // one assignment evaluation: codebook training
                         // and the search both consume it
    val books = Vectors.pqCodebooks(
      assigned.select($"vec_id", $"resid".as("embedding")),
      dim = 64, m = 8, k = 16, iters = 1)
    Vectors.knnIvfPq(assigned, cents1, books, $"vec_id" < 10, 5, rerank = 50)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk '19): candidate
    * pairs score as cos(x,y) normalized by the mean of both sides'
    * k-NN neighborhoods — the ratio margin that separates true
    * translations from merely-similar sentences. "Languages" here are
    * the vec_id parity slices; neighborhood means sum 9dp-rounded
    * cosines as DECIMAL (order-free) before one double division, so
    * the oracle replays scoring, both neighborhoods, and the per-source
    * argmax exactly. Scale path: the dense A×B scoring block is what
    * the ANN family (IVF/PQ above) replaces at corpus size; margin
    * arithmetic is unchanged. */
  val eBitextMine: Spec = Spec(
    "e_bitext_mine",
    oracle = Some(s"""
      WITH a AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 2 = 0 AND vec_id < 100),
      b AS (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % 2 = 1 AND vec_id < 100),
      scored AS (
        SELECT a.vec_id AS aid, b.vec_id AS bid,
          ${cosSql("a.embedding", "b.embedding")} AS cos
        FROM a CROSS JOIN b),
      ra AS (SELECT aid,
               CAST(SUM(CAST(round(cos, 9) AS DECIMAL(18,12))) AS DOUBLE) / 4 AS na
             FROM (SELECT aid, cos, row_number() OVER (PARTITION BY aid
                     ORDER BY cos DESC, bid) AS rk FROM scored)
             WHERE rk <= 4 GROUP BY aid),
      rb AS (SELECT bid,
               CAST(SUM(CAST(round(cos, 9) AS DECIMAL(18,12))) AS DOUBLE) / 4 AS nb
             FROM (SELECT bid, cos, row_number() OVER (PARTITION BY bid
                     ORDER BY cos DESC, aid) AS rk FROM scored)
             WHERE rk <= 4 GROUP BY bid),
      m AS (
        SELECT s.aid, s.bid, s.cos,
          s.cos / ((ra.na + rb.nb) / 2) AS margin
        FROM scored s JOIN ra ON ra.aid = s.aid JOIN rb ON rb.bid = s.bid),
      best AS (SELECT aid, bid, cos, margin,
                 row_number() OVER (PARTITION BY aid
                   ORDER BY margin DESC, bid) AS rk
               FROM m)
      SELECT aid, bid, ROUND(cos, 6) AS cos_sim, ROUND(margin, 6) AS margin
      FROM best WHERE rk = 1 ORDER BY aid""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .filter($"vec_id" < 100)
      .select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
    val a = emb.filter($"vec_id" % 2 === 0)
      .select($"vec_id".as("aid"), $"embedding".as("av"), $"nrm".as("an"))
    val b = emb.filter($"vec_id" % 2 === 1)
      .select($"vec_id".as("bid"), $"embedding".as("bv"), $"nrm".as("bn"))
    val scored = a.join(broadcast(b))
      .select($"aid", $"bid",
        Vectors.cosine($"av", $"bv", $"an", $"bn").as("cos"))
      .localCheckpoint() // consumed three times: two neighborhoods + margin
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy($"aid").orderBy($"cos".desc, $"bid")
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy($"bid").orderBy($"cos".desc, $"aid")
    val dec = round($"cos", 9).cast("decimal(18,12)")
    val ra = scored.withColumn("rk", row_number().over(wA))
      .filter($"rk" <= 4).groupBy($"aid")
      .agg((sum(dec).cast("double") / 4).as("na"))
    val rb = scored.withColumn("rk", row_number().over(wB))
      .filter($"rk" <= 4).groupBy($"bid")
      .agg((sum(dec).cast("double") / 4).as("nb"))
    scored
      .join(broadcast(ra), "aid").join(broadcast(rb), "bid")
      .withColumn("margin", $"cos" / (($"na" + $"nb") / 2))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"aid").orderBy($"margin".desc, $"bid")))
      .filter($"rk" === 1)
      .select($"aid", $"bid", round($"cos", 6).as("cos_sim"),
        round($"margin", 6).as("margin"))
      .orderBy($"aid")
  }

  /** Embedding outliers — the embedding-QA op: distance to the
    * per-label centroid, flagged beyond mean + 2σ within the label.
    * Centroids are the decimal-exact per-(label,pos) means
    * (e_centroids' recipe, kept as a broadcast list per label);
    * distance sums round to 9dp and aggregate as DECIMAL so the
    * label statistics are order-free, and the z-threshold comparison
    * is pure IEEE on identical operands. Catches mis-embedded or
    * mislabeled rows before they poison ANN indexes or dedup. */
  val eEmbeddingOutliers: Spec = Spec(
    "e_embedding_outliers",
    oracle = Some(s"""
      WITH cp AS (
        SELECT label, pos,
          CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
        FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v FROM embeddings)
        GROUP BY label, pos),
      cl AS (SELECT label, list(c ORDER BY pos) AS cent FROM cp GROUP BY label),
      d AS (
        SELECT e.vec_id, e.label,
          sqrt(${distSql("e.embedding", "cl.cent")}) AS dist
        FROM embeddings e JOIN cl ON cl.label = e.label),
      st AS (
        SELECT label, COUNT(*) AS n,
          CAST(SUM(CAST(round(dist, 9) AS DECIMAL(18,12))) AS DOUBLE) AS sd,
          CAST(SUM(CAST(round(dist * dist, 9) AS DECIMAL(18,12))) AS DOUBLE) AS sd2
        FROM d GROUP BY label),
      z AS (
        SELECT d.vec_id, d.label, d.dist,
          st.sd / st.n AS mean_d,
          sqrt(greatest(st.sd2 / st.n - (st.sd / st.n) * (st.sd / st.n), 0)) AS std_d
        FROM d JOIN st ON st.label = d.label)
      SELECT vec_id, label, ROUND(dist, 6) AS dist,
        (dist > mean_d + 2 * std_d) AS is_outlier
      FROM z ORDER BY vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cent = emb
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg((sum(round($"v".cast("double"), 9).cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        p => p.getField("c")).as("cent"))
    val d = emb.join(broadcast(cent), "label")
      .select($"vec_id", $"label",
        sqrt(aggregate(
          zip_with($"embedding", $"cent",
            (x, h) => (x.cast("double") - h) * (x.cast("double") - h)),
          lit(0.0d), (acc, v) => acc + v)).as("dist"))
      .localCheckpoint() // stats and the z-join both consume it
    val st = d.groupBy($"label")
      .agg(count(lit(1)).as("n"),
        sum(round($"dist", 9).cast("decimal(18,12)")).cast("double").as("sd"),
        sum(round($"dist" * $"dist", 9).cast("decimal(18,12)"))
          .cast("double").as("sd2"))
    d.join(broadcast(st), "label")
      .select($"vec_id", $"label", round($"dist", 6).as("dist"),
        ($"dist" > $"sd" / $"n" +
          lit(2) * sqrt(greatest($"sd2" / $"n" -
            ($"sd" / $"n") * ($"sd" / $"n"), lit(0.0d)))).as("is_outlier"))
      .orderBy($"vec_id")
  }

  /** IVF-PQ with 2-cell multiprobe: queries probe their two nearest
    * coarse cells (corpus stays single-cell coded), recovering the
    * recall lost at hard cell boundaries; qcdot is per probed cell so
    * the ADC decomposition stays exact for second-cell rows. Oracle =
    * the IVF-PQ chain with a rank≤2 probe CTE. */
  val eKnnIvfPqProbe: Spec = Spec(
    "e_knn_ivf_pq_multiprobe",
    oracle = Some(s"""
      WITH $kmeansCtes,
      res AS (
        SELECT a.vec_id, a.cell, a.embedding,
          list_transform(range(1, 65),
            i -> a.embedding[i]::DOUBLE - c.cent[i]) AS rv
        FROM a2 a JOIN c1l c ON c.cell = a.cell),
      sub AS (
        SELECT vec_id, cell, m, rv[(m*8+1):(m*8+8)] AS sv
        FROM res CROSS JOIN unnest(range(0, 8)) t(m)),
      p0 AS (SELECT m, vec_id AS pcell, sv AS cent
             FROM sub WHERE vec_id < 16),
      pa1 AS (SELECT vec_id, m, sv, pcell FROM (
          SELECT s.vec_id, s.m, s.sv, c.pcell,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ${dist8("s.sv", "c.cent")}, c.pcell) AS rk
          FROM sub s JOIN p0 c ON c.m = s.m) WHERE rk = 1),
      pc1 AS (SELECT m, pcell, pos,
               CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
             FROM (SELECT m, pcell, generate_subscripts(sv, 1) AS pos,
                     unnest(sv) AS v FROM pa1)
             GROUP BY m, pcell, pos),
      pcbp AS (SELECT p0.m, p0.pcell, p.pos,
                COALESCE(pc1.cval, p0.cent[CAST(p.pos AS INT)]) AS cval
              FROM p0 CROSS JOIN unnest(range(1, 9)) p(pos)
              LEFT JOIN pc1 ON pc1.m = p0.m AND pc1.pcell = p0.pcell
                           AND pc1.pos = p.pos),
      pcb AS (SELECT m, pcell, list(cval ORDER BY pos) AS cent
             FROM pcbp GROUP BY m, pcell),
      enc AS (SELECT vec_id, cell, m, pcell FROM (
          SELECT s.vec_id, s.cell, s.m, b.pcell,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY ${dist8("s.sv", "b.cent")}, b.pcell) AS rk
          FROM sub s JOIN pcb b ON b.m = s.m) WHERE rk = 1),
      nrm AS (SELECT vec_id, sqrt(${dotSql("embedding", "embedding")}) AS n
              FROM embeddings),
      qp AS (SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c1l c
          WHERE e.vec_id < 10) WHERE rk <= 2),
      qc AS (
        SELECT p.vec_id, p.cell,
          CAST(round(${dotSql("p.embedding", "c.cent")}, 9) AS DECIMAL(28,12)) AS qcdot
        FROM qp p JOIN c1l c ON c.cell = p.cell),
      qsub AS (
        SELECT p.vec_id, p.cell, t.m, p.embedding[(t.m*8+1):(t.m*8+8)] AS sv
        FROM qp p CROSS JOIN unnest(range(0, 8)) t(m)),
      adc AS (
        SELECT q.vec_id AS qid, e.vec_id AS cid, e.cell,
          SUM(CAST(round(${dot8("q.sv", "b.cent")}, 9) AS DECIMAL(28,12))) AS adot
        FROM qsub q
          JOIN enc e ON e.m = q.m AND e.cell = q.cell AND e.vec_id <> q.vec_id
          JOIN pcb b ON b.m = e.m AND b.pcell = e.pcell
        GROUP BY qid, cid, e.cell),
      coarse AS (
        SELECT adc.qid, adc.cid,
          CAST(qc.qcdot + adc.adot AS DOUBLE) / (qn.n * cn.n) AS ccos
        FROM adc JOIN qc ON qc.vec_id = adc.qid AND qc.cell = adc.cell
                 JOIN nrm qn ON qn.vec_id = adc.qid
                 JOIN nrm cn ON cn.vec_id = adc.cid),
      short AS (SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS srk
          FROM coarse) WHERE srk <= 50),
      ex AS (SELECT s.qid, s.cid,
               ${cosSql("qe.embedding", "ce.embedding")} AS cos
             FROM short s
               JOIN embeddings qe ON qe.vec_id = s.qid
               JOIN embeddings ce ON ce.vec_id = s.cid),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM ex)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents1 = Vectors.kmeansCentroids(emb, k = 8, iters = 1)
    val assigned = emb.select($"vec_id", $"embedding")
      .withColumn("cell", Vectors.nearestCell($"embedding", cents1))
      .withColumn("resid", Vectors.residual($"embedding", $"cell", cents1))
      .localCheckpoint()
    val books = Vectors.pqCodebooks(
      assigned.select($"vec_id", $"resid".as("embedding")),
      dim = 64, m = 8, k = 16, iters = 1)
    Vectors.knnIvfPq(assigned, cents1, books, $"vec_id" < 10, 5,
        rerank = 50, nprobe = 2)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** Embedding near-dup CLUSTERS: the [[eNearDup]] pair graph closed
    * into connected components — semantic dedup's final shape (SemDeDup
    * et al. drop all but one doc per embedding cluster). Pairs come
    * from the label-blocked exact form (the verify-scale oracle of
    * record; at 100 TB the identical edge list comes out of
    * [[eNearDupLsh]]'s buckets instead and this query doesn't change);
    * components via [[graft.ops.ConnectedComponents]] — labels live in
    * a DataFrame, never on the driver, min-label propagation with
    * per-round lineage truncation. Representative = min vec_id, the
    * deterministic keep rule. */
  val eNearDupClusters: Spec = Spec(
    "e_neardup_clusters",
    oracle = Some(s"""
      WITH RECURSIVE verified AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
      edges AS (
        SELECT ida AS src, idb AS dst FROM verified
        UNION ALL SELECT idb, ida FROM verified),
      walk(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id),
      labels AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id)
      SELECT component AS representative, COUNT(*) AS cluster_size,
        CAST(COUNT(*) - 1 AS BIGINT) AS n_removed, MAX(id) AS max_id
      FROM labels GROUP BY component ORDER BY representative""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding", $"label")
      .withColumn("n", Vectors.norm($"embedding"))
    val a = emb.select($"label", $"vec_id".as("src"),
      $"embedding".as("va"), $"n".as("na"))
    val b = emb.select($"label", $"vec_id".as("dst"),
      $"embedding".as("vb"), $"n".as("nb"))
    val pairs = a.join(b, Seq("label"))
      .filter($"src" < $"dst")
      .filter(Vectors.cosine($"va", $"vb", $"na", $"nb") >= 0.35)
      .select($"src", $"dst")
    graft.ops.ConnectedComponents.run(pairs)
      .groupBy($"component".as("representative"))
      .agg(count(lit(1)).as("cluster_size"),
        (count(lit(1)) - 1).cast("long").as("n_removed"),
        max($"id").as("max_id"))
      .orderBy($"representative")
  }

  /** Matryoshka (truncated-dimension) two-stage ANN: coarse cosine on
    * the first 16 of 64 components — the MRL serving pattern, a 4×
    * flop/byte cut with NO learned artifact — then exact re-rank of a
    * 50-deep shortlist. Fully oracled: DuckDB replays the prefix-slice
    * scoring, the (cos DESC, cid) shortlist, and the full-vector
    * re-rank; recall vs brute force pinned in VectorOpsSpec. */
  val eKnnMatryoshka: Spec = Spec(
    "e_knn_matryoshka",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      coarse AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          list_reduce(list_transform(range(1, 17),
              i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, 17),
                i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), (x, y) -> x + y))
             * sqrt(list_reduce(list_transform(range(1, 17),
                i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x, y) -> x + y)))
            AS ccos
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      short AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS srk
          FROM coarse) WHERE srk <= 50),
      ex AS (
        SELECT s.qid, s.cid,
          ${cosSql("qe.embedding", "ce.embedding")} AS cos
        FROM short s
          JOIN embeddings qe ON qe.vec_id = s.qid
          JOIN embeddings ce ON ce.vec_id = s.cid),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM ex)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Vectors.knnMatryoshka(emb.filter($"id" < 10), emb, 5,
        coarseDims = 16, rerank = 50)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** Corpus clustering report (the "what is in this corpus" lens):
    * every embedding assigned to its learned k-means cell (k=8, one
    * deterministic Lloyd iteration — the e_kmeans_centroids recipe),
    * then per cluster: size, dominant label with purity, and mean
    * squared distance to the centroid (cohesion). Label purity against
    * the shipped labels doubles as external cluster validation.
    *
    * Scale shape: centroids are k×dim driver doubles (bounded);
    * assignment + distance are one broadcast-argmin projection; the
    * report is two hash aggs keyed by cell/(cell,label) — cardinality
    * k and k×labels. Per-row distances round to 6dp and sum as
    * DECIMAL, so cluster means are aggregation-order-free. */
  val eClusterSummary: Spec = Spec(
    "e_cluster_summary",
    oracle = Some(s"""
      WITH $kmeansCtes,
      d AS (SELECT a.vec_id, a.cell, e.label,
          round(${distSql("a.embedding", "c.cent")}, 6) AS sd
        FROM a2 a JOIN c1l c ON c.cell = a.cell
        JOIN embeddings e ON e.vec_id = a.vec_id),
      lab AS (SELECT cell, label, COUNT(*) AS nl FROM d GROUP BY cell, label),
      top AS (SELECT cell, label AS top_label, nl FROM (
          SELECT cell, label, nl,
            row_number() OVER (PARTITION BY cell ORDER BY nl DESC, label) AS rk
          FROM lab) WHERE rk = 1),
      agg AS (SELECT cell, COUNT(*) AS n,
          CAST(SUM(CAST(sd AS DECIMAL(18,6))) AS DOUBLE) AS ssd
        FROM d GROUP BY cell)
      SELECT agg.cell, CAST(agg.n AS BIGINT) AS n,
        CAST(top.top_label AS BIGINT) AS top_label,
        ROUND(CAST(top.nl AS DOUBLE) / agg.n, 6) AS label_purity,
        ROUND(ssd / agg.n, 6) AS avg_sqdist
      FROM agg JOIN top USING (cell) ORDER BY agg.cell""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents = Vectors.kmeansCentroids(emb, k = 8, iters = 1)
    val cent = element_at(typedLit(cents), $"cell".cast("int") + 1)
    val sd = round(aggregate(zip_with($"embedding", cent,
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0d), (acc, v) => acc + v), 6)
    val d = emb
      .withColumn("cell", Vectors.nearestCell($"embedding", cents))
      .select($"vec_id", $"cell", $"label", sd.as("sd"))
      .localCheckpoint() // one assignment pass feeds both aggs
    val lab = d.groupBy($"cell", $"label").agg(count(lit(1)).as("nl"))
    val top = lab
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cell")
          .orderBy($"nl".desc, $"label")))
      .filter($"rk" === 1)
    val agg = d.groupBy($"cell").agg(count(lit(1)).as("n"),
      sum($"sd".cast("decimal(18,6)")).cast("double").as("ssd"))
    agg
      .join(top.select($"cell", $"label".cast("long").as("top_label"), $"nl"),
        Seq("cell"))
      .select($"cell", $"n", $"top_label",
        round($"nl".cast("double") / $"n", 6).as("label_purity"),
        round($"ssd" / $"n", 6).as("avg_sqdist"))
      .orderBy($"cell")
  }

  /** One PageRank oracle round: 9dp-rounded pr/deg contributions along
    * every directed edge, DECIMAL-summed per target (order-free), then
    * the damped update with the teleport term. */
  private def prStepCte(t: Int): String = s"""
      ct$t AS (SELECT e.dst, CAST(round(p.pr / d.deg, 9) AS DECIMAL(28,12)) AS c
        FROM edges e JOIN pr${t - 1} p ON p.vec_id = e.src
        JOIN deg d ON d.src = e.src),
      cs$t AS (SELECT dst, SUM(c) AS sc FROM ct$t GROUP BY dst),
      pr$t AS (SELECT n.vec_id,
          0.15::DOUBLE / nn.n + 0.85::DOUBLE * CAST(COALESCE(s.sc, 0) AS DOUBLE) AS pr
        FROM nodes n CROSS JOIN nn LEFT JOIN cs$t s ON s.dst = n.vec_id)"""

  /** PageRank centrality (3 damped iterations, d=0.85) over the
    * LSH-candidate near-duplicate graph ([[lshLabelEdges]]: hyperplane
    * band candidates, capped + observed, then same-label + exact
    * cosine >= 0.35 verification; both directions): ranks the
    * REPRESENTATIVE documents of each similarity neighborhood —
    * high-centrality rows are the canonical exemplars, the complement
    * of dd_cluster_representatives' min-id rule. Isolated nodes hold
    * the teleport mass 0.15/N.
    *
    * Edge semantics are DELIBERATELY the LSH graph, not the exact
    * label-blocked one: the exact form is an uncapped quadratic within
    * each label block (linear block growth -> quadratic pairs at
    * 100×), and band recall at thr 0.35 is ~49% (GraphLshProbe,
    * sf0.1), so the two graphs genuinely differ — the declared query
    * + oracle both compute the one a 100 TB run would build. The
    * oracle replays the identical md5-derived signatures
    * ([[lshCandCtes]]), so both engines agree edge-by-edge.
    *
    * Engine parity: per-edge contributions pr/deg round to 9dp and sum
    * as DECIMAL per target (aggregation-order-free); the damped update
    * is fixed IEEE op order, so the oracle replays all three rounds.
    * Scale shape: edges localCheckpoint once and each round is one
    * edge-keyed join + one target-keyed agg — the textbook distributed
    * PR step; nothing driver-side but the node count. */
  val ePagerankCentrality: Spec = Spec(
    "e_pagerank_centrality",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.35),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT vec_id FROM embeddings),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      pr0 AS (SELECT vec_id, 1.0::DOUBLE / nn.n AS pr
        FROM nodes CROSS JOIN nn),
      ${prStepCte(1)},
      ${prStepCte(2)},
      ${prStepCte(3)}
      SELECT p.vec_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
        ROUND(p.pr, 9) AS centrality
      FROM pr3 p LEFT JOIN deg d ON d.src = p.vec_id
      ORDER BY p.vec_id"""),
    bench = true) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.35)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // reused every iteration
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nodes = emb.select($"vec_id")
    val nn = broadcast(nodes.agg(count(lit(1)).as("n")))
    var pr = nodes.crossJoin(nn).select($"vec_id", (lit(1.0) / $"n").as("pr"))
    // Three rounds stay DECLARATIVE: only `edges` is checkpointed (it
    // is the expensive LSH build and every round scans it), while the
    // per-round pr frames chain as one logical plan. At 3 rounds the
    // nesting is shallow, AQE's exchange reuse dedupes the repeated
    // edges/deg scans, and skipping the per-round eager localCheckpoint
    // removes 3 block-manager materializations per run — the churn that
    // made whole-suite timings of this query swing >4x (r9 bench:
    // 7.3/33.0/20.5 s) while the isolated run was stable. Loops with
    // UNBOUNDED rounds (connected components, BFS) still checkpoint
    // per round via Graphs.iterate — this shape is 3-round-specific.
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(pr.withColumnRenamed("vec_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select($"dst", round($"pr" / $"deg", 9).cast("decimal(28,12)").as("c"))
      val sums = contrib.groupBy($"dst").agg(sum($"c").as("sc"))
      pr = nodes
        .join(sums, nodes("vec_id") === sums("dst"), "left")
        .crossJoin(nn)
        .select($"vec_id",
          (lit(0.15) / $"n" +
            lit(0.85) * coalesce($"sc", lit(0).cast("decimal(38,12)"))
              .cast("double")).as("pr"))
    }
    pr
      .join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"deg", lit(0L)).cast("long").as("degree"),
        round($"pr", 9).as("centrality"))
      .orderBy($"vec_id")
  }

  private def pprStepCte(t: Int): String = s"""
      pct$t AS (SELECT e.dst, CAST(round(p.pr / d.deg, 9) AS DECIMAL(28,12)) AS c
        FROM edges e JOIN ppr${t - 1} p ON p.vec_id = e.src
        JOIN deg d ON d.src = e.src),
      pcs$t AS (SELECT dst, SUM(c) AS sc FROM pct$t GROUP BY dst),
      ppr$t AS (SELECT n.vec_id, n.seed,
          0.15::DOUBLE * n.seed / ns.ns
            + 0.85::DOUBLE * CAST(COALESCE(s.sc, 0) AS DOUBLE) AS pr
        FROM nodes n CROSS JOIN ns LEFT JOIN pcs$t s ON s.dst = n.vec_id)"""

  /** PERSONALIZED PageRank (3 damped iterations, restart mass on a seed
    * set instead of uniform teleport — Page et al. '99 §6, the
    * query-expansion / recommendation form): ranks every document by
    * proximity to the label-0 seed topic through the near-dup
    * similarity graph, the standard "expand a trusted seed corpus"
    * primitive for targeted training-data curation. Same LSH-candidate
    * edge build, contribution rounding and decimal-sum discipline as
    * [[ePagerankCentrality]]; only the teleport vector differs (1/|S|
    * on seeds, 0 elsewhere), so mass concentrates in the seed
    * neighborhood instead of spreading uniformly. Scale shape
    * identical: one checkpointed edge frame, per-round edge-keyed join
    * + target agg. */
  val ePprSeeded: Spec = Spec(
    "e_ppr_seeded",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.35),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT vec_id,
          CASE WHEN label = 0 THEN 1 ELSE 0 END AS seed FROM embeddings),
      ns AS (SELECT CAST(SUM(seed) AS DOUBLE) AS ns FROM nodes),
      ppr0 AS (SELECT vec_id, seed,
          0.15::DOUBLE * seed / ns.ns + 0.85::DOUBLE * 0.0 AS pr
        FROM nodes CROSS JOIN ns),
      ${pprStepCte(1)},
      ${pprStepCte(2)},
      ${pprStepCte(3)}
      SELECT p.vec_id, CAST(p.seed AS BIGINT) AS is_seed,
        CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
        ROUND(p.pr, 9) AS ppr
      FROM ppr3 p LEFT JOIN deg d ON d.src = p.vec_id
      ORDER BY p.vec_id"""))  { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.35)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // reused every iteration
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nodes = emb.select($"vec_id",
      when($"label" === 0, 1).otherwise(0).as("seed"))
    val ns = broadcast(nodes.agg(sum($"seed").cast("double").as("ns")))
    // teleport-only start: mirrors the oracle's ppr0 so round 1's
    // contributions agree term-by-term (0.15·seed/|S|, not 1/|S| —
    // the damped fixpoint iteration, same as ePagerankCentrality's
    // uniform form)
    var pr = nodes.crossJoin(ns)
      .select($"vec_id", $"seed",
        (lit(0.15) * $"seed" / $"ns" + lit(0.85) * lit(0.0)).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(pr.select($"vec_id".as("src"), $"pr"), Seq("src"))
        .join(deg, Seq("src"))
        .select($"dst", round($"pr" / $"deg", 9).cast("decimal(28,12)").as("c"))
      val sums = contrib.groupBy($"dst").agg(sum($"c").as("sc"))
      pr = nodes
        .join(sums, nodes("vec_id") === sums("dst"), "left")
        .crossJoin(ns)
        .select($"vec_id", $"seed",
          (lit(0.15) * $"seed" / $"ns" +
            lit(0.85) * coalesce($"sc", lit(0).cast("decimal(38,12)"))
              .cast("double")).as("pr"))
    }
    pr
      .join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", $"seed".cast("long").as("is_seed"),
        coalesce($"deg", lit(0L)).cast("long").as("degree"),
        round($"pr", 9).as("ppr"))
      .orderBy($"vec_id")
  }

  /** Triangle counting on the near-dup similarity graph — the local
    * clustering signal that separates a TIGHT duplicate cluster (its
    * members close many triangles) from a hub that merely chains
    * near-dups together (CC would merge both; triangles tell them
    * apart before trusting a cluster as "one document"). DEGREE-ORDERED
    * wedge formulation ([[graft.ops.Graphs.trianglesOrdered]]): edges
    * orient from their lower-(degree, id) endpoint, wedges are pairs of
    * out-neighbors closed by one equi-join — each triangle found
    * exactly once, and out-degrees are O(√m) under this order, so the
    * wedge count is bounded O(m^1.5) even on a hub (a star's center
    * has out-degree ZERO), where id-ordering can go quadratic. Output
    * is per-node participation plus each node's degree. Edge threshold
    * 0.2 (vs the near-dup family's 0.35): triangles need a denser
    * graph to be informative — at 0.35 the verify-scale graph is
    * triangle-free, which would leave the join path vacuous.
    *
    * Edges come from [[lshLabelEdges]] (LSH band candidates, capped +
    * observed, then same-label + exact cosine >= 0.2 verify) — the
    * same deliberate LSH-graph semantics as [[ePagerankCentrality]];
    * the oracle replays the identical signatures, and the LSH graph
    * stays triangle-rich at verify scale (10 wedge-closures at sf0.01,
    * 431 at sf0.1 — GraphLshProbe). */
  val eTriangleCount: Spec = Spec(
    "e_triangle_count",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      edges AS (SELECT c.ida AS src, c.idb AS dst FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      member AS (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri),
      cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM member GROUP BY id),
      deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
          SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
        GROUP BY id)
      SELECT cnt.id AS vec_id, cnt.n_triangles, deg.degree
      FROM cnt JOIN deg ON deg.id = cnt.id
      ORDER BY vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val edges = lshLabelEdges(emb, threshold = 0.2)
      .select($"id_a".as("src"), $"id_b".as("dst"))
      .localCheckpoint() // one scoring pass feeds wedges, closes, degrees
    // Degree-ordered enumeration (Graphs.trianglesOrdered): same
    // triangle SET as the oracle's id-ordered walk, but wedge work is
    // bounded O(m^1.5) even if the edge source ever grows a hub.
    val tri = graft.ops.Graphs.trianglesOrdered(edges).localCheckpoint()
    val member = tri.select($"a".as("id"))
      .unionAll(tri.select($"b")).unionAll(tri.select($"c"))
    val cnt = member.groupBy($"id").agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select($"src".as("id")).unionAll(edges.select($"dst"))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
    cnt.join(deg, Seq("id"))
      .select($"id".as("vec_id"), $"n_triangles", $"degree")
      .orderBy($"vec_id")
  }

  /** LOCAL CLUSTERING COEFFICIENT per node on the same LSH similarity
    * graph as [[eTriangleCount]]: c(v) = 2·T(v) / (deg(v)·(deg(v)−1)),
    * the "how clique-like is this vector's neighborhood" score that
    * separates tight duplicate pockets (c → 1) from hub-and-spoke
    * similarity (c → 0) — the standard next question after a triangle
    * count. Exact-integer parity: the coefficient is emitted in
    * micro-units as (2_000_000·T) div (deg·(deg−1)) — pure integer
    * arithmetic, no float in any compared value. Nodes of degree 1
    * (coefficient undefined) emit 0, matching the convention in
    * networkx/GraphX.
    *
    * Scale shape: reuses the one checkpointed edge frame for wedges,
    * closures and degrees (the eTriangleCount discipline); the
    * triangle join is the standard ordered-adjacency enumeration and
    * every aggregate is a partial-aggregatable hash count. */
  val eClusteringCoeff: Spec = Spec(
    "e_clustering_coeff",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      edges AS (SELECT c.ida AS src, c.idb AS dst FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      member AS (
        SELECT a AS id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri),
      cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM member GROUP BY id),
      deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
          SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
        GROUP BY id)
      SELECT deg.id AS vec_id, deg.degree,
        CAST(COALESCE(cnt.n_triangles, 0) AS BIGINT) AS n_triangles,
        CAST(CASE WHEN deg.degree < 2 THEN 0
          ELSE (2000000 * COALESCE(cnt.n_triangles, 0))
            // (deg.degree * (deg.degree - 1)) END AS BIGINT) AS coeff_micro
      FROM deg LEFT JOIN cnt ON cnt.id = deg.id
      ORDER BY vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val edges = lshLabelEdges(emb, threshold = 0.2)
      .select($"id_a".as("src"), $"id_b".as("dst"))
      .localCheckpoint() // one scoring pass feeds wedges, closes, degrees
    // Degree-ordered wedges — same triangle set, hub-proof (see
    // eTriangleCount / Graphs.trianglesOrdered).
    val tri = graft.ops.Graphs.trianglesOrdered(edges)
    val member = tri.select($"a".as("id"))
      .unionAll(tri.select($"b")).unionAll(tri.select($"c"))
    val cnt = member.groupBy($"id").agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select($"src".as("id")).unionAll(edges.select($"dst"))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
    deg.join(cnt, Seq("id"), "left")
      .select($"id".as("vec_id"), $"degree",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        when($"degree" < 2, 0L)
          .otherwise(expr(
            "(2000000 * coalesce(n_triangles, 0)) div (degree * (degree - 1))"))
          .as("coeff_micro"))
      .orderBy($"vec_id")
  }

  /** One synchronous label-propagation oracle round: per-target counts
    * of incoming neighbor labels, the modal label (ties → smallest
    * label, via the rank ORDER BY), isolated nodes keep their own. */
  private def lpStepCte(t: Int): String = s"""
      lc$t AS (SELECT e.dst, p.label, COUNT(*) AS c
        FROM edges e JOIN lp${t - 1} p ON p.vec_id = e.src
        GROUP BY e.dst, p.label),
      lt$t AS (SELECT dst, label FROM (
          SELECT dst, label,
            row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rn
          FROM lc$t) WHERE rn = 1),
      lp$t AS (SELECT n.vec_id, COALESCE(t.label, n.vec_id) AS label
        FROM nodes n LEFT JOIN lt$t t ON t.dst = n.vec_id)"""

  /** Community detection via synchronous label propagation (3 rounds,
    * modal neighbor label, ties → min label) over the same LSH-verified
    * similarity graph as [[eTriangleCount]] (threshold 0.2) — the
    * cheap community structure that separates THEMATIC groups inside
    * one connected blob: CC says "these touch", LPA says "these talk
    * mostly to each other", and at near-dup thresholds that's the
    * difference between one giant component and usable cluster labels.
    *
    * Scale shape per round: one keyed join (edges × labels on src, the
    * same shuffle as a PageRank step) + one (dst, label) hash count +
    * a max-of-struct per dst — NO window: the modal-label argmax is
    * `max(struct(count, -label))`, a partial-aggregatable reduction,
    * where the oracle's row_number form would funnel each dst through
    * a window sort. Rounds localCheckpoint + unpersist the superseded
    * frame exactly like the PageRank loop. Deterministic end-to-end:
    * synchronous updates + integer tie-breaks, so 3 rounds produce
    * identical labels in both engines, oscillation or not. */
  /** The 3 synchronous LP rounds shared by [[eLabelPropagation]] and
    * [[eModularity]]: returns (vec_id, label) with the input `edges`
    * frame already checkpointed by the caller. Modal incoming label per
    * round via max(struct(count, -label)) — a partial-aggregatable
    * reduction, no per-dst window sort. */
  private[graft] def lpLabels(nodes: DataFrame, edges: DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    var lab = nodes.select($"vec_id", $"vec_id".as("label"))
    for (_ <- 1 to 3) {
      val counts = edges
        .join(lab.withColumnRenamed("vec_id", "src"), Seq("src"))
        .groupBy($"dst", $"label").agg(count(lit(1)).as("c"))
      val top = counts
        .groupBy($"dst")
        .agg(max(struct($"c", (-$"label").as("neg"))).as("m"))
        .select($"dst".as("vec_id"), (-$"m.neg").as("label"))
      val prev = lab
      lab = nodes
        .join(top, Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"label", $"vec_id").as("label"))
        .localCheckpoint()
      graft.ops.Checkpoints.unpersist(prev)
    }
    lab
  }

  val eLabelPropagation: Spec = Spec(
    "e_label_propagation",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      nodes AS (SELECT vec_id FROM embeddings),
      lp0 AS (SELECT vec_id, vec_id AS label FROM nodes),
      ${lpStepCte(1)},
      ${lpStepCte(2)},
      ${lpStepCte(3)},
      sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
        FROM lp3 GROUP BY label)
      SELECT l.vec_id, CAST(l.label AS BIGINT) AS community,
        s.community_size
      FROM lp3 l JOIN sz s ON s.label = l.label
      ORDER BY l.vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // reused every round
    val nodes = emb.select($"vec_id")
    val lab = lpLabels(nodes, edges)
    val sz = lab.groupBy($"label").agg(count(lit(1)).as("community_size"))
    lab.join(sz, Seq("label"))
      .select($"vec_id", $"label".as("community"), $"community_size")
      .orderBy($"vec_id")
  }

  /** Newman-Girvan MODULARITY of the label-propagation partition over
    * the same LSH-verified similarity graph — the partition-QUALITY
    * number that tells a curation pipeline whether LPA's communities
    * are structure or noise (Q ≈ 0: no better than random given the
    * degree sequence; Q ≳ 0.3: real structure). Per community c:
    * Q_c = L_c/m − (D_c/2m)², reported in exact floor-micros via the
    * all-integer identity Q_c·m₂² = intra₂_c·m₂ − D_c² (m₂ = 2m
    * directed edges, intra₂_c = 2L_c): products stay exact 128-bit
    * integers (safe to m₂ ≈ 10¹⁹), and the two double casts happen on
    * each factor SEPARATELY before the one float division. Q_total is
    * the same identity over the summed numerator — exactly Σ Q_c, not
    * a float sum of rounded terms.
    *
    * Scale shape: three hash-aggregates over the edge frame (total
    * count, per-src degree, same-label count after two label joins) +
    * one over labels — every join is keyed on vec_id/label, nothing
    * quadratic, no driver state. Reuses [[lpLabels]] so the partition
    * is bit-identical to e_label_propagation's. */
  val eModularity: Spec = Spec(
    "e_modularity",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      nodes AS (SELECT vec_id FROM embeddings),
      lp0 AS (SELECT vec_id, vec_id AS label FROM nodes),
      ${lpStepCte(1)},
      ${lpStepCte(2)},
      ${lpStepCte(3)},
      m2 AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM edges),
      el AS (SELECT ls.label AS la, ld.label AS lb
        FROM edges e JOIN lp3 ls ON ls.vec_id = e.src
        JOIN lp3 ld ON ld.vec_id = e.dst),
      intra AS (SELECT la AS label, CAST(COUNT(*) AS HUGEINT) AS intra2
        FROM el WHERE la = lb GROUP BY la),
      degl AS (SELECT l.label, CAST(COUNT(*) AS HUGEINT) AS dsum
        FROM edges e JOIN lp3 l ON l.vec_id = e.src GROUP BY l.label),
      sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS size FROM lp3
        GROUP BY label),
      per AS (SELECT s.label, s.size,
          COALESCE(i.intra2, 0) AS intra2, COALESCE(g.dsum, 0) AS dsum,
          COALESCE(i.intra2, 0) * m.m2 - COALESCE(g.dsum, 0) * COALESCE(g.dsum, 0) AS qnum,
          m.m2
        FROM sz s LEFT JOIN intra i ON i.label = s.label
        LEFT JOIN degl g ON g.label = s.label CROSS JOIN m2 m),
      tot AS (SELECT SUM(qnum) AS tnum FROM per)
      SELECT CAST(p.label AS BIGINT) AS community, p.size,
        CAST(p.intra2 // 2 AS BIGINT) AS intra_edges,
        CAST(p.dsum AS BIGINT) AS degree_sum,
        CAST(FLOOR(CAST(p.qnum AS DOUBLE)
          / (CAST(p.m2 AS DOUBLE) * CAST(p.m2 AS DOUBLE))
          * 1000000) AS BIGINT) AS q_micros,
        CAST(FLOOR(CAST(t.tnum AS DOUBLE)
          / (CAST(p.m2 AS DOUBLE) * CAST(p.m2 AS DOUBLE))
          * 1000000) AS BIGINT) AS q_total_micros
      FROM per p CROSS JOIN tot t
      WHERE p.m2 > 0
      ORDER BY community""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // LP rounds + three modularity aggregates share it
    val lab = lpLabels(emb.select($"vec_id"), edges).localCheckpoint()
    val m2 = edges.agg(count(lit(1)).cast("decimal(38,0)").as("m2"))
    val el = edges
      .join(lab.select($"vec_id".as("src"), $"label".as("la")), Seq("src"))
      .join(lab.select($"vec_id".as("dst"), $"label".as("lb")), Seq("dst"))
    val intra = el.filter($"la" === $"lb")
      .groupBy($"la".as("label"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("intra2"))
    val degl = edges
      .join(lab.select($"vec_id".as("src"), $"label"), Seq("src"))
      .groupBy($"label").agg(count(lit(1)).cast("decimal(38,0)").as("dsum"))
    val sz = lab.groupBy($"label").agg(count(lit(1)).as("size"))
    val zeroD = lit(0).cast("decimal(38,0)")
    val per = sz
      .join(intra, Seq("label"), "left")
      .join(degl, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select($"label", $"size",
        coalesce($"intra2", zeroD).as("intra2"),
        coalesce($"dsum", zeroD).as("dsum"),
        (coalesce($"intra2", zeroD) * $"m2" -
          coalesce($"dsum", zeroD) * coalesce($"dsum", zeroD)).as("qnum"),
        $"m2")
      .localCheckpoint() // per-community rows feed both Q_c and Q_total
    val tot = per.agg(sum($"qnum").as("tnum"))
    per.crossJoin(broadcast(tot))
      .filter($"m2" > 0)
      .select($"label".cast("long").as("community"), $"size",
        expr("cast(intra2 div 2 as long)").as("intra_edges"),
        $"dsum".cast("long").as("degree_sum"),
        floor($"qnum".cast("double")
          / ($"m2".cast("double") * $"m2".cast("double"))
          * 1000000).cast("long").as("q_micros"),
        floor($"tnum".cast("double")
          / ($"m2".cast("double") * $"m2".cast("double"))
          * 1000000).cast("long").as("q_total_micros"))
      .orderBy($"community")
  }

  /** One power-iteration oracle round: 9dp-rounded scores summed per
    * target as DECIMAL (aggregation-order-free), L1-normalized by the
    * round's total mass; isolated nodes go to 0. */
  private def ecStepCte(t: Int): String = s"""
      ecc$t AS (SELECT e.dst, CAST(round(p.x, 9) AS DECIMAL(28,12)) AS c
        FROM edges e JOIN ec${t - 1} p ON p.vec_id = e.src),
      ecs$t AS (SELECT dst, SUM(c) AS sc FROM ecc$t GROUP BY dst),
      ect$t AS (SELECT SUM(sc) AS tot FROM ecs$t),
      ec$t AS (SELECT n.vec_id,
          CASE WHEN t.tot IS NULL OR t.tot = 0 THEN 0.0
               ELSE round(CAST(COALESCE(s.sc, 0) AS DOUBLE)
                          / CAST(t.tot AS DOUBLE), 9) END AS x
        FROM nodes n CROSS JOIN ect$t t LEFT JOIN ecs$t s ON s.dst = n.vec_id)"""

  /** Eigenvector centrality (3 power-iteration rounds, L1-normalized)
    * over the LSH-verified similarity graph at threshold 0.2 — the
    * HITS scores of this graph: on an undirected graph hub and
    * authority vectors coincide with the adjacency eigenvector, so one
    * iteration ladder yields the whole family. Differs from
    * [[ePagerankCentrality]] exactly where it should: no teleport and
    * no per-source degree normalization, so mass concentrates in the
    * densest near-dup clique instead of spreading by random walk —
    * the "most central exemplar of the TIGHTEST cluster" signal.
    *
    * Engine parity: contributions are the 9dp-rounded scores cast to
    * DECIMAL(28,12) and summed per target (order-free); the L1
    * normalizer is the decimal sum of those sums, and the divide +
    * round-to-9dp is fixed IEEE double math — the oracle replays all
    * three rounds bit-for-bit. A zero-edge graph short-circuits to
    * all-zero scores in both engines (CASE tot=0).
    *
    * Scale shape per round: one edge-keyed join + one target-keyed
    * hash agg (the PageRank step shape) + a 1-row total broadcast;
    * superseded round checkpoints unpersist immediately. */
  val eEigenCentrality: Spec = Spec(
    "e_eigen_centrality",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT vec_id FROM embeddings),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      ec0 AS (SELECT vec_id, 1.0::DOUBLE / nn.n AS x
        FROM nodes CROSS JOIN nn),
      ${ecStepCte(1)},
      ${ecStepCte(2)},
      ${ecStepCte(3)}
      SELECT p.vec_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
        p.x AS eig_score
      FROM ec3 p LEFT JOIN deg d ON d.src = p.vec_id
      ORDER BY p.vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // reused every iteration
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nodes = emb.select($"vec_id")
    val nn = broadcast(nodes.agg(count(lit(1)).as("n")))
    var x = nodes.crossJoin(nn).select($"vec_id", (lit(1.0) / $"n").as("x"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(x.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select($"dst", round($"x", 9).cast("decimal(28,12)").as("c"))
      val sums = contrib.groupBy($"dst").agg(sum($"c").as("sc"))
      val tot = broadcast(sums.agg(sum($"sc").as("tot")))
      val prev = x
      x = nodes
        .join(sums, nodes("vec_id") === sums("dst"), "left")
        .crossJoin(tot)
        .select($"vec_id",
          when($"tot".isNull || $"tot" === 0, lit(0.0))
            .otherwise(round(
              coalesce($"sc", lit(0).cast("decimal(38,12)")).cast("double") /
                $"tot".cast("double"), 9)).as("x"))
        .localCheckpoint()
      graft.ops.Checkpoints.unpersist(prev)
    }
    x.join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"deg", lit(0L)).cast("long").as("degree"),
        $"x".as("eig_score"))
      .orderBy($"vec_id")
  }

  /** Link prediction on the similarity graph: for every OPEN wedge
    * (two nodes sharing a neighbor but not yet adjacent), the
    * common-neighbor count and the Adamic–Adar score
    * Σ_u 1/ln(deg(u)) over shared neighbors u — the "these two
    * documents will probably turn out to be near-dups once more
    * evidence arrives" ranking that drives active-review queues.
    *
    * Scale shape: the wedge enumerate is the SAME two-equi-join shape
    * as [[eTriangleCount]] (bounded by Σ deg², itself bounded because
    * edges come only through the capped LSH scaffold); the existing-
    * edge exclusion is a left-anti join; the final top-20 rides
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * global sort). Wedge hubs always have deg ≥ 2, so ln(deg) > 0.
    *
    * Engine parity: common-neighbor counts are integers; Adamic–Adar
    * terms are 9dp-rounded doubles (fixed IEEE 1/ln(integer)) summed
    * as DECIMAL (order-free), surfaced as a 6dp double; ties in the
    * top-20 break on the unique (id_a, id_b). */
  val eLinkPrediction: Spec = Spec(
    "e_link_prediction",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      sym AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
      wed AS (SELECT e1.dst AS a, e2.dst AS b, e1.src AS u
        FROM sym e1 JOIN sym e2
          ON e1.src = e2.src AND e1.dst < e2.dst),
      open_w AS (SELECT w.a, w.b, w.u FROM wed w
        WHERE NOT EXISTS (SELECT 1 FROM ver v
          WHERE v.ida = w.a AND v.idb = w.b)),
      sc AS (SELECT o.a, o.b, COUNT(*) AS cn,
          SUM(CAST(round(1.0 / ln(d.deg), 9) AS DECIMAL(28,12))) AS aa
        FROM open_w o JOIN deg d ON d.src = o.u GROUP BY o.a, o.b)
      SELECT a AS id_a, b AS id_b, CAST(cn AS BIGINT) AS common_neighbors,
        round(CAST(aa AS DOUBLE), 6) AS adamic_adar
      FROM sc
      ORDER BY common_neighbors DESC, adamic_adar DESC, id_a, id_b
      LIMIT 20""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val verE = lshLabelEdges(emb, threshold = 0.2)
      .select($"id_a", $"id_b")
      .localCheckpoint() // feeds wedges, the anti side, and degrees
    val sym = verE.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(verE.select($"id_b".as("src"), $"id_a".as("dst")))
    val deg = sym.groupBy($"src").agg(count(lit(1)).as("deg"))
    val wed = sym.as("e1")
      .join(sym.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"),
        col("e1.src").as("u"))
    val openW = wed.join(verE,
      wed("a") === verE("id_a") && wed("b") === verE("id_b"), "left_anti")
    openW.join(deg, openW("u") === deg("src"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1.0) / log($"deg"), 9).cast("decimal(28,12)")).as("aa"))
      .select($"a".as("id_a"), $"b".as("id_b"),
        $"cn".cast("long").as("common_neighbors"),
        round($"aa".cast("double"), 6).as("adamic_adar"))
      .orderBy(desc("common_neighbors"), desc("adamic_adar"),
        $"id_a", $"id_b")
      .limit(20)
  }

  /** One synchronous 2-core peel oracle round: recount each surviving
    * node's degree within the surviving set, keep degree ≥ 2. */
  private def kcStepCte(t: Int): String = s"""
      kd$t AS (SELECT e.src, COUNT(*) AS dg FROM edges e
        JOIN kc${t - 1} x ON x.id = e.src
        JOIN kc${t - 1} y ON y.id = e.dst
        GROUP BY e.src),
      kc$t AS (SELECT src AS id FROM kd$t WHERE dg >= 2)"""

  /** Bounded-round 2-core peel over the similarity graph: 4
    * synchronous rounds of "drop every node whose degree within the
    * survivors is < 2". The 2-core is the dedup-cluster TRUST filter —
    * a node outside it is attached to its cluster by at most one edge
    * (a chain/bridge artifact of LSH banding), while 2-core members
    * are corroborated by two independent similarity edges.
    *
    * Bounded rounds are the DECLARED semantics (each round is one
    * semi-join + hash recount — the scale-safe form; a convergence
    * loop would add a 1-row collect per round like CC's): the
    * `peel_converged` column carries the fixpoint proof — TRUE iff
    * round 4 removed nobody, which holds at every test scale, and a
    * data distribution that needs deeper peeling surfaces as FALSE
    * rather than silently. Engine parity is trivial: everything is
    * integer set logic. */
  val eKcorePeel: Spec = Spec(
    "e_kcore_peel",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      kc0 AS (SELECT DISTINCT src AS id FROM edges),
      ${kcStepCte(1)},
      ${kcStepCte(2)},
      ${kcStepCte(3)},
      ${kcStepCte(4)},
      conv AS (SELECT (SELECT COUNT(*) FROM kc4) = (SELECT COUNT(*) FROM kc3)
        AS peel_converged)
      SELECT n.vec_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
        (k.id IS NOT NULL) AS in_2core, c.peel_converged
      FROM embeddings n
      LEFT JOIN deg d ON d.src = n.vec_id
      LEFT JOIN kc4 k ON k.id = n.vec_id
      CROSS JOIN conv c
      ORDER BY n.vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // reused every peel round
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    var alive = edges.select($"src".as("id")).distinct().localCheckpoint()
    var prevCount = alive.count()
    var lastRemoved = 0L
    for (_ <- 1 to 4) {
      val next = edges
        .join(alive.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(alive.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .groupBy($"src").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= 2)
        .select($"src".as("id"))
        .localCheckpoint()
      val nextCount = next.count() // 1-row action, bounds the converged flag
      lastRemoved = prevCount - nextCount
      prevCount = nextCount
      graft.ops.Checkpoints.unpersist(alive)
      alive = next
    }
    val converged = lastRemoved == 0L
    emb.select($"vec_id")
      .join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .join(alive.withColumnRenamed("id", "vec_id").withColumn("_in", lit(true)),
        Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"deg", lit(0L)).cast("long").as("degree"),
        coalesce($"_in", lit(false)).as("in_2core"),
        lit(converged).as("peel_converged"))
      .orderBy($"vec_id")
  }

  /** One MMR oracle round for step t ≥ 2: max-sim of each unselected
    * candidate vs the selected set so far (selu), score, argmax. */
  private def mmrStepCte(t: Int): String = s"""
      m$t AS (SELECT si.qid, si.ca AS cid, MAX(si.s) AS ms
        FROM sims si JOIN selu${t - 1} u ON u.qid = si.qid AND u.cid = si.cb
        GROUP BY si.qid, si.ca),
      r$t AS (SELECT c.qid, c.cid, 0.7*c.rel - (1 - 0.7)*m.ms AS sc,
          row_number() OVER (PARTITION BY c.qid
            ORDER BY 0.7*c.rel - (1 - 0.7)*m.ms DESC, c.cid) AS rk
        FROM cand c JOIN m$t m ON m.qid = c.qid AND m.cid = c.cid
        WHERE NOT EXISTS (SELECT 1 FROM selu${t - 1} u
          WHERE u.qid = c.qid AND u.cid = c.cid)),
      sel$t AS (SELECT qid, cid, sc FROM r$t WHERE rk = 1),
      selu$t AS (SELECT qid, cid FROM selu${t - 1}
        UNION ALL SELECT qid, cid FROM sel$t)"""

  /** Maximal-marginal-relevance diversified top-5
    * ([[graft.ops.Vectors.mmrRerank]], λ=0.7 over a 20-candidate
    * shortlist): the greedy relevance-vs-diversity selection is
    * replayed step by step in the oracle — candidate pool, 9dp-rounded
    * relevance and pairwise sims, every per-step argmax with its tie
    * rule, and the final scores to 6dp. */
  val eMmrRerank: Spec = Spec(
    "e_mmr_rerank",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < 10),
      sc0 AS (SELECT q.qid, e.vec_id AS cid, ${cosSql("q.qv", "e.embedding")} AS cos
        FROM q JOIN embeddings e ON e.vec_id <> q.qid),
      cand AS (SELECT qid, cid, round(cos, 9) AS rel FROM (
          SELECT qid, cid, cos,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
          FROM sc0) WHERE rk <= 20),
      sims AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
          round(${cosSql("ea.embedding", "eb.embedding")}, 9) AS s
        FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
        JOIN embeddings ea ON ea.vec_id = a.cid
        JOIN embeddings eb ON eb.vec_id = b.cid),
      sel1 AS (SELECT qid, cid, rel AS sc FROM (
          SELECT qid, cid, rel,
            row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rk
          FROM cand) WHERE rk = 1),
      selu1 AS (SELECT qid, cid FROM sel1),
      ${mmrStepCte(2)},
      ${mmrStepCte(3)},
      ${mmrStepCte(4)},
      ${mmrStepCte(5)}
      SELECT qid, rk, cid, ROUND(sc, 6) AS mmr_score FROM (
        SELECT qid, CAST(1 AS BIGINT) AS rk, cid, sc FROM sel1
        UNION ALL SELECT qid, 2, cid, sc FROM sel2
        UNION ALL SELECT qid, 3, cid, sc FROM sel3
        UNION ALL SELECT qid, 4, cid, sc FROM sel4
        UNION ALL SELECT qid, 5, cid, sc FROM sel5)
      ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Vectors.mmrRerank(emb.filter($"id" < 10), emb, k = 5, pool = 20,
        lambda = 0.7)
      .select($"qid", $"rk", $"cid", $"mmr_score")
      .orderBy($"qid", $"rk")
  }

  /** ANN recall report — "measure, don't guess" for the index: recall@5
    * of the IVF (label-cell) path against brute-force ground truth,
    * per query plus the macro average. The honest evaluation table
    * every ANN deployment needs before trusting the pruned path: a
    * query whose true neighbors live outside its cell shows up here as
    * recall < 1, quantifying the nprobe/cell-size tradeoff the
    * multiprobe variant exists to fix.
    *
    * Scale shape: both rankings are the existing bounded pipelines
    * (top-5 per query); the hit join is keyed on (qid, cid); the query
    * grid keeps zero-hit queries; the 1-row macro aggregate broadcasts
    * (the MAE recipe from `dd_minhash_estimate`). */
  val eIvfRecall: Spec = Spec(
    "e_ivf_recall",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 10),
      bscored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      truth AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
          FROM bscored) WHERE rk <= 5),
      iscored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.label = q.label AND c.vec_id <> q.vec_id),
      ivf AS (
        SELECT qid, cid FROM (
          SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
          FROM iscored) WHERE rk <= 5),
      hits AS (
        SELECT truth.qid, CAST(COUNT(ivf.cid) AS BIGINT) AS n_hits
        FROM truth LEFT JOIN ivf
          ON truth.qid = ivf.qid AND truth.cid = ivf.cid
        GROUP BY truth.qid),
      e AS (
        SELECT qid, n_hits, round(n_hits / 5.0, 6) AS recall FROM hits),
      m AS (
        SELECT round(CAST(SUM(CAST(recall AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*), 6) AS macro_recall FROM e)
      SELECT e.*, m.macro_recall FROM e, m ORDER BY qid""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    val queries = emb.filter($"id" < 10)
    val truth = Vectors.knnBrute(queries, emb.select($"id", $"vec"), 5)
      .select($"qid", $"cid")
    val ivf = Vectors.knnCell(queries, emb, "label", 5)
      .select($"qid".as("iqid"), $"cid".as("icid"))
    val e = truth
      .join(ivf, $"qid" === $"iqid" && $"cid" === $"icid", "left")
      .groupBy($"qid")
      .agg(count($"icid").as("n_hits"))
      .select($"qid", $"n_hits", round($"n_hits" / 5.0, 6).as("recall"))
    val m = e.agg(round(
      sum($"recall".cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
      .as("macro_recall"))
    e.crossJoin(broadcast(m)).orderBy($"qid")
  }

  /** Graph ANN — per-partition HNSW (Malkov & Yashunin 2018;
    * [[graft.ops.Hnsw]] / [[graft.ops.Vectors.knnHnsw]]) with a global
    * bounded top-k merge: the modern high-recall ANN default,
    * completing the index family (brute/IVF/learned/multiprobe/PQ/
    * Matryoshka). The oracle states brute-force truth: with the
    * default efSearch ≥ every verify-scale partition's population, the
    * beam search provably explores each partition's whole connected
    * component (searchLayer never terminates early while results < ef),
    * so the merged answer IS the exact top-k — deterministically, on
    * every run (hash-derived node levels, id-ordered insertion, no
    * RNG). The genuinely-approximate regime (partitions ≫ ef) is
    * pinned in VectorOpsSpec with recall ≥ the IVF-multiprobe row at
    * equal candidate budget. */
  val eKnnHnsw: Spec = Spec(
    "e_knn_hnsw",
    bench = true, // r12 headline row: graph-ANN build+serve regression guard
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 40 = 1),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    Vectors.knnHnsw(emb.filter($"id" % 40 === 1), emb, 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** Serving from a STORED HNSW index ([[graft.ops.Vectors
    * .hnswWriteIndex]] / [[graft.ops.Vectors.knnHnswStored]]) — the
    * production pattern: construction (beam insertions) happens once
    * and the persisted adjacency is reloaded per partition with no
    * re-insertion; node levels re-derive from the id hash so stored
    * state cannot drift from the code. Results are identical to the
    * fresh build (the graph is a pure function of the data —
    * VectorOpsSpec pins bit-equality), so the oracle is the same
    * brute-force truth as [[eKnnHnsw]], on its own query slice. */
  val eKnnHnswStored: Spec = Spec(
    "e_knn_hnsw_stored",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 40 = 27),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val path = graft.ops.Scratch.dir("graft_hnsw_stored")
    Vectors.hnswWriteIndex(emb, path)
    Vectors.knnHnswStored(s, path, emb.filter($"id" % 40 === 27), 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** INCREMENTAL HNSW maintenance ([[graft.ops.Vectors
    * .hnswAppendIndex]]) — the ANN family's incremental twin, same
    * state-in/batch-in discipline as the dedup families: the stored
    * index is built WITHOUT the batch ids (vec_id % 10 == 0), the
    * batch is inserted per touched partition via the build-time
    * insertion loop (no corpus re-insertion; batch rows route by the
    * same pmod(hash(id), nparts) the build's repartition used), the
    * extended generation is written fresh (overwrite-to-self refused),
    * and serving from it must answer EXACTLY over the union — which is
    * what the brute-force oracle over the full table states. */
  val eKnnHnswIncremental: Spec = Spec(
    "e_knn_hnsw_incremental",
    oracle = Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 40 = 33),
      scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rk
        FROM scored)
      SELECT qid, rk, cid, ROUND(cos, 6) AS cos_sim
      FROM r WHERE rk <= 5 ORDER BY qid, rk""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val gen1 = graft.ops.Scratch.dir("graft_hnsw_gen1")
    val gen2 = graft.ops.Scratch.dir("graft_hnsw_gen2") + "/idx"
    Vectors.hnswWriteIndex(emb.filter($"id" % 10 =!= 0), gen1)
    Vectors.hnswAppendIndex(s, gen1, emb.filter($"id" % 10 === 0), gen2)
    Vectors.knnHnswStored(s, gen2, emb.filter($"id" % 40 === 33), 5)
      .select($"qid", $"rk", $"cid", round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"qid", $"rk")
  }

  /** HNSW recall report — [[eIvfRecall]]'s honest-evaluation twin for
    * the graph index: recall@5 of [[graft.ops.Vectors.knnHnsw]]
    * against brute-force ground truth, per query plus the macro
    * average, both sides computed in Spark and joined on (qid, cid).
    * The oracle states the EXACT-recall truth (n_hits = 5, recall =
    * 1.0 for every query): at verify scale efSearch ≥ partition
    * population makes the graph search exhaustive per partition (see
    * [[eKnnHnsw]]), and that exactness is a deterministic property of
    * the data + hash-leveled graph, not sampling luck. The
    * recall-tradeoff regime that CAN dip below 1.0 is measured in
    * VectorOpsSpec (small efSearch, few partitions) where it is pinned
    * ≥ the IVF-multiprobe recall at equal candidate budget. */
  val eHnswRecall: Spec = Spec(
    "e_hnsw_recall",
    oracle = Some("""
      SELECT vec_id AS qid, CAST(5 AS BIGINT) AS n_hits,
        1.0 AS recall, 1.0 AS macro_recall
      FROM embeddings WHERE vec_id % 40 = 3 ORDER BY qid""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val queries = emb.filter($"id" % 40 === 3)
    val truth = Vectors.knnBrute(queries, emb, 5).select($"qid", $"cid")
    val hnsw = Vectors.knnHnsw(queries, emb, 5)
      .select($"qid".as("hqid"), $"cid".as("hcid"))
    val e = truth
      .join(hnsw, $"qid" === $"hqid" && $"cid" === $"hcid", "left")
      .groupBy($"qid")
      .agg(count($"hcid").as("n_hits"))
      .select($"qid", $"n_hits", round($"n_hits" / 5.0, 6).as("recall"))
    val m = e.agg(round(
      sum($"recall".cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
      .as("macro_recall"))
    e.crossJoin(broadcast(m)).orderBy($"qid")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings with k-means and pruning,
    * within each cluster, every vector that has an earlier same-cell
    * neighbor at cosine >= tau. The published method keeps one item
    * per within-cluster duplicate group; the deterministic keeper rule
    * here is min-vec-id (the repo's exact-dedup keep-min discipline),
    * which the oracle states as a plain EXISTS over same-cell pairs.
    *
    * Scale shape: the quantizer is the shared deterministic Lloyd
    * recipe ([[graft.ops.Vectors.kmeansCentroids]] — k x dim doubles
    * on the driver); assignment is a broadcast argmin projection; and
    * the within-cell pair enumeration goes through the capped,
    * observed [[graft.ops.Buckets.pairs]] scaffold with the cell as
    * the bucket key — NEVER a bare cell self-join. At corpus scale k
    * grows with N (SemDeDup used 11k clusters for LAION-440M), so
    * cells stay O(N/k) = bounded; a degenerate cell star-connects at
    * `maxBucket` instead of going quadratic, and the trip is loud via
    * the graft_buckets observe metric (the oracle states no-cap
    * semantics, which holds while cells stay under the cap — max cell
    * 74 at sf0.01, ~640 at sf0.1 vs cap 1000). */
  val eSemdedup: Spec = Spec(
    "e_semdedup",
    oracle = Some(s"""
      WITH $kmeansCtes,
      pr AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
      dropped AS (SELECT DISTINCT idb FROM pr)
      SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
        (d.idb IS NULL) AS kept
      FROM a2 a LEFT JOIN dropped d ON a.vec_id = d.idb
      ORDER BY a.vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents1 = Vectors.kmeansCentroids(emb, k = 8, iters = 1)
    val assigned = emb
      .withColumn("cell", Vectors.nearestCell($"embedding", cents1))
      .select($"vec_id", $"cell", $"embedding")
      .localCheckpoint() // feeds the candidate build AND both verify joins
    val withN = assigned.withColumn("n", Vectors.norm($"embedding"))
    val dropped = Buckets.pairs(assigned, Seq("cell"), "vec_id")
      .join(withN.select($"vec_id".as("id_a"), $"embedding".as("va"),
        $"n".as("na")), Seq("id_a"))
      .join(withN.select($"vec_id".as("id_b"), $"embedding".as("vb"),
        $"n".as("nb")), Seq("id_b"))
      .filter(Vectors.cosine($"va", $"vb", $"na", $"nb") >= 0.35)
      .select($"id_b".as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"cell".cast("long").as("cell"),
        $"is_dup".isNull.as("kept"))
      .orderBy($"vec_id")
  }

  /** INCREMENTAL SemDeDup — the batch-vs-corpus form of [[eSemdedup]],
    * completing the incremental dedup family (exact/minhash/bloom/CC →
    * semantic): the quantizer is trained ONCE on the existing corpus
    * (vec_id % 10 != 9; the production shape — a frozen coarse
    * quantizer that batches stream through), the new batch (% 10 = 9)
    * is assigned to corpus cells, and a batch vector is dropped if a
    * same-cell corpus vector OR an earlier same-cell batch vector sits
    * at cosine >= tau.
    *
    * Scale shape: work is batch-proportional — the corpus is scanned
    * once for the cell join with the BROADCAST batch side (the batch
    * is the small delta by definition), never corpus x corpus;
    * batch-internal pairs ride the capped [[graft.ops.Buckets.pairs]]
    * scaffold. Corpus-side state is (vec_id, cell) — exactly what an
    * IVF index already stores, so production replays this against the
    * index instead of the raw corpus. The oracle replays quantizer
    * training on the corpus subset and both EXISTS checks. */
  val eSemdedupIncremental: Spec = Spec(
    "e_semdedup_incremental",
    oracle = Some(s"""
      WITH c0 AS (
        SELECT vec_id AS cell, list_transform(embedding, x -> x::DOUBLE) AS cent
        FROM embeddings WHERE vec_id < 8),
      a1 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c0 c
          WHERE e.vec_id % 10 <> 9) WHERE rk = 1),
      c1 AS (
        SELECT cell, pos,
          CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v FROM a1)
        GROUP BY cell, pos),
      c1l AS (SELECT cell, list(cval ORDER BY pos) AS cent FROM c1 GROUP BY cell),
      a2 AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c1l c) WHERE rk = 1),
      bat AS (SELECT * FROM a2 WHERE vec_id % 10 = 9),
      cor AS (SELECT * FROM a2 WHERE vec_id % 10 <> 9),
      hit AS (
        SELECT DISTINCT b.vec_id FROM bat b JOIN cor c ON b.cell = c.cell
        WHERE ${cosSql("b.embedding", "c.embedding")} >= 0.35
        UNION
        SELECT DISTINCT b.vec_id FROM bat b JOIN bat a
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35)
      SELECT b.vec_id, CAST(b.cell AS BIGINT) AS cell,
        (h.vec_id IS NULL) AS kept
      FROM bat b LEFT JOIN hit h ON b.vec_id = h.vec_id
      ORDER BY b.vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val corpus = emb.filter($"vec_id" % 10 =!= 9)
    val cents = Vectors.kmeansCentroids(corpus, k = 8, iters = 1)
    def assign(df: DataFrame) = df
      .withColumn("cell", Vectors.nearestCell($"embedding", cents))
      .select($"vec_id", $"cell", $"embedding",
        Vectors.norm($"embedding").as("n"))
    val cor = assign(corpus)
    val bat = assign(emb.filter($"vec_id" % 10 === 9))
      .localCheckpoint() // small delta: reused by both checks + broadcast
    val vsCorpus = cor
      .join(broadcast(bat.select($"vec_id".as("bid"), $"cell",
        $"embedding".as("vb"), $"n".as("nb"))), Seq("cell"))
      .filter(Vectors.cosine($"embedding", $"vb", $"n", $"nb") >= 0.35)
      .select($"bid".as("vec_id"))
    val vsBatch = Buckets.pairs(bat, Seq("cell"), "vec_id")
      .join(bat.select($"vec_id".as("id_a"), $"embedding".as("va"),
        $"n".as("na")), Seq("id_a"))
      .join(bat.select($"vec_id".as("id_b"), $"embedding".as("vb"),
        $"n".as("nb")), Seq("id_b"))
      .filter(Vectors.cosine($"va", $"vb", $"na", $"nb") >= 0.35)
      .select($"id_b".as("vec_id"))
    val dropped = vsCorpus.unionByName(vsBatch).distinct()
    bat
      .join(dropped.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"cell".cast("long").as("cell"),
        $"is_dup".isNull.as("kept"))
      .orderBy($"vec_id")
  }

  /** Oracle for [[ePcaProjection]]: the identical decimal-summed
    * covariance + 9 normalized matrix squarings, unrolled as
    * MATERIALIZED CTEs (each step is referenced twice — without
    * materialization the inlining doubles per step and the plan
    * explodes 2^9-fold). */
  /** 9 normalized-squaring CTEs for the matrix CTE `${p}0` →
    * `${p}9` (≈ its 512th power, Frobenius-normalized each step). */
  private def pcaSquareCtes(p: String): String = (1 to 9).map { t =>
    s"""
      ${p}sq$t AS MATERIALIZED (SELECT a.i, b.j,
          CAST(SUM(CAST(round(a.c * b.c, 12) AS DECIMAL(30,14))) AS DOUBLE) AS c
        FROM ${p}${t - 1} a JOIN ${p}${t - 1} b ON a.j = b.i GROUP BY a.i, b.j),
      ${p}f$t AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(round(c*c, 12)
          AS DECIMAL(30,14))) AS DOUBLE)) AS fn FROM ${p}sq$t),
      ${p}$t AS MATERIALIZED (SELECT i, j, c / fn AS c
        FROM ${p}sq$t CROSS JOIN ${p}f$t)"""
  }.mkString(",")

  /** Direction extraction from a squared-chain terminal `${p}9`:
    * matvec with the 0.125 start vector, normalize, sign-fix on the
    * first unnormalized component → `${p}vf(j, v)`. */
  private def pcaDirCtes(p: String): String = s"""
      ${p}_u AS MATERIALIZED (SELECT i,
          CAST(SUM(CAST(round(c * 0.125, 12) AS DECIMAL(30,14))) AS DOUBLE) AS u
        FROM ${p}9 GROUP BY i),
      ${p}_un AS (SELECT sqrt(CAST(SUM(CAST(round(u*u, 12) AS DECIMAL(30,14)))
          AS DOUBLE)) AS nrm FROM ${p}_u),
      ${p}_sg AS (SELECT CASE WHEN (SELECT u FROM ${p}_u WHERE i = 1) < 0
                THEN -1.0 ELSE 1.0 END AS s),
      ${p}_vf AS MATERIALIZED (SELECT i AS j, u / nrm * ${p}_sg.s AS v
        FROM ${p}_u CROSS JOIN ${p}_un CROSS JOIN ${p}_sg)"""

  private val pcaSteps: String = pcaSquareCtes("m")

  /** PCA: project every embedding onto the corpus's top principal
    * component, computed by LOG-DEPTH normalized matrix squaring —
    * M ← (M·M)/‖M·M‖_F nine times turns the covariance into ~C^512,
    * whose action on any non-orthogonal start vector IS the top
    * eigendirection (plain power iteration needs hundreds of rounds on
    * a near-flat spectrum; squaring gets the same power in 9 steps —
    * the log-depth trick that matters when each round is a distributed
    * job). Fully oracled: covariance entries are 9dp-rounded DECIMAL
    * sums (aggregation-order-free), every squaring rounds products to
    * 12dp and sums in DECIMAL, normalizations are fixed IEEE op order,
    * and the sign fixes on the first unnormalized component — so both
    * engines replay the identical arithmetic end to end (the
    * dim×dim iterations run driver-side over the COLLECTED 64×64
    * matrix using the same HALF_UP rounding Spark's `round` applies).
    *
    * Scale shape: the corpus touches the plan exactly twice — once for
    * the one-pass outer-product moments aggregator (per-row v·vᵀ into
    * a dim²-integer buffer; each partition ships ONE buffer, nothing
    * row-scale crosses an exchange — see [[graft.ops.PcaMoments]]) and
    * once for the join-free literal-array projection. The 9 squarings
    * are dim³ driver flops on a dim²-sized matrix — independent of
    * corpus size by construction. */
  /** The shared oracle base: long-form embeddings, decimal-exact
    * means, and the covariance matrix CTE `m0`. */
  private val pcaBaseCtes: String = """
      x AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS v FROM embeddings),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      mu AS MATERIALIZED (SELECT i, CAST(SUM(CAST(round(v, 9) AS DECIMAL(28,12)))
              AS DOUBLE) / COUNT(*) AS m FROM x GROUP BY i),
      xx AS (SELECT a.i AS i, b.i AS j, a.v * b.v AS vv
             FROM x a JOIN x b ON a.vec_id = b.vec_id),
      s2 AS (SELECT i, j, CAST(SUM(CAST(round(vv, 9) AS DECIMAL(28,12)))
               AS DOUBLE) AS s
             FROM xx GROUP BY i, j),
      m0 AS MATERIALIZED (SELECT s2.i, s2.j, s2.s / nn.n - mi.m * mj.m AS c
              FROM s2 CROSS JOIN nn
              JOIN mu mi ON mi.i = s2.i JOIN mu mj ON mj.i = s2.j)"""

  val ePcaProjection: Spec = Spec(
    "e_pca_projection",
    oracle = Some(s"""
      WITH $pcaBaseCtes,
      $pcaSteps,
      u AS MATERIALIZED (SELECT i,
          CAST(SUM(CAST(round(c * 0.125, 12) AS DECIMAL(30,14))) AS DOUBLE) AS u
        FROM m9 GROUP BY i),
      un AS (SELECT sqrt(CAST(SUM(CAST(round(u*u, 12) AS DECIMAL(30,14)))
          AS DOUBLE)) AS nrm FROM u),
      sgn AS (SELECT CASE WHEN (SELECT u FROM u WHERE i = 1) < 0
                THEN -1.0 ELSE 1.0 END AS s),
      vf AS MATERIALIZED (SELECT i AS j, u / nrm * sgn.s AS v
        FROM u CROSS JOIN un CROSS JOIN sgn),
      proj AS (SELECT x.vec_id,
          CAST(SUM(CAST(round((x.v - mu.m) * vf.v, 9) AS DECIMAL(28,12)))
            AS DOUBLE) AS p
        FROM x JOIN mu ON mu.i = x.i JOIN vf ON vf.j = x.i GROUP BY x.vec_id)
      SELECT vec_id, round(p, 6) AS pc1
      FROM proj ORDER BY vec_id""")) { (s, dir) =>
    import s.implicits._
    val (emb, mu, cov) = pcaBase(s, dir)
    val vComp = pcaDirection(pcaSquare9(cov))
    emb.select($"vec_id",
        graft.ops.Vectors.projectOnComponent(
          $"embedding", mu.toSeq, vComp.toSeq).as("pc1"))
      .orderBy($"vec_id")
  }

  private val PcaDim = 64

  /** Spark's own Round codepath for doubles: BigDecimal.valueOf +
    * HALF_UP — the driver-side mirror of `round(x, 12)`. */
  private def pcaR12(d: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(12, java.math.RoundingMode.HALF_UP)

  /** Embeddings table, decimal-exact per-dim means and the collected
    * covariance matrix — the distributed part of the PCA family is now
    * ONE pass: the [[graft.ops.PcaMoments]] outer-product aggregator
    * (per-row v·vᵀ into an exact dim²-integer buffer, partial-agg
    * merged), replacing the former exploded self-join that shuffled an
    * N·dim² intermediate. Everything after is dim²-sized driver work;
    * the sums are identical (integer addition is order-free and each
    * product carries the same `round(·, 9)` the oracle applies). */
  private def pcaBase(spark: SparkSession, dir: String)
      : (DataFrame, Array[Double], Array[Array[Double]]) = {
    val s = spark
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val st = emb.select($"embedding").as[Array[Float]]
      .select(graft.ops.PcaMoments.aggregator(PcaDim).toColumn)
      .head()
    val n = st.n
    val mu = Array.tabulate(PcaDim)(i => st.sums(i) / n)
    val s2 = graft.ops.PcaMoments.squareProds(st, PcaDim)
    val cov = Array.tabulate(PcaDim, PcaDim)((i, j) =>
      s2(i)(j) / n - mu(i) * mu(j))
    (emb, mu, cov)
  }

  /** 9 Frobenius-normalized squarings (≈ the 512th matrix power). */
  private def pcaSquare9(m0: Array[Array[Double]]): Array[Array[Double]] = {
    val Z = java.math.BigDecimal.ZERO
    var mM = m0
    for (_ <- 1 to 9) {
      val p = Array.tabulate(PcaDim, PcaDim) { (i, j) =>
        (0 until PcaDim).foldLeft(Z)((acc, k) =>
          acc.add(pcaR12(mM(i)(k) * mM(k)(j)))).doubleValue
      }
      val fn = math.sqrt(p.flatten.foldLeft(Z)((acc, c) =>
        acc.add(pcaR12(c * c))).doubleValue)
      mM = p.map(_.map(_ / fn))
    }
    mM
  }

  /** Direction from a squared chain: matvec with the 0.125 start,
    * normalize, sign-fix on the first unnormalized component. */
  private def pcaDirection(m9: Array[Array[Double]]): Array[Double] = {
    val Z = java.math.BigDecimal.ZERO
    val u = Array.tabulate(PcaDim)(i =>
      (0 until PcaDim).foldLeft(Z)((acc, k) =>
        acc.add(pcaR12(m9(i)(k) * 0.125))).doubleValue)
    val nrm = math.sqrt(u.foldLeft(Z)((acc, c) =>
      acc.add(pcaR12(c * c))).doubleValue)
    val sign = if (u(0) < 0) -1.0 else 1.0
    u.map(_ / nrm * sign)
  }

  /** 2-D PCA corpus map: pc1 from [[ePcaProjection]]'s squared-chain
    * direction, pc2 from the same machinery applied to the DEFLATED
    * covariance D = C − λ₁·v₁v₁ᵀ (Hotelling deflation; λ₁ is the exact
    * decimal-summed Rayleigh quotient v₁ᵀCv₁) — the standard top-k
    * eigenpair recipe, here fully engine-replayable: the second chain
    * reuses the identical squaring/direction CTE generators with a
    * `d` prefix. The (pc1, pc2) pair is THE 2-D layout for corpus
    * maps / near-dup scatter plots; pc1 here equals e_pca_projection's
    * by construction.
    *
    * Scale shape: identical to e_pca_projection — corpus touches the
    * plan for the one-pass moments aggregator and one join-free
    * literal-array double-projection; the deflation and both squared
    * chains are dim²/dim³ driver work. */
  val ePca2d: Spec = Spec(
    "e_pca_2d",
    oracle = Some(s"""
      WITH $pcaBaseCtes,
      ${pcaSquareCtes("m")},
      ${pcaDirCtes("m")},
      cw AS MATERIALIZED (SELECT m0.i,
          CAST(SUM(CAST(round(m0.c * m_vf.v, 12) AS DECIMAL(30,14))) AS DOUBLE) AS w
        FROM m0 JOIN m_vf ON m_vf.j = m0.j GROUP BY m0.i),
      lam AS (SELECT CAST(SUM(CAST(round(m_vf.v * cw.w, 12) AS DECIMAL(30,14)))
          AS DOUBLE) AS l
        FROM m_vf JOIN cw ON cw.i = m_vf.j),
      d0 AS MATERIALIZED (SELECT a.i, a.j, a.c - lam.l * va.v * vb.v AS c
        FROM m0 a CROSS JOIN lam
        JOIN m_vf va ON va.j = a.i JOIN m_vf vb ON vb.j = a.j),
      ${pcaSquareCtes("d")},
      ${pcaDirCtes("d")},
      proj AS (SELECT x.vec_id,
          CAST(SUM(CAST(round((x.v - mu.m) * v1.v, 9) AS DECIMAL(28,12)))
            AS DOUBLE) AS p1,
          CAST(SUM(CAST(round((x.v - mu.m) * v2.v, 9) AS DECIMAL(28,12)))
            AS DOUBLE) AS p2
        FROM x JOIN mu ON mu.i = x.i
        JOIN m_vf v1 ON v1.j = x.i JOIN d_vf v2 ON v2.j = x.i
        GROUP BY x.vec_id)
      SELECT vec_id, round(p1, 6) AS pc1, round(p2, 6) AS pc2
      FROM proj ORDER BY vec_id""")) { (s, dir) =>
    import s.implicits._
    val Z = java.math.BigDecimal.ZERO
    val (emb, mu, cov) = pcaBase(s, dir)
    val v1 = pcaDirection(pcaSquare9(cov))
    val w = Array.tabulate(PcaDim)(i =>
      (0 until PcaDim).foldLeft(Z)((acc, k) =>
        acc.add(pcaR12(cov(i)(k) * v1(k)))).doubleValue)
    val lam = (0 until PcaDim).foldLeft(Z)((acc, i) =>
      acc.add(pcaR12(v1(i) * w(i)))).doubleValue
    val defl = Array.tabulate(PcaDim, PcaDim)((i, j) =>
      cov(i)(j) - lam * v1(i) * v1(j))
    val v2 = pcaDirection(pcaSquare9(defl))
    emb.select($"vec_id",
        graft.ops.Vectors.projectOnComponent(
          $"embedding", mu.toSeq, v1.toSeq).as("pc1"),
        graft.ops.Vectors.projectOnComponent(
          $"embedding", mu.toSeq, v2.toSeq).as("pc2"))
      .orderBy($"vec_id")
  }

  /** EMBEDDING-distribution drift per label: cosine between each
    * label's centroid over the two vec_id-parity halves (standing in
    * for two corpus snapshots) and the 1−cos drift score — the
    * embedding-space twin of the text-side drift monitors: a label
    * whose centroid moves between snapshots means its cluster's
    * content changed even if counts didn't (near-zero cosines here are
    * the true answer — the synthetic labels aren't coherent clusters).
    * Centroids are decimal-exact means; dot/norms are 12dp-rounded
    * DECIMAL sums with one fixed-order division — fully replayed.
    *
    * Scale shape: one scan → (half, label, dim)-keyed mean agg (the
    * dims×labels×2 sufficient statistic); everything after is
    * label-count-sized. */
  val eCentroidDrift: Spec = Spec(
    "e_centroid_drift",
    oracle = Some("""
      WITH x AS (SELECT vec_id % 2 AS half, label,
              generate_subscripts(embedding, 1) AS i,
              unnest(embedding)::DOUBLE AS v FROM embeddings),
      c AS (SELECT half, label, i,
          CAST(SUM(CAST(round(v, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
        FROM x GROUP BY 1, 2, 3),
      p AS (SELECT a.label, a.i, a.cv AS ca, b.cv AS cb
        FROM c a JOIN c b ON b.label = a.label AND b.i = a.i
        WHERE a.half = 0 AND b.half = 1),
      d AS (SELECT label,
          CAST(SUM(CAST(round(ca * cb, 12) AS DECIMAL(30,14))) AS DOUBLE) AS dot,
          sqrt(CAST(SUM(CAST(round(ca * ca, 12) AS DECIMAL(30,14))) AS DOUBLE)) AS na,
          sqrt(CAST(SUM(CAST(round(cb * cb, 12) AS DECIMAL(30,14))) AS DOUBLE)) AS nb
        FROM p GROUP BY 1)
      SELECT CAST(label AS BIGINT) AS label,
        round(dot / (na * nb), 6) AS centroid_cosine,
        round(1 - dot / (na * nb), 6) AS drift
      FROM d ORDER BY label""")) { (s, dir) =>
    import s.implicits._
    val x = Tables.load(s, dir, "embeddings")
      .select(($"vec_id" % 2).as("half"), $"label",
        posexplode($"embedding").as(Seq("p", "vfl")))
      .select($"half", $"label", ($"p" + 1).as("i"),
        $"vfl".cast("double").as("v"))
    val c = x.groupBy($"half", $"label", $"i")
      .agg((sum(round($"v", 9).cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("cv"))
    val a = c.filter($"half" === 0).select($"label", $"i", $"cv".as("ca"))
    val b = c.filter($"half" === 1).select($"label", $"i", $"cv".as("cb"))
    a.join(b, Seq("label", "i"))
      .groupBy($"label")
      .agg(
        sum(round($"ca" * $"cb", 12).cast("decimal(30,14)"))
          .cast("double").as("dot"),
        sqrt(sum(round($"ca" * $"ca", 12).cast("decimal(30,14)"))
          .cast("double")).as("na"),
        sqrt(sum(round($"cb" * $"cb", 12).cast("decimal(30,14)"))
          .cast("double")).as("nb"))
      .select($"label".cast("long").as("label"),
        round($"dot" / ($"na" * $"nb"), 6).as("centroid_cosine"),
        round(lit(1) - $"dot" / ($"na" * $"nb"), 6).as("drift"))
      .orderBy($"label")
  }

  /** MUTUAL kNN graph: edges where each endpoint is in the OTHER's
    * cosine top-5 within its label cell — the reciprocal filter that
    * turns a noisy kNN graph into the high-precision edge set used by
    * kNN-graph clustering and hubness-robust near-dup review (a hub
    * vector appears in many top-k lists, but keeps only the neighbors
    * it reciprocates).
    *
    * Scale shape: [[graft.ops.Vectors.knnAllCell]] (cell-keyed shuffle
    * join, map-side bounded TopK — the k·n directed edge set is the
    * ONLY materialized pair frame) followed by one self-join of that
    * k·n frame on the reversed key — never a second scoring pass. */
  val eMutualKnn: Spec = Spec(
    "e_mutual_knn",
    oracle = Some(s"""
      WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
          ${cosSql("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
          AS BIGINT) AS rk
        FROM scored),
      k AS (SELECT qid, cid, cos, rk FROM r WHERE rk <= 5)
      SELECT x.qid AS id_a, x.cid AS id_b, x.rk AS rank_ab,
        y.rk AS rank_ba, ROUND(x.cos, 6) AS cos_sim
      FROM k x JOIN k y ON y.qid = x.cid AND y.cid = x.qid
      WHERE x.qid < x.cid ORDER BY id_a, id_b""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    val knn = Vectors.knnAllCell(emb, "label", 5).localCheckpoint()
    knn.select($"qid".as("id_a"), $"cid".as("id_b"),
        $"rk".as("rank_ab"), $"cos_sim")
      .join(knn.select($"cid".as("id_a"), $"qid".as("id_b"),
        $"rk".as("rank_ba")), Seq("id_a", "id_b"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", $"rank_ab", $"rank_ba",
        round($"cos_sim", 6).as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  /** SIMPLIFIED silhouette score per learned cluster (Hruschka et al.'s
    * centroid variant): for every vector, a = distance to its OWN
    * learned centroid, b = distance to the nearest OTHER centroid,
    * s = (b-a)/max(a,b) — the clustering-quality report card for the
    * IVF quantizer that [[eKmeansCentroids]] trains (cells that score
    * near 0 sit on a boundary and are the multiprobe candidates;
    * negative means points landed closer to a foreign centroid, i.e.
    * the quantizer under-fits). The FULL silhouette is a pairwise
    * O(n²)-per-cluster quantity; the centroid form is the one a 100 TB
    * run can afford — one broadcast-literal projection pass, NO joins,
    * cost identical to the IVF assignment itself.
    *
    * Engine parity: distances replay nearestCell's sequential
    * squared-L2 fold, sqrt is IEEE-exact, per-point s rounds to 9dp
    * and per-cell means DECIMAL-sum (order-free). The oracle re-trains
    * both Lloyd iterations (kmeansCtes) and recomputes every point's
    * a/b from scratch. */
  val eSilhouette: Spec = Spec(
    "e_silhouette",
    oracle = Some(s"""
      WITH $kmeansCtes,
      c2 AS (
        SELECT cell, pos,
          CAST(SUM(CAST(round(v::DOUBLE, 9) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cval
        FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
                unnest(embedding) AS v FROM a2)
        GROUP BY cell, pos),
      c2l AS (SELECT cell, list(cval ORDER BY pos) AS cent FROM c2 GROUP BY cell),
      asg AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${distSql("e.embedding", "c.cent")}, c.cell) AS rk
          FROM embeddings e CROSS JOIN c2l c) WHERE rk = 1),
      dists AS (SELECT p.vec_id, p.cell AS own, c.cell,
          sqrt(${distSql("p.embedding", "c.cent")}) AS d
        FROM asg p CROSS JOIN c2l c),
      ab AS (SELECT vec_id, own,
          MIN(CASE WHEN cell = own THEN d END) AS a,
          MIN(CASE WHEN cell <> own THEN d END) AS b
        FROM dists GROUP BY vec_id, own),
      sil AS (SELECT vec_id, own AS cell,
          CASE WHEN GREATEST(a, b) = 0 THEN 0.0::DOUBLE
               ELSE round((b - a) / GREATEST(a, b), 9) END AS s
        FROM ab)
      SELECT cell, COUNT(*) AS n,
        FLOOR(CAST(SUM(CAST(s AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) * 1000000) / 1000000 AS mean_sil,
        MIN(s) AS min_sil, MAX(s) AS max_sil
      FROM sil GROUP BY cell ORDER BY cell""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val cents = Vectors.kmeansCentroids(emb, k = 8, iters = 2)
    // assignment AND both silhouette distances from one projection pass
    val pts = Vectors.silhouettePoints(emb, cents)
    pts
      .withColumn("s",
        when(greatest($"a", $"b") === 0, lit(0.0d))
          .otherwise(round(($"b" - $"a") / greatest($"a", $"b"), 9)))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"),
        // floor-truncate, not round: the decimal-sum/count quotient can
        // land on a half-boundary where Spark and the oracle disagree
        // on the last digit (same discipline as e_kmeans_centroids)
        (floor(sum($"s".cast("decimal(18,9)")).cast("double") / count(lit(1))
          * 1000000).cast("double") / 1000000).as("mean_sil"),
        min($"s").as("min_sil"), max($"s").as("max_sil"))
      .orderBy($"cell")
  }

  /** BFS hop distance from the mutual-kNN graph's lowest-id endpoint —
    * "how far does trust propagate from the canonical exemplar":
    * level-synchronous breadth-first search over the reciprocal edge
    * set of [[eMutualKnn]], emitting every vector reachable within 4
    * hops and its hop count. The graph-traversal primitive missing
    * between the repo's fixed-point solvers (CC's pointer jumping,
    * PageRank's damped rounds): BFS needs the MINIMUM hop, so each
    * frontier round is one edge join + one anti-join against the
    * reached set.
    *
    * Fixed depth 4 (not to convergence): round count = graph diameter
    * is data-dependent, and a declared/oracled query needs a fixed
    * plan — the unreached tail is exactly the ">4 hops or disconnected"
    * set. Scale shape: the only corpus-scale frame is the k·n mutual
    * edge list (knnAllCell: cell-keyed shuffle + map-side TopK); each
    * round joins the CURRENT FRONTIER only (never the cumulative
    * reached set) against edges, with superseded checkpoints dropped
    * round-by-round as in PageRank. */
  val eBfsHops: Spec = Spec(
    "e_bfs_hops",
    oracle = Some(s"""
      WITH scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
          ${cosSql("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id),
      r AS (SELECT qid, cid, cos,
        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
          AS BIGINT) AS rk
        FROM scored),
      k AS (SELECT qid, cid FROM r WHERE rk <= 5),
      mut AS (SELECT x.qid AS id_a, x.cid AS id_b
        FROM k x JOIN k y ON y.qid = x.cid AND y.cid = x.qid
        WHERE x.qid < x.cid),
      edges AS (SELECT id_a AS src, id_b AS dst FROM mut
        UNION ALL SELECT id_b, id_a FROM mut),
      reach0 AS (SELECT MIN(id_a) AS vid, CAST(0 AS BIGINT) AS hop FROM mut),
      f1 AS (SELECT DISTINCT e.dst AS vid FROM edges e
        JOIN reach0 r ON r.vid = e.src),
      reach1 AS (SELECT vid, hop FROM reach0 UNION ALL
        SELECT n.vid, CAST(1 AS BIGINT) FROM f1 n
        WHERE NOT EXISTS (SELECT 1 FROM reach0 r WHERE r.vid = n.vid)),
      f2 AS (SELECT DISTINCT e.dst AS vid FROM edges e
        JOIN reach1 r ON r.vid = e.src AND r.hop = 1),
      reach2 AS (SELECT vid, hop FROM reach1 UNION ALL
        SELECT n.vid, CAST(2 AS BIGINT) FROM f2 n
        WHERE NOT EXISTS (SELECT 1 FROM reach1 r WHERE r.vid = n.vid)),
      f3 AS (SELECT DISTINCT e.dst AS vid FROM edges e
        JOIN reach2 r ON r.vid = e.src AND r.hop = 2),
      reach3 AS (SELECT vid, hop FROM reach2 UNION ALL
        SELECT n.vid, CAST(3 AS BIGINT) FROM f3 n
        WHERE NOT EXISTS (SELECT 1 FROM reach2 r WHERE r.vid = n.vid)),
      f4 AS (SELECT DISTINCT e.dst AS vid FROM edges e
        JOIN reach3 r ON r.vid = e.src AND r.hop = 3),
      reach4 AS (SELECT vid, hop FROM reach3 UNION ALL
        SELECT n.vid, CAST(4 AS BIGINT) FROM f4 n
        WHERE NOT EXISTS (SELECT 1 FROM reach3 r WHERE r.vid = n.vid))
      SELECT vid AS vec_id, hop FROM reach4 ORDER BY vec_id""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    val knn = Vectors.knnAllCell(emb, "label", 5).localCheckpoint()
    val mut = knn.select($"qid".as("id_a"), $"cid".as("id_b"))
      .join(knn.select($"cid".as("id_a"), $"qid".as("id_b")), Seq("id_a", "id_b"))
      .filter($"id_a" < $"id_b")
    val edges = mut.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(mut.select($"id_b", $"id_a").toDF("src", "dst"))
      .localCheckpoint() // reused every frontier round
    val seed = mut.agg(min($"id_a").as("vid"))
    // bfsHops materializes each round eagerly, so by return the seed
    // (which reads knn through mut) has been evaluated — only then is
    // the knn checkpoint safe to drop (truncated lineage can't recompute)
    val hops = graft.ops.Graphs.bfsHops(edges, seed, maxHops = 4)
    graft.ops.Checkpoints.unpersist(knn)
    hops.select($"vid".as("vec_id"), $"hop").orderBy($"vec_id")
  }

  /** CLUSTERING AGREEMENT — Adjusted Rand Index + Normalized Mutual
    * Information between the label-propagation communities and the
    * ground-truth labels: the two standard external evaluation metrics
    * ([[eSilhouette]] is the internal one), answering "did the graph
    * clustering recover the real structure?" with chance correction
    * (ARI) and an information-theoretic view (NMI).
    *
    * Engine parity: the contingency and all pair counts are exact
    * integers; ARI is computed from the cross-multiplied identity
    *   ARI = 2·(T·Σij − Σa·Σb) / (T·(Σa + Σb) − 2·Σa·Σb)
    * (T = C(n,2), Σ's are C(·,2) sums — exact DECIMAL products, ONE
    * float division); NMI terms ride the d_lang_source_mi ln
    * discipline (9dp-rounded, DECIMAL-summed) with one sqrt+division.
    *
    * Scale shape: LP is the existing 3-round frame; the contingency is
    * one hash agg bounded by |classes|·|communities|; everything after
    * is marginal-sized. */
  val eClusterAgreement: Spec = Spec(
    "e_cluster_agreement",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      nodes AS (SELECT vec_id FROM embeddings),
      lp0 AS (SELECT vec_id, vec_id AS label FROM nodes),
      ${lpStepCte(1)},
      ${lpStepCte(2)},
      ${lpStepCte(3)},
      asg AS (SELECT e.label AS cls, l.label AS com
        FROM embeddings e JOIN lp3 l ON l.vec_id = e.vec_id),
      ct AS (SELECT cls, com, CAST(COUNT(*) AS BIGINT) AS nij
        FROM asg GROUP BY 1, 2),
      ma AS (SELECT cls, CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY 1),
      mb AS (SELECT com, CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY 1),
      nn AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM ct),
      s AS (SELECT
          (SELECT SUM(nij::HUGEINT * (nij - 1) // 2) FROM ct) AS sij,
          (SELECT SUM(ai::HUGEINT * (ai - 1) // 2) FROM ma) AS sa,
          (SELECT SUM(bj::HUGEINT * (bj - 1) // 2) FROM mb) AS sb,
          (SELECT n::HUGEINT * (n - 1) // 2 FROM nn) AS tt,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM ma) AS n_classes,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM mb) AS n_communities),
      mi AS (SELECT SUM(CAST(ROUND(
            (CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
            ln((CAST(ct.nij AS DOUBLE) * CAST(nn.n AS DOUBLE))
               / (CAST(ma.ai AS DOUBLE) * CAST(mb.bj AS DOUBLE))), 9)
          AS DECIMAL(18,9))) AS i
        FROM ct JOIN ma USING (cls) JOIN mb USING (com) CROSS JOIN nn),
      ha AS (SELECT SUM(CAST(ROUND(
            -(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
            ln(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9)
          AS DECIMAL(18,9))) AS h
        FROM ma CROSS JOIN nn),
      hb AS (SELECT SUM(CAST(ROUND(
            -(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
            ln(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9)
          AS DECIMAL(18,9))) AS h
        FROM mb CROSS JOIN nn)
      SELECT nn.n, s.n_classes, s.n_communities,
        CAST(FLOOR(CAST(2 * (s.tt * s.sij - s.sa * s.sb) AS DOUBLE)
          / CAST(s.tt * (s.sa + s.sb) - 2 * s.sa * s.sb AS DOUBLE)
          * 1000000) AS BIGINT) AS ari_micros,
        CAST(FLOOR(CAST(mi.i AS DOUBLE)
          / sqrt(CAST(ha.h AS DOUBLE) * CAST(hb.h AS DOUBLE))
          * 1000000) AS BIGINT) AS nmi_micros
      FROM nn, s, mi, ha, hb
      WHERE s.tt * (s.sa + s.sb) - 2 * s.sa * s.sb <> 0
        AND ha.h > 0 AND hb.h > 0""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // reused every LP round
    val lab = lpLabels(emb.select($"vec_id"), edges)
    val ct = emb.select($"vec_id", $"label".as("cls"))
      .join(lab.select($"vec_id", $"label".as("com")), Seq("vec_id"))
      .groupBy($"cls", $"com").agg(count(lit(1)).as("nij"))
      .localCheckpoint() // marginals, pair sums and MI terms share it
    val ma = ct.groupBy($"cls").agg(sum($"nij").cast("long").as("ai"))
    val mb = ct.groupBy($"com").agg(sum($"nij").cast("long").as("bj"))
    val nn = ct.agg(sum($"nij").cast("long").as("n"))
    def c2(name: String) = expr(
      s"cast((cast($name as decimal(38,0)) * ($name - 1)) div 2" +
        " as decimal(38,0))")
    val sFrame = ct.agg(sum(c2("nij")).as("sij"))
      .crossJoin(ma.agg(sum(c2("ai")).as("sa"),
        count(lit(1)).as("n_classes")))
      .crossJoin(mb.agg(sum(c2("bj")).as("sb"),
        count(lit(1)).as("n_communities")))
      .crossJoin(nn.select(c2("n").as("tt"), $"n"))
    val mi = ct.join(ma, "cls").join(mb, "com").crossJoin(broadcast(nn))
      .agg(sum(round(($"nij".cast("double") / $"n".cast("double")) *
        log(($"nij".cast("double") * $"n".cast("double")) /
          ($"ai".cast("double") * $"bj".cast("double"))), 9)
        .cast("decimal(18,9)")).as("i"))
    def ent(m: DataFrame, c: String) = m.crossJoin(broadcast(nn))
      .agg(sum(round(-(col(c).cast("double") / $"n".cast("double")) *
        log(col(c).cast("double") / $"n".cast("double")), 9)
        .cast("decimal(18,9)")).as("h"))
    val ha = ent(ma, "ai")
    val hb = ent(mb, "bj")
    sFrame.crossJoin(broadcast(mi))
      .crossJoin(broadcast(ha.select($"h".as("hha"))))
      .crossJoin(broadcast(hb.select($"h".as("hhb"))))
      .filter($"tt" * ($"sa" + $"sb") - lit(2) * $"sa" * $"sb" =!= 0 &&
        $"hha" > 0 && $"hhb" > 0)
      .select($"n", $"n_classes", $"n_communities",
        floor((lit(2) * ($"tt" * $"sij" - $"sa" * $"sb")).cast("double") /
          ($"tt" * ($"sa" + $"sb") - lit(2) * $"sa" * $"sb").cast("double")
          * 1e6).cast("long").as("ari_micros"),
        floor($"i".cast("double") /
          sqrt($"hha".cast("double") * $"hhb".cast("double")) * 1e6)
          .cast("long").as("nmi_micros"))
  }

  /** DEGREE ASSORTATIVITY (Newman '02) of the similarity graph — the
    * Pearson correlation of endpoint degrees over all directed edges:
    * positive means hubs attach to hubs (a core-periphery near-dup
    * mass, cluster-level dedup pays off), negative means hubs attach
    * to leaves (star-shaped duplication, representative-picking pays
    * off) — the one-number diagnostic that says WHICH dedup strategy
    * fits the corpus before anyone runs it.
    *
    * Engine parity: degrees are exact integers; all five moments over
    * the directed-edge endpoint pairs are exact DECIMAL sums; the
    * statistic is fixed-order IEEE (two sqrts, one division) on those
    * exact integers, surfaced as floor-micros. Degenerate graphs
    * (regular — zero variance) drop via the integer guard.
    *
    * Scale shape: one degree hash-agg, two broadcast-sized joins of
    * degree onto the edge list keyed by endpoint, one moment agg —
    * the triangle-count join shape without the wedge blowup. */
  val eAssortativity: Spec = Spec(
    "e_assortativity",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges
              GROUP BY 1),
      pairs AS (SELECT da.d AS x, db.d AS y
        FROM edges e JOIN deg da ON da.v = e.src JOIN deg db ON db.v = e.dst),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
          SUM(x::HUGEINT * x) AS sxx, SUM(y::HUGEINT * y) AS syy,
          SUM(x::HUGEINT * y) AS sxy
        FROM pairs)
      SELECT n AS n_directed_edges,
        CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1000000)
          AS BIGINT) AS assortativity_micros,
        CAST(FLOOR(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) * 1000000)
          AS BIGINT) AS mean_edge_degree_micros
      FROM m
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .localCheckpoint() // degree agg + both endpoint joins share it
    val deg = edges.groupBy($"src".as("v")).agg(count(lit(1)).as("d"))
    val dd = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = edges
      .join(deg.select($"v".as("src"), $"d".as("x")), Seq("src"))
      .join(deg.select($"v".as("dst"), $"d".as("y")), Seq("dst"))
      .agg(count(lit(1)).as("n"),
        sum(dd($"x")).as("sx"), sum(dd($"y")).as("sy"),
        sum(dd($"x") * $"x").as("sxx"), sum(dd($"y") * $"y").as("syy"),
        sum(dd($"x") * $"y").as("sxy"))
    m.filter($"n" * $"sxx" - $"sx" * $"sx" > 0 &&
        $"n" * $"syy" - $"sy" * $"sy" > 0)
      .select($"n".as("n_directed_edges"),
        floor(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))) * 1e6)
          .cast("long").as("assortativity_micros"),
        floor($"sx".cast("double") / $"n".cast("double") * 1e6)
          .cast("long").as("mean_edge_degree_micros"))
  }

  /** DEGREE DISTRIBUTION + POWER-LAW MLE of the similarity graph —
    * the degree histogram with the Clauset–Shalizi–Newman continuous
    * approximation α̂ = 1 + n / Σ ln(dᵢ/(d_min − ½)) over the tail
    * d ≥ d_min = 2 ("is duplication heavy-tailed here?" — α near 2
    * means a few documents near-duplicate against huge families and
    * cluster-representative picking dominates the dedup win; α > 3
    * means duplication is diffuse). Histogram rows carry the shared
    * α̂ and tail size alongside.
    *
    * Engine parity: degrees and histogram counts are exact integers;
    * each ln term is a fixed IEEE op on an exact integer-ratio double,
    * 9dp-rounded and DECIMAL-summed (order-free — the
    * d_lang_source_mi ln discipline); α̂ is one division plus one
    * addition. Scale shape: one degree agg, one |degrees|-bounded
    * histogram agg, a 1-row tail-moment broadcast. */
  val eDegreePowerlaw: Spec = Spec(
    "e_degree_powerlaw",
    oracle = Some(s"""
      WITH ${lshCandCtes},
      ver AS (SELECT c.ida, c.idb FROM cand c
        JOIN embeddings a ON a.vec_id = c.ida
        JOIN embeddings b ON b.vec_id = c.idb
        WHERE a.label = b.label
          AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
      edges AS (SELECT ida AS src, idb AS dst FROM ver
        UNION ALL SELECT idb, ida FROM ver),
      deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges
              GROUP BY 1),
      tail AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt,
          SUM(CAST(round(ln(CAST(d AS DOUBLE) / 1.5e0), 9)
              AS DECIMAL(28,12))) AS sl
        FROM deg WHERE d >= 2),
      a AS (SELECT nt,
          CAST(FLOOR((1.0e0 + CAST(nt AS DOUBLE) / CAST(sl AS DOUBLE))
            * 1000000) AS BIGINT) AS alpha_micros
        FROM tail WHERE sl > 0),
      h AS (SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY d)
      SELECT h.degree, h.n_nodes, a.alpha_micros, a.nt AS n_tail
      FROM h CROSS JOIN a ORDER BY h.degree""")) { (s, dir) =>
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val ver = lshLabelEdges(emb, threshold = 0.2)
    val deg = ver.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
      .groupBy($"src").agg(count(lit(1)).as("d"))
      .localCheckpoint() // tail moments + histogram share one agg
    val tail = deg.filter($"d" >= 2)
      .agg(count(lit(1)).as("nt"),
        sum(round(log($"d".cast("double") / lit(1.5)), 9)
          .cast("decimal(28,12)")).as("sl"))
    val a = broadcast(tail.filter($"sl" > 0)
      .select($"nt",
        floor((lit(1.0) + $"nt".cast("double") / $"sl".cast("double")) * 1e6)
          .cast("long").as("alpha_micros")))
    deg.groupBy($"d".as("degree")).agg(count(lit(1)).as("n_nodes"))
      .crossJoin(a)
      .select($"degree", $"n_nodes", $"alpha_micros", $"nt".as("n_tail"))
      .orderBy($"degree")
  }

  /** NEIGHBORHOOD FUNCTION + EFFECTIVE DIAMETER of the similarity
    * graph via multi-source bitmask BFS — the ANF/HyperANF shape
    * (Palmer '02; Boldi '11): 63 deterministic seed nodes (smallest
    * vec_ids) each own one bit of a BIGINT mask; per round every node
    * ORs its neighbors' masks, so popcount sums give the EXACT number
    * of (seed, node) pairs within distance r, and the 90% effective
    * diameter falls out of one integer comparison (10·N(r) ≥ 9·N(4) —
    * no float anywhere in the query). 63 bits, not 64: engines with
    * checked shifts (DuckDB) overflow on 1<<63.
    *
    * Scale shape: per round ONE edge-keyed join + ONE bit_or hash agg
    * (8 bytes of state per node — the PageRank step shape with a
    * cheaper combiner); rounds fixed at 4. This is exactly HyperANF
    * with exact 63-seed registers in place of HLL counters — at
    * 100 TB you widen coverage by swapping the mask for the
    * [[graft.ops.Hll]] register frame, the round structure unchanged.
    * Superseded round checkpoints unpersist immediately. */
  val eNeighborhoodFunction: Spec = {
    def mStep(r: Int): String = s"""
      m$r AS (SELECT vec_id, bit_or(m) AS m FROM (
          SELECT vec_id, m FROM m${r - 1}
          UNION ALL
          SELECT e.dst AS vec_id, p.m FROM edges e
          JOIN m${r - 1} p ON p.vec_id = e.src) u
        GROUP BY vec_id)"""
    def nRow(r: Int): String = s"""
      SELECT CAST($r AS BIGINT) AS r,
        CAST(SUM(bit_count(m)) AS BIGINT) AS reached_pairs FROM m$r"""
    Spec(
      "e_neighborhood_function",
      oracle = Some(s"""
        WITH ${lshCandCtes},
        ver AS (SELECT c.ida, c.idb FROM cand c
          JOIN embeddings a ON a.vec_id = c.ida
          JOIN embeddings b ON b.vec_id = c.idb
          WHERE a.label = b.label
            AND ${cosSql("a.embedding", "b.embedding")} >= 0.2),
        edges AS (SELECT ida AS src, idb AS dst FROM ver
          UNION ALL SELECT idb, ida FROM ver),
        seeds AS (SELECT vec_id,
            CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS rk
          FROM embeddings ORDER BY vec_id LIMIT 63),
        m0 AS (SELECT vec_id, (CAST(1 AS BIGINT) << rk) AS m FROM seeds),
        ${(1 to 4).map(mStep).mkString(",")},
        ns AS (${(0 to 4).map(nRow).mkString(" UNION ALL ")}),
        p4 AS (SELECT reached_pairs AS p FROM ns WHERE r = 4),
        eff AS (SELECT MIN(r) AS d FROM ns CROSS JOIN p4
          WHERE 10 * reached_pairs >= 9 * p4.p)
        SELECT ns.r, ns.reached_pairs, eff.d AS effective_diameter
        FROM ns CROSS JOIN eff ORDER BY ns.r""")) { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val ver = lshLabelEdges(emb, threshold = 0.2)
      val edges = ver.select($"id_a".as("src"), $"id_b".as("dst"))
        .unionAll(ver.select($"id_b".as("src"), $"id_a".as("dst")))
        .localCheckpoint() // reused every round
      val w = org.apache.spark.sql.expressions.Window.orderBy($"vec_id")
      var m = emb.select($"vec_id").orderBy($"vec_id").limit(63)
        .withColumn("rk", (row_number().over(w) - 1).cast("long"))
        .select($"vec_id",
          expr("shiftleft(cast(1 as bigint), cast(rk as int))").as("m"))
        .localCheckpoint()
      def nRowDf(r: Int, mf: DataFrame) = mf.agg(
        lit(r.toLong).as("r"),
        sum(bit_count($"m")).cast("long").as("reached_pairs"))
      var ns = nRowDf(0, m)
      for (r <- 1 to 4) {
        val contrib = edges
          .join(m.withColumnRenamed("vec_id", "src"), Seq("src"))
          .select($"dst".as("vec_id"), $"m")
        // every round's frame stays persisted: the ns count rows
        // reference ALL of them until the final union materializes
        // (8 bytes of mask per node per round — bounded state)
        m = m.unionByName(contrib).groupBy($"vec_id")
          .agg(expr("bit_or(m)").as("m"))
          .localCheckpoint()
        ns = ns.unionByName(nRowDf(r, m))
      }
      val nsc = ns.localCheckpoint() // 5-row frame: p4, eff AND output
      val p4 = nsc.filter($"r" === 4)
        .select($"reached_pairs".as("p"))
      val eff = broadcast(nsc.crossJoin(broadcast(p4))
        .filter(lit(10) * $"reached_pairs" >= lit(9) * $"p")
        .agg(min($"r").as("effective_diameter")))
      nsc.crossJoin(eff)
        .select($"r", $"reached_pairs", $"effective_diameter")
        .orderBy($"r")
    }
  }

  val specs: Seq[Spec] = Seq(eCentroids, eKnnBrute, eKnnCell, eNearDup, eIvfRecall,
    eKnnHnsw, eHnswRecall, eKnnHnswStored, eKnnHnswIncremental,
    eNearDupLsh, eKnnQuantized, eKmeansCentroids, eKnnIvfLearned,
    eKnnIvfMultiprobe, eKnnPq, eKnnIvfPq, eBitextMine, eEmbeddingOutliers,
    eKnnIvfPqProbe, eNearDupClusters, eKnnMatryoshka, eMmrRerank,
    eClusterSummary, ePagerankCentrality, eTriangleCount, eClusteringCoeff,
    eLabelPropagation, eModularity,
    eEigenCentrality, eLinkPrediction, eKcorePeel, eSemdedup,
    eSemdedupIncremental, ePcaProjection, ePca2d, eCentroidDrift,
    eMutualKnn, eSilhouette, eBfsHops, ePprSeeded, eNeighborhoodFunction,
    eAssortativity, eDegreePowerlaw, eClusterAgreement)
}
