package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via iterated min-label propagation over the
  * edge list (the DataFrame form of the large-star/small-star family).
  *
  * Scale design (SURVEY §7 risk 4): labels live in a DataFrame keyed by
  * node — never on the driver; each round is one shuffle join + one
  * hash-agg. `localCheckpoint` truncates lineage every round so plans
  * don't grow exponentially. Convergence is detected with a single
  * count of changed labels per round (one lightweight action), capped
  * at `maxIter` rounds — components in dedup graphs are shallow (near-
  * clique), so this converges in a handful of rounds.
  */
object ConnectedComponents {

  /** @param edges (src: long, dst: long) undirected edge list.
    * @param smallGraphMax symmetrized-edge count (twice the edge count)
    *        at or under which the component labels are computed by a
    *        driver-side union-find instead of shuffle rounds. Dedup pair
    *        graphs are sparse (LSH candidates, not the corpus), so this
    *        is the common case; the bound keeps the collect at tens of
    *        MB. Pass 0 to force the distributed path.
    * @return (id: long, component: long) where component = min node id
    *         reachable; isolated nodes of the edge list included. */
  def run(edges: DataFrame, maxIter: Int = 20,
      smallGraphMax: Long = 2000000L): DataFrame = {
    // Materialize the edge list once, as given — `edges` is usually a
    // lazy plan (e.g. the whole MinHash pipeline) and every label round
    // would otherwise re-execute it from the scan up. Mirroring happens
    // only from this checkpoint: a union of `edges` with its own mirror
    // BEFORE the checkpoint would run the lazy plan twice in one job.
    // The edge COUNT rides the same materialization job via observe()
    // (r15: the separate count() action was one more ~20 ms
    // driver-fixed-latency job on a path the dbscan/dedup rows call
    // once per solve — guide §1/7.3: driver gaps, not stages, dominate
    // these rows at small scale).
    val obs = org.apache.spark.sql.Observation()
    val mat = edges.select(col("src"), col("dst"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    val edgeCount = obs.get("n").asInstanceOf[Long]

    // Small-graph fast path: one bounded collect of the unmirrored
    // edges + union-find replaces ~2·log(d) shuffle rounds with their
    // per-round actions and checkpoints — identical output (min
    // reachable id, order-free). This is one of the repo's documented
    // bounded collects; the distributed min-label + pointer-jumping
    // loop below remains the 100 TB route.
    if (2 * edgeCount <= smallGraphMax) return unionFindLocal(mat)

    val sym = mat.unionAll(mat.select(col("dst").as("src"), col("src").as("dst")))
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    // Labels only ever decrease, so Σcomponent is strictly monotone —
    // an unchanged sum IS convergence (one cheap agg per round, no
    // join-diff pass); decimal sum so billions of 2^63-scale ids can't
    // overflow.
    // coalesce: sum over ZERO rows is null — an empty edge list (a
    // corpus with no candidate pairs) must converge to an empty result,
    // not NPE in compareTo below.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("component").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // neighbor-min pass: candidate label = min(own, min over neighbors)
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "dst_comp"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_comp")).as("nbr_comp"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_comp"), col("component")))
            .as("component"))
      // Pointer jumping: component ← its component's component. Turns
      // the per-round frontier from one hop into doubling, so chain
      // diameters converge in O(log d) rounds instead of O(d).
      val next = propagated.as("a")
        .join(propagated.select(col("id").as("cid"), col("component").as("ccomp")),
          col("a.component") === col("cid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.component"), coalesce(col("ccomp"), col("a.component")))
            .as("component"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // next is materialized — the superseded round's checkpoint has no
      // remaining reader; unpersist so the loop holds ONE labelling in
      // the block manager, not one per round
      Checkpoints.unpersist(labels)
      labels = next
      iter += 1
    }
    // With pointer jumping, maxIter=20 covers diameters up to ~2^20;
    // failing loudly beats silently keeping duplicates.
    require(converged,
      s"connected components did not converge in $maxIter rounds — " +
        "raise maxIter (component diameter exceeds doubling budget)")
    labels
  }

  /** Merge a NEW batch of edges into an existing component labelling
    * without recomputing untouched components — the incremental twin
    * of [[run]] for daily-increment dedup at corpus scale.
    *
    * Correctness: each affected old component re-enters the solve as
    * star edges (member → label), which encode its reachability
    * exactly; min-label CC over (stars ∪ new edges) therefore yields
    * the same labels as a full recompute over (old edges ∪ new edges)
    * restricted to the affected subgraph, and untouched components
    * keep labels that a full recompute could not change (no new edge
    * reaches them).
    *
    * Scale: the label state is corpus-sized but is never shuffled —
    * `touched` and `affected` are batch-proportional and ride
    * broadcasts into the semi/anti restriction joins, so per-increment
    * shuffle volume is bounded by the affected-component membership.
    *
    * @param baseLabels (id, component) from a prior [[run]]/[[incremental]].
    * @param newEdges (src, dst) undirected new edges (may reference
    *        both labelled and brand-new nodes). */
  def incremental(baseLabels: DataFrame, newEdges: DataFrame,
      maxIter: Int = 20, smallGraphMax: Long = 2000000L): DataFrame = {
    // Materialize both inputs once: base is typically an expensive
    // lineage (a full clustering) consumed by three branches below.
    val base = baseLabels.select(col("id"), col("component")).localCheckpoint()
    val edges = newEdges.select(col("src"), col("dst")).localCheckpoint()
    val touched = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    val affected = base.join(touched, Seq("id"), "left_semi")
      .select(col("component")).distinct().localCheckpoint()
    val stars = base.join(broadcast(affected), Seq("component"), "left_semi")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("src"), col("component").as("dst"))
    val resolved = run(stars.unionAll(edges), maxIter, smallGraphMax)
    base.join(broadcast(affected), Seq("component"), "left_anti")
      .select(col("id"), col("component"))
      .unionAll(resolved.select(col("id"), col("component")))
  }

  /** Driver-side union-find over a bounded edge list (an undirected
    * edge once is enough) — union-by-min with full path compression, so
    * every root is its component's minimum id and the result is
    * edge-order-independent. */
  private def unionFindLocal(edges: DataFrame): DataFrame = {
    val sp = edges.sparkSession
    import sp.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
      .foreach { case (s, d) =>
        parent.putIfAbsent(s, s)
        parent.putIfAbsent(d, d)
        val (rs, rd) = (find(s), find(d))
        if (rs < rd) parent.put(rd, rs)
        else if (rd < rs) parent.put(rs, rd)
      }
    val labels = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { val id = it.next(); labels(i) = (id, find(id)); i += 1 }
    // toSeq on the array keeps the encoder-driven schema (id, component)
    labels.toSeq.toDF("id", "component")
  }
}
