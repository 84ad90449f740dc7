package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH fuzzy deduplication as pure DataFrame ops (SURVEY
  * §2.11; public algorithm, Broder '97).
  *
  * Hash family: universal hashing over one md5-derived 60-bit integer
  * per shingle — v_p = (a_p·h + b_p) mod 2^61−1 (see
  * [[graft.functions.MinHashSignature]]). ONE md5 per shingle instead
  * of one per (perm, shingle); exact integer arithmetic keeps oracle
  * parity (DuckDB replays it with HUGEINT modulo).
  *
  * Shingle sketches ([[candidatePairs]], [[candidatePairsFromSets]]):
  * a document's word-shingle set travels as a [[sketch]] next to the
  * text itself, never as shingle strings or hashes. A sketch is one
  * `array<int>`: a header (shingle size, and whether the offsets index
  * the text's U+FFFD re-encoding), then the byte offset where each
  * distinct shingle starts, in the shingle's unsigned byte order —
  * 4 B per distinct shingle. Contract:
  *   - [[textSignature]] over the text and its sketch is
  *     bit-identical to [[signature]] over `Text.shingleSet(text, n)`,
  *     so bands (and the persisted [[lshState]] buckets) line up with
  *     the string form.
  *   - The sketch's slices, decoded, are `sort_array(Text.shingleSet(
  *     text, n))` element by element.
  *   - Verification is EXACT: [[sketchJaccard]] merges the two offset
  *     arrays in byte order and compares the slices' bytes, so the
  *     `jaccard` column is the same integer ratio `Text.jaccard` gives
  *     over the shingle strings (and the DuckDB oracles replay).
  *   - Invalid UTF-8 behaves as in the string path (tokens come from
  *     the text's Java-String round trip). Validity is decided once per
  *     document, when the sketch is built; the verify re-encodes only
  *     the texts whose header says so and validates none.
  *
  * Scale design: signatures/bands are per-row computations (no
  * shuffle); candidate generation is bucket-local (see [[Buckets]]) —
  * the only shuffles are the bucket exchange, the pair dedup and the
  * two verify joins. No step collects rows to one machine.
  */
object MinHash {

  /** MinHash signature (array of `numPerm` minimum universal-hash
    * values as longs) — tight-loop expression, ~100× over the
    * equivalent HOF form and 32× less md5 than per-perm hashing. */
  def signature(shingles: Column, numPerm: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graft.bridge.expression(shingles), numPerm))

  /** Shingle sketch of a text column: see the object doc and
    * [[graft.functions.ShingleSketch]]. */
  def sketch(text: Column, shingleSize: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.ShingleSketch(
        org.apache.spark.sql.graft.bridge.expression(text), shingleSize))

  /** [[signature]] over `Text.shingleSet(text, n)`, computed from the
    * text and its [[sketch]] `sk` (bit-identical; no shingle strings). n
    * is read from the sketch's header. */
  def textSignature(text: Column, sk: Column, numPerm: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.TextSignature(
        org.apache.spark.sql.graft.bridge.expression(text),
        org.apache.spark.sql.graft.bridge.expression(sk), numPerm))

  /** Exact shingle-set Jaccard of two texts from their sketches. */
  def sketchJaccard(skA: Column, textA: Column, skB: Column, textB: Column): Column = {
    import org.apache.spark.sql.graft.bridge.expression
    org.apache.spark.sql.graft.bridge.column(graft.functions.SketchJaccard(
      expression(skA), expression(textA), expression(skB), expression(textB)))
  }

  /** LSH band keys: md5 over each `rowsPerBand`-slice of the signature
    * (long values concatenated in decimal, same as the oracle's
    * array_to_string over a BIGINT list). Fused tight-loop expression
    * (r15) — the HOF composition below is kept ONLY as the
    * property-test reference. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.LshBandKeys(
        org.apache.spark.sql.graft.bridge.expression(sig), bands, rowsPerBand))

  private[graft] def bandKeysHof(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat(b.cast("string"), lit("|"),
        array_join(
          transform(slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
            v => v.cast("string")), ""))))

  /** Candidate near-duplicate pairs (idA < idB) sharing ≥1 LSH band,
    * with the exact shingle-set Jaccard (see the object doc) filtered
    * to `threshold`. Input: df with (idCol: long, textCol: string).
    *
    * Pair generation is bucket-local: group by (band, key), emit pairs
    * inside each bucket — the signature/band computation runs exactly
    * once (a self-join would recompute it per side) and the only
    * shuffles are the bucket group-by and the pair dedup. `maxBucket`
    * caps pathological buckets (thousands of identical docs): such
    * groups are exact-dup families that the cheap hash-dedup pass
    * already collapses, and the cap keeps the per-bucket quadratic
    * bounded at 100 TB. */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerm: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      blockCols: Seq[String] = Nil): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    // Materialized once: the banding path AND both exact-verify join
    // sides consume the sketches — without this the scan + sketch build
    // executes three times per run. localCheckpoint (executor block
    // storage, lineage cut) over persist() keeps the downstream plan
    // free of InMemoryRelation re-prints; the repo-wide caveat (block
    // loss fails the job instead of recomputing) applies.
    val sets = df
      .select((col(idCol).as("id") +: col(textCol).as("text")
        +: sketch(col(textCol), shingleSize).as("sk") +: blockCols.map(col)): _*)
      .filter(size(col("sk")) > 0)
      .localCheckpoint()
    candidatePairsFromSets(sets, numPerm, bands, threshold, maxBucket,
      blockCols)
  }

  /** [[candidatePairs]] over ALREADY-MATERIALIZED (id, text, sk
    * [, blockCols]) rows, `sk` the non-empty [[sketch]] of `text` (its
    * header carries the shingle size): a caller that must checkpoint
    * its input anyway (the pipeline's fuzzy stage materializes the
    * funnel output for its final anti-join) can carry the sketch in
    * that ONE checkpoint instead of paying a second materialization
    * barrier here. `sets` must be cheap to re-scan (checkpointed/
    * parquet): the banding path (signatures from the text) and both
    * verify join sides each consume it. */
  def candidatePairsFromSets(
      sets: DataFrame,
      numPerm: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      blockCols: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")

    val banded = sets
      .withColumn("sig", textSignature(col("text"), col("sk"), numPerm))
      .select((col("id") +:
        posexplode(bandKeys(col("sig"), bands, rowsPerBand)).as(Seq("band", "key"))
        +: blockCols.map(col)): _*)

    // Bucket-local pair generation (see Buckets.pairs for the oversized-
    // bucket star-candidate semantics). At verify scale (sf0.01) no
    // bucket exceeds maxBucket, so the DuckDB oracle (all-pairs, no
    // cap) matches exactly. `blockCols` (e.g. lang) join the bucket
    // key: near-dups across blocks are out of scope by declaration, and
    // the extra key component splits viral buckets by block — the cheap
    // skew lever before the cap has to act.
    val pairs = Buckets.pairs(banded, blockCols ++ Seq("band", "key"), "id",
      maxBucket = maxBucket)

    def side(s: String) =
      sets.select(col("id").as(s"id_$s"), col("text").as(s"text_$s"), col("sk").as(s"sk_$s"))
    pairs
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b"))
      .withColumn("jaccard",
        sketchJaccard(col("sk_a"), col("text_a"), col("sk_b"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Persistable LSH dedup state (incremental form of §2.11): ONE row
    * per document — (id, sh, bands array<string>) — parquet-storable.
    * Build once per corpus snapshot; daily batches then dedup against
    * it via [[incrementalCandidatePairs]] without touching corpus text
    * (or recomputing 100 TB of signatures) again. Same shingle/
    * signature/band recipe as [[candidatePairs]], so a state built
    * today keys into the same buckets tomorrow. */
  def lshState(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numPerm: Int = 32,
      bands: Int = 8): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(bands * rowsPerBand == numPerm, "bands must divide numPerm")
    df.select(col(idCol).as("id"),
        Text.shingleSet(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", signature(col("sh"), numPerm))
      .select(col("id"), col("sh"),
        bandKeys(col("sig"), bands, rowsPerBand).as("bands"))
  }

  /** Near-duplicate pairs between a NEW batch and an existing corpus
    * state, plus within the batch itself — never corpus × corpus.
    * Batch-internal pairs go through the capped bucket scaffold;
    * batch↔corpus candidates come from an equi-join on (band, key)
    * restricted (left-semi) to buckets the batch actually touches, so
    * per-run cost scales with the batch and its matched buckets, not
    * with the corpus. A degenerate corpus bucket is bounded to its
    * `maxBucket` smallest ids (window over touched buckets only) —
    * the same deterministic bounded-recall trade as the star cap.
    * Batch and corpus ids are expected disjoint; an id in both frames
    * contributes one shingle set (post-restriction dropDuplicates) and
    * never self-pairs. */
  def incrementalCandidatePairs(
      batchState: DataFrame,
      corpusState: DataFrame,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // The batch is small by contract — materialize it once (its
    // signature plan feeds three branches) and BROADCAST everything
    // batch-derived, so every corpus-proportional step below is a
    // streamed scan past a broadcast, never a corpus-wide exchange.
    val bs = batchState.localCheckpoint()
    val bBands = bs
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "key")))
    val batchPairs = Buckets.pairs(bBands, Seq("band", "key"), "id", maxBucket)
    val touched = corpusState
      .select(col("id").as("cid"), posexplode(col("bands")).as(Seq("band", "key")))
      .join(broadcast(bBands.select("band", "key").distinct()),
        Seq("band", "key"), "left_semi")
    // Cap runs on the TOUCHED buckets only (already batch-sized), and
    // like the star cap it is OBSERVED: a corpus bucket overflowing
    // maxBucket drops candidates, so the trip must reach Verify's
    // drain, not pass silently.
    val corpusCapObs = Buckets.registerCapObservation("graft_buckets_corpuscap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key").orderBy("cid")
    val cross = touched
      .withColumn("_rk", row_number().over(w))
      .observe(corpusCapObs,
        sum(when(col("_rk") === maxBucket + 1, 1L).otherwise(0L))
          .as("capped_buckets"),
        sum(when(col("_rk") > maxBucket, 1L).otherwise(0L))
          .as("capped_rows"))
      .filter(col("_rk") <= maxBucket)
      .join(broadcast(bBands), Seq("band", "key"))
      .filter(col("id") =!= col("cid"))
      .select(least(col("id"), col("cid")).as("id_a"),
        greatest(col("id"), col("cid")).as("id_b"))
    // Candidate pairs are batch-proportional; materialize once — they
    // feed both the needed-ids broadcast and the verify joins, and
    // recomputing them would re-run the whole bucket scaffold twice.
    val pairs = batchPairs.select("id_a", "id_b")
      .unionByName(cross).distinct().localCheckpoint()
    // Shingle lookup: semi-restrict the (id, sh) union to pair members
    // before the verify joins — corpus sh arrays for untouched docs are
    // never shuffled (column pruning keeps the two corpus scans narrow:
    // one reads bands, this one reads sh).
    val needed = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // dropDuplicates AFTER the semi-restriction is pair-member-sized
    // (cheap) and makes an id that violates the disjointness contract
    // contribute one shingle set instead of fanning out the joins.
    val sets = bs.select(col("id"), col("sh"))
      .unionByName(corpusState.select(col("id"), col("sh")))
      .join(broadcast(needed), Seq("id"), "left_semi")
      .dropDuplicates("id")
    pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", Text.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT Jaccard-threshold pair join via prefix filtering (Bayardo,
    * Ma, Srikant — "Scaling Up All Pairs Similarity Search", WWW'07;
    * public algorithm): if J(A,B) ≥ t, then in any global canonical
    * order of shingles the first (|A| − ⌈t·|A|⌉ + 1) elements of A
    * must share an element with B's prefix. Candidates therefore come
    * from exploding each set's PREFIX and bucketing on
    * (blockCols, shingle) — cost Σ bucket², never an all-pairs block
    * join — with ZERO recall loss (it's a theorem, not a probability).
    * Canonical order = md5(shingle): deterministic and engine-free.
    *
    * Exactness holds while no prefix-token bucket exceeds `maxBucket`;
    * past the cap a bucket degrades to star candidates (see
    * Buckets.pairs) — a hyper-frequent prefix token inside one block is
    * precisely the degenerate shape that would otherwise go bucket²
    * (the cap triggering is observable via the plan metric).
    *
    * @param sets one row per set: blockCols ++ (idCol: long,
    *             shCol: array<string> pre-distinct shingles). */
  def jaccardPairsExact(
      sets: DataFrame,
      idCol: String,
      shCol: String,
      blockCols: Seq[String],
      threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    val base = sets.select(
      (blockCols.map(col) :+ col(idCol).as("id") :+ col(shCol).as("sh")): _*)
    val canon = array_sort(
      transform(col("sh"), x => struct(md5(x).as("k"), x.as("v"))))
    val prefLen =
      (size(col("sh")) - ceil(lit(threshold) * size(col("sh"))) + 1).cast("int")
    val exploded = base
      .withColumn("_tok",
        explode(transform(slice(canon, lit(1), prefLen), s => s.getField("v"))))
      .select((blockCols.map(col) :+ col("id") :+ col("_tok")): _*)
    val pairs = Buckets.pairs(exploded, blockCols :+ "_tok", "id", maxBucket)
    pairs
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", Text.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Duplicate clusters from candidate pairs: each id mapped to the
    * minimum id of its connected component. Keep-one dedup = keep rows
    * whose id equals their component. */
  def clusters(pairs: DataFrame): DataFrame =
    ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))

  /** LSH band planner (Broder/LSH S-curve, MMDS ch.3): for each target
    * similarity threshold, pick the (bands, rows_per_band) split of a
    * `sigLen`-permutation signature whose curve midpoint
    * s₅₀ = (1/b)^(1/r) sits closest to the target — the knob every
    * 100 TB dedup run has to set, answered declaratively. Also emits
    * the candidate probability AT the target, 1 − (1 − tʳ)ᵇ, so the
    * chosen split's recall at its own operating point is visible.
    * Doubles floor-truncate to 1e-6 on output (the repo's parity
    * discipline); the argmin compares |s₅₀ − t| whose candidate values
    * are far apart relative to pow's 1-ulp wobble, tie-broken by
    * fewer bands. */
  def bandPlan(s: org.apache.spark.sql.SparkSession, sigLen: Int,
      thresholds: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val divisors = (1 to sigLen).filter(sigLen % _ == 0)
    import s.implicits._
    val cand = divisors.toDF("bands")
      .select(col("bands").cast("long").as("bands"),
        (lit(sigLen) / col("bands")).cast("long").as("rows_per_band"))
      .withColumn("s50_raw",
        pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")))
    val w = Window.partitionBy(col("threshold"))
      .orderBy(abs(col("s50_raw") - col("threshold")), col("bands"))
    thresholds.toDF("threshold").crossJoin(cand)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("threshold"), col("bands"), col("rows_per_band"),
        (floor(col("s50_raw") * 1000000).cast("double") / 1000000).as("s50"),
        (floor((lit(1.0) -
            pow(lit(1.0) - pow(col("threshold"), col("rows_per_band")),
              col("bands"))) * 1000000).cast("double") / 1000000)
          .as("p_at_threshold"))
  }
}
