package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => NioFiles, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Benchmark entry point, run from the root of a checkout in two phases:
  *
  *  - `--phase gen`: write the workload's seeded inputs under `--work`
  *    (corpus, ground truth, pipeline config, `gen.json`; with `--trace 1`
  *    on indic_funnel also the query tables);
  *  - `--phase run`: in a fresh JVM, set up, run the cold job and an
  *    untimed warm job, then one job at a time for `--seconds` and at
  *    least [[Runner.MinJobs]] jobs (closed loop, one client), and write
  *    the result object to `--out`. With `--trace 1` the timed loop is
  *    replaced by the traced run, whose spans go to `<work>/spans.jsonl`.
  */
object Main {
  final case class Args(phase: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String)

  val Workloads = Seq("indic_funnel", "crawl_dupskew")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("phase"), get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("work"), kv.getOrElse("out", ""))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.phase match {
      case "gen" => Generate(a)
      case "run" => Runner(a)
      case p => throw new IllegalArgumentException(s"unknown phase $p")
    }
  }
}

/** Input sizes. The pipeline corpora are sized so one job takes a few
  * seconds at 4 cores and a run holds several jobs. The query rows are
  * dominated by per-job fixed cost at any scale, so their tables are small. */
object Sizes {
  val IndicDocs = 4500
  val CrawlDocs = 3400
  val QueryScale = 0.005
}

/** Writes a workload's inputs. The corpus and its ground truth go out as
  * JSON lines (`corpus.jsonl`: doc_id, text, lang, source, url;
  * `truth.jsonl`: doc_id, cluster) that `run.py` converts to
  * parquet, so generating needs no Spark session; only the query tables
  * are written by Spark. */
object Generate {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The shipped per-language config's thresholds (identical across the
    * corpus's languages) with the languages' shipped lexicons. */
  private def config(langs: Seq[String], extra: Map[String, Any]): String = {
    val shipped = langs.map(l => mapper.readTree(new File(s"configs/graft_${l}_config.json")))
    val keys = Seq("min_word_count", "min_mean_word_len", "nsfw_ratio", "non_li_ratio",
      "word_rep_score", "minhash_threshold", "fuzzy_dedup", "lang_col")
    keys.foreach { k =>
      val vs = shipped.map(_.get(k)).distinct
      require(vs.size == 1, s"shipped configs disagree on $k: $vs")
    }
    val base = shipped.head.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    def arr(ls: Seq[String]) = { val n = mapper.createArrayNode(); ls.foreach(n.add); n }
    base.set("nsfw_lexicons", arr(langs))
    base.set("stopword_lexicons", arr(langs))
    base.put("language", langs.mkString("+"))
    extra.foreach {
      case (k, b: Boolean) => base.put(k, b)
      case (k, s: String) => base.put(k, s)
      case (k, v) => throw new IllegalArgumentException(s"$k=$v")
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(base)
  }

  private def lines(path: java.nio.file.Path, ls: Iterator[String]): Unit = {
    val w = NioFiles.newBufferedWriter(path, UTF_8)
    try ls.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def corpus(work: String, docs: Seq[GenDoc]): Seq[(String, String)] = {
    val sorted = docs.sortBy(_.id)
    lines(Paths.get(work, "corpus.jsonl"), sorted.iterator.map(d => Json.obj(Seq(
      "doc_id" -> d.id.toString, "text" -> Json.str(d.text), "lang" -> Json.str(d.lang),
      "source" -> Json.str(d.source), "url" -> Json.str(d.url)))))
    lines(Paths.get(work, "truth.jsonl"), sorted.iterator.map(d =>
      s"""{"doc_id":${d.id},"cluster":${d.cluster}}"""))
    val clusters = docs.groupBy(_.cluster).values.map(_.size)
    val langs = docs.groupBy(_.lang).map { case (l, ds) => l -> ds.size }.toSeq.sorted
    Seq(
      "docs" -> docs.size.toString,
      "input_mb" -> Json.num(docs.map(_.text.getBytes(UTF_8).length.toLong).sum / 1e6),
      "langs" -> Json.obj(langs.map { case (l, n) => l -> n.toString }),
      "planted_clusters" -> clusters.count(_ > 1).toString,
      "planted_docs" -> clusters.filter(_ > 1).sum.toString,
      "largest_cluster" -> clusters.max.toString)
  }

  def apply(a: Main.Args): Unit = {
    def write(name: String, s: String): Unit =
      NioFiles.write(Paths.get(a.work, name), s.getBytes(UTF_8))
    NioFiles.createDirectories(Paths.get(a.work))
    val info = a.workload match {
      case "indic_funnel" =>
        write("config.json", config(CorpusGen.IndicMix.map(_._1), Map.empty))
        val tables =
          if (!a.trace) Nil
          else {
            val spark = Sessions.local(Main.cores)
            spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
            val bytes = new TableGen(spark, a.seed, Sizes.QueryScale).writeAll(s"${a.work}/tables")
            spark.stop()
            Seq("query_scale" -> Json.num(Sizes.QueryScale), "query_tables_mb" -> Json.num(bytes / 1e6))
          }
        corpus(a.work, CorpusGen.indic(a.seed, Sizes.IndicDocs)) ++ tables
      case "crawl_dupskew" =>
        write("config.json", config(Seq("english"), Map("html_input" -> true,
          "dom_extract" -> true, "checkpoint_root" -> s"${a.work}/ckpt")))
        corpus(a.work, CorpusGen.crawl(a.seed, Sizes.CrawlDocs))
    }
    write("gen.json", Json.obj(info))
  }
}

/** Metric names and units, as BENCHMARK.json lists them. */
object Catalog {
  val EndToEnd: Seq[(String, String)] = Seq("job_s" -> "s", "mb_per_s" -> "MB/s",
    "setup_s" -> "s", "heap_after_gc_mb" -> "MB", "peak_storage_mb" -> "MB")

  /** `cold_job_s` is here, not end to end: on a shared 4-core machine it
    * did not repeat within a tenth across runs. */
  def perLayer(queryRows: Seq[String]): Seq[(String, String)] =
    Seq("cold_job_s" -> "s") ++
    Pipelines.StageNames.flatMap(s => Seq(s"pipeline.$s.s" -> "s", s"pipeline.$s.rows_out" -> "count")) ++
      (Pipelines.FlagReasons ++ Seq("dedup_exact", "dedup_fuzzy"))
        .map(r => s"pipeline.removed.$r" -> "count") ++
      Pipelines.Langs.map(l => s"pipeline.kept.$l" -> "count") ++
      Seq("pipeline.planted_recall" -> "ratio", "pipeline.planted_precision" -> "ratio") ++
      (for (e <- Pipelines.Exprs; s <- Pipelines.Scripts) yield s"functions.$e.${s}_mb_s" -> "MB/s") ++
      Seq("ops.minhash.candidates" -> "count", "ops.minhash.verified" -> "count",
        "ops.minhash.verify_ratio" -> "ratio", "ops.minhash.pairs_s" -> "s",
        "ops.buckets.cap_trips" -> "count", "ops.cc.s" -> "s", "ops.cc.clusters" -> "count",
        "ops.cc.largest_cluster" -> "count",
        "sources.read_s" -> "s", "sources.write_s" -> "s", "sources.write_mb" -> "MB",
        "sources.files_written" -> "count",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
        "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
        "spark.driver_gap_s" -> "s", "spark.core_util" -> "ratio") ++
      queryRows.map(q => s"queries.$q.s" -> "s") ++
      Seq("queries.plan_s" -> "s", "trace.overhead_s" -> "s")
}

object Runner {
  private def say(s: String): Unit = println(s"[perfbench] $s")

  /** What a user pays before the first job: session creation, then
    * config and lexicon load. Returns the session and the seconds taken. */
  private def setUp(w: PipelineWorkload): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = Sessions.local(Main.cores)
    w.setup(s)
    (s, (System.nanoTime() - t0) / 1e9)
  }

  private def heapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

  /** Heap in use after full collections, once they stop freeing more:
    * each collection lets Spark's cleaner release the blocks and
    * broadcasts of what it found unreachable, which the next one frees.
    * Collects every 100 ms until two readings agree within 1 MB. */
  private def settledHeapMb(): Double = {
    System.gc()
    var prev = heapMb()
    var settled = false
    var n = 0
    while (!settled && n < 10) {
      Thread.sleep(100)
      System.gc()
      val h = heapMb()
      settled = math.abs(h - prev) < 1.0
      prev = h
      n += 1
    }
    prev
  }

  /** One job's wall time, settled heap after it, and peak stored blocks. */
  final case class JobFigures(seconds: Double, heapMb: Double, storageMb: Double)

  def apply(a: Main.Args): Unit = {
    val gen = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(s"${a.work}/gen.json"))
    val inputMb = gen.get("input_mb").asDouble
    val w = new PipelineWorkload(a.work, staged = a.workload == "crawl_dupskew")
    // cold: the first thing Spark does in this fresh JVM
    val (spark, setupS) = setUp(w)
    val probe = new SparkProbe(spark.sparkContext, Main.cores)
    var outcome = Outcome(0, 0)
    // After every job (untimed) the heap is read once Spark's cleaner has
    // freed what the program dropped: what the program keeps live after
    // a job. Only then does the harness drop whatever the job left in the
    // session, so no job's leftovers slow the next. The peak of the
    // program's stored blocks during the job is its working set.
    def timedJob(i: Int): JobFigures = {
      probe.resetStoragePeak()
      val (dt, o) = w.job(spark, i)
      outcome += o
      val peak = probe.storagePeakMb()
      val f = JobFigures(dt, settledHeapMb(), peak)
      graft.ops.Checkpoints.sweepAll(spark)
      System.err.println(f"[perfbench] job $i: ${f.seconds}%.3f s, heap after GC ${f.heapMb}%.1f MB, " +
        f"peak storage ${f.storageMb}%.2f MB")
      w.cleanup(i)
      f
    }

    val cold = timedJob(0).seconds
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) {
        val tracer = new Tracer(() => probe.snapshot())
        val (m, o) = w.traced(spark, tracer, probe, a.seed)
        outcome += o
        NioFiles.write(Paths.get(a.work, "spans.jsonl"),
          tracer.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
        val rows = graft.SparkEntry.benchQueries.map(_.name)
        val all = m + ("cold_job_s" -> cold)
        Catalog.perLayer(rows).map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      } else {
        // the first warm job still runs partly interpreted code; it is
        // checked but not timed
        (1 to Runner.WarmJobs).foreach(timedJob)
        val figs = ArrayBuffer[JobFigures]()
        val loopStart = System.nanoTime()
        while (figs.size < Runner.MinJobs || (System.nanoTime() - loopStart) / 1e9 < a.seconds)
          figs += timedJob(figs.size + 1 + Runner.WarmJobs)
        val jobs = figs.map(_.seconds).toSeq
        val jobS = Stats.median(jobs)
        val values = Map("job_s" -> jobS, "mb_per_s" -> inputMb / jobS,
          "setup_s" -> setupS, "heap_after_gc_mb" -> Stats.median(figs.map(_.heapMb).toSeq),
          "peak_storage_mb" -> Stats.median(figs.map(_.storageMb).toSeq))
        say(s"${a.workload} seed=${a.seed}: job_s ${Stats.summarize(jobs).describe("s")}")
        say(f"cold_job_s $cold%.6f s (first job in this JVM; a per-layer metric)")
        Catalog.EndToEnd.map { case (k, u) => (k, values(k), u) }
      }
    spark.stop()

    val errorRate = if (outcome.attempted > 0) outcome.failed.toDouble / outcome.attempted else 1.0
    metrics.foreach { case (k, v, u) => say(f"$k%-40s $v%.6f $u") }
    say(f"${"error_rate"}%-40s $errorRate%.6f ratio (${outcome.failed}/${outcome.attempted})")
    say(s"input: ${gen.toString}")
    val result = Json.obj(Seq(
      "correct" -> (outcome.failed == 0 && outcome.attempted > 0).toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    NioFiles.write(Paths.get(a.out), (result + "\n").getBytes(UTF_8))
  }

  /** Untimed warm jobs after the cold one. */
  val WarmJobs = 1
  /** Fewest timed jobs a run reports a median over. */
  val MinJobs = 2
}
