package perfbench

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Buckets, Flagging, MinHash, Text}
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.sources.{DocSources, LangData}

/** A benchmark workload: `Pipeline.runAndWrite` over a generated corpus,
  * driven through the engine's public API only. `staged` runs carry a
  * `checkpoint_root` (parquet between stages); the others run fused.
  * `setup` is what a user pays before the first job: configuration and
  * lexicon load. */
final class PipelineWorkload(work: String, staged: Boolean) {
  private val input = s"$work/input"
  private var cfg: PipelineConfig = _

  private def out(i: Int) = s"$work/out/job$i"
  private def ckpt(i: Int) = s"$work/ckpt/job$i"
  private def config(i: Int): PipelineConfig =
    if (staged) cfg.copy(checkpointRoot = Some(ckpt(i))) else cfg.copy(checkpointRoot = None)

  def setup(spark: SparkSession): Unit =
    cfg = PipelineConfig.fromJsonFile(s"$work/config.json")

  private def run(spark: SparkSession, i: Int): Long =
    new Pipeline(spark, config(i)).runAndWrite(spark.read.parquet(input), out(i))

  /** Job `i`: its wall time (the program call only) and, checked after
    * the clock stops, its outcome. */
  def job(spark: SparkSession, i: Int): (Double, Outcome) = {
    val t0 = System.nanoTime()
    val n = Try(run(spark, i))
    val dt = (System.nanoTime() - t0) / 1e9
    val ok = n match {
      case Success(rows) =>
        Try(check(spark, out(i), rows)).recover { case NonFatal(e) =>
          System.err.println(s"[perfbench] job $i output check threw: $e")
          false
        }.get
      case Failure(e) =>
        System.err.println(s"[perfbench] job $i failed: $e")
        false
    }
    (dt, Outcome(1, if (ok) 0 else 1))
  }

  /** Survivors are input documents, carry no flag, are absent from the
    * removed side channel, and no two share md5(text). */
  private def check(spark: SparkSession, dir: String, n: Long): Boolean = {
    // one pass: doc_id is unique in the input and in the side channel, so
    // the left joins add no rows
    val ids = spark.read.parquet(input).select(col("doc_id"), lit(1).as("_in"))
    val removed = spark.read.parquet(dir + "_removed").select(col("doc_id"), lit(1).as("_rm"))
    val r = spark.read.parquet(dir)
      .join(ids, Seq("doc_id"), "left").join(removed, Seq("doc_id"), "left")
      .agg(count(lit(1)), countDistinct(md5(col("text"))),
        count(when(Flagging.anyFlag, 1)), count(when(col("_in").isNull, 1)), count(col("_rm")))
      .head()
    val Seq(rows, distinct, flagged, foreign, both) = (0 until 5).map(r.getLong)
    val ok = rows == n && distinct == n && flagged == 0L && foreign == 0L && both == 0L
    if (!ok) System.err.println(s"[perfbench] output check failed in $dir: rows=$rows " +
      s"returned=$n distinct_md5=$distinct flagged=$flagged " +
      s"not_in_input=$foreign also_removed=$both")
    ok
  }

  /** Delete job `i`'s outputs (untimed). */
  def cleanup(i: Int): Unit =
    Seq(out(i), out(i) + "_removed", ckpt(i)).foreach(p => Files.delete(new java.io.File(p)))

  private def digest(df: DataFrame): String =
    Digest.ofRows(df.select(col("doc_id"), md5(col("text"))).collect().toSeq)

  /** The traced run: one untraced program run, then the same work stage
    * by stage under spans, the fuzzy stage's operators one by one, the
    * expression throughput table and, when the inputs include tables,
    * the query rows. Returns every per-layer metric it measured and the
    * outcome of its checks. */
  def traced(spark: SparkSession, tracer: Tracer, probe: SparkProbe,
      seed: Long): (Map[String, Double], Outcome) = {
    // the program run whose output the stage-by-stage evaluation must
    // reproduce; its wall time is the untraced side of trace.overhead_s
    val refIdx = 10000
    val (untracedS, refOk) = job(spark, refIdx)
    val refDigest = digest(spark.read.parquet(out(refIdx)))
    cleanup(refIdx)
    // the stage-by-stage run's cap trips are counted from zero
    Buckets.drainCapCounts()

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val tdir = s"$work/traced"
    val c = if (staged) cfg.copy(checkpointRoot = Some(s"$tdir/ckpt")) else cfg.copy(checkpointRoot = None)
    val pipeline = new Pipeline(spark, c)
    var statsOut: DataFrame = null
    var flagOut: DataFrame = null
    var exactOut: DataFrame = null

    tracer.newTrace()
    val before = probe.snapshot()
    val fromMs = System.currentTimeMillis()
    val finalDf = tracer.span("job") {
      var df = tracer.span("sources.read") { spark.read.parquet(input).localCheckpoint() }
      pipeline.stages.foreach { st =>
        df = tracer.span(s"pipeline.${st.name}") {
          val o = st(df).localCheckpoint()
          rows(st.name) = o.count()
          if (!staged) o
          else {
            val path = s"$tdir/ckpt/${st.name}"
            tracer.span("sources.write") { DocSources.writeParquet(o, path) }
            tracer.span("sources.read") {
              val back = spark.read.parquet(path)
              back.write.mode("overwrite").format("noop").save()
              back
            }
          }
        }
        st.name match {
          case "stats" => statsOut = df
          case "flag_remove" => flagOut = df
          case "dedup_exact" => exactOut = df
          case _ =>
        }
      }
      tracer.span("pipeline.write") {
        rows("write") = df.count()
        tracer.span("sources.write") {
          DocSources.writeParquet(Flagging.addFlags(statsOut, c.flags).filter(Flagging.anyFlag),
            s"$tdir/out_removed")
          DocSources.writePartitioned(df, s"$tdir/out", c.langCol)
        }
      }
      df
    }
    m ++= probe.window(before, fromMs)
    val stagedDigest = digest(finalDf)
    val digestOk = stagedDigest == refDigest
    if (!digestOk) System.err.println(
      s"[perfbench] program output digest $refDigest != stage-by-stage digest $stagedDigest")
    // the star-cap trips of the dedup_fuzzy stage above, with the LSH
    // parameters the program itself chose
    val (caps, unreported) = Buckets.drainCapCounts()
    if (unreported.nonEmpty) System.err.println(
      s"[perfbench] cap observations that never reported: ${unreported.mkString(", ")}")
    m("ops.buckets.cap_trips") = caps.values.sum.toDouble

    Pipelines.StageNames.foreach { s =>
      m(s"pipeline.$s.s") = if (s == "write") tracer.seconds("pipeline.write")
        else tracer.seconds(s"pipeline.$s", self = true)
      m(s"pipeline.$s.rows_out") = rows.getOrElse(s, 0L).toDouble
    }
    m("sources.read_s") = tracer.seconds("sources.read")
    m("sources.write_s") = tracer.seconds("sources.write")
    m("sources.write_mb") = Files.bytesUnder(new java.io.File(tdir)) / 1e6
    m("sources.files_written") = Files.partFiles(new java.io.File(tdir)).toDouble

    // quality counts
    val flagged = Flagging.addFlags(statsOut, c.flags)
    Pipelines.FlagReasons.foreach { f =>
      m(s"pipeline.removed.$f") = flagged.filter(col(f)).count().toDouble
    }
    m("pipeline.removed.dedup_exact") = (rows("flag_remove") - rows("dedup_exact")).toDouble
    m("pipeline.removed.dedup_fuzzy") =
      (rows("dedup_exact") - rows.getOrElse("dedup_fuzzy", rows("dedup_exact"))).toDouble
    val kept = finalDf.groupBy(c.langCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Pipelines.Langs.foreach(l => m(s"pipeline.kept.$l") = kept.getOrElse(l, 0L).toDouble)
    val (recall, precision) = planted(spark, flagOut, finalDf)
    m("pipeline.planted_recall") = recall
    m("pipeline.planted_precision") = precision

    m("trace.overhead_s") = tracer.seconds("job") - untracedS

    m ++= opsLayer(tracer, exactOut, c)
    m ++= functionsLayer(spark, tracer, c)
    Files.delete(new java.io.File(tdir))
    val tables = new java.io.File(s"$work/tables")
    val queries =
      if (!tables.isDirectory) Outcome(0, 0)
      else {
        val (qm, qo) = QueryLayer.traced(spark, tracer, tables.getPath, seed)
        m ++= qm
        qo
      }
    (m.toMap, refOk + Outcome(1, if (digestOk) 0 else 1) + queries)
  }

  /** Recall and precision of dedup (exact and fuzzy together) against the
    * planted clusters, over documents that passed the flags: a cluster
    * with m such members owes m-1 removals. */
  private def planted(spark: SparkSession, passed: DataFrame, kept: DataFrame): (Double, Double) = {
    val truth = spark.read.parquet(s"$work/truth").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val passedIds = passed.select("doc_id").collect().map(_.getLong(0))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val byCluster = passedIds.groupBy(truth)
    val owed = byCluster.values.map(_.length - 1).sum
    val removedIds = passedIds.filterNot(keptIds)
    val found = byCluster.values.map(ids => math.min(ids.count(i => !keptIds(i)), ids.length - 1)).sum
    val planted = removedIds.count(i => byCluster(truth(i)).length > 1)
    (if (owed > 0) found.toDouble / owed else 0.0,
      if (removedIds.nonEmpty) planted.toDouble / removedIds.length else 0.0)
  }

  /** The fuzzy stage's operators, called one by one on the exact-dedup
    * output through the same `MinHash` entry point and LSH defaults as
    * the staged stage. Candidates are the pairs its verify step sees:
    * the same call with threshold 0 keeps every one of them. */
  private def opsLayer(tracer: Tracer, exactOut: DataFrame,
      c: PipelineConfig): Map[String, Double] = {
    tracer.newTrace()
    def pairs(threshold: Double) = MinHash.candidatePairs(exactOut, "doc_id", "text",
      threshold = threshold)
    val candidates = pairs(0.0).count()
    val verified = tracer.span("ops.minhash.pairs") { pairs(c.minhashThreshold).localCheckpoint() }
    val nVerified = verified.count()
    val cc = tracer.span("ops.cc") { MinHash.clusters(verified).localCheckpoint() }
    val sizes = cc.groupBy("component").count().agg(count(lit(1)), coalesce(max("count"), lit(0L)))
      .head()
    Map(
      "ops.minhash.candidates" -> candidates.toDouble,
      "ops.minhash.verified" -> nVerified.toDouble,
      "ops.minhash.verify_ratio" -> (if (candidates > 0) nVerified.toDouble / candidates else 0.0),
      "ops.minhash.pairs_s" -> tracer.seconds("ops.minhash.pairs"),
      "ops.cc.s" -> tracer.seconds("ops.cc"),
      "ops.cc.clusters" -> sizes.getLong(0).toDouble,
      "ops.cc.largest_cluster" -> sizes.getLong(1).toDouble)
  }

  /** Throughput of each text expression over cached input, per script:
    * input text MB divided by the median of three noop-sink passes. */
  private def functionsLayer(spark: SparkSession, tracer: Tracer,
      c: PipelineConfig): Map[String, Double] = {
    tracer.newTrace()
    val scriptOf = udf((code: String) => LangData.byIso1.get(code).map(_.script).getOrElse("latin"))
    val docs = spark.read.parquet(input).withColumn("script", scriptOf(col(c.langCol)))
    val present = docs.select("script").distinct().collect().map(_.getString(0)).toSet
    val exprs: Seq[(String, DataFrame => DataFrame)] = Pipelines.Exprs.zip(Seq[DataFrame => DataFrame](
      d => d.select(GraftFunctions.indicNormalize(col("text"), col(c.langCol))),
      d => d.select(Text.normalizeWs(col("text"))),
      d => d.select(GraftFunctions.keywordCount(col("text"), c.keywords)),
      d => d.select(Text.charClassOutRatio(col("text"), "[a-z ]")),
      d => d.select(GraftFunctions.wordNgramRep(col("toks"), 5)),
      d => d.select(Text.shingleSet(col("text"), 3)),
      d => d.select(MinHash.signature(col("sh"), 32)),
      d => d.select(GraftFunctions.domBlocks(col("text")))))
    Pipelines.Scripts.flatMap { script =>
      if (!present(script)) exprs.map { case (e, _) => s"functions.$e.${script}_mb_s" -> 0.0 }
      else {
        val cached = docs.filter(col("script") === script).limit(Pipelines.FunctionDocs)
          .select(col("text"), col(c.langCol),
            Text.trivialTokenizeBy(col("text"), col(c.langCol)).as("toks"),
            Text.shingleSet(col("text"), 3).as("sh"))
          .cache()
        val mb = cached.agg(sum(octet_length(col("text")))).head().getLong(0) / 1e6
        val res = exprs.map { case (e, f) =>
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            tracer.span(s"functions.$e") { f(cached).write.mode("overwrite").format("noop").save() }
            (System.nanoTime() - t0) / 1e9
          }
          s"functions.$e.${script}_mb_s" -> mb / Stats.median(ts)
        }
        cached.unpersist(blocking = true)
        res
      }
    }.toMap
  }
}

object Pipelines {
  val StageNames = Seq("extract", "clean", "stats", "flag_remove", "dedup_exact", "dedup_fuzzy", "write")
  val FlagReasons = Seq("has_less_words", "is_short_words_heavy", "is_nsfw_heavy",
    "is_non_li_heavy", "has_word_repetition")
  val Langs = Seq("en", "hi", "bn", "ta")
  val Scripts = Seq("latin", "devanagari", "bengali", "tamil")
  val Exprs = Seq("indicNormalize", "Text.normalizeWs", "keywordCount", "charClassOutRatio",
    "wordNgramRep", "shingleSet", "MinHash.signature", "domBlocks")
  val FunctionDocs = 400
}
