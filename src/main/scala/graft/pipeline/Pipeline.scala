package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Flagging, MinHash, Text}
import graft.sources.DocSources

/** The end-to-end corpus pipeline (SURVEY §3): clean → analyse → flag →
  * remove → dedup → partitioned write, mirroring the reference's
  * TextExtraction → CleanAnalysis → FlagAndRemove → dedup component
  * order — but as ONE Catalyst plan per run by default. The reference
  * materializes parquet between every stage (lineage cut at each
  * boundary, SURVEY §3.6); here checkpointing is opt-in per stage via
  * `checkpointRoot`, which a 100 TB run uses only where re-use or
  * failure isolation demands it.
  */
final case class PipelineConfig(
    keywords: Seq[String] = Seq("slow", "dup", "hash join"),
    stopwords: Seq[String] = Seq("the", "a"),
    flags: Flagging.Config = Flagging.Config(),
    minhashThreshold: Double = 0.5,
    fuzzyDedup: Boolean = true,
    keepBestInCluster: Boolean = false,
    htmlInput: Boolean = false,
    domExtract: Boolean = false,
    langCol: String = "lang",
    redact: Boolean = false,
    redactMask: String = "[*]",
    checkpointRoot: Option[String] = None)

object PipelineConfig {
  import scala.jdk.CollectionConverters._

  /** Parse from a JSON config file (reference: per-language JSON configs,
    * setu/main.py:131-151). Unknown keys ignored; absent keys default. */
  def fromJsonFile(path: String): PipelineConfig = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    def str(k: String, d: String) = if (root.has(k)) root.get(k).asText else d
    def dbl(k: String, d: Double) = if (root.has(k)) root.get(k).asDouble else d
    def int(k: String, d: Int) = if (root.has(k)) root.get(k).asInt else d
    def bool(k: String, d: Boolean) = if (root.has(k)) root.get(k).asBoolean else d
    def strList(k: String): Option[Seq[String]] =
      if (root.has(k)) Some(root.get(k).elements().asScala.map(_.asText).toSeq)
      else None
    // Keyword sources, in precedence order: explicit inline list, then
    // shipped per-language lexicons (the reference's filter_data files).
    // Language spellings canonicalize through the shipped mapping
    // (F27 generalized): a reference-shaped config may say "urd" or
    // "ur" where the lexicon files are keyed "urdu".
    def canon(ls: Seq[String]): Seq[String] =
      ls.map(l => graft.sources.LangData.canonicalName(l).getOrElse(l))
    val kws = strList("keywords")
      .orElse(strList("nsfw_lexicons")
        .map(ls => graft.sources.Lexicons.nsfwUnion(canon(ls))))
      .getOrElse(Seq("slow", "dup", "hash join"))
    val stops = strList("stopwords")
      .orElse(strList("stopword_lexicons")
        .map(ls => graft.sources.Lexicons.stopwordUnion(canon(ls))))
      .getOrElse(Seq("the", "a"))
    PipelineConfig(
      keywords = kws,
      stopwords = stops,
      flags = Flagging.Config(
        minWordCount = int("min_word_count", 60),
        minMeanWordLen = dbl("min_mean_word_len", 3.2),
        nsfwRatio = dbl("nsfw_ratio", 0.04),
        nonLiRatio = dbl("non_li_ratio", 0.05),
        wordRepScore = dbl("word_rep_score", 0.10)),
      minhashThreshold = dbl("minhash_threshold", 0.5),
      fuzzyDedup = bool("fuzzy_dedup", true),
      keepBestInCluster = bool("keep_best_in_cluster", false),
      htmlInput = bool("html_input", false),
      domExtract = bool("dom_extract", false),
      langCol = str("lang_col", "lang"),
      redact = bool("redact", false),
      redactMask = str("redact_mask", "[*]"),
      checkpointRoot =
        if (root.has("checkpoint_root")) Some(root.get("checkpoint_root").asText) else None)
  }

  /** The shipped per-language config (the reference's
    * configs/crawls/spark_<lang>_config.json analog). Accepts any
    * language spelling the mapping resource knows (name/iso1/iso3). */
  def forLanguage(lang: String, configsDir: String = "configs"): PipelineConfig = {
    val name = graft.sources.LangData.canonicalName(lang).getOrElse(lang)
    fromJsonFile(s"$configsDir/graft_${name}_config.json")
  }
}

/** A pipeline stage: named DataFrame transform (the reference's
  * SetuStage surface, setu/base.py:105-143). */
trait Stage extends Serializable {
  def name: String
  def apply(df: DataFrame): DataFrame
}

class Pipeline(spark: SparkSession, cfg: PipelineConfig) {
  import spark.implicits._

  /** Extract (reference TextExtractionStage): HTML chrome stripped to
    * text lines before cleaning. Opt-in — parquet corpora arrive
    * already extracted. Two engines: the flat regex chain (the
    * reference-parity default) and, with `cfg.domExtract`, the
    * nesting-aware block-tree extractor ([[graft.ops.HtmlDom]]) —
    * chrome subtrees dropped by STRUCTURE, then the d_dom_extract keep
    * rule (block length ≥ 25, link density ≤ 0.2) and newline
    * reassembly in document order. Same single projection either way
    * (the parser is a per-row expression; no joins, no shuffle). */
  object ExtractStage extends Stage {
    val name = "extract"
    def apply(df: DataFrame): DataFrame =
      if (cfg.domExtract) {
        val bs = GraftFunctions.domBlocks($"text")
        val kept = filter(bs, b =>
          !b.getField("chrome") &&
            length(b.getField("text")) >= 25 &&
            b.getField("link_chars").cast("double") /
              length(b.getField("text")) <= 0.2)
        // blocks are emitted in document order — no re-sort needed
        df.withColumn("text",
          array_join(transform(kept, b => b.getField("text")), "\n"))
      } else df.withColumn("text", graft.ops.Text.extractHtmlText($"text"))
  }

  /** Clean: per-language Indic normalization (F11 full — script rules +
    * NFKC, routed by the language column when present) followed by
    * whitespace-collapse/lowercase (DocClean analog). */
  object CleanStage extends Stage {
    val name = "clean"
    def apply(df: DataFrame): DataFrame = {
      val normalized =
        if (df.columns.contains(cfg.langCol))
          GraftFunctions.indicNormalize($"text", col(cfg.langCol))
        else GraftFunctions.normalizeUnicode($"text")
      df.withColumn("text", Text.normalizeWs(normalized))
    }
  }

  /** Analyse: append doc stats (Analysis analog — one projection, no
    * joins of aggregates). */
  object StatsStage extends Stage {
    val name = "stats"
    def apply(df: DataFrame): DataFrame = {
      val toks = Text.tokens($"text")
      df
        .withColumn("words_count", Text.wordCount($"text").cast("long"))
        .withColumn("char_count", Text.charCount($"text").cast("long"))
        .withColumn("bytes", Text.byteCount($"text").cast("long"))
        // sum of token lengths == char_count − (n_tokens − 1), EXACTLY:
        // tokens is a literal single-space split, so every non-space
        // char lands in exactly one token and each of the n−1 consumed
        // separators is one char. Same integers ⇒ same double division
        // bits as the HOF fold the oracle replays — but as plain
        // codegen'd arithmetic: the `aggregate` HOF here was the one
        // non-codegen expression in the collapsed stats Project,
        // dropping the WHOLE funnel projection to interpreted eval
        // (r14 stack samples showed SimpleHigherOrderFunction.eval
        // framing every per-row expression).
        .withColumn("mean_word_len",
          (length($"text").cast("long") - (size(toks).cast("long") - 1L))
            .cast("double") / size(toks))
        .withColumn("nsfw_ratio",
          GraftFunctions.keywordCount($"text", cfg.keywords).cast("double") /
            size(toks))
        .withColumn("non_li_ratio", Text.charClassOutRatio($"text", "[a-z ]"))
        .withColumn("stopword_ratio",
          GraftFunctions.keywordCount($"text", cfg.stopwords).cast("double") /
            size(toks))
        // repetition tokenizes punct-aware (trivial_tokenize, F18
        // parity), routed per-row by the language column like CleanStage
        // routes normalization; the count stats above keep the
        // reference's single-space word-count rule
        .withColumn("word_rep_score",
          GraftFunctions.wordNgramRep(
            if (df.columns.contains(cfg.langCol))
              Text.trivialTokenizeBy($"text", col(cfg.langCol))
            else Text.trivialTokenize($"text"), 5))
    }
  }

  /** Flag + remove (FlagAndRemove analog). */
  object FlagRemoveStage extends Stage {
    val name = "flag_remove"
    def apply(df: DataFrame): DataFrame =
      Flagging.removeFlagged(Flagging.addFlags(df, cfg.flags))
  }

  /** Exact dedup on normalized content hash (keep min id per hash). */
  object ExactDedupStage extends Stage {
    val name = "dedup_exact"
    def apply(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5($"text")).orderBy($"doc_id")
      df.withColumn("_rn", row_number().over(w))
        .filter($"_rn" === 1).drop("_rn")
    }
  }

  /** Fuzzy dedup: MinHash-LSH clusters; keep the component minimum by
    * default, or (keepBestInCluster) the cluster's best member by the
    * StatsStage words_count — the canonical-representative rule of
    * dd_cluster_representatives, with (quality desc, id asc) as the
    * deterministic total order. The quality argmax windows per
    * component, so state per task stays bounded at any corpus size. */
  object FuzzyDedupStage extends Stage {
    val name = "dedup_fuzzy"
    def apply(df: DataFrame): DataFrame = {
      // Materialize the stage input once (fused mode only): both the
      // pair generation (via CC's edge checkpoint) and the final
      // anti-join consume `df`, and without this the whole upstream
      // clean→stats→flag→window chain executes TWICE per run. Under
      // checkpointRoot the input is already a parquet re-read.
      // The ONE checkpoint also carries the shingle sketch (`_sk`, 4 B
      // per shingle beside the text it indexes), so MinHash's pair build
      // reads it instead of paying its own second materialization
      // barrier; `_sk` is dropped before the stage returns, so the
      // output schema is unchanged.
      val mat0 =
        if (cfg.checkpointRoot.isEmpty)
          df.withColumn("_sk", MinHash.sketch($"text", 3)).localCheckpoint()
        else df
      val mat = if (cfg.checkpointRoot.isEmpty) mat0.drop("_sk") else mat0
      val pairs =
        if (cfg.checkpointRoot.isEmpty)
          MinHash.candidatePairsFromSets(
            mat0.select($"doc_id".as("id"), $"text", $"_sk".as("sk"))
              .filter(org.apache.spark.sql.functions.size($"sk") > 0),
            threshold = cfg.minhashThreshold)
        else MinHash.candidatePairs(mat, "doc_id", "text",
          threshold = cfg.minhashThreshold)
      val clusters = MinHash.clusters(pairs)
      val drop =
        if (cfg.keepBestInCluster) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy($"component").orderBy($"words_count".desc, $"id")
          clusters
            .join(mat.select($"doc_id".as("id"), $"words_count"), Seq("id"))
            .withColumn("_rk", row_number().over(w))
            .filter($"_rk" =!= 1)
            .select($"id".as("doc_id"))
        } else
          clusters.filter($"id" =!= $"component").select($"id".as("doc_id"))
      mat.join(drop, Seq("doc_id"), "left_anti")
    }
  }

  /** Opt-in keyword redaction over SURVIVING docs (reference has no
    * analog — engine addition): below-threshold documents may still
    * carry isolated lexicon hits; masking keeps the document while
    * removing the terms. Runs LAST so flag ratios and both dedup
    * passes see the original text (redacting earlier would zero the
    * nsfw signal and perturb content hashes). One automaton pass per
    * row — same trie as the stats stage. */
  object RedactStage extends Stage {
    val name = "redact"
    def apply(df: DataFrame): DataFrame =
      df.withColumn("text",
        GraftFunctions.keywordRedact($"text", cfg.keywords, cfg.redactMask))
  }

  def stages: Seq[Stage] =
    (if (cfg.htmlInput) Seq(ExtractStage) else Nil) ++
      Seq(CleanStage, StatsStage, FlagRemoveStage, ExactDedupStage) ++
      (if (cfg.fuzzyDedup) Seq(FuzzyDedupStage) else Nil) ++
      (if (cfg.redact) Seq(RedactStage) else Nil)

  private def applyStages(input: DataFrame, sts: Seq[Stage]): DataFrame =
    sts.foldLeft(input) { (df, st) =>
      val out = st(df)
      cfg.checkpointRoot match {
        case Some(root) =>
          val path = s"$root/${st.name}"
          DocSources.writeParquet(out, path)
          spark.read.parquet(path)
        case None => out
      }
    }

  /** Run all stages. With `checkpointRoot` set, each stage materializes
    * to parquet and the next re-reads (the reference's semantics);
    * otherwise one fused plan.
    *
    * Deliberately NOT fanned out to scheduler width on under-split
    * inputs: an r14 A/B (Tables.fanOutScan here) cut the funnel stage's
    * wall 925 → 314 ms but the added exchange + AQE stage cost more
    * than that (row total 2.42 → 2.73 s). The funnel's per-row work is
    * allocation-bound and scales ~3×, not 32×, across cores — the
    * honest lever is per-row allocation, not partitioning. */
  def run(input: DataFrame): DataFrame = applyStages(input, stages)

  /** Run + write the final corpus partitioned by language (S9), with
    * the removed/flagged docs to a side channel (S10/S11 semantics:
    * filtered-out rows are data too — audits and threshold tuning read
    * them back).
    *
    * Single-scan design: clean+stats+flags are computed ONCE and
    * materialized (localCheckpoint); the `_removed` side channel and
    * the survivor pipeline both read the materialized frame, and the
    * final count rides the corpus write via `observe` — the input is
    * scanned exactly once per run and the output is never re-read. */
  def runAndWrite(input: DataFrame, outPath: String,
      sideChannel: Boolean = true): Long = {
    val dedupStages =
      Seq(ExactDedupStage) ++
        (if (cfg.fuzzyDedup) Seq(FuzzyDedupStage) else Nil) ++
        (if (cfg.redact) Seq(RedactStage) else Nil)
    val (deduped, flaggedSrc) = cfg.checkpointRoot match {
      case Some(root) =>
        // reference semantics: every named stage materializes; the side
        // channel re-reads the STATS checkpoint, never the raw input
        val out = run(input)
        (out, Flagging.addFlags(spark.read.parquet(s"$root/${StatsStage.name}"),
          cfg.flags))
      case None =>
        val withFlags0 = Flagging.addFlags(
          applyStages(input, Seq(CleanStage, StatsStage)), cfg.flags)
        val withFlags =
          if (sideChannel) withFlags0.localCheckpoint() else withFlags0
        (applyStages(Flagging.removeFlagged(withFlags), dedupStages), withFlags)
    }
    if (sideChannel)
      DocSources.writeParquet(flaggedSrc.filter(Flagging.anyFlag),
        outPath + "_removed")
    val obs = org.apache.spark.sql.Observation("pipeline")
    DocSources.writePartitioned(
      deduped.observe(obs, count(lit(1)).as("n_docs")),
      outPath, cfg.langCol)
    obs.get("n_docs").asInstanceOf[Long]
  }
}

/** CLI entry (the reference's spark-submit run.py surface):
  * args: <inputParquet> <outputPath> [configJson]. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <inputParquet> <outputPath> [configJson]")
    val spark = graft.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val cfg = if (args.length > 2) PipelineConfig.fromJsonFile(args(2))
    else PipelineConfig()
    val n = new Pipeline(spark, cfg)
      .runAndWrite(spark.read.parquet(args(0)), args(1))
    println(s"[pipeline] wrote $n docs to ${args(1)}")
    spark.stop()
  }
}
