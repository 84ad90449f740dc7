package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Codegen ≡ interpreted fuzz over the custom expression surface: every
  * `graft_*` SQL function (and the Column-DSL vector expressions) runs
  * the SAME generated adversarial inputs under forced codegen
  * (factoryMode=CODEGEN_ONLY, fallback=false) and forced interpretation
  * (factoryMode=NO_CODEGEN, wholeStage=false); the two result sets must
  * be identical. The hand vectors in ExpressionsSpec pin SEMANTICS on
  * chosen inputs; this sweep pins the two IMPLEMENTATIONS of each
  * expression to each other on inputs nobody chose — mixed scripts,
  * delimiter runs, mojibake bytes, empty strings, nulls, whitespace
  * storms — exactly where hand-written doGenCode tends to diverge from
  * its eval() twin (escaping, null-in/null-out, off-by-one loops).
  *
  * Input rows come from a parquet round-trip, NOT a LocalRelation: the
  * optimizer folds deterministic projections over LocalRelation at
  * plan time (ConvertToLocalRelation), which would silently bypass
  * codegen and make the sweep vacuous. */
class ExpressionFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val pieces = Seq(
    "a", "ab", "word", "x1", "2", "42", "कखग", "हिं", "اردو", "کیا",
    ".", "!", "?", "।", "॥", "؟", "۔", "|", ",", ";",
    "\n", "\t", " ", "  ", "—", "…", "ﬁ", "Ã©", "â€™", "naïve", "", "slow",
    "dup")
  private val pieceGen: Gen[String] = Gen.oneOf(pieces)
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 24)
    ps <- Gen.listOfN(n, pieceGen)
    sep <- Gen.oneOf("", " ")
  } yield ps.mkString(sep)
  private case class Row3(t: Option[String], u: String, arr: Seq[String],
      vec: Seq[Float])
  private val rowGen: Gen[Row3] = for {
    t <- Gen.frequency((12, textGen.map(Some(_))), (1, Gen.const(None)))
    u <- textGen
    an <- Gen.choose(0, 12)
    arr <- Gen.listOfN(an, pieceGen)
    // fixed dim 6: HyperplaneBits require()s vector dim == plane dim
    vec <- Gen.listOfN(6, Gen.choose(-4.0f, 4.0f))
  } yield Row3(t, u, arr, vec)

  private lazy val fuzzPath: String = {
    import spark.implicits._
    val rows = Gen.listOfN(220, rowGen)
      .apply(Gen.Parameters.default, Seed(19137L))
      .getOrElse(fail("generator exhausted"))
      .map(r => (r.t.orNull, r.u, r.arr, r.vec))
    val d = java.nio.file.Files.createTempDirectory("graft-exprfuzz").toFile
    d.deleteOnExit()
    val p = s"${d.getAbsolutePath}/rows.parquet"
    rows.toDF("t", "u", "arr", "vec").coalesce(1)
      .write.mode("overwrite").parquet(p)
    p
  }

  /** Collect the projection under explicit codegen / interpreted modes. */
  private def collectWith(mode: Map[String, String])(df: => DataFrame): Seq[String] = {
    val prev = mode.keys.map(k => k -> spark.conf.getOption(k)).toMap
    mode.foreach { case (k, v) => spark.conf.set(k, v) }
    try df.collect().map(_.toString).toSeq
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
  private val CodegenOnly = Map(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.wholeStage" -> "true")
  private val Interpreted = Map(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.fallback" -> "true",
    "spark.sql.codegen.wholeStage" -> "false")

  private def assertModesAgree(sql: String): Unit = {
    graft.functions.GraftFunctions.registerSql(spark)
    def df = {
      spark.read.parquet(fuzzPath).createOrReplaceTempView("fuzz")
      spark.sql(sql)
    }
    val gen = collectWith(CodegenOnly)(df)
    val int = collectWith(Interpreted)(df)
    assert(gen.size == int.size, s"row counts diverge for: $sql")
    gen.zip(int).zipWithIndex.foreach { case ((g, i), idx) =>
      assert(g == i, s"codegen != interpreted at row $idx for: $sql\n g=$g\n i=$i")
    }
  }

  test("fuzz string expressions: codegen == interpreted on 220 adversarial rows") {
    assertModesAgree("""
      SELECT t,
        graft_collapse_ws(t), graft_normalize(t),
        graft_mojibake_count(t), graft_mojibake_repair(t),
        graft_rolling_hash(t),
        graft_char_ngram_rep(t, 3),
        graft_split_keep_delim(t, '[.?!।|॥؟۔](\n+)?'),
        graft_remove_non_terminal_punc_span(t, 2.0),
        graft_trivial_tokenize(t, 'hi'), graft_trivial_tokenize(t, 'ur'),
        graft_lang_name(u), graft_lang_code(u),
        graft_jaro_winkler(t, u)
      FROM fuzz""")
  }

  test("fuzz keyword automaton: codegen == interpreted incl. boundary inputs") {
    assertModesAgree("""
      SELECT t,
        graft_keyword_count(t, 'slow,dup,कखग,a'),
        graft_keyword_matches(t, 'slow,dup,कखग,a'),
        graft_keyword_spans(t, 'slow,dup,कखग,a'),
        graft_keyword_redact(t, 'slow,dup,कखग,a'),
        graft_keyword_redact(t, 'slow,dup', '#')
      FROM fuzz""")
  }

  test("fuzz array expressions: codegen == interpreted on token arrays") {
    assertModesAgree("""
      SELECT arr,
        graft_word_ngram_rep(arr, 2),
        graft_word_gram_hashes(arr, 2),
        graft_winnow_fingerprints(arr, 3, 4),
        graft_dom_blocks(t), graft_dom_markdown(t)
      FROM fuzz""")
  }

  test("fuzz shingle sketch expressions (Column DSL): codegen == interpreted") {
    import graft.ops.MinHash
    def df = {
      val base = spark.read.parquet(fuzzPath)
      base.select(col("t"), col("u"),
        MinHash.sketch(col("t"), 3).as("sk3"), MinHash.sketch(col("u"), 1).as("sk1"),
        MinHash.textSignature(col("t"), MinHash.sketch(col("t"), 3), 8).as("sig"),
        MinHash.sketchJaccard(MinHash.sketch(col("t"), 2), col("t"),
          MinHash.sketch(col("u"), 2), col("u")).as("jac"))
    }
    val gen = collectWith(CodegenOnly)(df)
    val int = collectWith(Interpreted)(df)
    assert(gen == int, "shingle sketch expressions diverge between codegen and interpreted")
  }

  test("fuzz vector expressions (Column DSL): codegen == interpreted") {
    import org.apache.spark.sql.graft.bridge
    def df = {
      val base = spark.read.parquet(fuzzPath)
      base.select(col("vec"),
        graft.ops.Vectors.dot(col("vec"), col("vec")).as("d"),
        bridge.column(graft.functions.HyperplaneBits(
          bridge.expression(col("vec")),
          Seq(Seq(1.0, -1.0, 1.0, 0.5, -0.5, 2.0),
            Seq(-1.0, 1.0, 0.5, -2.0, 1.0, 1.0)))).as("hb"),
        graft.ops.MinHash.signature(col("arr"), 8).as("sig"),
        bridge.column(graft.functions.JaccardSim(
          bridge.expression(col("arr")), bridge.expression(col("arr"))))
          .as("jac"))
    }
    val gen = collectWith(CodegenOnly)(df)
    val int = collectWith(Interpreted)(df)
    assert(gen == int, "vector expressions diverge between codegen and interpreted")
  }
}
