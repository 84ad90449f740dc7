package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the ten tables the query suite reads, with the
  * schemas and value domains of the engine's synthetic star schema
  * (region … lineitem, events, documents, embeddings) at scale factor
  * `sf`. Every value is a hash of (seed, column, row id), so the output
  * does not depend on partitioning. */
final class TableGen(spark: SparkSession, seed: Long, sf: Double) {
  import spark.implicits._

  private def n(base: Double): Long = math.max(1L, math.round(base * sf))
  val customers: Long = n(150000)
  val suppliers: Long = n(10000)
  val parts: Long = n(200000)
  val orders: Long = n(1500000)
  val lineitems: Long = n(6000000)
  val events: Long = n(1000000)
  val users: Long = n(15000)
  val documents: Long = n(50000)
  val embeddings: Long = math.max(500L, n(20000))

  private def h(tag: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(tag) +: cs): _*)
  private def ri(tag: String, m: Long, cs: Column*): Column = pmod(h(tag, cs: _*), lit(m))
  private def u(tag: String, cs: Column*): Column =
    pmod(h(tag, cs: _*), lit(1000000007L)).cast("double") / 1000000007.0
  private def pick(tag: String, values: Seq[String], cs: Column*): Column =
    element_at(array(values.map(lit): _*), (ri(tag, values.size, cs: _*) + 1).cast("int"))
  private def money(tag: String, lo: Double, hi: Double, cs: Column*): Column =
    round(lit(lo) + u(tag, cs: _*) * (hi - lo), 2)
  private def day(tag: String, from: String, days: Long, cs: Column*): Column =
    to_timestamp(date_add(to_date(lit(from)), ri(tag, days, cs: _*).cast("int")))
  private def ids(count: Long): DataFrame = spark.range(0, count, 1, 1).toDF("id")
  private val id = col("id")

  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  def tables: Seq[(String, DataFrame)] = Seq(
    "region" -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (nm, i) => (i, nm) }.toDF("r_regionkey", "r_name"),
    "nation" -> (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> ids(customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ri("c_nation", 25, id).cast("int").as("c_nationkey"),
      money("c_acctbal", -999.99, 9999.99, id).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")),
    "supplier" -> ids(suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ri("s_nation", 25, id).cast("int").as("s_nationkey"),
      money("s_acctbal", -999.99, 9999.99, id).as("s_acctbal")),
    "part" -> ids(parts).select(id.as("p_partkey"),
      concat(pick("p_adj", Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), id),
        lit(" "), pick("p_noun", Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"), id)).as("p_name"),
      concat(lit("Brand#"), (ri("p_brand", 25, id) + 1).cast("string")).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id)
        .as("p_type"),
      (ri("p_size", 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)) / 10.0, 2).as("p_retailprice")),
    "orders" -> ids(orders).select(id.as("o_orderkey"),
      ri("o_cust", customers, id).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
      money("o_total", 1000.0, 500000.0, id).as("o_totalprice"),
      day("o_date", "1995-01-01", 2404, id).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")),
    "lineitem" -> ids(lineitems).select(
      ri("l_order", orders, id).as("l_orderkey"),
      ri("l_part", parts, id).as("l_partkey"),
      ri("l_supp", suppliers, id).as("l_suppkey"),
      (ri("l_line", 7, id) + 1).cast("int").as("l_linenumber"),
      (ri("l_qty", 50, id) + 1).cast("double").as("l_quantity"),
      money("l_price", 900.0, 105000.0, id).as("l_extendedprice"),
      (ri("l_disc", 11, id) / 100.0).as("l_discount"),
      (ri("l_tax", 9, id) / 100.0).as("l_tax"),
      pick("l_rflag", Seq("A", "N", "R"), id).as("l_returnflag"),
      pick("l_lstatus", Seq("F", "O"), id).as("l_linestatus"),
      day("l_ship", "1995-01-02", 2498, id).as("l_shipdate")),
    "events" -> {
      val stepUs = 30L * 86400L * 1000000L / events
      ids(events).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + id * stepUs + ri("e_jit", stepUs, id))
          .as("ts"),
        ri("e_user", users, id).as("user_id"),
        pick("e_type", Seq("click", "error", "purchase", "signup", "view"), id)
          .as("event_type"),
        round(-log(lit(1.0) - u("e_val", id)) * 50.0, 2).as("value"),
        concat(lit("{\"k\": "), ri("e_k", 100, id).cast("string"), lit("}")).as("props"))
    },
    "documents" -> {
      val vocab = array(Words.map(lit): _*)
      ids(documents).select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (ri("d_len", 91, id) + 10).cast("int")),
          i => element_at(vocab, (ri("d_word", Words.size, id, i) + 1).cast("int"))))
          .as("text"),
        element_at(array(Seq("en", "en", "en", "de", "es", "fr", "zh").map(lit): _*),
          (ri("d_lang", 7, id) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    },
    "embeddings" -> {
      val label = ri("v_label", 10, id).cast("int")
      val raw = transform(sequence(lit(0), lit(63)),
        j => (u("v_center", label, j) - 0.5) + (u("v_noise", id, j) - 0.5) * 0.8)
      ids(embeddings).select(id.as("vec_id"), raw.as("raw"), label.as("label"))
        .select(col("vec_id"),
          transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
            (acc, y) => acc + y * y))).cast("float")).as("embedding"),
          col("label"))
    })

  /** Write every table as `<dir>/<name>.parquet`; returns total bytes. */
  def writeAll(dir: String): Long = {
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    Files.bytesUnder(new java.io.File(dir))
  }
}
