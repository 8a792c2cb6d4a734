package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's base tables: the schema, value domains and file layout
  * of the sf0.1 test tables (TESTDATA.md) — one parquet file with one row
  * group per table, so `Tables`' input-spread gate sees the same layout —
  * generated here so that the benchmark owns its inputs and needs nothing
  * outside its checkout. Every value is a pure function of the row id and
  * a salt (xxhash64), so a given scale always yields the same bytes of
  * content whatever the core count.
  *
  * Usage: DataGen <outDir> <scale>   (scale 1.0 = sf0.1: 600k lineitem)
  */
object DataGen {

  private val vocab = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "the", "join", "vector", "customer", "view", "click")

  /** Uniform integer in [0, n) from the row's id and a salt. */
  private def h(id: String, salt: Int, n: Long): Column =
    pmod(xxhash64(col(id), lit(salt)), lit(n))

  private def pick(id: String, salt: Int, values: String*): Column =
    element_at(array(values.map(lit): _*), (h(id, salt, values.length) + 1).cast("int"))

  private def ids(spark: SparkSession, n: Long, name: String): DataFrame =
    spark.range(0, n, 1, 8).toDF(name)

  /** Exact duplicates (~0.16%) and near duplicates (~2%, one extra word)
    * point at an earlier base document; 35% of word positions draw from a
    * tail vocabulary that grows as (total words)^0.7, like real text. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val tail = math.max(1000L, math.round(math.pow(n * 37.0, 0.7)))
    val words = array(vocab.map(lit): _*)
    ids(spark, n, "doc_id")
      .withColumn("bid",
        when(col("doc_id") % 625 === 2, col("doc_id") - 2)
          .when(col("doc_id") % 50 === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("len", lit(15) + h("bid", 1, 45))
      .withColumn("text", concat(
        array_join(transform(sequence(lit(0), col("len") - 1),
          i => when(pmod(xxhash64(col("bid"), lit(400) + i), lit(100)) < 65,
            element_at(words, (pmod(xxhash64(col("bid"), lit(100) + i), lit(32)) + 1).cast("int")))
            .otherwise(concat(lit("w"), pmod(xxhash64(col("bid"), lit(500) + i), lit(tail))))), " "),
        when(col("doc_id") % 50 === 1 && col("doc_id") % 625 =!= 2, lit(" extra")).otherwise(lit(""))))
      .withColumn("u", h("doc_id", 2, 100))
      .withColumn("lang",
        when(col("u") < 41, "en").when(col("u") < 56, "de")
          .when(col("u") < 71, "fr").when(col("u") < 86, "es").otherwise("zh"))
      .select(col("doc_id"), col("text"), col("lang"),
        concat(lit("src"), h("doc_id", 3, 20)).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** 64-dim vectors in [-1, 1]; every 40th is a near duplicate of its
    * predecessor (±0.001 per component). */
  def embeddings(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n, "vec_id")
      .withColumn("bid", when(col("vec_id") % 40 === 1, col("vec_id") - 1).otherwise(col("vec_id")))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(col("bid"), lit(200) + j), lit(2001)) - 1000).cast("double") / 1000.0 +
            when(col("vec_id") =!= col("bid"),
              (pmod(xxhash64(col("vec_id"), lit(300) + j), lit(21)) - 10).cast("double") / 10000.0)
              .otherwise(lit(0.0))).cast("float")).as("embedding"),
        h("vec_id", 4, 10).cast("int").as("label"))

  def lineitem(spark: SparkSession, n: Long, nOrders: Long, nParts: Long, nSupps: Long): DataFrame =
    ids(spark, n, "id").select(
      h("id", 10, nOrders).as("l_orderkey"),
      h("id", 11, nParts).as("l_partkey"),
      h("id", 12, nSupps).as("l_suppkey"),
      (h("id", 13, 7) + 1).cast("int").as("l_linenumber"),
      (h("id", 14, 50) + 1).cast("double").as("l_quantity"),
      (lit(900.0) + h("id", 15, 10410000).cast("double") / 100.0).as("l_extendedprice"),
      (h("id", 16, 11).cast("double") / 100.0).as("l_discount"),
      (h("id", 17, 9).cast("double") / 100.0).as("l_tax"),
      pick("id", 18, "A", "N", "R").as("l_returnflag"),
      pick("id", 19, "O", "F").as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + h("id", 20, 2160) * 86400L).as("l_shipdate"))

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame =
    ids(spark, n, "o_orderkey").select(col("o_orderkey"),
      h("o_orderkey", 30, nCust).as("o_custkey"),
      pick("o_orderkey", 31, "O", "P", "F").as("o_orderstatus"),
      (lit(1000.0) + h("o_orderkey", 32, 49900000).cast("double") / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + h("o_orderkey", 33, 2400) * 86400L).as("o_orderdate"),
      pick("o_orderkey", 34, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))

  def customer(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n, "c_custkey").select(col("c_custkey"),
      format_string("Customer#%09d", col("c_custkey")).as("c_name"),
      h("c_custkey", 40, 25).cast("int").as("c_nationkey"),
      (lit(-999.0) + h("c_custkey", 41, 1099900).cast("double") / 100.0).as("c_acctbal"),
      pick("c_custkey", 42, "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
        .as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n, "s_suppkey").select(col("s_suppkey"),
      format_string("Supplier#%09d", col("s_suppkey")).as("s_name"),
      h("s_suppkey", 50, 25).cast("int").as("s_nationkey"),
      (lit(-999.0) + h("s_suppkey", 51, 1099900).cast("double") / 100.0).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n, "p_partkey").select(col("p_partkey"),
      concat(pick("p_partkey", 60, "large", "hot", "blue", "old", "cold", "red", "dim", "new"),
        lit(" "), pick("p_partkey", 61, "ring", "bolt", "plate", "screw", "wheel", "case")).as("p_name"),
      concat(lit("Brand#"), h("p_partkey", 62, 25) + 1).as("p_brand"),
      pick("p_partkey", 63, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD").as("p_type"),
      (h("p_partkey", 64, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + h("p_partkey", 65, 1000).cast("double") / 10.0).as("p_retailprice"))

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame =
    ids(spark, n, "event_id").select(col("event_id"),
      timestamp_seconds(lit(1704067200L) + h("event_id", 70, 2592000)).as("ts"),
      h("event_id", 71, nUsers).as("user_id"),
      pick("event_id", 72, "purchase", "signup", "click", "error", "view").as("event_type"),
      (h("event_id", 73, 56021).cast("double") / 100.0).as("value"),
      format_string("{\"k\": %d}", h("event_id", 74, 100)).as("props"))

  def nation(spark: SparkSession): DataFrame =
    ids(spark, 25, "k").select(col("k").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("k")).as("n_name"), (col("k") % 5).cast("int").as("n_regionkey"))

  def region(spark: SparkSession): DataFrame =
    ids(spark, 5, "k").select(col("k").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("k") + 1).cast("int")).as("r_name"))

  /** Writes every table as `<outDir>/<name>.parquet`, a directory holding
    * one parquet file. */
  def generate(spark: SparkSession, outDir: String, scale: Double): Unit = {
    def rows(base: Long): Long = math.max(1L, math.round(base * scale))
    val nCust = rows(15000); val nParts = rows(20000); val nSupps = rows(1000)
    val nOrders = rows(150000)
    val tables = Seq(
      "region" -> region(spark), "nation" -> nation(spark),
      "customer" -> customer(spark, nCust), "supplier" -> supplier(spark, nSupps),
      "part" -> part(spark, nParts), "orders" -> orders(spark, nOrders, nCust),
      "lineitem" -> lineitem(spark, rows(600000), nOrders, nParts, nSupps),
      "events" -> events(spark, rows(100000), rows(1500)),
      "documents" -> documents(spark, rows(5000)),
      "embeddings" -> embeddings(spark, rows(2000)))
    for ((name, df) <- tables)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, scale) = args.take(2)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, outDir, scale.toDouble) finally spark.stop()
  }
}
