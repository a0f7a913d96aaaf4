package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row
  * id), so a seed gives the same rows however Spark partitions the
  * work, and different salts give independent columns.
  *
  * The fixture tables mirror the shapes of the engine's test fixtures
  * (FIXTURES.md §B): same schemas, key ranges, categorical domains and
  * a 31-word document vocabulary.
  */
final class Gen(spark: SparkSession, seed: Long) {
  import spark.implicits._

  /** Uniform in [0, 1). */
  def u(salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)

  /** Uniform integer in [0, n). */
  def int(salt: Int, id: Column, n: Long): Column =
    floor(u(salt, id) * lit(n)).cast("long")

  private def pick(salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(typedLit(xs), (int(salt, id, xs.size.toLong) + 1).cast("int"))

  private val day = 86400L * 1000000L

  /** Purchase events in the reference's raw schema, `n` of them over 30
    * days in event-time order (strictly increasing timestamps), over
    * `customers` keys. The first `customers` events visit every key
    * once, so any prefix of at least that many events holds all keys.
    * Values are exponential (mean 50); loyalty scores are in [1, 10].
    */
  def purchases(n: Long, customers: Long): DataFrame = {
    val step = 30 * day / n
    spark.range(n).select(
      when($"id" < customers, $"id")
        .otherwise(int(1, $"id", customers)).as("customer_id"),
      timestamp_micros(lit(Epoch2024) + $"id" * step +
        int(2, $"id", step)).as("purchase_timestamp"),
      (round(-log(lit(1.0) - u(3, $"id")) * 50, 2) + 0.01).as("purchase_value"),
      round(lit(1.0) + u(4, $"id") * 9, 1).as("loyalty_score"),
      $"id".as("seq"))
  }

  private val Epoch2024 = 1704067200L * 1000000L

  /** The fixture tables the analytics queries read, at scale factor
    * `sf`, written as parquet directories `<dir>/<table>.parquet` (the
    * layout `graft.core.Tables.load` reads).
    */
  def fixtureTables(dir: String, sf: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    // parts and suppliers only as key ranges of lineitem
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEv = n(1000000); val nUsers = n(15000)
    val nDocs = n(50000)
    val id = $"id"
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt, id) * (hi - lo), 2)
    write("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      int(10, id, 25).cast("int").as("c_nationkey"),
      money(11, -999.99, 9999.99).as("c_acctbal"),
      pick(12, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    val d1995 = 788918400L * 1000000L
    write("orders", spark.range(nOrd).select(id.as("o_orderkey"),
      int(40, id, nCust).as("o_custkey"),
      pick(41, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(42, 1000.0, 500000.0).as("o_totalprice"),
      timestamp_micros(lit(d1995) + int(43, id, 2404) * day).as("o_orderdate"),
      pick(44, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write("lineitem", spark.range(nOrd)
      .select(id.as("o"), explode(sequence(lit(1), (int(50, id, 7) + 1)
        .cast("int"))).as("ln"))
      .select($"o".as("l_orderkey"),
        int(51, $"o" * 8 + $"ln", nPart).as("l_partkey"),
        int(52, $"o" * 8 + $"ln", nSupp).as("l_suppkey"),
        $"ln".as("l_linenumber"),
        (int(53, $"o" * 8 + $"ln", 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(54, $"o" * 8 + $"ln") * 104000, 2)
          .as("l_extendedprice"),
        (int(55, $"o" * 8 + $"ln", 11) / 100.0).as("l_discount"),
        (int(56, $"o" * 8 + $"ln", 9) / 100.0).as("l_tax"),
        pick(57, $"o" * 8 + $"ln", Seq("A", "N", "R")).as("l_returnflag"),
        pick(58, $"o" * 8 + $"ln", Seq("O", "F")).as("l_linestatus"),
        timestamp_micros(lit(d1995) + (int(59, $"o" * 8 + $"ln", 2499) + 1) * day)
          .as("l_shipdate")))
    val evStep = 30 * day / nEv
    write("events", spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(Epoch2024) + id * evStep + int(60, id, evStep)).as("ts"),
      int(61, id, nUsers).as("user_id"),
      pick(62, id, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      (round(-log(lit(1.0) - u(63, id)) * 50, 2) + 0.01).as("value"),
      format_string("{\"k\": %d}", int(64, id, 100)).as("props")))
    // 10 to 100 words from the fixtures' vocabulary; lang is 44% en
    val words = transform(sequence(lit(1), (int(70, id, 91) + 10).cast("int")),
      i => element_at(typedLit(Vocab),
        (pmod(xxhash64(lit(seed), lit(71), id, i), lit(Vocab.size.toLong)) + 1)
          .cast("int")))
    write("documents", spark.range(nDocs)
      .select(id.as("doc_id"), array_join(words, " ").as("text"),
        when(u(72, id) < 0.44, lit("en")).otherwise(
          pick(73, id, Seq("fr", "es", "zh", "de"))).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length($"text").cast("long")))
  }

  /** What [[fixtureTables]] writes. */
  val FixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "orders", "lineitem", "events", "documents")

  private val Vocab = Seq("row", "the", "query", "stream", "fast", "spark",
    "line", "small", "customer", "group", "value", "hash", "batch", "sort",
    "data", "big", "filter", "dup", "key", "agg", "scan", "slow", "table",
    "part", "a", "merge", "window", "order", "column", "join", "vector")
}
