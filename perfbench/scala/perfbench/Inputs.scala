package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the tables the workloads read, in the schema of
  * the sf0.1 fixture tables (`events`, `documents`, `lineitem`; see
  * FIXTURES.md §2). Every random column is a hash of (seed, row id,
  * salt), so a seed gives the same rows whatever the partitioning; the
  * seed also permutes the row order of each written file. Value ranges
  * and cardinalities follow sf0.1: 1,500 users and five event types
  * over 30 days, a 31-word document vocabulary with 10–100 words per
  * document, line prices up to 50 × 2,100. */
object Inputs {

  private def h(seed: Long, salt: Int): Column =
    xxhash64(lit(seed), col("id"), lit(salt))

  /** Uniform in [0, 1) from 53 hash bits. */
  private def u(seed: Long, salt: Int): Column =
    pmod(h(seed, salt), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  private def pick(values: Seq[String], seed: Long, salt: Int): Column =
    element_at(typedLit(values),
      (pmod(h(seed, salt), lit(values.size.toLong)) + 1).cast("int"))

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val startUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val spanUs = 30L * 86400L * 1000000L

  /** `n` events spread over 30 days (sf0.1 has 100,000). Event ids are
    * dense from 0 and `ts` rises with the id. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val gap = spanUs / n
    spark.range(0, n, 1, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(startUs) + col("id") * lit(gap) +
        (u(seed, 1) * lit(gap.toDouble)).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(seed, 2), lit(1500L)).as("user_id"),
      pick(eventTypes, seed, 3).as("event_type"),
      round(-log(lit(1.0) - u(seed, 4)) * lit(50.0), 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(seed, 5), lit(100L)).cast("string"),
        lit("}")).as("props"),
      h(seed, 6).as("__order"))
  }

  private val vocab = Seq(
    "a", "the", "spark", "stream", "batch", "table", "query", "join",
    "agg", "group", "sort", "scan", "filter", "hash", "key", "value",
    "row", "column", "line", "part", "order", "customer", "window",
    "merge", "vector", "data", "fast", "slow", "big", "small", "index")
  private val otherLangs = Seq("de", "es", "fr", "zh")

  /** `n` documents (sf0.1 has 5,000). */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val nWords = (pmod(h(seed, 1), lit(91L)) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(typedLit(vocab),
        (pmod(xxhash64(lit(seed), col("id"), i), lit(vocab.size.toLong)) + 1)
          .cast("int")))
    spark.range(0, n, 1, 4)
      .select(col("id"), concat_ws(" ", words).as("text"))
      .select(
        col("id").as("doc_id"),
        col("text"),
        when(u(seed, 2) < 0.41, lit("en"))
          .otherwise(pick(otherLangs, seed, 3)).as("lang"),
        concat(lit("src"), pmod(h(seed, 4), lit(20L)).cast("string"))
          .as("source"),
        length(col("text")).cast("long").as("n_chars"),
        h(seed, 5).as("__order"))
  }

  /** `n` line items, four per order (sf0.1 has 600,000). */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val qty = (pmod(h(seed, 3), lit(50L)) + 1).cast("double")
    spark.range(0, n, 1, 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(h(seed, 1), lit(20000L)).as("l_partkey"),
      pmod(h(seed, 2), lit(1000L)).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) +
        pmod(h(seed, 4), lit(120000L)).cast("double") / 100.0), 2)
        .as("l_extendedprice"),
      (pmod(h(seed, 5), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(h(seed, 6), lit(9L)).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), seed, 7).as("l_returnflag"),
      pick(Seq("O", "F"), seed, 8).as("l_linestatus"),
      to_timestamp(date_add(lit("1992-01-01").cast("date"),
        pmod(h(seed, 9), lit(3600L)).cast("int"))).cast("timestamp_ntz")
        .as("l_shipdate"),
      h(seed, 10).as("__order"))
  }

  /** Write `df` as `<dir>/<name>.parquet` in seeded row order, one file. */
  def write(df: DataFrame, dir: String, name: String): Unit =
    df.repartition(1).sortWithinPartitions(col("__order")).drop("__order")
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
