package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic tables for the query mix: `customer`, `orders` and
  * `lineitem` with the column names and physical types of the engine's
  * sf0.1 fixture at a tenth of its row counts (lineitem 60k rows), plus
  * `documents` and `embeddings`. These are the only tables the mix reads.
  * Every value is a pure function of the row id and `seed` through
  * `xxhash64`, so the output does not depend on partitioning and the
  * same seed writes the same tables. */
object DataGen {
  private val Vocab = Seq("a", "the", "spark", "batch", "stream", "table",
    "query", "scan", "sort", "hash", "join", "group", "agg", "filter", "window",
    "row", "column", "value", "key", "part", "line", "order", "customer",
    "vector", "data", "merge", "index", "fast", "slow", "big", "small")
  private val NCust = 1500L
  private val NOrd = 15000L
  private val NLine = 60000L
  /** Key ranges of lineitem's part and supplier keys (no such tables). */
  private val NPart = 2000L
  private val NSupp = 100L
  private val NDocs = 500L
  private val NVecs = 200L

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    // uniform integer in [0, m) for this row and salt
    def u(salt: Int, m: Long, c: Column = col("id")): Column =
      pmod(xxhash64(c, lit(seed), lit(salt)), lit(m))
    def pick(xs: Seq[String], salt: Int): Column =
      element_at(array(xs.map(lit): _*), (u(salt, xs.size) + 1).cast("int"))
    def money(salt: Int, cents: Long, offsetCents: Long = 0L): Column =
      ((u(salt, cents) - offsetCents) / 100.0).cast("double")
    def day(start: String, salt: Int, days: Int): Column =
      date_add(lit(start).cast("date"), u(salt, days).cast("int"))
        .cast("timestamp_ntz")
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val rng = (k: Long) => spark.range(0, k, 1, math.max(1, (k / 150000L).toInt))

    save("customer", rng(NCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      money(2, 1100000L, 100000L).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3)
        .as("c_mktsegment")))
    save("orders", rng(NOrd).select(col("id").as("o_orderkey"),
      u(11, NCust).as("o_custkey"),
      pick(Seq("O", "F", "P"), 12).as("o_orderstatus"),
      money(13, 50000000L).as("o_totalprice"),
      day("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15)
        .as("o_orderpriority")))
    save("lineitem", rng(NLine).select(u(16, NOrd).as("l_orderkey"),
      u(17, NPart).as("l_partkey"), u(18, NSupp).as("l_suppkey"),
      (u(19, 7) + 1).cast("int").as("l_linenumber"),
      (u(20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 10000000L).as("l_extendedprice"),
      (u(22, 11) / 100.0).cast("double").as("l_discount"),
      (u(23, 9) / 100.0).cast("double").as("l_tax"),
      pick(Seq("A", "N", "R"), 24).as("l_returnflag"),
      pick(Seq("O", "F"), 25).as("l_linestatus"),
      day("1995-01-02", 26, 2498).as("l_shipdate")))
    // documents: every tenth doc is its predecessor's text plus one word,
    // so the dedup kernels have near-duplicates to find
    val words = (salt: Int, c: Column) => transform(
      sequence(lit(1), (u(salt, 60, c) + 10).cast("int")),
      j => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(c, j, lit(seed)), lit(Vocab.size.toLong)) + 1).cast("int")))
    val base = when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id"))
    val docs = rng(NDocs).select(col("id").as("doc_id"),
      array_join(words(32, base), " ").as("raw"),
      pick(Seq("en", "en", "en", "de", "fr", "es", "zh"), 33).as("lang"),
      concat(lit("src"), u(34, 20)).as("source"))
      .withColumn("text", when(col("doc_id") % 10 === 1,
        concat(col("raw"), lit(" "), element_at(array(Vocab.map(lit): _*),
          (u(35, Vocab.size.toLong, col("doc_id")) + 1).cast("int"))))
        .otherwise(col("raw")))
    save("documents", docs.select(col("doc_id"), col("text"), col("lang"),
      col("source"), length(col("text")).cast("long").as("n_chars")))
    // embeddings: 64-d float vectors around one of ten label centroids
    val label = u(36, 10)
    save("embeddings", rng(NVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(label, j, lit(seed)), lit(2001L)) - 1000) / 5000.0 +
          (pmod(xxhash64(col("id"), j, lit(seed + 1)), lit(2001L)) - 1000) / 20000.0)
          .cast("float")).as("embedding"),
      label.cast("int").as("label")))
  }
}
