package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the tables the curation queries read (`lineitem
  * events documents embeddings`, one parquet each). Columns, value domains,
  * row counts, key cardinalities and the TIMESTAMP_NTZ timestamps follow
  * the reference test data at scale 0.01 (60,000 lineitem rows over ~14,700
  * order keys, 10,000 events of 150 users, 500 documents of 10-99 words,
  * 500 embeddings of 64 floats in 10 labels; benchmark/METRICS.md records
  * the comparison). Every value is a pure function of (seed, row id), so
  * one seed gives one dataset. */
object CurateData {
  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "stream", "filter", "group", "vector")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    def uniform(tag: String, n: Long): Column =
      pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(n))
    def pick(tag: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (uniform(tag, values.size) + 1).cast("int"))
    def cents(tag: String, lo: Double, hi: Double): Column =
      round(lit(lo) + uniform(tag, 1000000L) / lit(1000000.0) * lit(hi - lo), 2)
    def ntz(baseEpochSecs: Long, secs: Column): Column =
      timestamp_micros(((lit(baseEpochSecs) + secs) * 1000000L).cast("long"))
        .cast("timestamp_ntz")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val range = (n: Long) => spark.range(0, n)
    save("lineitem", range(60000).select(uniform("lo", 15000).as("l_orderkey"),
      uniform("lp", 2000).as("l_partkey"),
      uniform("ls", 100).as("l_suppkey"),
      (uniform("ll", 7) + 1).cast("int").as("l_linenumber"),
      (uniform("lq", 50) + 1).cast("double").as("l_quantity"),
      cents("le", 900.0, 100000.0).as("l_extendedprice"),
      (uniform("ld", 11) / 100.0).as("l_discount"),
      (uniform("lt", 9) / 100.0).as("l_tax"),
      pick("lr", Seq("A", "N", "R")).as("l_returnflag"),
      pick("lst", Seq("F", "O")).as("l_linestatus"),
      ntz(788918400L, uniform("lsd", 2404L) * 86400).as("l_shipdate")))
    save("events", range(10000).select(col("id").as("event_id"),
      ntz(1704067200L, col("id") * 259 + uniform("et", 259000000L) / 1000000.0).as("ts"),
      uniform("eu", 150).as("user_id"),
      pick("ey", Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      cents("ev", 0.01, 490.02).as("value"),
      concat(lit("{\"k\": "), uniform("ek", 100).cast("string"), lit("}")).as("props")))
    val words = array(vocab.map(lit): _*)
    save("documents", range(500)
      .withColumn("n_words", (uniform("dn", 90) + 10).cast("int"))
      .withColumn("text", array_join(transform(sequence(lit(1), col("n_words")), i =>
        element_at(words, (pmod(xxhash64(lit(seed), lit("dw"), col("id"), i),
          lit(vocab.size.toLong)) + 1).cast("int"))), " "))
      .select(col("id").as("doc_id"), col("text"),
        pick("dl", Seq("en", "en", "en", "es", "zh", "de", "fr")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    save("embeddings", range(500)
      .withColumn("label", uniform("el", 10).cast("int"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          (pmod(xxhash64(lit(seed), lit("ec"), col("label"), i), lit(600L)) / lit(2000.0) -
            lit(0.15) + pmod(xxhash64(lit(seed), lit("ex"), col("id"), i), lit(200L)) /
            lit(2000.0) - lit(0.05)).cast("float")).as("embedding"),
        col("label")))
  }
}
