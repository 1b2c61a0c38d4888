package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables for the batch workload, in the schemas of the
  * engine's `graft.core.Tables` fixtures (documents, events,
  * embeddings). Every value is a hash of (seed, row id, field), so the
  * same seed writes the same rows whatever the partitioning.
  */
object Fixtures {

  val tables: Seq[String] = Seq("documents", "events", "embeddings")

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "a", "the", "line",
    "sort", "window", "order", "data", "column", "join", "small", "big",
    "customer", "query", "stream", "filter", "group", "vector")

  /** uniform [0, 1) from (seed, id, field...) */
  private def u(seed: Long, id: Column, field: Column*): Column =
    pmod(xxhash64(lit(seed) +: id +: field: _*), lit(1000000007L)) / 1000000007.0

  def write(spark: SparkSession, dir: String, seed: Long,
            nDocs: Int, nEvents: Int, nVecs: Int, nUsers: Int): Unit = {
    documents(spark, seed, nDocs).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    events(spark, seed, nEvents, nUsers).write.mode("overwrite").parquet(s"$dir/events.parquet")
    embeddings(spark, seed, nVecs).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Bag-of-words documents in five languages; one in ten repeats an
    * earlier document exactly and one in ten with its last word changed,
    * so the dedup operators have clusters to find.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val words = array(vocab.map(lit): _*)
    def text(id: Column): Column = {
      val len = (u(seed, id, lit("len")) * 70).cast("int") + 10
      array_join(transform(sequence(lit(1), len), i =>
        element_at(words, (u(seed, id, i) * vocab.size).cast("int") + 1)), " ")
    }
    val id = col("id")
    val kind = u(seed, id, lit("dup"))
    val src = pmod(id - (u(seed, id, lit("src")) * 50).cast("long") - 1, lit(n.toLong))
    spark.range(n).select(
      id.as("doc_id"),
      when(kind < 0.1, text(src))
        .when(kind < 0.2, concat(text(src), lit(" "),
          element_at(words, (u(seed, id, lit("w")) * vocab.size).cast("int") + 1)))
        .otherwise(text(id)).as("text"),
      element_at(array(lit("en"), lit("en"), lit("en"), lit("zh"), lit("de"),
        lit("es"), lit("fr")), (u(seed, id, lit("lang")) * 7).cast("int") + 1).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** January 2024 clickstream: skewed users, five event types. */
  def events(spark: SparkSession, seed: Long, n: Int, nUsers: Int): DataFrame = {
    val id = col("id")
    val start = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val spanUs = 30L * 86400L * 1000000L
    spark.range(n).select(
      id.as("event_id"),
      timestamp_micros(lit(start) + (u(seed, id, lit("ts")) * spanUs).cast("long")).as("ts"),
      (pow(u(seed, id, lit("user")), 2) * nUsers).cast("long").as("user_id"),
      element_at(array(Seq("click", "signup", "error", "view", "purchase").map(lit): _*),
        (u(seed, id, lit("type")) * 5).cast("int") + 1).as("event_type"),
      (round(u(seed, id, lit("value")) * 490, 2) + 0.01).as("value"),
      concat(lit("{\"k\": "), (u(seed, id, lit("k")) * 100).cast("int").cast("string"),
        lit("}")).as("props"))
  }

  /** 64-d vectors around ten label centres. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val id = col("id")
    spark.range(n).select(id.as("vec_id"), pmod(id, lit(10L)).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((u(seed, col("label").cast("long"), lit("c"), j) - 0.5) * 0.4 +
            (u(seed, col("vec_id"), lit("n"), j) - 0.5) * 0.2).cast("float")).as("embedding"),
        col("label"))
  }
}
