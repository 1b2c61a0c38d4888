package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** K5/K6 — the dimension-store leg of the CDC router: dynamic DDL from
  * config rows and a MERGE-style upsert sink.
  *
  * The reference keeps dims in Phoenix/HBase: `TableProcessFunction
  * .checkTable` (rt-flink TableProcessFunction.scala:101-137) issues
  * `CREATE TABLE IF NOT EXISTS` per config row, and `DimSink`
  * (DimSink.scala:27-57) upserts each CDC row then invalidates the
  * Redis cache for that key. Spark-first, the dim store is a catalog
  * parquet table: DDL goes through the session catalog, the upsert is
  * one distributed last-write-wins window per micro-batch, and there
  * is no cache to invalidate — enrichment joins broadcast the CURRENT
  * table per batch (SURVEY J3 disposition), so a completed upsert is
  * visible to the next batch by construction.
  *
  * Scale notes: the upsert rewrites the table per batch — correct for
  * dim tables (small by definition; the reference's fit in HBase
  * regions + a Redis cache). The window partitions by key, so the
  * shuffle carries the dim rows only. `localCheckpoint` truncates the
  * lineage so the overwrite never reads the files it replaces. For a
  * 100 TB FACT upsert this is the wrong tool — that path is the
  * changelog-compaction operator ([[StreamingPipelines]]), not a dim
  * rewrite.
  */
object DimStore {

  /** K6 — dynamic DDL: ensure a dim table exists with the configured
    * payload columns (all STRING — the CDC payload is schemaless JSON,
    * typed at read; matches the reference's Phoenix VARCHAR columns)
    * plus a BIGINT `__seq` version column. Idempotent.
    */
  def ensureDimTable(spark: SparkSession, db: String, table: String,
                     payloadCols: Seq[String]): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val cols = payloadCols.map(c => s"`$c` STRING").mkString(", ")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS `$db`.`$table` ($cols, `__seq` BIGINT) USING PARQUET")
  }

  /** K5 — MERGE-style upsert: latest row per `keyCol` wins, ordered by
    * (`__seq`, incoming-beats-existing on ties). Incoming rows must
    * carry the table's payload columns; `__seq` is stamped here.
    *
    * Within-batch ties: the reference (DimSink) applies CDC rows in
    * stream order, so when one micro-batch carries several rows for a
    * key the LAST one wins. Pass `ordCol` (a monotonic per-row ordinal —
    * Kafka offset, CDC sequence) to reproduce that; without one the
    * incoming batch is deduped per key on the lexicographically
    * greatest payload tuple, which is arbitrary but DETERMINISTIC
    * (shuffle order never picks the winner).
    *
    * `__seq` is the foreachBatch batchId: monotonic for the lifetime of
    * a checkpoint. If the streaming checkpoint is wiped, batchId
    * restarts at 0 and fresh rows lose to stale ones — rebuild (drop)
    * the dim table whenever the checkpoint is reset, or feed an
    * offset/event-time-derived `seq` instead.
    */
  def upsert(spark: SparkSession, db: String, table: String,
             batch: DataFrame, keyCol: String, seq: Long,
             ordCol: Option[String] = None): Unit = {
    val target = s"`$db`.`$table`"
    val existing = spark.table(target)
    val payload = existing.columns.filterNot(_ == "__seq")
    val nonKey = payload.filterNot(_ == keyCol)
    val wIn = ordCol match {
      case Some(o) => Window.partitionBy(col(keyCol)).orderBy(col(o).desc)
      // key-only tables have no payload to order by — any row of a key
      // is identical, so a constant ordering is both legal and correct
      // (orderBy() with zero columns throws at runtime)
      case None if nonKey.isEmpty =>
        Window.partitionBy(col(keyCol)).orderBy(lit(1))
      case None => Window.partitionBy(col(keyCol))
        .orderBy(nonKey.map(col(_).desc): _*)
    }
    val incoming = batch
      .withColumn("__in_rn", row_number().over(wIn))
      .filter(col("__in_rn") === 1)
      .select(payload.map(c => col(c).cast(StringType).as(c)): _*)
      .withColumn("__seq", lit(seq))
    lwwOverwrite(db, table, existing, incoming, Seq(keyCol))
  }

  /** THE keyed last-write-wins merge-and-overwrite — one definition for
    * every changelog materialization in this package
    * ([[dimUpsertSink]] through [[upsert]], and
    * [[StreamingPipelines.upsertKafkaMaterialize]]).
    * Latest `__seq` wins per key; ties break to the incoming row
    * (`__is_new`); `keepRow` filters winners (e.g. tombstone drop) so
    * a deleted key vanishes from the rewritten table rather than
    * surviving as a marker row.
    */
  private[streaming] def lwwOverwrite(db: String, table: String,
                                      existing: DataFrame, incoming: DataFrame,
                                      keyCols: Seq[String],
                                      keepRow: Column = lit(true)): Unit = {
    val sync = new TableSync(existing.sparkSession, db, table)
    sync.batch {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__seq").desc, col("__is_new").desc)
      // truncate lineage: the overwrite below must not read the files
      // it replaces
      val merged = sync.checkpoint(existing.withColumn("__is_new", lit(0))
        .unionByName(incoming.withColumn("__is_new", lit(1)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && keepRow)
        .drop("__rn", "__is_new"))
      val nMerged = merged.count()
      merged.write.mode(SaveMode.Overwrite).insertInto(sync.name(table))
      // a read-modify-OVERWRITE loop: the next batch reads this table
      // to build its merge, and a stale snapshot would make that
      // overwrite permanently DELETE the missed rows — the barrier is
      // what makes "visible to the next batch" hold
      sync.overwritten(table, nMerged)
      sync.visible()
    }
  }

  /** Read a dim table for enrichment (broadcast at the join site). */
  def dimTable(spark: SparkSession, db: String, table: String): DataFrame =
    spark.table(s"`$db`.`$table`").drop("__seq")

  /** The K5/K6 foreachBatch sink over [[graft.apps.Pipelines.routeCdc]]
    * output (columns: table, type, sink_type, sink_table, routed_data):
    * for every hbase-routed sink_table in the batch, ensure the dim
    * table exists with the config's columns, parse the pruned JSON
    * payload, and upsert on `keyCol`. The per-batch `collect` is over
    * the CONFIG (a handful of table names), never the data.
    */
  /** @param ordCol optional per-row ordinal column present on the routed
    *   batch (pass the same name given to `routeCdc(_, _, ordCol)`):
    *   within-batch ties for a key then resolve in STREAM order like the
    *   reference's DimSink, instead of the deterministic payload-tuple
    *   fallback. Must not collide with a configured payload column.
    */
  def dimUpsertSink(spark: SparkSession, db: String,
                    config: Map[String, Seq[String]], // sink_table -> payload cols
                    keyCol: String = "id",
                    ordCol: Option[String] = None): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val persisted = batch.persist()
      try {
        val tables = persisted.select(col("sink_table")).distinct()
          .collect().map(_.getString(0)).filter(config.contains)
        tables.foreach { t =>
          val cols = config(t)
          ensureDimTable(spark, db, t, cols)
          val schema = StructType(cols.map(StructField(_, StringType)))
          val rows = persisted.filter(col("sink_table") === t)
            .select(from_json(col("routed_data"), schema).as("r") +:
              ordCol.toSeq.map(col): _*)
            .select(col("r.*") +: ordCol.toSeq.map(col): _*)
          upsert(spark, db, t, rows, keyCol, batchId, ordCol)
        }
      } finally { persisted.unpersist(); () }
    }
}
