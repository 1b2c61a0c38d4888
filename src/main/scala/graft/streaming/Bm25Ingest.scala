package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, Retrieval}

/** Streaming BM25 index maintenance — the retrieval family's face of
  * the incremental regime (StreamingDedup → signatures, StreamingCc →
  * labels, VectorIngest → PQ codes, this → postings): each micro-batch
  * of documents tokenizes ONCE and appends its postings rows and its
  * additive (n_docs, n_toks) counter delta; a query against the
  * standing index ([[graft.ops.Retrieval.bm25TopKFromIndex]]) is then
  * byte-equal to `bm25TopK` over every document ever ingested — the
  * statistics are sufficient and additive, so micro-batch boundaries
  * are invisible (spec-gated across slicings by `Bm25IngestSpec`).
  *
  * REPLAY SAFETY (appends are not naturally idempotent): both tables
  * carry `__batch_id`, and the sink re-checks them in reverse commit
  * order —
  *   stats has the batchId    → fully applied, skip;
  *   postings has the batchId → the failure fell between the postings
  *                              append and the stats append; skip
  *                              postings, append stats only;
  *   neither                  → append postings, THEN stats (the
  *                              commit marker — stats lands last).
  * The ScdIngest guard-2 pattern, applied to a two-table append.
  *
  * Scale shape: per batch one tokenize of the BATCH (never the
  * corpus), one postings append (word-mass-sized, coalesced to
  * rows-proportional file counts by the caller's table layout), one
  * 1-row counter append. At 100 TB the postings table is laid out
  * (partitioned/bucketed) by term so queries prune to |q| buckets;
  * the stats table is read by summing its per-batch rows — additive
  * counters, no read-modify-write race.
  */
object Bm25Ingest {

  def ensureTables(spark: SparkSession, db: String, postingsTable: String,
                   statsTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$postingsTable` " +
      "(`term` STRING, `doc_id` BIGINT, `dl` BIGINT, `tf` BIGINT, " +
      "`__batch_id` BIGINT) USING PARQUET")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$statsTable` " +
      "(`n_docs` BIGINT, `n_toks` BIGINT, `__batch_id` BIGINT) USING PARQUET")
  }

  /** foreachBatch sink over a document stream (columns `idCol`,
    * `textCol`). `onBatch(batchId, nPostings)` is the observability
    * hook.
    */
  def bm25IndexSink(spark: SparkSession, db: String, postingsTable: String,
                    statsTable: String, idCol: String, textCol: String)
                   (onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    ensureTables(spark, db, postingsTable, statsTable)
    val sync = new TableSync(spark, db, postingsTable, statsTable)
    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) onBatch(batchId, 0L)
      else if (sync.applied(statsTable, batchId)) onBatch(batchId, 0L) // full replay: no-op
      else sync.batch {
        val b = CacheScope.persist(batch.select(col(idCol).cast("long").as(idCol),
          col(textCol).cast("string").as(textCol)))
        val n =
          if (sync.applied(postingsTable, batchId)) 0L
          else sync.append(postingsTable, sync.checkpoint(
            Retrieval.bm25Postings(b, idCol, textCol)
              .withColumn("__batch_id", lit(batchId))))
        // the commit marker lands LAST: its presence certifies the
        // postings rows for this batchId are complete
        sync.append(statsTable, sync.checkpoint(
          Retrieval.bm25Stats(b, idCol, textCol)
            .withColumn("__batch_id", lit(batchId))))
        sync.visible()
        onBatch(batchId, n)
      }
    }
  }

  /** The standing index's query face: BM25 top-k over every document
    * ever ingested.
    */
  def topK(spark: SparkSession, db: String, postingsTable: String,
           statsTable: String, queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topKn: Int = 20): DataFrame =
    Retrieval.bm25TopKFromIndex(
      spark.table(s"`$db`.`$postingsTable`").drop("__batch_id"),
      spark.table(s"`$db`.`$statsTable`")
        // coalesce: a never-ingested index sums to NULL — surface the
        // clean "empty corpus" require, not a NULL-row cast error
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
          coalesce(sum(col("n_toks")), lit(0L)).as("n_toks")),
      queryTerms, k1, b, topKn)
}
