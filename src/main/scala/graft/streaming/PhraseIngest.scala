package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Retrieval

/** Streaming positional-postings maintenance — the phrase-query side
  * of the retrieval index family ([[Bm25Ingest]] maintains the scoring
  * index, this the positional one): each micro-batch of documents
  * tokenizes ONCE and appends its (term, doc_id, pos) rows; a phrase
  * query against the standing table
  * ([[graft.ops.Retrieval.phraseMatchFromIndex]]) is then byte-equal
  * to `phraseMatch` over every document ever ingested — postings rows
  * are position FACTS, trivially additive across disjoint batches
  * (spec-gated across slicings by `PhraseIngestSpec`; batch face:
  * q187).
  *
  * REPLAY SAFETY: one table, so the protocol is the Bm25Ingest
  * guard's degenerate case — the batch's own rows ARE the marker. A
  * parquet append is job-atomic (files land at commit), so a replayed
  * batchId is either fully present (skip) or fully absent (append);
  * there is no half-applied window to repair. A batch of zero-token
  * documents appends nothing and replays as nothing — idempotent
  * without a marker because the table IS the payload.
  *
  * Scale shape: per batch one tokenize of the BATCH, one
  * word-mass-sized append. At 100 TB the table is laid out
  * (partitioned/bucketed) by term, so a phrase query prunes to its
  * distinct words' buckets — the [[Bm25Ingest]] layout doctrine.
  */
object PhraseIngest {

  def ensureTable(spark: SparkSession, db: String, table: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$table` " +
      "(`term` STRING, `doc_id` BIGINT, `pos` BIGINT, `__batch_id` BIGINT) " +
      "USING PARQUET")
  }

  /** foreachBatch sink over a document stream (columns `idCol`,
    * `textCol`). `onBatch(batchId, nPostings)` is the observability
    * hook.
    */
  def positionalIndexSink(spark: SparkSession, db: String, table: String,
                          idCol: String, textCol: String)
                         (onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    ensureTable(spark, db, table)
    val sync = new TableSync(spark, db, table)
    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) onBatch(batchId, 0L)
      else if (sync.applied(table, batchId)) onBatch(batchId, 0L) // replay: no-op
      else sync.batch {
        val n = sync.append(table, sync.checkpoint(
          Retrieval.positionalPostings(batch.select(
              col(idCol).cast("long").as(idCol),
              col(textCol).cast("string").as(textCol)), idCol, textCol)
            .withColumn("__batch_id", lit(batchId))))
        if (n > 0L) sync.visible()
        onBatch(batchId, n)
      }
    }
  }

  /** The standing index's query face: exact phrase match over every
    * document ever ingested.
    */
  def phraseMatch(spark: SparkSession, db: String, table: String,
                  phrase: Seq[String]): DataFrame =
    Retrieval.phraseMatchFromIndex(
      spark.table(s"`$db`.`$table`").drop("__batch_id"), phrase)
}
