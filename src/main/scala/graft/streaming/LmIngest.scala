package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, LmScore}

/** Streaming reference-LM maintenance — the LM family's face of the
  * incremental regime (Bm25Ingest → postings, StreamingCc → labels,
  * this → n-gram counts): each micro-batch of reference documents
  * tokenizes ONCE and appends its unigram and bigram COUNT rows; a
  * model assembled from the standing tables
  * ([[graft.ops.LmScore.modelFromCounts]] — counts are additive
  * sufficient statistics) then scores byte-equal to one trained on
  * every document ever ingested (spec-gated across slicings by
  * `LmIngestSpec`; the batch face is q183).
  *
  * REPLAY SAFETY: the Bm25Ingest two-table protocol verbatim — both
  * tables carry `__batch_id`, re-checked in reverse commit order
  * (uni is the commit marker and lands LAST; a failure between the
  * bigram append and the unigram append replays as "bigrams present →
  * skip bigrams, append unigrams only").
  *
  * Scale shape: per batch one tokenize of the BATCH, two
  * map-side-combined count aggregations, two vocab-delta-sized
  * appends. The standing tables stay hash-keyed (8-byte xxhash64 —
  * token text never shuffles and never lands in the artifact), and
  * the read path's per-key sum is model-sized work, paid by the
  * scorer once per model refresh, never per document.
  */
object LmIngest {

  def ensureTables(spark: SparkSession, db: String, uniTable: String,
                   biTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$uniTable` " +
      "(`h` BIGINT, `cu` BIGINT, `__batch_id` BIGINT) USING PARQUET")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$biTable` " +
      "(`h12` BIGINT, `h1` BIGINT, `cb` BIGINT, `__batch_id` BIGINT) " +
      "USING PARQUET")
  }

  /** foreachBatch sink over a reference-document stream (columns
    * `idCol`, `textCol`). `onBatch(batchId, nUni, nBi)` is the
    * observability hook.
    */
  def lmCountSink(spark: SparkSession, db: String, uniTable: String,
                  biTable: String, idCol: String, textCol: String)
                 (onBatch: (Long, Long, Long) => Unit = (_, _, _) => ())
      : (DataFrame, Long) => Unit = {
    ensureTables(spark, db, uniTable, biTable)
    val sync = new TableSync(spark, db, uniTable, biTable)
    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) onBatch(batchId, 0L, 0L)
      else if (sync.applied(uniTable, batchId)) onBatch(batchId, 0L, 0L) // full replay: no-op
      else sync.batch {
        // persist the TOKENIZED frame, not the raw rows: both count
        // builders consume it, so the batch tokenizes exactly once
        val b = CacheScope.persist(LmScore.tokFrame(
          batch.select(col(idCol).cast("long").as(idCol),
            col(textCol).cast("string").as(textCol)),
          idCol, textCol))
        val uni = sync.checkpoint(LmScore.unigramCountsFromToks(b)
          .withColumn("__batch_id", lit(batchId)))
        // a batch whose documents tokenize to ZERO tokens has no
        // counts AND no marker rows — skip it whole (the model is
        // already correct), or the absent marker would make every
        // replay re-run it. Harmless (it appends nothing) but the
        // protocol's "marker certifies the batch" claim must hold.
        if (uni.isEmpty) onBatch(batchId, 0L, 0L)
        else {
          val nBi =
            if (sync.applied(biTable, batchId)) 0L
            else sync.append(biTable, sync.checkpoint(
              LmScore.bigramCountsFromToks(b)
                .withColumn("__batch_id", lit(batchId))))
          // the commit marker lands LAST: a batch's unigram rows
          // certify its bigram rows are complete
          val nUni = sync.append(uniTable, uni)
          sync.visible()
          onBatch(batchId, nUni, nBi)
        }
      }
    }
  }

  /** The standing model, assembled from every batch ever ingested —
    * hand it to [[graft.ops.LmScore.scoreWithModel]] (absolute
    * reference likelihood) or use the tables as the target side of an
    * importance model. Model-sized work; call once per refresh, not
    * per document.
    */
  def model(spark: SparkSession, db: String, uniTable: String,
            biTable: String): LmScore.BigramModel =
    LmScore.modelFromCounts(
      spark.table(s"`$db`.`$uniTable`").drop("__batch_id"),
      spark.table(s"`$db`.`$biTable`").drop("__batch_id"))
}
