package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.{Decontaminate, LmScore, Quality}

/** The end-to-end streaming training-data ingest loop: each micro-batch
  * is quality-gated, PII-scrubbed, and near-dup-checked against every
  * document accepted in any earlier batch, then folded into the corpus
  * — the LLM-pipeline face of the reference's CDC ingest loop (gate ≈
  * validity filter, redact ≈ type normalization, dedup-index ≈ dim
  * store; rt-flink OdsBaseDbApp.scala:92-119).
  *
  * Ordering matters and is part of the contract: the gate runs FIRST
  * (rejected docs must not pollute the dedup index or pair stream) and
  * redaction runs BEFORE dedup (so the stored corpus never contains raw
  * PII, and near-dup comparison sees exactly what later consumers
  * read). Gate and redaction are narrow codegen'd projections — the
  * per-batch cost stays the incremental dedup's.
  */
object IngestPipeline {

  /** foreachBatch sink: gate → redact → decontaminate → incremental
    * dedup → index/corpus append. `onBatch(cleanPairs, droppedCount,
    * batchId)` receives the batch's near-dup pairs (vs all history) and
    * how many rows were dropped (gate rejects + contamination matches);
    * it must materialize `cleanPairs` before returning.
    *
    * `contam`: optional (frame, key-column) benchmark/test-set list —
    * its bloom sketch is built ONCE here, outside the closure, so each
    * micro-batch pays only the map-side probe plus the exact verify on
    * bloom positives (never a batch-wide shuffle, never a re-scan of
    * the contamination list). Matching runs on REDACTED text — the
    * same form the corpus stores and consumers read — and the
    * contamination KEYS pass through the SAME redaction before the
    * sketch is built (hashing them raw would mean any benchmark
    * doc containing an email/IP/phone could never match its redacted
    * corpus twin, and the eval leak sailed through the one gate built
    * to stop it).
    *
    * `lmGate`: optional (reference frame, minimum mean ⌊10⁶·ln P⌋ per
    * position) — a bigram Stupid-Backoff model ([[graft.ops.LmScore]])
    * is trained ONCE at sink creation (the same standing-artifact
    * contract as the bloom sketch; its model-sized tables are
    * persisted), and every batch keeps only documents whose mean
    * log-probability clears the floor. The mean compare is integer —
    * `ll_e6 ≥ τ·n_pos` (n_pos > 0 preserves the inequality) — and
    * documents too short to score (< 2 tokens) pass: the surface gate
    * owns short docs. Runs AFTER the surface gate (cheap projections
    * reject first) and BEFORE redaction (scores the author's text, not
    * the `<EMAIL>` placeholders).
    */
  def trainingIngestSink(spark: SparkSession, db: String,
                         corpusTable: String, indexTable: String,
                         idCol: String, textCol: String,
                         shingleN: Int = 5, k: Int = 32, bands: Int = 8,
                         threshold: Double = 0.8,
                         contam: Option[(DataFrame, String)] = None,
                         lmGate: Option[(DataFrame, Long)] = None)
                        (onBatch: (DataFrame, Long, Long) => Unit): (DataFrame, Long) => Unit = {
    val contamFilter = contam.map { case (c, keyCol) =>
      // keys redacted with the corpus's own redaction: exact-match
      // decontamination must compare like with like
      Decontaminate.prepare(c, TextFunctions.redactPii(col(keyCol)))
    }
    val lmModel = lmGate.map { case (ref, minMeanE6) =>
      val model = LmScore.trainBigramModel(ref, idCol, textCol)
      model.bi.count() // materialized here, not by the first batch
      (model, minMeanE6)
    }
    // the dedup sink (and its table DDL) is built ONCE at stream setup;
    // foreachBatch calls are sequential per query, so the per-batch
    // dropped count rides in a var the inner callback reads
    @volatile var currentDropped = 0L
    val dedup = StreamingDedup.incrementalDedupSink(spark, db,
      corpusTable, indexTable, idCol, textCol,
      shingleN, k, bands, threshold) {
      (pairs, id) => onBatch(pairs, currentDropped, id)
    }
    (batch: DataFrame, batchId: Long) => {
      // no-data micro-batches skip the gate/redact machinery; the dedup
      // sink's own empty-batch path still delivers the per-batch
      // callback with an empty pair frame
      if (batch.isEmpty) {
        currentDropped = 0L
        dedup(batch, batchId)
      } else {
        val gated = batch
          .withColumn("__reason", Quality.gateReason(col(textCol)))
          .persist()
        val droppedGate = gated.filter(col("__reason") =!= "keep").count()
        val surfaceKept = gated.filter(col("__reason") === "keep")
          .drop("__reason")
        // LM gate: integer mean compare against the standing model;
        // unscoreable (< 2 token) docs pass through the left anti-join
        // of the REJECTED set, so they are kept
        val (lmKept, droppedLm) = lmModel match {
          case Some((model, minMeanE6)) =>
            val rejected = LmScore
              .scoreWithModel(surfaceKept, model, idCol, textCol)
              .filter(col("ll_e6") < lit(minMeanE6) * col("n_pos"))
              .select(col("doc_id").as(idCol))
            val kept = surfaceKept.join(rejected, Seq(idCol), "left_anti").persist()
            (kept, surfaceKept.count() - kept.count())
          case None => (surfaceKept, 0L)
        }
        val redacted = lmKept
          .withColumn(textCol, TextFunctions.redactPii(col(textCol)))
        // persisted when the contamination filter is on: the frame feeds
        // the dropped-count AND the dedup pass, and the bloom+verify must
        // not re-run per consumer
        val cleaned = contamFilter match {
          case Some(f) => f.antiJoin(redacted, col(textCol)).persist()
          case None => redacted
        }
        currentDropped = droppedLm + (contamFilter match {
          case Some(_) => droppedGate + (redacted.count() - cleaned.count())
          case None => droppedGate
        })
        try dedup(cleaned, batchId)
        finally {
          gated.unpersist()
          if (lmModel.isDefined) lmKept.unpersist()
          if (contamFilter.isDefined) cleaned.unpersist()
          ()
        }
      }
    }
  }
}
