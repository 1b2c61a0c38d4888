package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.QualityClassifier

/** Streaming classifier-feature maintenance — the quality classifier's
  * face of the incremental regime (LmIngest → n-gram counts, Bm25Ingest
  * → postings, this → labeled token counts): each micro-batch of
  * LABELED training documents tokenizes ONCE and appends its
  * (doc_id, y, h, c) token-count rows;
  * [[graft.ops.QualityClassifier.trainLogisticFromCounts]] over the
  * standing table is then byte-equal to
  * [[graft.ops.QualityClassifier.trainLogistic]] over every document
  * ever ingested (spec-gated across slicings by `LrIngestSpec`). A
  * retrain — scheduled, or triggered by the score-distribution drift
  * gate ([[graft.ops.QualityClassifier.scoreConfidenceE6]], q196) —
  * therefore re-tokenizes NOTHING: the corpus pass was paid at ingest,
  * once per document.
  *
  * REPLAY SAFETY: counts are PER-DOC rows keyed by `__batch_id` —
  * additive sufficient statistics with the document as the unit, so the
  * single-table protocol suffices (no two-table commit marker): a
  * replayed batchId is detected by its own rows' presence and skipped
  * whole; a batch whose documents all tokenize to zero tokens appends
  * nothing and replays as append-nothing.
  *
  * Scale shape: per batch one tokenize of the BATCH, one
  * map-side-combined count aggregation, one batch-vocab-sized append.
  * `nBuckets` applies the hashing trick at ingest (the 100 TB
  * vocabulary dial) — the standing table is then bounded at
  * docs × nBuckets rows worst-case and the assembled model at nBuckets
  * rows; token text never lands in the artifact either way (8-byte
  * hashes — the family invariant).
  */
object LrIngest {

  def ensureTable(spark: SparkSession, db: String, countTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$countTable` " +
      "(`doc_id` BIGINT, `y` BIGINT, `h` BIGINT, `c` BIGINT, " +
      "`__batch_id` BIGINT) USING PARQUET")
  }

  /** foreachBatch sink over a labeled-document stream (columns
    * `idCol`, `textCol`, `labelCol` with 0/1 labels).
    * `onBatch(batchId, nRows)` is the observability hook.
    */
  def lrCountSink(spark: SparkSession, db: String, countTable: String,
                  idCol: String, textCol: String, labelCol: String,
                  nBuckets: Long = 0L)
                 (onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    ensureTable(spark, db, countTable)
    val sync = new TableSync(spark, db, countTable)
    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) onBatch(batchId, 0L)
      else if (sync.applied(countTable, batchId)) onBatch(batchId, 0L) // full replay: no-op
      else sync.batch {
        val n = sync.append(countTable, sync.checkpoint(
          QualityClassifier.tokenCounts(
              batch.select(col(idCol).cast("long").as(idCol),
                col(textCol).cast("string").as(textCol),
                col(labelCol).cast("long").as(labelCol)),
              idCol, textCol, Some(labelCol), nBuckets)
            .withColumn("__batch_id", lit(batchId))))
        // an untokenizable batch appends nothing
        if (n > 0L) sync.visible()
        onBatch(batchId, n)
      }
    }
  }

  /** The standing count frame, assembled from every batch ever
    * ingested — hand it to
    * [[graft.ops.QualityClassifier.trainLogisticFromCounts]].
    */
  def counts(spark: SparkSession, db: String, countTable: String): DataFrame =
    spark.table(s"`$db`.`$countTable`")
      .select(col("doc_id"), col("y"), col("h"), col("c"))

  /** Retrain from the standing table — the drift gate's trigger action
    * (q196): the model refresh costs `rounds` gradient exchanges over
    * counts, never a corpus re-tokenize.
    *
    * The returned weights are PINNED (localCheckpoint — vocab-sized,
    * lineage truncated off the catalog table): the standing table
    * keeps growing under the count sink, and a lazy weight plan over
    * it would silently re-derive against the grown table on any cache
    * eviction — the "standing model" would drift WITH the corpus and
    * the monitor could never see confidence collapse (the closed-loop
    * spec catches it). A model is a point-in-time artifact that the
    * caller owns.
    */
  def retrain(spark: SparkSession, db: String, countTable: String,
              rounds: Int = 2, gMul: Long = 16L)
      : QualityClassifier.LogisticModel = {
    val m = QualityClassifier.trainLogisticFromCounts(
      counts(spark, db, countTable), rounds, gMul)
    m.copy(w = m.w.localCheckpoint(true))
  }

  def ensureMonitorTable(spark: SparkSession, db: String,
                         monitorTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$monitorTable` " +
      "(`__batch_id` BIGINT, `n_scored` BIGINT, `conf_e6` BIGINT, " +
      "`drift` BOOLEAN) USING PARQUET")
  }

  /** The OPERATIONAL face of the q196 drift gate: a foreachBatch sink
    * that scores each incoming batch against the STANDING model and
    * appends one (batch_id, n_scored, conf_e6, drift) monitor row —
    * the continuous form of the detector the gate proves pointwise.
    * `drift` fires when the batch's confidence falls below half the
    * accepted baseline (`baseConfE6` — q196's measured band for the
    * standing model; the same ratio the gate replays), and only on
    * non-empty scored batches (an empty or untokenizable batch is
    * recorded with drift = false — no evidence is not drift evidence).
    * `onDrift` is the retrain hook — wire it to [[retrain]] over the
    * maintained count table for the closed loop: tokenize once at
    * ingest, monitor every batch, refresh the model from standing
    * counts when the monitor trips.
    *
    * Replay safety: single-row-per-batch keyed by `__batch_id`, the
    * [[lrCountSink]] protocol — a replayed batch is detected by its
    * own row and skipped whole (the monitor row, already written,
    * stays authoritative). `onDrift` RE-FIRES on replay of a batch
    * whose row recorded drift=true: a crash between the
    * row append and the hook would otherwise lose the retrain trigger
    * forever, so the hook's delivery contract is at-LEAST-once and the
    * retrain must be idempotent — [[retrain]] is (it reads standing
    * counts; training is deterministic).
    *
    * Scale shape: one batch tokenize + one model-sized broadcast join
    * + one map-side-combined fold per batch; the monitor row is O(1).
    */
  def driftMonitorSink(spark: SparkSession, db: String,
                       monitorTable: String,
                       model: QualityClassifier.LogisticModel,
                       baseConfE6: Long, idCol: String, textCol: String,
                       nBuckets: Long = 0L)
                      (onDrift: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    ensureMonitorTable(spark, db, monitorTable)
    val sync = new TableSync(spark, db, monitorTable)
    (batch: DataFrame, batchId: Long) => {
      val prior = spark.table(sync.name(monitorTable))
        .filter(col("__batch_id") === batchId)
        .select(col("drift"), col("conf_e6")).collect()
      if (prior.nonEmpty) {
        // replayed batch: the written row is authoritative, but a
        // recorded drift's trigger may have been lost to a crash
        // before the hook ran — re-fire it (idempotent retrain)
        if (prior.head.getBoolean(0)) onDrift(batchId, prior.head.getLong(1))
      } else sync.batch {
        val scored =
          if (batch.isEmpty) (0L, 0L)
          else {
            val r = QualityClassifier.scoreConfidenceE6(
              QualityClassifier.scoreLogistic(
                batch.select(col(idCol).cast("long").as(idCol),
                  col(textCol).cast("string").as(textCol)),
                model, idCol, textCol, nBuckets)).head()
            (r.getLong(0), r.getLong(1))
          }
        val (n, conf) = scored
        val drift = n > 0L && conf * 2L < baseConfE6
        import spark.implicits._
        sync.append(monitorTable, Seq((batchId, n, conf, drift))
          .toDF("__batch_id", "n_scored", "conf_e6", "drift"))
        sync.visible()
        if (drift) onDrift(batchId, conf)
      }
    }
  }
}
