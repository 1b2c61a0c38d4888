package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Streaming embedding ingest — the vector face of the text ingest
  * loop ([[IngestPipeline]]): each micro-batch of (vec_id, embedding)
  * is id-deduplicated against the standing IVF-PQ index, encoded
  * against FROZEN models (delta-sized work: the q148 incremental
  * doctrine — never a corpus re-encode, never a per-batch retrain),
  * drift-checked ([[Similarity.pqSelfErrorE6]] vs the training-time
  * error, the q149 trigger), and appended. The standing index a query
  * reads ([[Similarity.ivfPqTopK]]) is therefore always current to the
  * last committed batch.
  *
  * What the sink deliberately does NOT do is retrain on trigger —
  * retraining invalidates every stored code, so it is an offline
  * rebuild decision; the sink's job is to make the need VISIBLE
  * (`driftFired` in the callback, plus a stderr line) while continuing
  * to ingest under the stale-but-serviceable models (recall degrades
  * gradually; an ingest stall loses data immediately).
  *
  * Per-trigger discipline (the StreamingDedup lessons, inherited):
  * table DDL once at sink creation; models persisted once at sink
  * creation (model-sized); no-data batches exit on one isEmpty job;
  * the append, its file sizing, the visibility barrier and the
  * per-batch release go through the package's one single-writer
  * protocol ([[TableSync]]).
  */
object VectorIngest {

  def ensureIndexTable(spark: SparkSession, db: String,
                       indexTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$indexTable` " +
      "(`vec_id` BIGINT, `cell` INT, `codes` ARRAY<INT>) USING PARQUET")
  }

  /** foreachBatch sink. `onBatch(nNew, deltaErrE6, driftFired,
    * batchId)` fires once per micro-batch — nNew = rows actually
    * encoded (after the id dedup), deltaErrE6 = the batch's mean
    * quantization error (0 for empty batches), driftFired = the
    * retrain trigger (`deltaErr · trigDen > baseErrE6 · trigNum`;
    * defaults are the q149-calibrated 3/2).
    *
    * `baseErrE6` is the training-time self-error of the models over
    * their training corpus — measure it once with
    * [[Similarity.pqSelfErrorE6]] when the models are built and pass
    * it here (the same standing-artifact contract as the models
    * themselves).
    *
    * The model frames must be DURABLE — parquet-backed (the
    * `pqModelArtifact` shape) or otherwise lineage-free — NOT the raw
    * training output: `trainCentroids`/`trainProductQuantizer` return
    * frames backed by localCheckpoint blocks whose release
    * (CacheScope) would leave a long-lived sink reading
    * unrecomputable lineage.
    */
  def pqIngestSink(spark: SparkSession, db: String, indexTable: String,
                   centroids: DataFrame, codebooks: DataFrame, nSub: Int,
                   baseErrE6: Long, trigNum: Long = 3, trigDen: Long = 2,
                   rowsPerFile: Long = 1L << 20)
                  (onBatch: (Long, Long, Boolean, Long) => Unit): (DataFrame, Long) => Unit = {
    ensureIndexTable(spark, db, indexTable)
    // standing model frames: persisted and materialized once here,
    // never released per batch (a batch's scope drains only its own
    // registrations)
    val cents = graft.ops.CacheScope.persist(centroids)
    val books = graft.ops.CacheScope.persist(codebooks)
    cents.count(); books.count()
    val sync = new TableSync(spark, db, indexTable)
    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) onBatch(0L, 0L, false, batchId)
      else sync.batch {
        // id dedup vs the standing index: re-sent vectors must not
        // duplicate index rows (at-least-once sources re-deliver).
        // The anti join keys on the 8-byte id — index side streams
        // map-side, embeddings never enter this exchange.
        val fresh = graft.ops.CacheScope.persist(
          batch.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
            .join(spark.table(sync.name(indexTable)).select(col("vec_id")),
              Seq("vec_id"), "left_anti"))
        if (fresh.isEmpty) onBatch(0L, 0L, false, batchId)
        else {
          val delta = graft.ops.CacheScope.persist(
            Similarity.pqIndex(fresh, cents, books, nSub))
          val err = Similarity.pqSelfErrorE6(fresh, delta, books)
            .select(col("mean_sq_err_e6")).head().getLong(0)
          val driftFired = err * trigDen > baseErrE6 * trigNum
          if (driftFired)
            System.err.println(s"[VectorIngest] batch $batchId drift: " +
              s"delta err ${err / 1e6} vs base ${baseErrE6 / 1e6} — " +
              "schedule a codebook retrain + index rebuild")
          val nNew = sync.append(indexTable, delta, rowsPerFile)
          sync.visible()
          // observability AFTER the append is visible: firing before
          // it would report rows that a crash-then-replay re-reports,
          // claiming an index state that wasn't on disk
          onBatch(nNew, err, driftFired, batchId)
        }
      }
    }
  }
}
