package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Streaming multimodal curation — the ingest-path face of the q194
  * batch pipeline, completing the media family's
  * incremental loop the way StreamingDedup → StreamingCc completed the
  * text family's: each micro-batch of mixed media payloads is MIME
  * sniff-ROUTED on bytes alone, decoded and perceptually fingerprinted
  * per modality ([[graft.ops.Multimodal.mediaFingerprints]] — payload
  * bytes never shuffle and never land in any standing table), paired
  * against every fingerprint seen so far
  * ([[graft.ops.Multimodal.mediaPairsIncremental]]), and the pair
  * delta handed to `onPairs` — plug in
  * [[StreamingCc.incrementalCcMergeSink]] for the composed loop:
  * media stream → fingerprints → pair delta → bucket-pruned label
  * MERGE → [[StreamingCc.keepBest]].
  *
  * Contract (spec-gated by `StreamingMediaSpec`): after any number of
  * micro-batches, the maintained labels equal ONE q194-shaped batch run
  * (one-shot fingerprints → one-shot Hamming pairs → one CC) over every
  * payload ever delivered — micro-batch boundaries are invisible. The
  * induction: each pair lands in the batch where its LATER endpoint
  * arrives ([[graft.ops.Dedup.hammingPairsIncremental]]), and the CC
  * fold is exact ([[StreamingCc]]).
  *
  * Replay safety (at-least-once source): a replayed batch's
  * fingerprints are anti-joined away before the append (id-keyed, so
  * the standing table never holds duplicates), its recomputed pair
  * delta is a subset of pairs already folded, and the label merge
  * contracts those to no-ops — the whole replay is byte-invisible.
  *
  * Scale shape: the per-batch cost is decode of the BATCH (narrow,
  * partition-local), one batch×standing chunk-key equijoin over 8-byte
  * fingerprints (batch side broadcast at daily-delta scale), and a
  * batch-sized append. The standing table grows ONE (id, kind, fp) row
  * — 17 bytes of identity — per media object ever seen: a 10⁹-object
  * corpus stands in ~20 GB, scanned only by the fingerprint join,
  * never the payloads.
  */
object StreamingMedia {

  def ensureTable(spark: SparkSession, db: String, fpTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$fpTable` " +
      "(`id` BIGINT, `kind` STRING, `fp` BIGINT) USING PARQUET")
  }

  /** foreachBatch sink over a media stream (columns `media_id`,
    * `payload`, per the [[graft.ops.Multimodal]] media schema).
    * `onPairs(pairs, batchId)` receives the batch's near-dup pair
    * delta (id_a, id_b, hamming) and MUST materialize it before
    * returning (the StreamingDedup contract) — the sink releases the
    * batch's cached intermediates right after it.
    */
  def incrementalMediaDedupSink(spark: SparkSession, db: String,
                                fpTable: String, maxHamming: Int = 4)
                               (onPairs: (DataFrame, Long) => Unit)
      : (DataFrame, Long) => Unit = {
    ensureTable(spark, db, fpTable)
    // batch N+1 pairs against batches 1..N only if its catalog read
    // SEES batch N's append
    val sync = new TableSync(spark, db, fpTable)
    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) onPairs(emptyPairs(spark), batchId)
      else sync.batch {
        // decode + fingerprint ONCE per batch: the frame feeds the
        // pair join (twice: probe side and union tail), the replay
        // anti-join, and the append. A checkpoint rather than a
        // persist — the append below must not re-run the decode
        // kernels, and the pair plan must not re-read the table the
        // append is about to grow.
        val fps = sync.checkpoint(Multimodal.mediaFingerprints(
          batch.select(col("media_id").cast("long").as("media_id"),
            col("payload"))))
        val standing = spark.table(sync.name(fpTable))
          .select(col("id").as("media_id"), col("kind"), col("fp"))
        onPairs(Multimodal.mediaPairsIncremental(fps, standing, maxHamming),
          batchId)
        // replay hygiene: an at-least-once replay re-presents ids the
        // table already holds — anti-join them away so the standing
        // table never duplicates (and the recomputed pair delta above
        // folds to no-ops downstream)
        val n = sync.append(fpTable, sync.checkpoint(
          fps.join(
              spark.table(sync.name(fpTable)).select(col("id").as("media_id")),
              Seq("media_id"), "left_anti")
            .select(col("media_id").as("id"), col("kind"), col("fp"))))
        if (n > 0L) sync.visible()
      }
    }
  }

  /** Schema-correct empty pair frame (id_a, id_b, hamming) for no-data
    * micro-batches — the one-call-per-batch callback contract holds.
    */
  private def emptyPairs(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hamming",
          org.apache.spark.sql.types.IntegerType))))
}
