package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{CacheScope, Dedup}

/** Streaming near-duplicate detection: the minhash corpus index
  * ([[graft.ops.Dedup.buildMinhashIndex]]) maintained as a catalog
  * table and consulted by every micro-batch — the streaming face of the
  * incremental dedup operator, structurally the same loop as the
  * reference's CDC dim pipeline (state in a store, each batch reads
  * current state, emits, writes state back; rt-flink
  * OdsBaseDbApp.scala:92-119 with Phoenix swapped for a signature
  * table).
  *
  * Per batch: near-dup pairs of the batch against EVERYTHING seen so
  * far (plus within-batch pairs) go to `onPairs`; then the batch's
  * signatures append to the index and its rows to the corpus table, so
  * batch N+1 dedups against batches 1..N by construction.
  *
  * Scale: the per-batch cost is the incremental operator's — only the
  * batch is shingled, the band join shuffles index-sized rows, and
  * historical text is re-read only for prefilter survivors. The index
  * grows k+1 longs per document ever seen; the corpus-table append is
  * the raw batch. At-least-once caveat: a replayed batch re-appends its
  * ids — downstream consumers of the pair stream dedup on (id_a, id_b)
  * (idempotent by key, the same contract as the reference's ClickHouse
  * sink), and the index tolerates duplicate rows (identical signatures
  * band into identical buckets; `distinct` in the candidate stage
  * collapses them).
  */
object StreamingDedup {

  def ensureTables(spark: SparkSession, db: String, corpusTable: String,
                   indexTable: String, k: Int): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS `$db`.`$corpusTable` (`id` BIGINT, `text` STRING) USING PARQUET")
    val sigCols = (0 until k).map(i => s"`m$i` BIGINT").mkString(", ")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS `$db`.`$indexTable` (`id` BIGINT, $sigCols) USING PARQUET")
  }

  /** foreachBatch sink. `onPairs` is the batch's output action and MUST
    * materialize its DataFrame (write/collect) before returning — the
    * sink releases the batch's cached intermediates right after it.
    *
    * Per-trigger cost discipline (measured at 500-doc triggers, where
    * the job COUNT, not the data, was the cost):
    *  - table DDL runs ONCE here at sink creation, not per batch;
    *  - the batch's signatures are computed ONCE and appended to the
    *    index as-is ([[Dedup.minhashLshIncrementalWithIndex]]) instead
    *    of a second shingle+sign pass;
    *  - the dedup runs the `smallBatch` profile (batch buckets
    *    broadcast, no estimate prefilter — exact verify decides, so
    *    output semantics are unchanged);
    *  - the two table appends are independent of each other and of the
    *    already-materialized pair output — they run CONCURRENTLY (each
    *    is one coalesced task + a commit; the wall cost is the max,
    *    not the sum). Appends stay AFTER onPairs so the pair plan's
    *    table snapshots cannot race the batch's own appends;
    *  - output files per batch per table scale with the BATCH, not a
    *    constant: `⌈rows/rowsPerFile⌉` coalesced tasks, floor 1
    *    (Compaction's sizing arithmetic). At trigger cadence small
    *    batches still write one file each — file count, not file size,
    *    is what degrades every later table scan — but a GB-scale
    *    micro-batch is not serialized through a single write task
    *    ([[TableSync.append]]).
    */
  def incrementalDedupSink(spark: SparkSession, db: String,
                           corpusTable: String, indexTable: String,
                           idCol: String, textCol: String,
                           shingleN: Int = 5, k: Int = 32, bands: Int = 8,
                           threshold: Double = 0.8,
                           rowsPerFile: Long = 1L << 20)
                          (onPairs: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    ensureTables(spark, db, corpusTable, indexTable, k)
    // batch N+1 dedups against batches 1..N only if its catalog-table
    // reads SEE batch N's appends — without the barrier a stale
    // snapshot makes the dedup silently weaker
    val sync = new TableSync(spark, db, corpusTable, indexTable)
    (batch: DataFrame, batchId: Long) => {
      // NO-DATA micro-batches (watermark/timeout bookkeeping triggers —
      // and any quiet period on a real source) must not pay the full
      // fixed per-trigger pipeline: 20 jobs + 2 table commits on zero
      // rows. One cheap isEmpty job exits with an empty pair frame.
      if (batch.isEmpty) onPairs(emptyPairs(spark), batchId)
      else sync.batch {
        val b = CacheScope.persist(batch.select(col(idCol).cast("long").as(idCol),
          col(textCol).cast("string").as(textCol)))
        val corpus = spark.table(sync.name(corpusTable))
          .select(col("id").as(idCol), col("text").as(textCol))
        val index = spark.table(sync.name(indexTable))
        val (pairs, newSigs) = Dedup.minhashLshIncrementalWithIndex(
          b, corpus, index, idCol, textCol, shingleN, k, bands, threshold,
          smallBatch = true)
        onPairs(pairs, batchId)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        // newSigs/b are persisted: the appends' counts are cache-local
        val appendIndex = Future {
          sync.append(indexTable, newSigs, rowsPerFile)
        }
        val appendCorpus = Future {
          sync.append(corpusTable,
            b.select(col(idCol).as("id"), col(textCol).as("text")), rowsPerFile)
        }
        Await.result(appendIndex, Duration.Inf)
        Await.result(appendCorpus, Duration.Inf)
        sync.visible()
      }
    }
  }

  /** Schema-correct empty pair frame (id_a, id_b, jaccard_e4) — zero
    * tasks to consume; handed to `onPairs` for no-data micro-batches so
    * the callback contract (one call per batch) holds.
    */
  private def emptyPairs(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard_e4",
          org.apache.spark.sql.types.LongType))))
}
