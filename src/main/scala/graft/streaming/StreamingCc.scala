package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CacheScope, Dedup}

/** Streaming label maintenance — the ingest-path face of connected
  * components, completing the incremental dedup regime:
  * [[StreamingDedup.incrementalDedupSink]] turns each micro-batch of
  * documents into a near-dup PAIR delta against everything seen so
  * far; this sink folds that delta into a standing LABEL table via
  * [[graft.ops.Dedup.connectedComponentsIncremental]]; and
  * [[graft.ops.Dedup.keepBestByLabelFrame]] applies the production
  * keep-policy to the maintained table. Together they replace the
  * nightly full CC rebuild with a per-batch delta merge.
  *
  * Contract (the ScdIngest/ReleaseGate batch-equivalence doctrine,
  * spec-gated by `StreamingCcSpec`):
  *  - after any number of micro-batches, the standing table equals ONE
  *    `connectedComponents` run over every pair ever delivered —
  *    micro-batch boundaries are invisible. The induction is
  *    structural: the incremental operator's output labels are always
  *    component MINIMA (its precondition for the next call), and each
  *    fold step is an exact merge of standing ∪ delta;
  *  - REPLAY-SAFE by construction: re-merging an already-applied pair
  *    batch contracts every edge to a self-loop (both endpoints carry
  *    the merged label already), the delta CC runs over an empty
  *    graph, and the remap is the identity — Structured Streaming's
  *    re-run of the last batchId after a failure leaves the table
  *    byte-identical. No quarantine or batchId ledger needed;
  *  - the at-least-once pair stream's duplicate (id_a, id_b) rows are
  *    absorbed the same way (an edge inside one component is a
  *    self-loop after contraction).
  *
  * Scale shape — the reason this exists: the per-batch CC iteration
  * runs over the CONTRACTED DELTA graph (≤ |batch pairs| edges), never
  * the standing edge set; the standing label table is touched by ONE
  * remap join against the delta-sized merged labels (AQE broadcasts it
  * — the daily case). A 10¹¹-standing-edge graph absorbs a 10⁶-pair
  * batch at delta cost. The table REWRITE is labels-table-sized (only
  * clustered documents appear — at corpus scale a small minority); at
  * 100 TB the same fold wants an ACID table format's MERGE keyed on
  * the changed labels (the remap join already computes exactly the
  * delta of changed rows), with identical semantics.
  */
object StreamingCc {

  def ensureTable(spark: SparkSession, db: String, labelTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$labelTable` " +
      "(`id` BIGINT, `label` BIGINT) USING PARQUET")
  }

  /** foreachBatch sink over a PAIR stream (columns `id_a`, `id_b` —
    * the [[StreamingDedup]] output shape): maintains `db.labelTable`
    * as the CC labeling of every pair ever delivered. Plug it straight
    * into `incrementalDedupSink(...)(labelSink)` for the composed
    * ingest-path dedup pipeline. `onBatch(batchId, nDeltaPairs,
    * nLabels)` is the observability hook.
    */
  def incrementalCcSink(spark: SparkSession, db: String, labelTable: String,
                        maxIter: Int = 20)
                       (onBatch: (Long, Long, Long) => Unit = (_, _, _) => ())
      : (DataFrame, Long) => Unit = {
    ensureTable(spark, db, labelTable)
    val sync = new TableSync(spark, db, labelTable)
    (pairs: DataFrame, batchId: Long) => {
      // no-data / no-pair micro-batches exit on one cheap isEmpty job —
      // the standing table is already the correct labeling
      if (pairs.isEmpty) onBatch(batchId, 0L, sync.rows(labelTable))
      else sync.batch {
        val delta = CacheScope.persist(pairs.select(
          col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
        val nPairs = delta.count()
        // truncate lineage: the overwrite below must not read the
        // files it replaces
        val next = sync.checkpoint(Dedup.connectedComponentsIncremental(
          spark.table(sync.name(labelTable)), delta, maxIter))
        val nLabels = next.count()
        next.write.mode("overwrite").insertInto(sync.name(labelTable))
        // batch N+1 folds against batch N's labels only if its catalog
        // read SEES this overwrite
        sync.overwritten(labelTable, nLabels)
        sync.visible()
        onBatch(batchId, nPairs, nLabels)
      }
    }
  }

  def ensureBucketedTable(spark: SparkSession, db: String,
                          labelTable: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$labelTable` " +
      "(`id` BIGINT, `label` BIGINT) USING PARQUET " +
      "PARTITIONED BY (`bucket` INT)")
  }

  /** KEYED-MERGE label maintenance — the same fold
    * as [[incrementalCcSink]] with a write cost proportional to the
    * CHANGED labels instead of the whole table. The remap join already
    * computes exactly the upsert delta
    * ([[graft.ops.Dedup.connectedComponentsIncrementalChanged]]:
    * standing rows whose component absorbed a delta edge + genuinely
    * new ids — delta-COMPONENT-sized); this sink applies it as a
    * partition-pruned MERGE over a bucket-partitioned parquet table:
    *
    *  - the table is `PARTITIONED BY (bucket)` with
    *    bucket = pmod(xxhash64(id), nBuckets) — id-deterministic, so
    *    an upsert touches exactly the buckets its changed ids hash to;
    *  - per batch, only the TOUCHED buckets are read back
    *    (partition-pruned scan), merged with the changed rows (anti
    *    join on id = the upsert), and rewritten under DYNAMIC
    *    partition overwrite — untouched buckets' files are never read
    *    or written (spec-gated by file-listing equality);
    *  - replay-safe BY INHERITANCE: a replayed batch's changed frame
    *    is EMPTY (every edge contracts to a self-loop, every remap is
    *    the identity), so the merge write is a whole-batch no-op.
    *
    * This is the sandbox's parquet rendition of an ACID table MERGE
    * keyed on id (Delta/Iceberg `MERGE INTO ... WHEN MATCHED UPDATE
    * WHEN NOT MATCHED INSERT` — the documented 100 TB seam): there the
    * cost is row-group-level, here it is bucket-granular — size
    * nBuckets so a bucket is one comfortable file (corpus/nBuckets
    * rows), and a daily delta touching k components rewrites ~k
    * buckets, not the corpus.
    *
    * `onBatch(batchId, nPairs, nChanged, nTouchedBuckets)`.
    */
  def incrementalCcMergeSink(spark: SparkSession, db: String,
                             labelTable: String, nBuckets: Int = 64,
                             maxIter: Int = 20)
                            (onBatch: (Long, Long, Long, Long) => Unit =
                               (_, _, _, _) => ())
      : (DataFrame, Long) => Unit = {
    require(nBuckets >= 1, "nBuckets must be positive")
    ensureBucketedTable(spark, db, labelTable)
    // the dynamic-overwrite conf lives on a CLONED session:
    // `newSession()` shares the SparkContext and catalog but owns its
    // SQLConf, so flipping partitionOverwriteMode here can never leak
    // dynamic-overwrite semantics into a concurrent write on the
    // caller's session. Set once, for the sink's lifetime.
    val writeSession = spark.newSession()
    // newSession() builds its SQLConf from the BOOT SparkConf, not the
    // caller's runtime-set SQL confs: without this copy, the merge
    // write could silently run under different write-relevant settings
    // (committer, compression, timezone...) than every other write in
    // the job. Copy the caller's effective
    // confs first, then pin the one deliberate divergence. Static/
    // immutable entries throw on set — skipped (they are already
    // shared via the SparkContext).
    spark.conf.getAll.foreach { case (k, v) =>
      try writeSession.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    writeSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")
    val sync = new TableSync(spark, db, labelTable)
    val target = sync.name(labelTable)
    (pairs: DataFrame, batchId: Long) => {
      if (pairs.isEmpty) onBatch(batchId, 0L, 0L, 0L)
      else sync.batch {
        val delta = CacheScope.persist(pairs.select(
          col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
        val nPairs = delta.count()
        val oldLabels = spark.table(target).select(col("id"), col("label"))
        // truncate lineage: the partition overwrite below must not
        // read the files it replaces
        val changed = sync.checkpoint(Dedup
          .connectedComponentsIncrementalChanged(oldLabels, delta, maxIter)
          .withColumn("bucket", bucketOf(col("id"))))
        val nChanged = changed.count()
        if (nChanged == 0L) onBatch(batchId, nPairs, 0L, 0L)
        else {
          // bucket list: ≤ nBuckets ints — a model-sized collect
          val buckets = changed.select(col("bucket")).distinct()
            .collect().map(_.getInt(0)).sorted
          // read before the write below: the writer's first read counts
          // the table
          val nAfter = sync.rows(labelTable) + changed.filter(col("is_new")).count()
          // merged content of the touched buckets only: the pruned
          // read carries the partition filter (bucket IN ...), the
          // anti join is the upsert's DELETE face, the union its
          // INSERT face. Checkpointed: it reads the files the
          // overwrite replaces.
          val touched = sync.checkpoint(
            spark.table(target)
              .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
              .join(changed.select(col("id")), Seq("id"), "left_anti")
              .select(col("id"), col("label"), col("bucket"))
              .unionByName(changed.select(col("id"), col("label"),
                col("bucket"))))
          // DYNAMIC partition overwrite: only the partitions present
          // in the frame (= the touched buckets) are replaced. Set
          // via session conf, NOT the writer option — insertInto on
          // a catalog parquet table ignored the option here and ran
          // STATIC overwrite, truncating every untouched bucket
          // (caught by the spec's file-listing assertion; one label
          // row vanished per batch). The conf lives on writeSession
          // (see above) so the flip is invisible to the caller's
          // session; the checkpointed frame re-binds to it zero-copy.
          //
          // NOT ATOMIC across buckets: parquet dynamic overwrite
          // replaces the touched partitions one directory at a time,
          // so a crash mid-write can leave a partially merged table.
          // Recovery is the streaming engine's replay of the failed
          // batchId: the re-presented pair delta re-derives the SAME
          // changed frame against any prefix of the partial write
          // (already-merged buckets contract to no-ops, unmerged ones
          // merge now) — the replay-safety induction above covers
          // partial application, not just duplicate application. The
          // production form is an ACID MERGE (the documented
          // Delta/Iceberg seam) where the multi-bucket swap commits
          // atomically. Single-writer per label table remains the
          // contract (the visibility barrier assumes it).
          org.apache.spark.sql.graft.CatalogCache
            .rebind(touched, writeSession)
            .write.mode("overwrite").insertInto(target)
          sync.overwritten(labelTable, nAfter)
          sync.visible()
          onBatch(batchId, nPairs, nChanged, buckets.length.toLong)
        }
      }
    }
  }

  /** The maintained labeling of a BUCKETED table, as the (id, label)
    * frame every derived view consumes.
    */
  def bucketedLabels(spark: SparkSession, db: String,
                     labelTable: String): DataFrame =
    spark.table(s"`$db`.`$labelTable`").select(col("id"), col("label"))

  /** The maintained labeling, as the (id, label) frame every derived
    * view consumes ([[graft.ops.Dedup.keepBestByLabelFrame]], drop
    * lists, histograms).
    */
  def labels(spark: SparkSession, db: String, labelTable: String): DataFrame =
    spark.table(s"`$db`.`$labelTable`")

  /** Keep-best view over the maintained labels — the composed
    * ingest-path deliverable: corpus table + label table → the
    * best-scoring representative per near-dup cluster, no CC rerun.
    */
  def keepBest(spark: SparkSession, db: String, labelTable: String,
               corpus: DataFrame, idCol: String, scoreCol: String): DataFrame =
    Dedup.keepBestByLabelFrame(corpus, idCol, scoreCol,
      labels(spark, db, labelTable))
}
