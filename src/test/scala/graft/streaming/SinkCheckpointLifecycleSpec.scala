package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{CacheScope, Multimodal, QualityClassifier, Similarity}

/** No per-batch checkpoint or persist outlives its batch: after three
  * batches through a sink (the third a replay of the second), the
  * context holds exactly the persisted RDDs it held once the sink was
  * built — nothing the batches made is left, and the standing frames a
  * sink registers at creation (VectorIngest's models, IngestPipeline's
  * LM gate) are still there. A long-running stream would otherwise
  * accrete one orphaned block set per micro-batch.
  */
class SinkCheckpointLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val db = "graft_sink_lifecycle_spec"

  override def afterAll(): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    super.afterAll()
  }

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Build the sink, run `batches` through it, and compare the
    * persisted-RDD set before and after the batches. */
  private def assertNoBatchLeftovers(build: => (DataFrame, Long) => Unit,
                                     batches: Seq[(DataFrame, Long)]): Unit = {
    CacheScope.release(spark)
    val pre = persisted()
    val sink = build
    val built = persisted()
    batches.foreach { case (df, id) => sink(df, id) }
    val after = persisted()
    assert((after -- built).isEmpty,
      s"RDDs persisted by the batches are still persisted: " +
        (after -- built).toSeq.sorted.map(spark.sparkContext.getPersistentRDDs(_))
          .map(r => r.toDebugString.take(400)).mkString("\n"))
    assert((built -- pre).subsetOf(after),
      s"standing frames were dropped: ${(built -- pre) -- after}")
    CacheScope.release(spark)
  }

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a quick brown dog runs past the lazy fox"),
    (2L, "streams of text fold into standing tables"),
    (3L, "the lazy dog sleeps under the brown tree"))
  private def docBatches: Seq[(DataFrame, Long)] = Seq(
    (docs.take(2).toDF("doc_id", "text"), 0L),
    (docs.drop(2).toDF("doc_id", "text"), 1L),
    (docs.drop(2).toDF("doc_id", "text"), 1L))

  test("Bm25Ingest") {
    assertNoBatchLeftovers(
      Bm25Ingest.bm25IndexSink(spark, db, "bm_p", "bm_s", "doc_id", "text")(),
      docBatches)
  }

  test("LmIngest") {
    assertNoBatchLeftovers(
      LmIngest.lmCountSink(spark, db, "lm_u", "lm_b", "doc_id", "text")(),
      docBatches)
  }

  test("PhraseIngest") {
    assertNoBatchLeftovers(
      PhraseIngest.positionalIndexSink(spark, db, "ph", "doc_id", "text")(),
      docBatches)
  }

  private val labeled = Seq(
    (0L, "alpha beta pos pos", 1L), (1L, "beta gamma pos", 1L),
    (2L, "alpha gamma neg neg", 0L), (3L, "beta neg", 0L))
  private def labeledBatches: Seq[(DataFrame, Long)] = Seq(
    (labeled.take(2).toDF("doc_id", "text", "y"), 0L),
    (labeled.drop(2).toDF("doc_id", "text", "y"), 1L),
    (labeled.drop(2).toDF("doc_id", "text", "y"), 1L))

  test("LrIngest count sink") {
    assertNoBatchLeftovers(
      LrIngest.lrCountSink(spark, db, "lr_c", "doc_id", "text", "y")(),
      labeledBatches)
  }

  test("LrIngest drift monitor sink") {
    val model = QualityClassifier.trainLogistic(
      labeled.toDF("doc_id", "text", "y"), "doc_id", "text", "y")
    assertNoBatchLeftovers(
      LrIngest.driftMonitorSink(spark, db, "lr_mon", model, 500000L,
        "doc_id", "text")(),
      docBatches)
  }

  private def pairBatches: Seq[(DataFrame, Long)] = Seq(
    (Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"), 0L),
    (Seq((2L, 3L), (7L, 8L)).toDF("id_a", "id_b"), 1L),
    (Seq((2L, 3L), (7L, 8L)).toDF("id_a", "id_b"), 1L))

  test("StreamingCc overwrite sink") {
    assertNoBatchLeftovers(
      StreamingCc.incrementalCcSink(spark, db, "cc_labels")(), pairBatches)
  }

  test("StreamingCc merge sink") {
    assertNoBatchLeftovers(
      StreamingCc.incrementalCcMergeSink(spark, db, "cc_merge", nBuckets = 4)(),
      pairBatches)
  }

  test("StreamingDedup") {
    assertNoBatchLeftovers(
      StreamingDedup.incrementalDedupSink(spark, db, "dd_corpus", "dd_index",
        "doc_id", "text", k = 16, bands = 4, threshold = 0.5) {
        (pairs, _) => pairs.count(); ()
      },
      docBatches)
  }

  test("IngestPipeline") {
    assertNoBatchLeftovers(
      IngestPipeline.trainingIngestSink(spark, db, "ip_corpus", "ip_index",
        "doc_id", "text", k = 16, bands = 4, threshold = 0.5,
        lmGate = Some((docs.toDF("doc_id", "text"), -30000000L))) {
        (pairs, _, _) => pairs.count(); ()
      },
      docBatches)
  }

  test("StreamingMedia") {
    def pngs(ids: Seq[Long]): DataFrame = {
      val did = col("doc_id")
      Multimodal.asGrayPngMediaTable(
        ids.map(i => (i, s"doc $i")).toDF("doc_id", "text"), "doc_id", 9, 8,
        transform(sequence(lit(0), lit(71)), i =>
          pmod(i.cast("long") * (did - pmod(did, lit(2L)) + lit(3L)), lit(241L))
            .cast("int")))
    }
    assertNoBatchLeftovers(
      StreamingMedia.incrementalMediaDedupSink(spark, db, "media_fp") {
        (pairs, _) => pairs.count(); ()
      },
      Seq((pngs(Seq(0L, 1L)), 0L), (pngs(Seq(2L, 3L)), 1L),
        (pngs(Seq(2L, 3L)), 1L)))
  }

  test("VectorIngest") {
    val emb = (0L until 40L).map(i =>
      (i, (0 until 8).map(j => math.sin(i * 7.0 + j).toFloat)))
    def vecs(r: Range): DataFrame =
      emb.slice(r.start, r.end).toDF("vec_id", "embedding")
    // models held off their training lineage, as a standing sink needs
    def materialize(df: DataFrame) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(df.collect().toSeq), df.schema)
    val base = vecs(0 until 24)
    val cents = materialize(Similarity.trainCentroids(base, nCells = 2, iters = 1))
    val books = materialize(
      Similarity.trainProductQuantizer(base, nSub = 4, k = 4, iters = 1))
    CacheScope.release(spark)
    assertNoBatchLeftovers(
      VectorIngest.pqIngestSink(spark, db, "vec_index", cents, books,
        nSub = 4, baseErrE6 = Long.MaxValue / 4) { (_, _, _, _) => () },
      Seq((vecs(24 until 32), 0L), (vecs(32 until 40), 1L),
        (vecs(32 until 40), 1L)))
  }

  test("ScdIngest") {
    def rows(r: Seq[(Long, Long, Long, String)]) = r.toDF("k", "ts", "tie", "v")
    assertNoBatchLeftovers(
      ScdIngest.scd2Sink(spark, db, "scd_h", "k", "ts", "tie", Seq("v"))(),
      Seq((rows(Seq((1L, 10L, 0L, "a"), (2L, 10L, 0L, "b"))), 0L),
        // a retro-edit for key 1 lands in the quarantine
        (rows(Seq((1L, 20L, 0L, "c"), (1L, 5L, 0L, "z"))), 1L),
        (rows(Seq((1L, 20L, 0L, "c"), (1L, 5L, 0L, "z"))), 1L)))
  }

  test("DimStore upserts") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    DimStore.ensureDimTable(spark, db, "dim_t", Seq("id", "v"))
    assertNoBatchLeftovers(
      (batch: DataFrame, seq: Long) =>
        DimStore.upsert(spark, db, "dim_t", batch, "id", seq),
      Seq((Seq(("1", "a"), ("2", "b")).toDF("id", "v"), 0L),
        (Seq(("2", "b2")).toDF("id", "v"), 1L),
        (Seq(("2", "b2")).toDF("id", "v"), 1L)))
  }

  test("upsert-kafka materialization") {
    def rows(r: Seq[(String, String, Long, Boolean)]) = r.toDF("k", "v", "off", "del")
    assertNoBatchLeftovers(
      StreamingPipelines.upsertKafkaMaterialize(spark, db, "uk_state",
        keyCols = Seq("k"), ordCol = "off", deleteCol = "del"),
      Seq((rows(Seq(("a", "1", 0L, false), ("b", "2", 1L, false))), 0L),
        (rows(Seq(("a", "3", 2L, false), ("b", null, 3L, true))), 1L),
        (rows(Seq(("a", "3", 2L, false), ("b", null, 3L, true))), 1L)))
  }
}
