package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** DataFrame helpers the query families and the artifacts share. */
private[graft] object Shared {

  def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The sf0.1 sibling of `dir` — the realistic-density dump the ANN
    * recall gates must ALSO hold on (sf0.01 floors alone would miss bucket-collapse that only shows at 10× density).
    * Falls back to `dir` itself when the sibling is absent, so Verify
    * still runs standalone against any single dump.
    */
  def sf01(dir: String): String = {
    val p = new java.io.File(new java.io.File(dir).getParentFile, "sf0.1")
    if (p.isDirectory) p.getAbsolutePath else dir
  }

  /** exact decimal sum of a double money column, surfaced as double */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")
  /** q174/q178's deterministic arithmetic CC-gate graph (the q158
    * synthesis shape); `density` 1 = every doc is a source (q174),
    * 16 = every 16th (q178's few-round star regime). Factored so
    * [[prepareArtifacts]] builds the same frames the gates consume.
    */
  def ccGateEdges(s: SparkSession, dir: String,
                          density: Long): DataFrame = {
    val docs = T(s, dir, "documents")
    val n = rowCount(docs)
    val srcs = if (density == 1L) docs
               else docs.filter(pmod(col("doc_id"), lit(density)) === 0L)
    srcs.select(col("doc_id"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(2L)))).as("k"))
      .select(col("doc_id").as("id_a"),
        pmod(col("doc_id") * 37L + col("k") * 101L, lit(n)).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
  }
  /** q177/q186's shared edge synthesis (same factoring rationale). */
  def prGateEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val n = rowCount(docs)
    docs.select(col("doc_id"),
        explode(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(3L)))).as("k"))
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") * 31L + col("k") * 17L, lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** `df`'s row count in one job, reading no column (`Dataset.count`
    * under AQE runs its aggregate's exchange and final stage as two). */
  def rowCount(df: DataFrame): Long =
    df.select().queryExecution.toRdd.count()

  /** The empty (media_id, kind, fp) frame q197's fold bootstraps from. */
  def emptyFpFrame(s: SparkSession): DataFrame =
    s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.LongType))))
  /** Driver-visible recall gate for the probabilistic queries (q94-q98):
    * measured recall of `got` vs the exact `truth` set on `keys`,
    * surfaced as a single (floor_e4, meets_floor) row whose oracle is a
    * CONSTANT — the driver's hash compare then checks the floor
    * NUMERICALLY every round instead of trusting the spec suite. A
    * hash/params regression that collapses recall flips meets_floor and
    * fails the round's correctness gate.
    */
  def recallGate(got: DataFrame, truth: DataFrame,
                         keys: Seq[String], floorE4: Long): DataFrame = {
    val hits = truth.join(got, keys, "left_semi").agg(count(lit(1)).as("hits"))
    val total = truth.agg(count(lit(1)).as("total"))
    hits.crossJoin(total).select(
      lit(floorE4).as("floor_e4"),
      (col("hits") * 10000L >= col("total") * floorE4).as("meets_floor"))
  }
  /** The q190-q192 planted-label fixture: doc_id-derived labels
    * (y = 1 iff doc_id % 4 ≤ 1 — balanced on both corpus halves),
    * class-marker tokens appended to 80% of documents
    * (doc_id % 5 ≠ 4), the untouched corpus text as noise features.
    */
  def lrAugment(docs: DataFrame): DataFrame =
    lrAugmentMk(docs, "qmk", "jmk")

  /** Marker-parameterized fixture: q196's drift regime is the
    * SAME concept (y map, coverage, noise text) under NEW surface
    * markers — the features the standing model learned have left the
    * corpus.
    */
  def lrAugmentMk(docs: DataFrame, posMk: String,
                          negMk: String): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(5L)) === 4L, lit(""))
          .when(pmod(col("doc_id"), lit(4L)) <= 1L,
            lit(s" $posMk $posMk $posMk"))
          .otherwise(lit(s" $negMk $negMk $negMk"))).as("text"),
      (pmod(col("doc_id"), lit(4L)) <= 1L).cast("long").as("y"))

  /** The q194/q197 mixed-payload media fixture: real PNG bytes for
    * half the corpus (q144's planted pixel formula), real RIFF/PCM
    * WAVs for a quarter (q147's sample formula), real frame-carrying
    * MP4s for an eighth (the video slice plants near-dup triples of its own: groups of three
    * consecutive videos share a content base, the 2nd/3rd carry one
    * perturbed pixel), text payloads for the final eighth — all
    * synthesized from `documents` so every downstream fingerprint
    * replays arithmetically in the oracle.
    */
  def multimodalMediaTable(s: SparkSession,
                                          dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val did = col("doc_id")
    val base = did - pmod(did, lit(3L))
    // q144's pixel synthesis verbatim, over the image subset
    val ipos = pmod(did * lit(13L), lit(72L))
    val pixels = flatten(transform(sequence(lit(0), lit(7)), y =>
      transform(sequence(lit(0), lit(8)), x => {
        val xl = x.cast("long"); val yl = y.cast("long")
        val i = yl * lit(9L) + xl
        val h = (base + lit(1L)) * lit(2654435761L) +
          xl * lit(97L) + yl * lit(1031L)
        val g = h.bitwiseXOR(shiftright(h, 7))
        val p = pmod(g * lit(31L) + shiftright(g, 11), lit(241L))
        when(pmod(did, lit(3L)) =!= lit(0L) && i === ipos,
          pmod(p + lit(128L), lit(241L))).otherwise(p).cast("int")
      })))
    val pngs = ops.Multimodal.asGrayPngMediaTable(
      docs.filter(pmod(did, lit(4L)).isin(0L, 2L)), "doc_id", 9, 8, pixels)
    // q147's sample synthesis verbatim, over the audio subset
    val apos = pmod(did * lit(13L), lit(520L))
    val samples = transform(sequence(lit(0), lit(519)), i => {
      val il = i.cast("long")
      val h = (base + lit(1L)) * lit(2654435761L) + il * lit(7349L)
      val g = h.bitwiseXOR(shiftright(h, 7))
      val raw = pmod(g * lit(31L) + shiftright(g, 11), lit(30000L))
      val rawP = when(pmod(did, lit(3L)) =!= lit(0L) && il === apos,
        pmod(raw + lit(9000L), lit(30000L))).otherwise(raw)
      (rawP - lit(15000L)).cast("int")
    })
    val wavs = ops.Multimodal.asPcmWavMediaTable(
      docs.filter(pmod(did, lit(4L)) === 1L), "doc_id", 16000, samples)
    // the video slice: 3-frame 9x8 MP4s whose pixel values are a
    // declarative formula over the VIDEO-ORDINAL group base vb — three
    // consecutive videos (vm = (did-3)/8 ∈ {3j, 3j+1, 3j+2}) share
    // content, the 2nd/3rd get ONE perturbed pixel (a near-dup triple
    // per group, the video twin of the image/audio planting)
    val vm = ((did - lit(3L)) / lit(8L)).cast("long")
    val vb = vm - pmod(vm, lit(3L))
    val vpos = pmod(did * lit(13L), lit(216L))
    val vpixels = flatten(transform(sequence(lit(0), lit(2)), f =>
      flatten(transform(sequence(lit(0), lit(7)), y =>
        transform(sequence(lit(0), lit(8)), x => {
          val xl = x.cast("long"); val yl = y.cast("long")
          val fl = f.cast("long")
          val i = fl * lit(72L) + yl * lit(9L) + xl
          val h = (vb + lit(1L)) * lit(2654435761L) +
            xl * lit(97L) + yl * lit(1031L) + fl * lit(761L)
          val g = h.bitwiseXOR(shiftright(h, 7))
          val p = pmod(g * lit(31L) + shiftright(g, 11), lit(241L))
          when(pmod(vm, lit(3L)) =!= lit(0L) && i === vpos,
            pmod(p + lit(128L), lit(241L))).otherwise(p).cast("int")
        })))))
    val mp4s = ops.Multimodal.asMp4FramesMediaTable(
      docs.filter(pmod(did, lit(8L)) === 3L), "doc_id",
      timescale = 1000, w = 9, h = 8, nFrames = 3, pixels = vpixels)
    // text payloads ride the SAME table (the "T " guard byte keeps a
    // text prefix from colliding with a container magic — q163)
    val texts = docs.filter(pmod(did, lit(8L)) === 7L)
      .select(did.cast("long").as("media_id"), lit("text").as("media_type"),
        encode(concat(lit("T "), substring(col("text"), 1, 64)), "UTF-8")
          .as("payload"),
        lit(null).cast("int").as("meta_width"),
        lit(null).cast("int").as("meta_height"),
        lit(null).cast("long").as("meta_duration_ms"))
    pngs.unionByName(wavs).unionByName(mp4s).unionByName(texts)
  }
}
