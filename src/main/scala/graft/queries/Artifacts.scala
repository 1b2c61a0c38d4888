package graft
package queries

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, Graph, QualityClassifier, Similarity}

import Shared._

/** Where an artifact's parquet lives, the schema it reads back with
  * (recorded at write time, so a read runs no schema-inference job) and
  * the scalars its build returned. */
final case class Stored(path: String, schema: StructType, scalars: Seq[Long] = Nil) {
  def frame(s: SparkSession): DataFrame = s.read.schema(schema).parquet(path)
}

object Stored {
  /** Write `df` to `path` and record the schema it reads back with. */
  def write(df: DataFrame, path: String, scalars: Long*): Stored = {
    df.write.mode("overwrite").parquet(path)
    Stored(path, df.sparkSession.read.parquet(path).schema, scalars)
  }
}

/** One artifact, declared once: its tag, the build that writes it to the
  * path the store gives it, and the value a read makes of what was
  * stored. `at` maps the caller's data dir to the dir the artifact is
  * built from and keyed by.
  */
final case class Artifact[A](tag: String,
                             build: (SparkSession, String, String) => Stored,
                             read: (SparkSession, Stored) => A,
                             at: String => String = identity)

object Artifact {
  /** An artifact that is one frame, written as built. */
  def frame(tag: String, at: String => String = identity)
           (build: (SparkSession, String) => DataFrame): Artifact[DataFrame] =
    Artifact(tag, (s, dir, path) => Stored.write(build(s, dir), path),
      (s, st) => st.frame(s), at)
}

/** One memo of built artifacts keyed by (session, dir, tag). Each is
  * built once, on first read or by [[buildAll]], and every later read
  * is a parquet scan with the recorded schema. Parquet-backed, so the
  * bench's blocking release between reps cannot evict an artifact.
  * Construction fails on a tag declared twice.
  */
final class ArtifactStore(declared: Seq[Artifact[_]]) {
  Registry.requireUnique(declared.map(_.tag), "artifact tag")

  private val memo = mutable.HashMap.empty[(SparkSession, String, String), Stored]

  def apply[A](a: Artifact[A], s: SparkSession, dir: String): A = {
    val d = a.at(dir)
    a.read(s, stored(s, d, a.tag)(a.build(s, d, _)))
  }

  /** Build `a` again and replace what the memo holds. */
  def rebuild[A](a: Artifact[A], s: SparkSession, dir: String): A = {
    val d = a.at(dir)
    val st = a.build(s, d, ArtifactStore.path(s, d, a.tag))
    synchronized(memo((s, d, a.tag)) = st)
    a.read(s, st)
  }

  /** The memo entry of `tag`, built by `build(path)` when absent. A
    * build may read other artifacts (the lock is reentrant). */
  def stored(s: SparkSession, dir: String, tag: String)
            (build: String => Stored): Stored = synchronized {
    memo.get((s, dir, tag)) match {
      case Some(st) => st
      case None =>
        val st = build(ArtifactStore.path(s, dir, tag))
        memo((s, dir, tag)) = st
        st
    }
  }

  /** Build every declared artifact for `dir` that is not built yet. */
  def buildAll(s: SparkSession, dir: String): Unit =
    declared.foreach(a => apply(a, s, dir))
}

object ArtifactStore {
  /** Per-(process, session, sf-dir) artifact path: the session identity
    * keeps a second session in the same JVM (the bench's isolated
    * cross-check) from overwriting a path the first session's artifact
    * lazily reads, and the sanitized dir string (not its hashCode) keeps
    * distinct sf dirs from ever sharing a file. Stable within a session,
    * so a rebuild overwrites in place instead of accumulating temp dirs.
    */
  private def path(s: SparkSession, dir: String, tag: String): String =
    new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-$tag-${ProcessHandle.current().pid()}-" +
        Integer.toHexString(System.identityHashCode(s)) + "-" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath
}

/** The standing artifacts the queries read: the nightly indexes, models
  * and audit baselines a production pipeline keeps, so a recurring
  * query prices only its recurring work. The one-shot or full-rebuild
  * leg of an equality gate is such an artifact too: every bench rep
  * then prices the incremental leg and the equality join. Arithmetic
  * is unchanged wherever an artifact is built.
  */
private[graft] object Artifacts {

  /** q57's standing corpus signature index (k longs per doc over the
    * even doc ids): the query signs, bands and verifies only the new
    * batch (q31 prices full-corpus signing). */
  val minhashIndex: Artifact[DataFrame] = Artifact.frame("minhash-index") { (s, dir) =>
    Dedup.buildMinhashIndex(
      T(s, dir, "documents").filter(col("doc_id") % 2 === 0),
      "doc_id", "text", shingleN = 5, k = 32)
  }

  /** The composed dedup report of q52/q93/q101: tight-threshold Jaccard
    * pairs within (lang, length-band) blocks, then connected components
    * once; every consumer is a view over the labels. q52 rebuilds it on
    * every call, since it prices the full pipeline. */
  val dedupLabels: Artifact[Dedup.DedupReport] = Artifact("dedup-labels",
    (s, dir, path) => {
      val r = Dedup.report(
        Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
          Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 9500L),
        Some(path))
      Stored(r.artifactPath, r.schema)
    },
    (s, st) => new Dedup.DedupReport(s, st.path, st.schema))

  /** q146/q148/q149/q193's coarse IVF centroids, PQ codebooks and the
    * encoded index (vec_id, cell, codes: nSub ints per vector, no
    * embeddings at rest). The queries price LUT build, probe and
    * re-rank; they never re-encode the corpus. */
  val pqCents: Artifact[DataFrame] = Artifact.frame("pq-cents") { (s, dir) =>
    Similarity.trainCentroids(T(s, dir, "embeddings"), nCells = 8, iters = 2)
  }
  val pqBooks: Artifact[DataFrame] = Artifact.frame("pq-books") { (s, dir) =>
    Similarity.trainProductQuantizer(T(s, dir, "embeddings"), nSub = 8, k = 32,
      iters = 2)
  }
  // the index encodes against the stored models, the frames the
  // queries read, so artifact and query see one model
  val pqIndex: Artifact[DataFrame] = Artifact.frame("pq-index") { (s, dir) =>
    Similarity.pqIndex(T(s, dir, "embeddings"), store(pqCents, s, dir),
      store(pqBooks, s, dir), nSub = 8)
  }

  /** The three PQ artifacts as (centroids, codebooks, index). */
  def pq(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    (store(pqCents, s, dir), store(pqBooks, s, dir), store(pqIndex, s, dir))

  /** A standing quality-classifier model: a quality classifier is a
    * nightly artifact, so the scoring faces (q190/q192/q196's baseline)
    * price scoring. Training stays priced by the gate queries that
    * train in-query (q191, q195, q196's retrain). */
  private def logistic(tag: String)(train: (SparkSession, String) => DataFrame)
      : Artifact[QualityClassifier.LogisticModel] =
    Artifact(tag,
      (s, dir, path) => {
        val m = QualityClassifier.trainLogistic(train(s, dir), "doc_id", "text",
          "y", rounds = 2, gMul = 16L)
        Stored.write(m.w, path, m.biasE6)
      },
      (s, st) => QualityClassifier.LogisticModel(st.frame(s), st.scalars.head))

  /** q190/q196/q198's standing model: the full-corpus fixture's train half. */
  val lrModel: Artifact[QualityClassifier.LogisticModel] = logistic("lr") { (s, dir) =>
    lrAugment(T(s, dir, "documents")).filter(pmod(col("doc_id"), lit(2L)) === 0L)
  }

  /** q192's standing model: trained on the banned-phrase-filtered pool's
    * train half (a different model: the filter changes every gradient). */
  val lrCleanModel: Artifact[QualityClassifier.LogisticModel] = logistic("lrclean") { (s, dir) =>
    lrAugment(ops.Decontaminate.multiPatternFilter(
        T(s, dir, "documents"), "text", Seq("batch batch", "dow win")))
      .filter(pmod(col("doc_id"), lit(2L)) === 0L)
  }

  /** q174's round bound is the node count: the gate graph's modular
    * chains are deep (the standing split needs 25 rounds at sf0.1), and
    * min-label propagation settles within one round per hop of the
    * longest shortest path; the kernel stops at the fixpoint. */
  private def ccBound(s: SparkSession, dir: String): Int =
    math.min(rowCount(T(s, dir, "documents")) + 1L, Int.MaxValue.toLong).toInt

  /** q174's standing labels: CC over the ~80% of its gate edges that
    * are not the delta. */
  val ccStanding: Artifact[DataFrame] = Artifact.frame("cc-standing") { (s, dir) =>
    Dedup.connectedComponents(ccGateEdges(s, dir, 1L)
      .filter(pmod(col("id_a") + col("id_b"), lit(5L)) =!= 0L), ccBound(s, dir))
  }

  /** q174's full rebuild. */
  val ccRebuilt: Artifact[DataFrame] = Artifact.frame("cc-rebuilt") { (s, dir) =>
    Dedup.connectedComponents(ccGateEdges(s, dir, 1L), ccBound(s, dir))
  }

  /** q178's full rebuild over its 1/16-density graph. */
  val cc16Rebuilt: Artifact[DataFrame] = Artifact.frame("cc16-rebuilt") { (s, dir) =>
    Dedup.connectedComponents(ccGateEdges(s, dir, 16L))
  }

  /** A PageRank fixpoint run: scores to parquet, rounds and the
    * converged flag as scalars. */
  private def pageRank(tag: String)(run: (SparkSession, String) => Graph.PrRun)
      : Artifact[Graph.PrRun] =
    Artifact(tag,
      (s, dir, path) => {
        val r = run(s, dir)
        Stored.write(r.scores, path, r.rounds.toLong, if (r.converged) 1L else 0L)
      },
      (s, st) => Graph.PrRun(st.frame(s), st.scalars(0).toInt, st.scalars(1) == 1L))

  /** q177's standing scores: the 7/8 of its gate edges whose source is
    * not a delta source. */
  val prStanding: Artifact[Graph.PrRun] = pageRank("pr-standing") { (s, dir) =>
    Graph.pageRankFixpoint(prGateEdges(s, dir).filter(pmod(col("src"), lit(8L)) =!= 0L),
      "src", "dst", dampingE2 = 15L, scaleUnit = 1000L)
  }

  /** The uniform fixpoint over all gate edges: q177's cold baseline and
    * q186's uniform reference. */
  val prCold: Artifact[Graph.PrRun] = pageRank("pr-cold") { (s, dir) =>
    Graph.pageRankFixpoint(prGateEdges(s, dir), "src", "dst",
      dampingE2 = 15L, scaleUnit = 1000L)
  }

  /** q186's seeds = all control. */
  val pprAll: Artifact[Graph.PrRun] = pageRank("ppr-all") { (s, dir) =>
    val edges = prGateEdges(s, dir)
    val allNodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    Graph.personalizedPageRankFixpoint(edges, "src", "dst",
      allNodes, "id", dampingE2 = 15L, scaleUnit = 1000L)
  }

  /** q197's one-shot labeling: the pair set is the incremental join
    * against an empty standing side (every pair has a new endpoint). */
  val mediaOneshot: Artifact[DataFrame] = Artifact.frame("media-oneshot") { (s, dir) =>
    val fps = ops.Multimodal.mediaFingerprints(multimodalMediaTable(s, dir))
      .repartition(4)
    Dedup.connectedComponents(
      ops.Multimodal.mediaPairsIncremental(fps, emptyFpFrame(s), maxHamming = 4)
        .select(col("id_a"), col("id_b")))
  }

  /** q128's exact baselines, which live at the sf0.1 dump whatever the
    * caller's dir: the brute-force truth set, the trained IVF centroids
    * and the exact cosine pair set. */
  val annTruth: Artifact[DataFrame] = Artifact.frame("ann-truth", sf01) { (s, d) =>
    val emb = T(s, d, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, 5)
  }
  val ivfCents: Artifact[DataFrame] = Artifact.frame("ivf-cents", sf01) { (s, d) =>
    Similarity.trainCentroids(T(s, d, "embeddings"), nCells = 8, iters = 2)
  }
  val cosExact: Artifact[DataFrame] = Artifact.frame("cos-exact", sf01) { (s, d) =>
    Similarity.cosinePairsLabelExact(T(s, d, "embeddings"), "label", 3000L)
      .select(col("id_a"), col("id_b"))
  }

  val store: ArtifactStore = new ArtifactStore(Seq(
    minhashIndex, dedupLabels, pqCents, pqBooks, pqIndex, lrModel,
    lrCleanModel, ccStanding, ccRebuilt, cc16Rebuilt, prStanding, prCold,
    pprAll, mediaOneshot, annTruth, ivfCents, cosExact))
}
