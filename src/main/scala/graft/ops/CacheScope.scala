package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.graft.Checkpoints
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped lifecycle for operator-internal persisted state.
  *
  * The dedup/skew family persists intermediates (shingle rows,
  * signature tables, candidate lists, head vocabularies) because
  * multiple plan branches consume them; `trainCentroids` and BPE
  * training additionally `localCheckpoint` per-round state to truncate
  * lineage, and the [[Graph]] kernel (PageRank, connected components)
  * checkpoints its final RDD state. Those blocks outlive the operator
  * call by design —
  * the returned DataFrame is lazy and still reads them — so the
  * operator cannot unpersist them itself. Before round 9 they simply
  * leaked until something swept the whole block manager
  * ([[graft.Bench.releaseAll]]); in a long-lived session (a notebook, a
  * multi-query job) that accumulates without bound.
  *
  * This registry is the explicit lifecycle scope: operators register
  * every persisted frame / checkpoint RDD against their session, and
  * the CALLER calls [[release]] once it has fully consumed the results
  * of the operators it invoked (after the terminal action — the frames
  * are gone afterwards, and localCheckpoint blocks CANNOT be recomputed,
  * so a released frame must not be re-collected).
  *
  * Concurrency model (r20 — the composed-session contract): the
  * registry is scoped by (SparkContext, THREAD). A streaming sink's
  * per-batch body runs driver-side on its query's microbatch thread,
  * so CONCURRENT sinks on one session register, mark, and drain
  * disjoint deques — one sink's per-batch `releaseSince` can never pop
  * a sibling's in-flight frames (under the old session-keyed single
  * deque it could, and did: the tail it drained interleaved both
  * sinks' registrations). Context (not session) keying makes a
  * streaming query's CLONED session drain through the constructor
  * session's marks — they share the thread. Within one thread the
  * single-writer stack discipline still holds: marks nest, the tail is
  * yours. [[release]] sweeps every thread's deques for the context.
  */
object CacheScope {

  private type Key = (org.apache.spark.SparkContext, Thread)

  private val frames =
    new ConcurrentHashMap[Key, java.util.Deque[DataFrame]]()
  private val rdds =
    new ConcurrentHashMap[Key, java.util.Deque[RDD[_]]]()

  private def keyOf(spark: SparkSession): Key =
    (spark.sparkContext, Thread.currentThread())

  private def frameQueue(spark: SparkSession) =
    frames.computeIfAbsent(keyOf(spark), _ => new java.util.concurrent.ConcurrentLinkedDeque[DataFrame]())
  private def rddQueue(spark: SparkSession) =
    rdds.computeIfAbsent(keyOf(spark), _ => new java.util.concurrent.ConcurrentLinkedDeque[RDD[_]]())

  /** Persist `df` and register it for the session's next [[release]]. */
  private[graft] def persist(df: DataFrame,
                             level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    frameQueue(df.sparkSession).add(df)
    df
  }

  private val stageNames =
    new ConcurrentHashMap[Key, java.util.Deque[String]]()

  /** [[persist]] plus a stage name recorded for observability — the
    * [[Pipeline.stage]] backing. Names drain with [[release]].
    */
  private[graft] def persistStage(name: String, df: DataFrame,
                                  level: StorageLevel): DataFrame = {
    val out = persist(df, level)
    stageNames.computeIfAbsent(keyOf(df.sparkSession),
      _ => new java.util.concurrent.ConcurrentLinkedDeque[String]()).add(name)
    out
  }

  /** Stage names registered via [[persistStage]] on THIS thread since
    * the last [[release]], in registration order (test/ops
    * observability: a composition spec asserts its persist points
    * exist by name).
    */
  def stagedNames(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Option(stageNames.get(keyOf(spark))).map(_.asScala.toSeq).getOrElse(Seq.empty)
  }

  /** Eager localCheckpoint returning the checkpointed frame plus the
    * checkpoint's backing RDDs, read from the checkpointed plan's own
    * LogicalRDD leaves (r20 — the old persistent-RDD-table diff raced
    * with concurrent sinks: a sibling's blocks created inside the
    * window were captured as "ours" and later unpersisted under it).
    * Iterative drivers unpersist the PREVIOUS round's RDDs with this
    * handle once the next round is materialized.
    */
  private[graft] def localCheckpointTracked(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val out = df.localCheckpoint(true)
    (out, org.apache.spark.sql.graft.CatalogCache.checkpointRdds(out))
  }

  /** LAZY localCheckpoint (r20, guide §1.2 "fewer passes"): same
    * truncated-lineage LogicalRDD plan as [[localCheckpointTracked]],
    * but the blocks materialize on the caller's NEXT action instead of
    * an extra eager count pass. An iterative driver that already runs
    * an aggregate over each round's state (BPE training's argmax)
    * folds materialization into it — half the jobs per round.
    * CONTRACT: the caller must run an action that computes EVERY
    * partition of the returned frame (a full aggregate qualifies)
    * before unpersisting the inputs the plan reads — until then the
    * lineage is morally live even though the plan is truncated.
    */
  private[graft] def localCheckpointLazyTracked(df: DataFrame): (DataFrame, Seq[RDD[_]]) = {
    val out = df.localCheckpoint(false)
    (out, org.apache.spark.sql.graft.CatalogCache.checkpointRdds(out))
  }

  /** Register checkpoint RDDs that must survive until [[release]]
    * (e.g. a kernel's final state, still read by the returned frame).
    */
  private[graft] def registerRdds(spark: SparkSession, toTrack: Seq[RDD[_]]): Unit = {
    val q = rddQueue(spark)
    toTrack.foreach(q.add)
  }

  /** Drop checkpoint RDDs an iterative driver no longer needs (the
    * previous round's state, once the next round is materialized).
    */
  private[graft] def unpersistRdds(toDrop: Seq[RDD[_]]): Unit =
    toDrop.foreach(Checkpoints.drop(_))

  /** Release every intermediate registered against `spark`'s CONTEXT —
    * all sessions, all threads — since the last release. Call after
    * the terminal action on the consuming query; results derived from
    * released operators must not be re-executed (checkpoint lineage is
    * truncated by design).
    */
  def release(spark: SparkSession): Unit = {
    val ctx = spark.sparkContext
    import scala.jdk.CollectionConverters._
    frames.keySet.asScala.filter(_._1 eq ctx).toSeq.foreach { k =>
      Option(frames.remove(k)).foreach { q =>
        q.forEach(df => { df.unpersist(blocking = false); () })
      }
    }
    rdds.keySet.asScala.filter(_._1 eq ctx).toSeq.foreach { k =>
      Option(rdds.remove(k)).foreach { q =>
        q.forEach(r => Checkpoints.drop(r))
      }
    }
    stageNames.keySet.asScala.filter(_._1 eq ctx).toSeq
      .foreach(stageNames.remove)
    ()
  }

  /** Number of currently-registered intermediates across the context's
    * threads (test observability). */
  def trackedCount(spark: SparkSession): Int = {
    val ctx = spark.sparkContext
    import scala.jdk.CollectionConverters._
    frames.asScala.collect { case ((c, _), q) if c eq ctx => q.size }.sum +
      rdds.asScala.collect { case ((c, _), q) if c eq ctx => q.size }.sum
  }

  /** Registry position snapshot for [[releaseSince]]. */
  final case class Mark(nFrames: Int, nRdds: Int)

  /** Snapshot the current thread's registry position. */
  private[graft] def mark(spark: SparkSession): Mark =
    Mark(Option(frames.get(keyOf(spark))).map(_.size).getOrElse(0),
      Option(rdds.get(keyOf(spark))).map(_.size).getOrElse(0))

  /** Release ONLY the intermediates this THREAD registered after
    * `mark` — the per-trigger drain for a streaming sink: without it
    * the registry accretes one batch's worth of DataFrame plan
    * references per trigger for the stream's lifetime (r10 review),
    * but a full [[release]] would also tear down STANDING frames
    * registered at sink creation (a trained model, a bloom sketch).
    * Thread scoping (r20) makes the tail-is-yours invariant hold even
    * with sibling sinks running concurrently on the same context;
    * within a thread marks nest (stack discipline).
    */
  private[graft] def releaseSince(spark: SparkSession, m: Mark): Unit = {
    Option(frames.get(keyOf(spark))).foreach { q =>
      while (q.size > m.nFrames) {
        Option(q.pollLast()).foreach(df => { df.unpersist(blocking = false); () })
      }
    }
    Option(rdds.get(keyOf(spark))).foreach { q =>
      while (q.size > m.nRdds) {
        Option(q.pollLast()).foreach(r => Checkpoints.drop(r))
      }
    }
  }

  /** Eager localCheckpoint whose backing blocks are registered on the
    * CURRENT THREAD for its next [[releaseSince]]/[[release]] — the
    * streaming sinks' per-batch checkpoint primitive (r20). Replaces
    * the sinks' getPersistentRDDs-diff sweeps, which under CONCURRENT
    * sinks on one context unpersisted sibling sinks' in-flight
    * truncated-lineage blocks (anything created inside the diff
    * window looked like "ours"). The blocks are read from the
    * checkpointed plan's own leaves
    * ([[org.apache.spark.sql.graft.CatalogCache.checkpointRdds]]), so
    * attribution is exact.
    */
  private[graft] def localCheckpointScoped(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    registerRdds(df.sparkSession,
      org.apache.spark.sql.graft.CatalogCache.checkpointRdds(out))
    out
  }

  /** Chainable registered persist: `df.persistTracked()` ≡
    * `CacheScope.persist(df)` — keeps operator pipelines readable.
    */
  private[graft] implicit class TrackedPersist(private val df: DataFrame) extends AnyVal {
    def persistTracked(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      CacheScope.persist(df, level)
  }
}
