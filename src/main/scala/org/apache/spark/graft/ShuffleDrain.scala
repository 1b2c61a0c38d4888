package org.apache.spark.graft

import org.apache.spark.{MapOutputTrackerMaster, SparkContext}

/** Bench-instrument backdoor (lives under `org.apache.spark` for
  * `private[spark]` access, the same convention as Spark's own test
  * utilities): synchronously unregister every registered shuffle —
  * map statuses, shuffle files, block-manager state — through the
  * ContextCleaner's own idempotent cleanup path.
  *
  * WHY (r15 instrument forensics): `Bench.releaseAll`'s `System.gc()`
  * enqueues the dead shuffles/broadcasts of the finished rep on the
  * ContextCleaner's reference queue, and the cleaner then issues its
  * removal RPCs ASYNCHRONOUSLY — without a drain they execute during
  * the NEXT rep's timed window, contending with stage submission and
  * block registration on the single-threaded BlockManagerMaster
  * endpoint. Draining shuffles HERE — blocking, off the timed path —
  * removes the storm's heavy part (file deletion + map-status
  * unregistration); the remaining GC-found refs (already-unpersisted
  * RDDs, broadcast stubs) are cheap no-ops, and [[quiesce]] waits
  * those out too. (Attribution note: the r14 record's 7x in-suite
  * inflation — q145 90.6 s in-suite vs 13.3 s isolated — turned out
  * to be DOMINATED by JIT code-cache flushing, fixed by
  * ReservedCodeCacheSize=1g in build.sbt, found by a per-rep task
  * census — identical 1535 tasks/107 stages per rep, 1.6x taskCpu and
  * 5x executorDeserializeTime on slow reps. This drain remains as
  * instrument hygiene: it keeps /tmp shuffle files flat across a
  * 160-query suite.)
  *
  * SAFETY: callers invoke this between queries with no job running
  * and every cached frame already unpersisted. Exchange reuse never
  * crosses executions in batch Spark, so no live plan can reference a
  * drained shuffle.
  */
object ShuffleDrain {

  /** Drain the async listener bus (r19 ADVICE): SparkListener events
    * are delivered on a background queue, so a TaskCensus snapshot
    * taken "after" a job can miss onTaskEnd events still in flight —
    * and stragglers from the PREVIOUS rep's release can land after the
    * next rep's baseline snapshot, smearing task/CPU deltas across rep
    * boundaries. Those deltas feed the bench's storm classifier, so
    * both snapshot edges flush here first. `waitUntilEmpty` is
    * `private[spark]` (Spark's own tests use it the same way); bounded
    * and non-fatal — a timeout leaves at most the old smear.
    */
  def flushListeners(sc: SparkContext, timeoutMs: Long = 3000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: Throwable => false }

  /** Blocking-clean every registered shuffle; returns how many. */
  def drain(sc: SparkContext): Int = {
    val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    val ids = tracker.shuffleStatuses.keySet.toSeq
    sc.cleaner.foreach { c =>
      ids.foreach(id => c.doCleanupShuffle(id, blocking = true))
    }
    ids.size
  }

  /** GC, then WAIT until the ContextCleaner has processed the storm:
    * poll its referenceBuffer (which shrinks as each cleanup completes
    * and stabilizes when the queue is empty — read via reflection, the
    * field is Scala-private) until three consecutive samples agree or
    * the deadline passes. The leftover refs after [[drain]] are
    * broadcasts/accumulators — individually cheap, but thousands of
    * them after an artifact-build phase still take seconds that must
    * not land in the next timed window.
    */
  /** Returns (waitedMs, bufferSizeBefore, bufferSizeAfter) for the
    * instrument's own telemetry; (-1, -1, -1) when the cleaner or its
    * buffer is unreachable.
    */
  def quiesce(sc: SparkContext, maxWaitMs: Long = 5000L): (Long, Int, Int) = {
    sc.cleaner match {
      case Some(c) =>
        val buf = try {
          val f = classOf[org.apache.spark.ContextCleaner]
            .getDeclaredField("referenceBuffer")
          f.setAccessible(true)
          f.get(c).asInstanceOf[java.util.Set[_]]
        } catch { case _: Throwable => null }
        System.gc()
        if (buf == null) {
          Thread.sleep(300); System.gc(); (-1L, -1, -1)
        } else {
          val s0 = buf.size()
          val t0 = System.currentTimeMillis()
          val deadline = t0 + maxWaitMs
          var last = -1
          var stable = 0
          while (stable < 3 && System.currentTimeMillis() < deadline) {
            Thread.sleep(100)
            val s = buf.size()
            if (s == last) stable += 1 else { stable = 0; last = s }
          }
          (System.currentTimeMillis() - t0, s0, buf.size())
        }
      case None => (-1L, -1, -1)
    }
  }
}
