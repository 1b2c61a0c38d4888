package org.apache.spark.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Release of locally checkpointed blocks (lives under `org.apache.spark`
  * for `private[spark]` access, like [[ShuffleDrain]]).
  *
  * `RDD.unpersist` warns on every locally checkpointed RDD that its
  * lineage is truncated and cannot be recomputed. The iterative drivers
  * (the PageRank kernel, the CC and BPE loops, the streaming sinks'
  * per-batch checkpoints) drop such RDDs on purpose once the next state
  * is materialized, so that warning is one stderr line per round.
  */
object Checkpoints {

  /** Unpersists `rdd` if it is still persisted. A locally checkpointed
    * RDD goes through the context's own removal path, the one the
    * ContextCleaner takes for a collected RDD, without the warning; any
    * other RDD is unpersisted as usual. Idempotent: a second call on the
    * same RDD does nothing.
    */
  def drop(rdd: RDD[_], blocking: Boolean = false): Unit = {
    val sc = rdd.sparkContext
    if (sc.persistentRdds.contains(rdd.id)) {
      if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
        sc.unpersistRDD(rdd.id, blocking)
      else rdd.unpersist(blocking)
    }
  }
}
