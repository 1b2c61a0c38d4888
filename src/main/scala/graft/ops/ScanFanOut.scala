package graft.ops

import org.apache.spark.sql.DataFrame

/** Operator-neutral fan-out for narrow explode-heavy chains.
  *
  * A tokenize/shingle pass is a NARROW chain from the scan (explode →
  * map-side partial agg), so the scan's file/split count caps its
  * parallelism — a few-file input serializes the amplified work onto
  * one core. The round-robin repartition here buys width at the cost
  * of one (id, text) exchange; at real scale the scan already arrives
  * thousands-of-splits wide and the byte estimate hits the cap.
  *
  * WIDTH is SIZE-DERIVED: ceil(plan-stats bytes / [[BytesPerTask]]),
  * capped at `defaultParallelism` — never a bare core count. Small frames stop
  * paying `cores` tasks of fixed per-task cost (~0.25 s of fresh-plan
  * interpreted execution each, measured); at production
  * scale the byte estimate hits the cap and the behavior is identical
  * to the old full-width fan. The stats come from the optimized logical
  * plan: scan projections estimate at file-size-proportional bytes
  * (small data → narrow), while join-derived frames (the quadratic
  * candidate-pair verifies) estimate large and keep full width — which
  * matches where the heavy per-row work actually is. The default
  * 32 KB/task is deliberately far below a scan split size because these
  * chains AMPLIFY per-byte work (5-gram explosion, quadratic pair
  * scoring, container decode).
  */
object ScanFanOut {

  /** Plan-stats bytes per fan-out task. */
  final val BytesPerTask = 32768L

  def apply(df: DataFrame): DataFrame = df.repartition(width(df))

  /** Size-derived fan-out width for `df`. The Dedup family's verify
    * repartitions do NOT use it: they keep full session width (see
    * `Dedup.verifyWidth`). */
  def width(df: DataFrame): Int = {
    val max = df.sparkSession.sparkContext.defaultParallelism
    try {
      val b = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (!b.isValidLong) max
      else math.max(1L, math.min(max.toLong,
        (b.toLong + BytesPerTask - 1L) / BytesPerTask)).toInt
    } catch { case scala.util.control.NonFatal(_) => max }
  }
}
