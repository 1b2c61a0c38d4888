package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, composed
  * from codegen'd higher-order functions (`zip_with` / `aggregate`) —
  * no UDFs, so the expressions inline into whole-stage codegen and
  * survive column pruning.
  *
  * Accumulation is strict left-to-right (Catalyst `aggregate` semantics),
  * which keeps results bit-deterministic across runs and engines that
  * evaluate sequentially.
  */
object VectorFunctions {

  /** Native codegen'd dot product ([[org.apache.spark.sql.graft.DotProduct]]); the
    * `aggregate(zip_with(...))` formulation is interpreted per element
    * and ~100× slower inside pair-scoring joins.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val denom = norm(a) * norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(d / denom)
  }

  /** Unit-normalize a vector (pre-normalizing once turns cosine top-k
    * into dot-product top-k — the standard trick for scale). The norm
    * rides in via array_repeat so the lambda never references an outer
    * expression (which interpreted HOFs would re-evaluate per element).
    */
  def normalize(a: Column): Column =
    zip_with(a, array_repeat(norm(a), size(a)),
      (x, n) => when(n === 0.0, lit(0.0)).otherwise(x.cast("double") / n))

  /** Random-hyperplane LSH signature: sign bits of dot products with
    * `nPlanes` pseudo-random hyperplanes derived deterministically from
    * the vector positions (seeded hash — no RNG at plan time, so plans
    * are reproducible). Returns a BIGINT bucket id; cosine-similar
    * vectors collide with high probability.
    *
    * The per-plane "hyperplane" component for dimension i is
    * hash(i, plane, seed) mapped to [-0.5, 0.5] — cheap, deterministic,
    * and good enough for bucketing (we re-rank within buckets with exact
    * cosine anyway).
    */
  def hyperplaneLshBucket(vec: Column, nPlanes: Int, seed: Int = 42): Column = {
    val bits = (0 until nPlanes).map { p =>
      // component_i = (murmur3(i * 1315423911 + p, seed) % 1001) / 1000 - 0.5
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) => {
          val h = pmod(hash(i.cast("long") * lit(1315423911L) + lit(p.toLong), lit(seed)), lit(1001))
          x.cast("double") * (h.cast("double") / 1000.0 - 0.5)
        }),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** Coarse IVF-style centroid assignment: bucket by the index of the
    * largest-magnitude dimension group. Splits the space into
    * `nCells` cells deterministically without a trained codebook —
    * the scale path partitions candidates by cell before exact re-rank.
    */
  def ivfCell(vec: Column, nCells: Int): Column =
    pmod(
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => when(x >= 0.0, i.cast("long")).otherwise(-i.cast("long"))),
        lit(0L), (acc, v) => acc + v),
      lit(nCells.toLong))
}
