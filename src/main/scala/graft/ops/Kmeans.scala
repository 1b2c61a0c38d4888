package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer fixed-point k-means (Lloyd's iterations) whose ITERATION
  * ARITHMETIC is engine-exact — the q158 PageRank doctrine applied to
  * clustering. Float k-means is accumulation-order-dependent (a
  * partition-order change moves a centroid by 1 ulp and can flip a
  * boundary assignment), so a float fit can only ever be gated by
  * recall-style floors (the q96/q97 treatment of
  * [[Similarity.trainCentroids]]). This variant quantizes the corpus
  * once to non-negative Long fixed point and runs every distance,
  * argmin, and centroid mean in integer arithmetic: byte-identical
  * across engines, partitionings, and retries, so a DuckDB oracle can
  * replay the unrolled iterations CTE-for-CTE and hash-match the
  * assignment itself.
  *
  * WHY A CLUSTERING PRIMITIVE AT ALL: SemDeDup (Abbas et al., 2023,
  * arXiv:2303.09540) prescribes k-means cells as the blocking
  * structure for embedding-space dedup — cluster first, then score
  * pairs only WITHIN a cell. The repo's [[Similarity.semanticDedup]]
  * is cell-agnostic (any cell column); this operator supplies the
  * SemDeDup cell assignment with an exactness gate, where the LSH
  * bucket (q110) was the previous — structurally coarser — choice.
  *
  * Distributed shape at 100 TB (mirrors [[Similarity.trainCentroids]],
  * which keeps the float path for recall work):
  *  - the corpus never shuffles: assignment is a broadcast join of the
  *    k-row centroid frame against the quantized vectors (narrow, one
  *    pass, codegen'd HOF distance), and the centroid update shuffles
  *    only map-side-combined (cell, dim) partials — ≤ k·d rows per
  *    partition leave the map side, never N·d;
  *  - per-iteration driver state is the k×d centroid table
  *    (localCheckpoint'd, k·d Longs ≈ 4 KB at k=8, d=64) — the
  *    CC/PageRank iteration-state lesson, so the logical plan does not
  *    grow with the iteration count;
  *  - ties (equal distance to two centroids) break to the smaller cell
  *    id via `min(struct(dist, cell))` — a map-side-combinable
  *    aggregate, no per-vector sort anywhere.
  *
  * Degeneracy: a cell that loses every member simply vanishes from the
  * next update (standard Lloyd's drop, the trainCentroids convention);
  * with the deterministic first-k-ids init both engines lose it
  * identically.
  */
object Kmeans {

  /** Quantize a float/double array column to non-negative Long fixed
    * point: `floor(x · scale) + offset`. `offset` must exceed
    * `scale · |min(x)|` so every quantized coordinate — and therefore
    * every centroid-mean division — is non-negative, making Spark's
    * truncating `div` coincide with floor division and with DuckDB's
    * `//` (the q158 positivity contract). floor over exact doubles is
    * IEEE-deterministic, so both engines quantize identically.
    */
  def quantize(emb: Column, scale: Long, offset: Long): Column =
    transform(emb, x =>
      floor(x.cast("double") * scale.toDouble).cast("long") + offset)

  /** Squared L2 distance between two quantized vectors — exact Long
    * arithmetic, codegen'd HOF (no UDF). Bounds: |diff| ≤ the quantized
    * range, so d=64 coordinates of (2·scale)² sums stay far below
    * Long.MaxValue for any sane scale.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Fit k centroids by `iters` integer Lloyd's updates and return the
    * final assignment: one row per input row, `(id, cell, dist)` where
    * `cell` is the argmin centroid AFTER the last update and `dist` the
    * exact integer squared distance to it. Initial centroids are the
    * quantized vectors of the k smallest ids (deterministic, replayable
    * — k-means++ randomization would break the oracle and adds nothing
    * at gate scale).
    */
  def assignInt(df: DataFrame, idName: String, embName: String,
                k: Int, iters: Int,
                scale: Long = 1000L, offset: Long = 1000L): DataFrame = {
    val (q, cents) = fitInternal(df, idName, embName, k, iters, scale, offset)
    assignQ(q, col(idName), cents).select(col(idName), col("cell"), col("dist"))
  }

  /** The fitted centroid table alone — what the ingest path FREEZES
    * ([[assignAgainst]]/[[cellStats]] consume it). Same loop as
    * [[assignInt]], same arithmetic, same init.
    */
  def fitCentroids(df: DataFrame, idName: String, embName: String,
                   k: Int, iters: Int,
                   scale: Long = 1000L, offset: Long = 1000L): DataFrame =
    fitInternal(df, idName, embName, k, iters, scale, offset)._2

  private def fitInternal(df: DataFrame, idName: String, embName: String,
                          k: Int, iters: Int,
                          scale: Long, offset: Long): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k, $iters")
    val id = col(idName)
    // quantized corpus: consumed once per assignment pass and once per
    // update join — a stage boundary so the quantization (and the scan
    // under it) runs once, not per consumer (the q156/q157 lesson).
    // NOT fanned out (r20, measured): fanning this frame propagated
    // 32-wide partitioning into every downstream assignment/update/
    // semantic-dedup stage whose per-task fixed cost (~0.25 s of
    // interpreted-HOF/codegen setup) then dominated — q164's task CPU
    // went 0.6 s → 16 s and q171's wall doubled. The within-query win
    // (q165/q166) came from cosinePairsLabelExact's own fan-out, which
    // is where the quadratic CPU actually lives.
    val q = Pipeline.stage(s"kmeans_quant_$idName",
      df.select(id, quantize(col(embName), scale, offset).as("qv")))
    // init: the k smallest ids' vectors (ids need not be 0..k-1).
    // orderBy.limit plans as TakeOrderedAndProject — a map-side top-k
    // heap, never a global sort; the global row_number window then
    // runs on the k-row result, not the corpus
    val initW = org.apache.spark.sql.expressions.Window.orderBy(id)
    var (cents, centRdds) = CacheScope.localCheckpointTracked(
      q.orderBy(id).limit(k)
        .withColumn("rk", row_number().over(initW))
        .select((col("rk") - 1).cast("long").as("cell"), col("qv").as("cv")))

    // Assignment as a NARROW projection (r15 probe finding): the first
    // cut computed the argmin via crossJoin + groupBy(id) and re-joined
    // the assignment to the vectors for the update — TWO corpus-sized
    // exchanges per iteration (the ×10 probe showed shuffle records
    // growing with N). Instead the k centroids collapse into ONE
    // array<struct<cell,cv>> row, broadcast to every partition, and
    // the argmin is array_min over struct(dist, cell) — lexicographic,
    // order-independent (collect_list's nondeterminism is harmless),
    // ties to the smaller cell. Per iteration NOTHING corpus-sized
    // shuffles: assignment is map-only, and the update's posexplode
    // collapses to ≤ k·d (cell, dim) partials per partition.
    def assign(c: DataFrame): DataFrame = assignQ(q, id, c)

    for (_ <- 0 until iters) {
      val cN = assign(cents)
        .select(col("cell"), posexplode(col("qv")).as(Seq("j", "x")))
        .groupBy(col("cell"), col("j"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        // truncating `div` == floor == DuckDB `//` because quantize
        // keeps every coordinate (hence sum) non-negative
        .select(col("cell"), col("j"), expr("sx div n").as("s"))
      // reassemble the centroid array in dim order: array_sort on
      // struct(j, s) orders by the unique j, transform strips it
      val (next, nextRdds) = CacheScope.localCheckpointTracked(cN
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("j"), col("s")))),
          e => e.getField("s")).as("cv")))
      // eager checkpoint: the previous iteration's centroids are dead
      CacheScope.unpersistRdds(centRdds)
      cents = next
      centRdds = nextRdds
    }
    // the final centroids back the returned frames — caller releases
    CacheScope.registerRdds(df.sparkSession, centRdds)
    (q, cents)
  }

  // the one assignment kernel both the Lloyd's loop and the frozen-
  // centroid ingest path share (drift here would split their semantics)
  private def assignQ(q: DataFrame, id: Column, c: DataFrame): DataFrame = {
    val cArr = c.agg(collect_list(struct(col("cell"), col("cv"))).as("cs"))
    q.crossJoin(broadcast(cArr))
      .select(id, col("qv"),
        // array_min over struct(dist, cell) IS min(struct(...)):
        // lexicographic, ties to the smaller cell — and each distance
        // evaluates exactly ONCE (an aggregate-fold with a CASE
        // re-inlines the HOF into both the condition and the THEN
        // branch — the q156 no-CSE lesson, seen in this very plan)
        array_min(transform(col("cs"), e =>
          struct(sqDist(col("qv"), e.getField("cv")).as("dist"),
            e.getField("cell").as("cell")))).as("best"))
      .select(id, col("qv"),
        col("best.cell").as("cell"), col("best.dist").as("dist"))
  }

  // ————— incremental ingest: exact sufficient statistics (r16) —————
  //
  // The ingest-path regime (the q148 PQ doctrine applied to cells):
  // fit once, FREEZE the centroids, then ingest mini-batches by
  // maintaining per-(cell, dim) integer sufficient statistics
  // (Σx, n). The merge is exact because division is deferred to READ
  // time — a mean-of-means merge would round per batch and drift;
  // summing Longs is associative and commutative, so stats over any
  // batch slicing equal stats over the union corpus EXACTLY, and the
  // centroid table derived from merged stats is byte-identical to the
  // one a batch Lloyd's UPDATE round would compute over the same
  // corpus. State is O(k·d) Longs regardless of corpus size.

  /** Assignment of a corpus against a FROZEN centroid table — a pure
    * per-vector function of the models (no iteration), the ingest-path
    * twin of [[assignInt]]'s inner pass. Returns (id, cell, dist).
    */
  def assignAgainst(df: DataFrame, idName: String, embName: String,
                    cents: DataFrame,
                    scale: Long = 1000L, offset: Long = 1000L): DataFrame = {
    val q = df.select(col(idName),
      quantize(col(embName), scale, offset).as("qv"))
    assignQ(q, col(idName), cents).select(col(idName), col("cell"), col("dist"))
  }

  /** Per-(cell, dim) integer sufficient statistics of `df` under the
    * frozen `cents`: (cell, j, sx, n). ≤ k·d rows leave each partition
    * (map-side combine); the corpus never shuffles.
    */
  def cellStats(df: DataFrame, idName: String, embName: String,
                cents: DataFrame,
                scale: Long = 1000L, offset: Long = 1000L): DataFrame = {
    val q = df.select(col(idName),
      quantize(col(embName), scale, offset).as("qv"))
    assignQ(q, col(idName), cents)
      .select(col("cell"), posexplode(col("qv")).as(Seq("j", "x")))
      .groupBy(col("cell"), col("j"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
  }

  /** Exact merge of sufficient-statistics frames: stats(A) ⊎ stats(B)
    * = stats(A ∪ B), by integer-sum associativity.
    */
  def mergeStats(stats: DataFrame*): DataFrame = {
    require(stats.nonEmpty, "need at least one stats frame")
    stats.reduce(_ unionByName _)
      .groupBy(col("cell"), col("j"))
      .agg(sum(col("sx")).as("sx"), sum(col("n")).as("n"))
  }

  /** The centroid table implied by sufficient statistics — the exact
    * Lloyd's-round update (truncating `div` == floor: quantize keeps
    * every coordinate non-negative). Returns (cell, cv).
    */
  def centroidsOf(stats: DataFrame): DataFrame =
    stats
      .select(col("cell"), col("j"), expr("sx div n").as("s"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("s")))),
        e => e.getField("s")).as("cv"))
}
