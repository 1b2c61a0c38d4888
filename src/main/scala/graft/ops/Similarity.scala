package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.ops.CacheScope.TrackedPersist

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is
  *    broadcast; the candidate table streams through once (one scan, no
  *    candidate-side shuffle before the rank). Baseline + verifier.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing; only bucket-colliding
  *    pairs are scored. The scale path when the query set itself is
  *    large: both sides shuffle on the small bucket key instead of
  *    cross-joining.
  *
  * Vector math is codegen'd higher-order functions
  * ([[graft.functions.VectorFunctions]]) — no UDF, no Python.
  */
object Similarity {

  /** Attach a random-hyperplane LSH bucket column to a (vec_id,
    * embedding) projection via posexplode + one codegen'd aggregation —
    * the DataFrame-level fast path for
    * [[VectorFunctions.hyperplaneLshBucket]] (whose higher-order-function
    * form is interpreted per element and re-evaluates per plane).
    * Hyperplane component for (dim i, plane p): murmur3(i·1315423911+p,
    * seed) mapped to [-0.5, 0.5] — identical weights to the Column form.
    */
  private[ops] def withLshBucket(df: DataFrame, idName: String, embName: String,
                                 nPlanes: Int, seed: Int = 42): DataFrame =
    withLshBuckets(df, idName, embName, nPlanes, Seq(seed))
      .withColumnRenamed("bucket_0", "bucket")

  /** Multi-table form: ONE posexplode + ONE codegen'd aggregate computes
    * every table's hyperplane projections (seeds.size × nPlanes partial
    * sums per vector) — the embedding column is scanned once no matter
    * how many tables, where a per-table loop would re-explode it L
    * times. Output: the input plus `bucket_0 … bucket_{L-1}`.
    *
    * nPlanes is capped at 63: the bucket packs plane signs into one
    * BIGINT via `1L << p`, and a 64th plane would alias plane 0 (JVM
    * shifts are mod 64) — silent bucket corruption, not an error.
    *
    * Contract: vectors whose embedding is NULL or empty produce no
    * posexplode rows and are ABSENT from every LSH path's output (they
    * have no bucket). The brute-force baseline keeps them at sim 0 —
    * callers comparing the two must pre-filter degenerate vectors.
    */
  private[ops] def withLshBuckets(df: DataFrame, idName: String, embName: String,
                                  nPlanes: Int, seeds: Seq[Int]): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 63,
      s"nPlanes=$nPlanes must be in [1, 63]: bucket bits pack into one BIGINT")
    // NOT fanned out (r20, measured): the projection aggregate carries
    // L·nPlanes sum(when(...)) columns (up to 1024 at 16 tables), and
    // its PER-TASK expression/buffer initialization costs ~0.3 s CPU —
    // a 32-way fan-out multiplied that fixed cost 32× (q128's task CPU
    // went 4.4 s → 52.8 s) while the per-row work is tiny. The
    // downstream per-pair verify paths get their width from the
    // candidate-pair fan-out instead.
    val exploded = df.select(col(idName), col(embName),
        posexplode(col(embName)).as(Seq("i", "x")))
      .select(col(idName), col("i"), col("x"))
    val projs = for (t <- seeds.indices; p <- 0 until nPlanes) yield
      sum(col("x").cast("double") *
        (pmod(hash(col("i").cast("long") * lit(1315423911L) + lit(p.toLong),
          lit(seeds(t))), lit(1001)).cast("double") / 1000.0 - 0.5)).as(s"proj_${t}_$p")
    val buckets = exploded.groupBy(col(idName)).agg(projs.head, projs.tail: _*)
      .select(col(idName) +:
        seeds.indices.map { t =>
          (0 until nPlanes).map(p =>
            when(col(s"proj_${t}_$p") >= 0.0, lit(1L << p)).otherwise(lit(0L)))
            .reduce(_ + _).as(s"bucket_$t")
        }: _*)
    df.join(buckets, idName)
  }

  /** (table, bucket) candidate rows for a multi-table bucketing: one
    * small explode over the single-pass bucket columns.
    */
  private def tableBuckets(withBuckets: DataFrame, idName: String,
                           nTables: Int): DataFrame =
    withBuckets.select(col(idName),
        explode(array((0 until nTables).map(t =>
          struct(lit(t).as("tbl"), col(s"bucket_$t").as("bkt"))): _*)).as("tb"))
      .select(col(idName), col("tb.tbl"), col("tb.bkt"))

  /** Largest query set [[bruteForceTopK]] broadcasts. */
  final val MaxBroadcastQueries = 100000

  /** Exact top-k by cosine: for each query vector, the k nearest
    * candidates (self-match excluded), deterministic tiebreak on
    * candidate id.
    *
    * The query side broadcasts only while it is a bounded query SET
    * ([[MaxBroadcastQueries]], 10⁵ — ~50 MB of 64-dim doubles): a
    * caller passing a large query frame gets a plain join
    * (AQE picks the strategy) instead of a driver OOM. The guard's
    * count is one aggregate over ids — noise next to the |Q|×|C|
    * scoring this operator exists to do.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val qProj = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val q = if (queries.select(col("vec_id")).limit(MaxBroadcastQueries + 1)
        .count() <= MaxBroadcastQueries) broadcast(qProj) else qProj
    // NOT fanned out (r20, measured): the ANN query sets are small
    // (bounded |Q|), so the |Q|×|C| scoring here is cheap per candidate
    // row and the fan-out's per-task fixed cost moved q23/q157 UP
    // (q58's task CPU went 0.5 s → 8 s across the family's fans).
    val c = candidates.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** LSH-bucketed ANN: hyperplane signature → bucket join → exact
    * re-rank within buckets. Recall grows with fewer planes (bigger
    * buckets) or multiple tables; this single-table variant is the
    * skeleton, tuned via `nPlanes`.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nPlanes: Int = 8): DataFrame = {
    val q = withLshBucket(queries.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nPlanes)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    val c = withLshBucket(candidates.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nPlanes)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Multi-table LSH ANN: L independent bucketings (different seeds)
    * union their candidate sets before the exact re-rank — the standard
    * recall lever (P(miss) = (1-p)^L per neighbor instead of 1-p).
    * Costs L bucket joins of small keys; the expensive exact scoring
    * still runs once per distinct candidate pair.
    */
  def lshTopKMulti(queries: DataFrame, candidates: DataFrame, k: Int,
                   nPlanes: Int = 8, nTables: Int = 4): DataFrame = {
    val seeds = (0 until nTables).map(t => 42 + t * 1000003)
    val q = tableBuckets(withLshBuckets(queries.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nPlanes, seeds), "vec_id", nTables)
      .withColumnRenamed("vec_id", "query_id")
    val c = tableBuckets(withLshBuckets(candidates.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nPlanes, seeds), "vec_id", nTables)
      .withColumnRenamed("vec_id", "neighbor_id")
    val candPairs = q.join(c, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qEmb = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cEmb = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = candPairs.join(qEmb, "query_id").join(cEmb, "neighbor_id")
      .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** IVF-style ANN: both sides are assigned a coarse cell
    * ([[VectorFunctions.ivfCell]]); scoring happens only within the
    * query's cell. The scale path when neither side fits a broadcast:
    * both shuffle on the small cell id, and each cell's join is local.
    * Recall is traded for the partition bound (a trained codebook with
    * multi-probe would raise it; the plumbing is identical).
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nCells: Int = 16): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("cell", VectorFunctions.ivfCell(col("q_emb"), nCells))
    val c = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .withColumn("cell", VectorFunctions.ivfCell(col("c_emb"), nCells))
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Spherical k-means codebook for trained IVF, DataFrame-native
    * Lloyd's iterations: assignment is a broadcast nested-loop of each
    * (unit) vector against the tiny centroid table scored with the
    * native [[org.apache.spark.sql.graft.DotProduct]]; the update step
    * recomputes each cell's re-normalized mean via ONE posexplode +
    * hash-aggregate (the per-dimension sums shuffle (cell, dim) rows —
    * never vectors). The driver loop is over ITERATIONS (a handful);
    * per-iteration state is a nCells-row model table, localCheckpointed
    * so the lineage doesn't compound across rounds.
    *
    * Determinism: init takes the nCells lowest vec_ids; every later step
    * is pure column algebra (floating-point shuffle-order variation can
    * flip a boundary assignment between runs, which a trained-ANN
    * consumer tolerates by construction — the exact re-rank happens
    * downstream).
    *
    * Empty cells are dropped (standard Lloyd's degeneracy); callers see
    * ≤ nCells centroids. Output: (cell, cent) with unit-norm
    * `array<double>` centroids.
    */
  def trainCentroids(candidates: DataFrame, nCells: Int = 16,
                     iters: Int = 3): DataFrame = {
    val unit = candidates
      .select(col("vec_id"), VectorFunctions.normalize(col("embedding")).as("u"))
    var (cents, centRdds) = CacheScope.localCheckpointTracked(
      unit.orderBy(col("vec_id")).limit(nCells)
        .select((row_number().over(Window.orderBy(col("vec_id"))) - 1).as("cell"),
          col("u").as("cent")))
    for (_ <- 0 until iters) {
      val assigned = assignCells(unit, "vec_id", "u", cents, nProbe = 1)
      val (next, nextRdds) = CacheScope.localCheckpointTracked(
        assigned.join(unit, "vec_id")
          .select(col("cell"), posexplode(col("u")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i")).agg(sum(col("x")).as("sx"))
          .groupBy(col("cell"))
          .agg(sort_array(collect_list(struct(col("i"), col("sx")))).as("ps"))
          // model-sized HOF (nCells rows): interpreted eval is irrelevant here
          .select(col("cell"),
            VectorFunctions.normalize(transform(col("ps"), p => p.getField("sx")))
              .as("cent")))
      // eager checkpoint: the previous iteration's model blocks are dead
      CacheScope.unpersistRdds(centRdds)
      cents = next
      centRdds = nextRdds
    }
    // the final model backs the returned frame — caller releases
    CacheScope.registerRdds(candidates.sparkSession, centRdds)
    cents
  }

  /** Top-`nProbe` cells per vector by centroid dot product (vectors
    * must be unit-norm for the dot to rank like cosine). Broadcast
    * nested-loop against the model table; ties break on cell id.
    *
    * The nProbe=1 case (the CANDIDATE side — every vector of the
    * corpus, on training, encode, and index-build paths) is the q91
    * argmin doctrine: a map-side-combinable `max(struct(sim, -cell))`
    * shuffles one best-so-far partial per vector per partition, where
    * the window-rank form exchanged the full |vecs|·nCells
    * centroid-expanded frame. nProbe>1 (the bounded QUERY side) keeps
    * the window — a multi-row top-k per key needs the rank.
    */
  private def assignCells(vecs: DataFrame, idName: String, uName: String,
                          centroids: DataFrame, nProbe: Int): DataFrame = {
    val scored = vecs.crossJoin(broadcast(centroids))
      .withColumn("__csim", VectorFunctions.dot(col(uName), col("cent")))
    if (nProbe == 1) {
      scored
        .select(col(idName),
          struct(col("__csim"), (-col("cell")).as("negcell")).as("__sc"))
        .groupBy(col(idName))
        .agg(max(col("__sc")).as("__best"))
        .select(col(idName), (-col("__best.negcell")).cast("int").as("cell"))
    } else {
      val w = Window.partitionBy(col(idName))
        .orderBy(col("__csim").desc, col("cell").asc)
      scored
        .withColumn("__crn", row_number().over(w))
        .filter(col("__crn") <= nProbe)
        .select(col(idName), col("cell"))
    }
  }

  /** IVF with a TRAINED codebook and multi-probe: candidates live in
    * their single nearest cell; each query probes its `nProbe` nearest
    * cells and exact-re-ranks only those cells' candidates. The
    * both-sides-large scale path with a recall dial: candidate-side
    * work is unchanged as nProbe grows (the shuffle stays keyed on the
    * small cell id), query-side cost is ×nProbe — the textbook
    * IVF trade. With nProbe = nCells the result equals
    * [[bruteForceTopK]] by construction (every cell probed), which is
    * the property the spec pins.
    */
  def ivfTopKTrained(queries: DataFrame, candidates: DataFrame, k: Int,
                     centroids: DataFrame, nProbe: Int = 2): DataFrame = {
    val cu = candidates.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("u"))
    val cCells = assignCells(cu, "vec_id", "u", centroids, nProbe = 1)
    val c = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(cCells.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val qu = queries.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("u"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .join(assignCells(qu, "vec_id", "u", centroids, nProbe)
        .withColumnRenamed("vec_id", "query_id"), "query_id")
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a query probing nProbe cells sees each candidate at most once
      // (candidates hold ONE cell), so no distinct needed before ranking
      .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Product-quantizer codebooks (Jégou et al. TPAMI'11): split each
    * unit-normalized D-dim vector into `nSub` contiguous subvectors and
    * train `k` codewords PER SUBSPACE by Lloyd's iterations — the
    * memory lever for vector search at 100 TB: the standing index
    * stores `nSub` small ints per vector instead of D floats
    * (D=64 float ≈ 256 B → 4 codes ≈ 4 B at k ≤ 256), and ADC scoring
    * reconstructs approximations from the model-sized codebooks.
    *
    * Same distributed shape as [[trainCentroids]], generalized: ONE
    * explode produces (vec_id, m, subvector) rows for ALL subspaces, so
    * every Lloyd's step trains the nSub codebooks in the same jobs —
    * assignment is a broadcast join against the (nSub·k)-row codebook
    * scored by `dot(sub, cent) − ‖cent‖²/2` (the L2-argmin identity;
    * plain k-means, NOT spherical — subvector magnitudes carry signal),
    * the update re-averages per (m, code, dim) — (nSub·k·D/nSub) = k·D
    * summed cells shuffle, never vectors. Init: each subspace's k
    * lowest vec_ids (deterministic); ties break on code asc. Empty
    * cells drop (Lloyd's degeneracy). EAGER by design (model build):
    * the dimension probe and the iteration loop run Spark jobs.
    *
    * Output: (m, code, cent array<double>, cnorm2 double).
    */
  def trainProductQuantizer(candidates: DataFrame, nSub: Int = 4,
                            k: Int = 16, iters: Int = 3): DataFrame = {
    require(nSub >= 1 && k >= 1 && iters >= 0)
    val dim = candidates.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val subD = dim / nSub
    val unit = candidates
      .select(col("vec_id"), VectorFunctions.normalize(col("embedding")).as("u"))
    // one row per (vector, subspace) — persisted: every Lloyd's step
    // (assignment + update) and the final encode consume it
    val subs = unit.select(col("vec_id"), explode(array((0 until nSub).map(j =>
        struct(lit(j).as("m"), slice(col("u"), j * subD + 1, subD).as("sub"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
      .persistTracked()
    def withNorm(c: DataFrame): DataFrame =
      c.withColumn("cnorm2", VectorFunctions.dot(col("cent"), col("cent")))
    // init: the k lowest vec_ids, ONCE, via orderBy.limit — plans as
    // TakeOrderedAndProject (the trainCentroids shape: map-side top-k
    // heaps, model-sized result). Every vector carries all nSub
    // subspaces, so "k lowest ids per subspace" == "k lowest ids" —
    // the previous Window.partitionBy(m) sorted the ENTIRE expanded
    // corpus through nSub reducer partitions for the same k·nSub rows.
    // The residual window ranks the k·nSub-row broadcast-joined init
    // set (model-sized).
    val initIds = unit.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
    val initW = Window.partitionBy(col("m")).orderBy(col("vec_id"))
    var (cents, centRdds) = CacheScope.localCheckpointTracked(withNorm(
      subs.join(broadcast(initIds), "vec_id")
        .withColumn("__rn", row_number().over(initW))
        .select(col("m"), (col("__rn") - 1).cast("int").as("code"),
          col("sub").as("cent"))))
    for (_ <- 0 until iters) {
      val assigned = pqAssign(subs, cents)
      val (next, nextRdds) = CacheScope.localCheckpointTracked(withNorm(
        assigned.join(subs, Seq("vec_id", "m"))
          .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("i", "x")))
          .groupBy(col("m"), col("code"), col("i"))
          .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
          .groupBy(col("m"), col("code"))
          .agg(sort_array(collect_list(
            struct(col("i"), (col("sx") / col("n")).as("mu")))).as("ps"))
          // model-sized HOF (nSub·k rows): interpreted eval irrelevant
          .select(col("m"), col("code"),
            transform(col("ps"), p => p.getField("mu")).as("cent"))))
      CacheScope.unpersistRdds(centRdds)
      cents = next
      centRdds = nextRdds
    }
    CacheScope.registerRdds(candidates.sparkSession, centRdds)
    cents
  }

  /** Nearest codeword per (vector, subspace) by the L2-argmin identity
    * (vectors' own norms are constant within the argmin). Broadcast
    * join against the model table; ties break on code asc.
    *
    * The q91 argmin doctrine (this sits on training AND the standing-
    * index encode — recurring ingest work): a map-side-combinable
    * `max(struct(score, -code))` shuffles ONE best-so-far partial per
    * (vector, subspace) per partition, where the previous window-rank
    * form exchanged the whole codebook-expanded frame
    * (|vecs|·nSub·k rows — 256× at the gated 8×32 config).
    */
  private def pqAssign(subs: DataFrame, codebooks: DataFrame): DataFrame =
    subs.join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"),
        struct(
          (VectorFunctions.dot(col("sub"), col("cent")) - col("cnorm2") / 2.0)
            .as("ps"),
          (-col("code")).as("negcode")).as("__sc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(max(col("__sc")).as("__best"))
      .select(col("vec_id"), col("m"),
        (-col("__best.negcode")).cast("int").as("code"))

  /** Subvector width read off the MODEL (one model-sized head — every
    * codeword of every subspace has length subD by construction), so
    * encode/query paths never need a corpus-facing dimension probe:
    * the streaming ingest sink encodes a delta PER TRIGGER, and a
    * per-trigger corpus head() is a job on the trigger floor.
    */
  private def subDimOf(codebooks: DataFrame): Int =
    codebooks.select(size(col("cent")).as("d")).head().getInt(0)

  /** Plan-embedded dimension guard: the slice arithmetic silently
    * mis-encodes a vector whose length disagrees with the trained
    * nSub·subD, so the mismatch must fail LOUD at runtime (the
    * assert_true grid-guard doctrine) — a codegen'd per-row compare,
    * not a corpus probe. It RIDES the subspace id (`coalesce(assert
    * .cast, lit(j))` — the q137 un-prunable shape: a free-standing
    * guard column would be optimized away before it ever ran).
    */
  private def subspaceIdGuarded(u: org.apache.spark.sql.Column, dim: Int,
                                j: Int) =
    coalesce(
      assert_true(size(u) === dim,
        concat(lit(s"embedding length != trained dim $dim: got "),
          size(u).cast("string"))).cast("int"),
      lit(j))

  /** PQ-encode: (vec_id, codes array<int> ordered by subspace) — THE
    * standing-index payload (nSub small ints per vector). Vector
    * dimension is dictated by the codebooks; a mismatched vector fails
    * loud in-plan.
    */
  def pqEncode(candidates: DataFrame, codebooks: DataFrame,
               nSub: Int): DataFrame = {
    val subD = subDimOf(codebooks)
    val dim = subD * nSub
    val unit = candidates
      .select(col("vec_id"), VectorFunctions.normalize(col("embedding")).as("u"))
    val subs = unit.select(col("vec_id"), explode(array((0 until nSub).map(j =>
        struct(subspaceIdGuarded(col("u"), dim, j).as("m"),
          slice(col("u"), j * subD + 1, subD).as("sub"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    pqAssign(subs, codebooks)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("code")))).as("pc"))
      .select(col("vec_id"),
        transform(col("pc"), p => p.getField("code")).as("codes"))
  }

  /** Reconstruct the ADC approximation x̂ from PQ codes: concatenate
    * each subspace's codeword. Index-sized work (one broadcast join per
    * vector row), so the pair-scoring join downstream sees a plain
    * vector column and stays identical to the exact path's shape.
    */
  def pqReconstruct(encoded: DataFrame, codebooks: DataFrame): DataFrame =
    encoded.select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(codebooks.select(col("m"), col("code"), col("cent"))),
        Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("m"), col("cent")))).as("pc"))
      .select(col("vec_id"),
        flatten(transform(col("pc"), p => p.getField("cent"))).as("xhat"))

  /** THE standing IVF-PQ index: (vec_id, cell int, codes array<int>) —
    * one coarse cell + nSub small codes per vector, the at-rest ANN
    * artifact (8 B/vector at the gated 8×32 config vs 256 B of
    * doubles). Built ONCE per corpus against frozen models (a nightly
    * artifact, the q57 standing-index doctrine); queries consume it via
    * [[ivfPqTopK]] without re-encoding anything, and new batches append
    * via [[pqIndexAppend]] without retraining.
    */
  def pqIndex(candidates: DataFrame, centroids: DataFrame,
              codebooks: DataFrame, nSub: Int): DataFrame = {
    val cu = candidates.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("u"))
    val cells = assignCells(cu, "vec_id", "u", centroids, nProbe = 1)
    pqEncode(candidates, codebooks, nSub).join(cells, "vec_id")
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  /** Incremental index maintenance — the q57 doctrine for vectors: a
    * training-data pipeline ingests embeddings continuously, so only
    * the DELTA batch is assigned + encoded (delta-sized work against
    * the frozen, model-sized centroids/codebooks) and appended to the
    * standing index. Cell assignment and codeword argmin are pure
    * per-vector functions of the models, so
    * `pqIndexAppend(pqIndex(base), delta) == pqIndex(base ∪ delta)`
    * EXACTLY — the property q148's oracle gates. What this does NOT
    * refresh is the MODELS: codebooks drift as the corpus distribution
    * shifts; retrain when the delta's quantization error (ADC score of
    * each vector against its own reconstruction) degrades vs the
    * training-time value (see SCALE.md's drift note).
    */
  def pqIndexAppend(index: DataFrame, delta: DataFrame, centroids: DataFrame,
                    codebooks: DataFrame, nSub: Int): DataFrame =
    index.unionByName(pqIndex(delta, centroids, codebooks, nSub))

  /** Mean PQ quantization error of a standing index against its
    * full-precision vectors: squared L2 between each unit vector and
    * its code reconstruction, averaged over the corpus, in ×10⁶ fixed
    * point — THE drift signal for the incremental-index regime
    * ([[pqIndexAppend]] freezes the models, so quantization error grows
    * as the ingested distribution shifts away from the training
    * corpus). Operationally: record this at train time, re-measure on
    * each delta batch (delta-sized work — one broadcast reconstruction
    * join + one aggregate), and RETRAIN + re-encode when it degrades
    * materially (2× is a reasonable default trigger — q149 gates that
    * the detector actually fires on a genuine shift). Cheap by
    * construction: model-sized broadcast, one corpus scan, one scalar
    * out.
    *
    * Output: (n_vectors, mean_sq_err_e6).
    */
  def pqSelfErrorE6(vectors: DataFrame, index: DataFrame,
                    codebooks: DataFrame): DataFrame = {
    val xhat = pqReconstruct(index.select(col("vec_id"), col("codes")), codebooks)
    vectors.select(col("vec_id"),
        VectorFunctions.normalize(col("embedding")).as("u"))
      .join(xhat, "vec_id")
      .select(aggregate(
        zip_with(col("u"), col("xhat"), (a, b) => {
          val d = a.cast("double") - b.cast("double")
          d * d
        }), lit(0.0), (acc, v) => acc + v).as("sqerr"))
      .agg(count(lit(1)).as("n_vectors"),
        floor(avg(col("sqerr")) * 1000000.0).cast("long").as("mean_sq_err_e6"))
  }

  /** IVF-PQ query over the STANDING index: coarse cells route the
    * search (index rows live in 1 cell, queries probe `nProbe`); within
    * probed cells, scoring is asymmetric-distance (ADC) via PER-QUERY
    * LOOKUP TABLES — `lut[m][code] = dot(q_sub_m, codeword_{m,code})`,
    * nSub·k doubles per query, built by one broadcast join of the
    * exploded query subvectors against the model-sized codebooks. The
    * pair join then carries (query: lut, candidate: nSub ints) and the
    * ADC estimate is nSub O(1) array lookups + adds per pair —
    * mathematically identical to `dot(q, x̂)` (the reconstruction
    * concatenates exactly those codewords) with none of x̂'s D-double
    * payload in the exchange, and NO touch of candidate embeddings:
    * the corpus side of the big join is the index verbatim.
    *
    * `fullVectors` feeds only the exact re-rank of the k·refine ADC
    * shortlist (point lookups against the full-precision store — the
    * standard IVF-PQ deployment shape; on weakly-clustered data the
    * quantized estimate is noisy enough that ranking by it directly
    * INVERTS with nProbe — measured 0.33→0.30 recall at sf0.01).
    *
    * SIZE k·refine ABOVE the expected near-duplicate cluster size (or
    * dedup before indexing): copies of one vector quantize to nearly
    * identical codes, so inside a cluster the ADC shortlist is a tie
    * broken by nothing correlated with the exact ranking — measured at
    * ×100 duplicate density (VectorScaleProbe, SCALE.md r14): cluster
    * 100 vs shortlist 40 → recall 0.35; shortlist 80 → 0.85 at
    * comparable wall. nProbe does not help (copies share the cell).
    * nSub and the code range are read off the codebooks (model-sized
    * head) — one fewer way to pass the wrong constant.
    * Ranking: ADC desc → shortlist; exact sim desc, neighbor_id asc.
    * Recall is gated numerically (q146, the q94 floor pattern).
    */
  def ivfPqTopK(queries: DataFrame, index: DataFrame, fullVectors: DataFrame,
                k: Int, centroids: DataFrame, codebooks: DataFrame,
                nProbe: Int = 2, refine: Int = 8): DataFrame = {
    require(refine >= 1, "refine factor must be >= 1")
    // ONE model-sized probe (documented eager): subspace count, code
    // stride, and subvector width all come off the codebook table —
    // the query/candidate frames are never probed, and a query whose
    // dimension disagrees with the trained nSub·subD fails loud
    // in-plan (subspaceIdGuarded)
    val shape = codebooks
      .agg(max(col("m")).as("mm"), max(col("code")).as("mc"),
        max(size(col("cent"))).as("sd")).head()
    val nSub = shape.getInt(0) + 1
    val stride = shape.getInt(1) + 1
    val subD = shape.getInt(2)
    val dim = subD * nSub
    val qu = queries.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("u"))
    // per-query ADC LUTs: dense array<double> per (query, m) indexed by
    // code (codes dropped by Lloyd's degeneracy never appear in the
    // index, so their 0.0 slots are never read), collected to one
    // array<array<double>> per query ordered by m
    val qsubs = qu.select(col("vec_id"),
        explode(array((0 until nSub).map(j =>
          struct(subspaceIdGuarded(col("u"), dim, j).as("m"),
            slice(col("u"), j * subD + 1, subD).as("sub"))): _*))
          .as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    val lut = qsubs.join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"), col("code"),
        VectorFunctions.dot(col("sub"), col("cent")).as("pd"))
      .groupBy(col("vec_id"), col("m"))
      .agg(map_from_entries(collect_list(struct(col("code"), col("pd")))).as("cm"))
      .select(col("vec_id"), col("m"),
        transform(sequence(lit(0), lit(stride - 1)),
          c => coalesce(element_at(col("cm"), c), lit(0.0))).as("lm"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("lm")))),
        x => x.getField("lm")).as("lut"))
    val q = qu.select(col("vec_id").as("query_id"), col("u").as("q_u"))
      .join(lut.withColumnRenamed("vec_id", "query_id"), "query_id")
      .join(assignCells(qu, "vec_id", "u", centroids, nProbe)
        .withColumnRenamed("vec_id", "query_id"), "query_id")
    val c = index.select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", aggregate(
        zip_with(col("lut"), col("codes"), (l, cd) => element_at(l, cd + 1)),
        lit(0.0), (a, v) => a + v))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val shortlist = scored
      .withColumn("__adc_rk", row_number().over(w))
      .filter(col("__adc_rk") <= k * refine)
      .select(col("query_id"), col("q_u"), col("neighbor_id"))
    val exact = shortlist
      .join(fullVectors.select(col("vec_id").as("neighbor_id"),
        VectorFunctions.normalize(col("embedding")).as("c_u")), "neighbor_id")
      .withColumn("sim", VectorFunctions.dot(col("q_u"), col("c_u")))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    exact
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** All-pairs above a similarity floor (embedding near-dup detection):
    * LSH bucket join + exact verify, pairs id_a < id_b. The
    * embedding-cosine member of the dedup family. Vectors are unit-
    * normalized once per row, so each pair costs exactly one native
    * [[org.apache.spark.sql.graft.DotProduct]] loop — small codegen (a 64-term
    * unpacked sum here once sent Janino's whole-stage compile into
    * minutes), fast evaluation.
    */
  def cosineNearDupPairs(df: DataFrame, minSimE4: Long, nPlanes: Int = 10): DataFrame = {
    val base = withLshBucket(df.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nPlanes)
      .select(col("vec_id"),
        VectorFunctions.normalize(col("embedding")).as("u"), col("bucket"))
    val a = base.select(col("vec_id").as("id_a"), col("u").as("ua"), col("bucket"))
    val b = base.select(col("vec_id").as("id_b"), col("u").as("ub"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        floor(org.apache.spark.sql.graft.VectorExpressions.dot(col("ua"), col("ub")) * 10000)
          .cast("long").as("sim_e4"))
      .filter(col("sim_e4") >= minSimE4)
  }

  /** The exact within-label pair baseline: every same-label pair scored
    * with `floor(cosine · 10⁴)`. Quadratic in block size — ONE
    * definition, shared by the oracle-gated query (q90), the auto
    * dispatch's below-bound branch, and the recall gate's truth side
    * (q98), so a scoring change can never diverge them.
    */
  def cosinePairsLabelExact(df: DataFrame, labelCol: String,
                            minSimE4: Long): DataFrame = {
    // ScanFanOut (r20, guide §2.5): the within-label self-join broadcasts
    // one side, so the quadratic per-pair cosine work runs at the PROBE
    // side's width — which is the scan's file count (1 at test SFs) or
    // AQE's byte-coalesced width on a post-shuffle input, both serial for
    // CPU-dense small-byte frames (measured: 6 single-task stages,
    // wall ≈ task CPU on q90). One (id, label, vector) exchange buys full
    // width for every downstream pair evaluation.
    val e = ScanFanOut(
      df.select(col("vec_id"), col(labelCol).as("__lbl"), col("embedding")))
    e.alias("a").join(e.alias("b"),
        col("a.__lbl") === col("b.__lbl") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        floor(VectorFunctions.cosine(col("a.embedding"), col("b.embedding")) * 10000)
          .cast("long").as("cos_e4"))
      .filter(col("cos_e4") >= minSimE4)
  }

  /** Exact within-label cosine pairs with a MEASURED scale guard — the
    * q79 dispatch doctrine applied to vectors. ONE cheap aggregate
    * computes the largest label block; at or below the conf-gated bound
    * (`graft.sim.maxBlock`, default 65536) the exact within-label
    * self-join runs — quadratic in block size, the hash-checkable
    * baseline. Above the bound that quadratic is infeasible (a fixed
    * label set at 100× data is 10,000× pair work), so the LABEL-BLOCKED
    * multi-table LSH path runs instead: candidate keys are
    * (label, table, bucket) — pairs can never cross labels — and every
    * candidate is exactly verified, so precision stays 1 and the output
    * is a high-recall SUBSET of the exact answer. Unlike q79's purely
    * physical dispatch, crossing this bound deliberately trades
    * exactness for feasibility — which is the only honest option for a
    * quadratic operator (recall per pair is 1-(1-p)^L, the standard
    * multi-table lever; see SCALE.md for the measured crossover).
    *
    * The statistic pass aggregates (label, count) — one map-side-
    * combinable scan, ~10⁻⁵ of the vector bytes — and decides a job
    * that is unboundedly more expensive in the wrong regime.
    */
  def cosinePairsLabelAuto(df: DataFrame, labelCol: String, minSimE4: Long,
                           nPlanes: Int = 0, nTables: Int = 8): DataFrame = {
    val maxBlock = df.sparkSession.conf.get("graft.sim.maxBlock", "65536").toLong
    // Threshold-adaptive plane count (nPlanes <= 0 = derive): a pair at
    // exactly the floor agrees with a random hyperplane w.p.
    // p = 1 - acos(s)/π, survives a k-plane table w.p. p^k, and L
    // tables miss it w.p. (1-p^k)^L — so the largest k with
    // 1-(1-p^k)^L >= 0.9 is k = ln(1 - 0.1^(1/L)) / ln(p). A loose
    // floor (0.3) forces k=2 (few, fat buckets — LSH buys little,
    // which is information-theoretic, not an implementation artifact);
    // a production near-dup floor (0.85+) gets k≈7 and real pruning.
    val k = if (nPlanes > 0) nPlanes else {
      val p = 1.0 - math.acos(math.min(minSimE4 / 10000.0, 1.0)) / math.Pi
      // capped at 16: near s=1 the derived k diverges (s=0.995 → k≈42,
      // s→1 → ∞), and k·L aggregate columns blow up whole-stage
      // codegen while bits ≥ 64 would alias. Capping only LOWERS plane
      // count → fatter buckets → recall strictly ABOVE the 0.9 design
      // floor; the price is candidate selectivity, paid in the exact
      // verify, never in correctness.
      math.min(16, math.max(2,
        (math.log(1.0 - math.pow(0.1, 1.0 / nTables)) / math.log(p)).toInt))
    }
    val biggest = df.groupBy(col(labelCol)).agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L)).as("m")).head().getLong(0)
    val e = df.select(col("vec_id"), col(labelCol).as("__lbl"), col("embedding"))
    if (biggest <= maxBlock) cosinePairsLabelExact(df, labelCol, minSimE4)
    else {
      val seeds = (0 until nTables).map(t => 42 + t * 1000003)
      val wb = withLshBuckets(e, "vec_id", "embedding", k, seeds)
      val tb = wb.select(col("vec_id"), col("__lbl"),
          explode(array((0 until nTables).map(t =>
            struct(lit(t).as("tbl"), col(s"bucket_$t").as("bkt"))): _*)).as("tb"))
        .select(col("vec_id"), col("__lbl"), col("tb.tbl"), col("tb.bkt"))
      val a = tb.select(col("vec_id").as("id_a"), col("__lbl"), col("tbl"), col("bkt"))
      val b = tb.select(col("vec_id").as("id_b"), col("__lbl"), col("tbl"), col("bkt"))
      val candPairs = ScanFanOut(a.join(b, Seq("__lbl", "tbl", "bkt"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct())
      // verify with the SAME expression on the RAW embeddings as the
      // exact branch — dot-of-normalized rounds differently in the last
      // ulp, which at the floor boundary could emit a pair the exact
      // path rejects and break the documented subset contract
      val raw = df.select(col("vec_id"), col("embedding"))
      candPairs
        .join(raw.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
        .join(raw.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
        .select(col("id_a"), col("id_b"),
          floor(VectorFunctions.cosine(col("ea"), col("eb")) * 10000)
            .cast("long").as("cos_e4"))
        .filter(col("cos_e4") >= minSimE4)
    }
  }

  /** Multi-table embedding near-dup: L independent hyperplane bucketings
    * union their candidate pairs before ONE exact verify pass — recall
    * 1-(1-p)^L per pair at the same bucketed (never quarter-cartesian)
    * plan shape. This is the scale-safe way to raise recall: each
    * table's buckets stay small (2^nPlanes of them), so the bucket join
    * stays near-linear, vs. collapsing nPlanes which grows every bucket
    * toward N²/2^nPlanes pair scoring.
    */
  def cosineNearDupPairsMulti(df: DataFrame, minSimE4: Long, nPlanes: Int = 8,
                              nTables: Int = 8): DataFrame = {
    val ids = df.select(col("vec_id"), col("embedding"))
    val seeds = (0 until nTables).map(t => 42 + t * 1000003)
    val tb = tableBuckets(withLshBuckets(ids, "vec_id", "embedding", nPlanes, seeds),
      "vec_id", nTables)
    val a = tb.select(col("vec_id").as("id_a"), col("tbl"), col("bkt"))
    val b = tb.select(col("vec_id").as("id_b"), col("tbl"), col("bkt"))
    // fanned after the distinct (r20): AQE coalesces the small pair set
    // to one partition and the per-pair exact dot below would run serial
    // — the minhashLshPairs verify-width lesson
    val candPairs = ScanFanOut(a.join(b, Seq("tbl", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct())
    val u = df.select(col("vec_id"),
      VectorFunctions.normalize(col("embedding")).as("u"))
    candPairs
      .join(u.select(col("vec_id").as("id_a"), col("u").as("ua")), "id_a")
      .join(u.select(col("vec_id").as("id_b"), col("u").as("ub")), "id_b")
      .select(col("id_a"), col("id_b"),
        floor(org.apache.spark.sql.graft.VectorExpressions.dot(col("ua"), col("ub")) * 10000)
          .cast("long").as("sim_e4"))
      .filter(col("sim_e4") >= minSimE4)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): inside each
    * cell of a deterministic partitioning (a label, q91's nearest-
    * centroid assignment, an LSH bucket — any column works, the rule
    * doesn't care how cells were made), drop every vector that has a
    * LOWER-ID neighbor with ⌊cos·10⁴⌋ ≥ `tauE4`. Chains collapse to
    * their earliest member in one pass: the kept set is exactly the
    * vectors that are the min id of their own τ-neighborhood prefix —
    * deterministic, order-free, no iteration (the one-pass variant of
    * the paper's keep-one-per-ε-ball; a chain a<b<c with cos(a,c) < τ
    * loses BOTH b and c, which for dedup is the conservative side).
    *
    * Pair scoring is [[cosinePairsLabelAuto]] — ONE definition shared
    * with the q90 oracle and the q98 recall gate, including its
    * measured dispatch: above the conf-gated block bound the quadratic
    * self-join is replaced by label-blocked multi-table LSH, where the
    * dominated set becomes a high-recall SUBSET (the operator
    * under-DROPS, never over-drops — precision of every drop stays 1).
    *
    * Shape at 100 TB: the dominated frame is dup-sized (usually ≪
    * corpus) — AQE converts the anti join to broadcast at runtime when
    * it measures small (plan-locked), and degrades to a shuffle join
    * when a pathological corpus really does dominate everything; no
    * hint forces a driver-sized assumption either way.
    */
  def semanticDedup(df: DataFrame, cellCol: String, tauE4: Long): DataFrame = {
    // EXACT-duplicate collapse before any pair scoring (r12 skew
    // probe): m identical copies of one vector are pairwise cos=1
    // near-dups, so their candidate mass grows m² in BOTH the exact
    // and the LSH-bucketed stage (identical vectors share every
    // bucket) while their contribution to the answer is just "keep
    // the min id" — one hash aggregate. Grouping is on the vector
    // VALUE itself (no fingerprint, no collision risk). Equivalence
    // to the one-pass min-id rule is exact: v has a lower-id
    // τ-neighbor iff v's representative has a lower-id representative
    // τ-neighbor (copies share all cosines; the rep carries the
    // copy-set's min id, and τ ≤ 10⁴ makes same-vector copies
    // τ-neighbors by definition).
    val reps = df.groupBy(col(cellCol), col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
    val dominated = cosinePairsLabelAuto(
        reps.select(col("vec_id"), col("embedding"), col(cellCol)),
        cellCol, tauE4)
      .select(col("id_b").as("vec_id")).distinct()
    // non-reps (an identical twin holds a lower id) drop via the
    // semi join; dominated reps drop via the anti join
    df.join(reps.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .join(dominated, Seq("vec_id"), "left_anti")
  }

  /** Prototypicality scoring + per-cell diversity cap — the "SemDeDup
    * keeps the survivors, prototypicality RANKS them" step of an
    * embedding-curation pipeline (cf. Sorscher et al., "Beyond neural
    * scaling laws", NeurIPS'22: prune by distance to the cluster
    * prototype). Each vector is scored by squared L2 distance to its OWN
    * cell's mean centroid; a per-cell `row_number` over (distance, id)
    * marks the `keepPerCell` most central as `kept`.
    *
    * Determinism/scale contract (same as the q91 nearest-centroid shape):
    *  - centroid sums run in ×1e6 fixed point (`sum(long)` is
    *    shuffle-order independent; a double sum is not), so centroids —
    *    and therefore every distance — are bit-stable across runs and
    *    match a replayed oracle exactly;
    *  - only (cell, dim) integer partials shuffle — vectors never do;
    *    the finished centroid table is model-sized and broadcast;
    *  - the full scoring output needs a per-cell sort for the rank; a
    *    consumer that only wants the pruned set should filter
    *    `rank <= keepPerCell` BEFORE any wide projection — Spark
    *    rewrites that shape to `WindowGroupLimit`, turning a skewed
    *    giant cell's full sort into a map-side top-k heap.
    *
    * Output: (id, cell, dist_e6, rank, kept) — callers wanting the
    * pruned set filter on `kept`; callers building a curriculum order by
    * (cell, rank).
    */
  def prototypicality(df: DataFrame, idName: String, cellName: String,
                      embName: String, keepPerCell: Int): DataFrame = {
    val cent = df
      .select(col(cellName), posexplode(col(embName)).as(Seq("dim_idx", "v")))
      .select(col(cellName), col("dim_idx"),
        floor(col("v").cast("double") * 1000000.0).cast("long").as("v_e6"))
      .groupBy(col(cellName), col("dim_idx"))
      .agg(count(lit(1)).as("n"), sum(col("v_e6")).as("sum_e6"))
      .select(col(cellName), col("dim_idx"),
        floor(col("sum_e6").cast("double") / col("n").cast("double"))
          .cast("long").as("c_e6"))
      .groupBy(col(cellName))
      .agg(transform(array_sort(collect_list(struct(col("dim_idx"), col("c_e6")))),
        x => x.getField("c_e6")).as("cvec"))
    // NULLS LAST explicitly: Spark's ascending default is NULLS FIRST,
    // DuckDB's is NULLS LAST — a NULL embedding would otherwise rank as
    // the MOST prototypical vector of its cell (and break the oracle)
    val w = Window.partitionBy(col(cellName))
      .orderBy(col("dist").asc_nulls_last, col(idName).asc)
    df.join(broadcast(cent), cellName)
      .select(col(idName), col(cellName),
        aggregate(
          zip_with(col(embName), col("cvec"), (x, c) => {
            val d = x.cast("double") - c.cast("double") / 1000000.0
            d * d
          }),
          lit(0.0), (a, v) => a + v).as("dist"))
      .withColumn("rank", row_number().over(w))
      .select(col(idName), col(cellName),
        floor(col("dist") * 1000000.0).cast("long").as("dist_e6"),
        col("rank"), (col("rank") <= keepPerCell).as("kept"))
  }
}
