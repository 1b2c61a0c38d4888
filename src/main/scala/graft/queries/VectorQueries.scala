package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.ops.{Dedup, Similarity}

import Shared._
import Sql._
import Artifacts._

/** Embedding operators: exact and approximate nearest neighbours (LSH,
  * IVF, PQ), their recall gates, PCA and k-means.
  *
  * The ANN queries q33, q35, q36, q54 and q58 have no oracle: their output values depend on
  * xxhash64 / murmur3 hyperplanes, which DuckDB cannot reproduce, and
  * measured candidate recall on the near-uniform synthetic embeddings
  * is partial (top-5 overlap with exact brute force: 4-9/40), so the
  * pair/neighbor set itself is not SQL-expressible. Their floors are
  * gated numerically by q94-q98 (and the spec suite pins them too).
  */
private[graft] object VectorQueries {

  val all: Seq[Query] = Seq(

    // Similarity search — exact brute-force cosine top-k baseline
    Query("q23_ann_bruteforce", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, 5)
    }, Some("""SELECT query_id, rank, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id ASC) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 8)
         WHERE rank <= 5""")),

    // Similarity search — LSH-bucketed ANN (rows-only check)
    Query("q33_ann_lsh", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 8), emb, 5, nPlanes = 4)
    }, None),

    // Dedup family — embedding-cosine near-dup (rows-only: LSH-family
    // dependent candidate set). Bucketed plan kept scale-safe: 8 planes
    // per table (256 buckets), recall recovered via 8 independent
    // tables, NOT by collapsing the bucket space (2 planes = 4 buckets
    // = ~N²/4 pair scoring).
    // The synthetic embeddings top out near cosine 0.51, so the floor
    // sits at 0.30; candidate recall at that floor is partial by
    // design — hence rows-only.
    Query("q35_cosine_neardup", (s, dir) =>
      Similarity.cosineNearDupPairsMulti(T(s, dir, "embeddings"), minSimE4 = 3000L,
        nPlanes = 8, nTables = 8),
      None),

    // Similarity search — IVF-bucketed ANN, the no-broadcast scale path
    // (rows-only: recall bounded by the cell partition)
    Query("q36_ann_ivf", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 8), emb, 5, nCells = 8)
    }, None),

    // Similarity search — IVF with a TRAINED spherical-k-means codebook
    // and multi-probe (rows-only: cell assignment is model-dependent;
    // the probe-all == brute-force equivalence is pinned in
    // SimilaritySpec instead)
    Query("q58_ann_ivf_trained", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, nCells = 8, iters = 2)
      Similarity.ivfTopKTrained(emb.filter(col("vec_id") < 8), emb, 5,
        cents, nProbe = 2)
    }, None),

    // Similarity search — multi-table LSH (recall lever: L independent
    // bucketings union candidates before exact re-rank; rows-only).
    // Defaults measured on this fixture: recall@5 = 0.975 vs brute
    // force — the ≥0.9 floor is pinned in SimilaritySpec, so a params
    // change that collapses recall fails the build.
    Query("q54_ann_lsh_multi", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.lshTopKMulti(emb.filter(col("vec_id") < 8), emb, 5,
        nPlanes = 4, nTables = 16)
    }, None),

    // Vector family under the EXACT gate (the ANN queries are rows-only
    // by design): per-embedding L2 norm via the codegen'd DotProduct
    // (double accumulation in index order — replayable bit-for-bit by
    // the oracle's list_reduce) and the max-|component| quantization
    // scale. Zero shuffles; the whole row streams through codegen.
    Query("q70_embedding_norms", (s, dir) => {
      val e = T(s, dir, "embeddings")
      e.select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        floor(sqrt(VF.dot(col("embedding"), col("embedding"))) * 10000)
          .cast("long").as("l2_norm_e4"),
        floor(array_max(transform(col("embedding"), x => abs(x))).cast("double") * 10000)
          .cast("long").as("amax_e4"))
    },
      // Mirrors DotProduct's evaluation exactly: widen float→double
      // (exact), square, accumulate left-to-right; sqrt/floor are
      // correctly-rounded IEEE ops in both engines.
      Some("""SELECT vec_id,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(floor(sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) * 10000) AS BIGINT) AS l2_norm_e4,
         CAST(floor(CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) * 10000) AS BIGINT) AS amax_e4
         FROM embeddings""")),

    // Vector family under the EXACT gate — int8 scalar quantization
    // (the 4× vector-memory lever for ANN at 100 TB): per-vector
    // max-abs scale, q_i = ⌊x_i·127/amax⌋, integer summaries + the
    // reconstruction error in index-ordered fold — every step a
    // correctly-rounded IEEE double op, replayable bit-for-bit.
    Query("q82_quantize_embeddings", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val amax = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
      e.select(col("vec_id"), col("embedding"), amax.as("amax"))
        .withColumn("q", transform(col("embedding"), x =>
          when(col("amax") === 0.0, lit(0L)).otherwise(
            floor(x.cast("double") * 127.0 / col("amax")))))
        .select(
          col("vec_id"),
          array_min(col("q")).as("qmin"),
          array_max(col("q")).as("qmax"),
          aggregate(col("q"), lit(0L), (a, v) => a + v).as("qsum"),
          aggregate(col("q"), lit(0L), (a, v) => a + v * v).as("ql2"),
          floor(aggregate(
            zip_with(col("embedding"), col("q"), (x, qi) => {
              val d = x.cast("double") - qi.cast("double") * col("amax") / 127.0
              d * d
            }),
            lit(0.0), (a, v) => a + v) * 1e9).cast("long").as("err_e9"))
    },
      // list_reduce has no init value, so a typed 0 is prepended — the
      // fold then runs 0+e0+e1+… in index order, exactly Spark's
      // aggregate(init=0) accumulation.
      Some("""WITH m AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
           FROM embeddings),
         q AS (
           SELECT vec_id, embedding, amax,
             list_transform(embedding, x -> CASE WHEN amax = 0 THEN 0
               ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax) AS BIGINT) END) AS qv
           FROM m)
         SELECT vec_id,
           list_min(qv) AS qmin, list_max(qv) AS qmax,
           list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, b) -> a + b) AS qsum,
           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(qv, v -> v * v)), (a, b) -> a + b) AS ql2,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_zip(embedding, qv),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * amax / 127.0)
                  * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * amax / 127.0))),
             (a, b) -> a + b) * 1e9) AS BIGINT) AS err_e9
         FROM q""")),

    // Exact within-label cosine pairs — the hash-checked brute-force
    // BASELINE the LSH/IVF near-dup variants (q35 et al.) are measured
    // against — behind a MEASURED dispatch (the q79 doctrine applied to
    // vectors): one (label, count) aggregate checks the largest block
    // against graft.sim.maxBlock; test scales stay exact (the oracle
    // replays the codegen'd DotProduct's index-ordered accumulation),
    // while an over-bound block at 100 TB dispatches to the
    // label-blocked multi-table LSH subset path instead of a quadratic
    // that grows 10,000× at 100× data.
    Query("q90_cosine_pairs_label", (s, dir) =>
      Similarity.cosinePairsLabelAuto(T(s, dir, "embeddings"), "label", 3000L),
      // mirrors VF.cosine's composition exactly: zip-product fold for
      // the dot (index order = Spark's DotProduct loop), sqrt'd
      // self-dots, (dot / (na*nb)) * 1e4 floored — correctly-rounded
      // IEEE ops end to end, so the floors agree bit-for-bit
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(floor(
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y)))
               * 10000) AS BIGINT) AS cos_e4
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT * FROM p WHERE cos_e4 >= 3000""")),

    // Nearest-centroid assignment (the k-means E-step over q88's
    // fixed-point centroids), hash-green: distances are index-ordered
    // IEEE folds against the e6 centroid (cast back to double — both
    // engines compute c/1e6 identically), and the argmin is
    // min(struct(dist, label)) — a MAP-SIDE-COMBINABLE aggregate, so
    // the shuffle carries one (vec, best-so-far) partial per partition
    // instead of the |vecs|×|centroids| distance rows a window-rank
    // argmin would exchange. Tiebreak = lower label, same total order
    // as the oracle's (dist, label) rank (no ties in the data; the
    // order is defined anyway).
    Query("q91_nearest_centroid", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
        .select(col("label"), col("dim_idx"),
          floor(col("v").cast("double") * 1000000.0).cast("long").as("v_e6"))
        .groupBy(col("label"), col("dim_idx"))
        .agg(count(lit(1)).as("n"), sum(col("v_e6")).as("sum_e6"))
        .select(col("label").as("c_label"), col("dim_idx"),
          floor(col("sum_e6").cast("double") / col("n").cast("double"))
            .cast("long").as("c_e6"))
        .groupBy(col("c_label"))
        .agg(transform(array_sort(collect_list(struct(col("dim_idx"), col("c_e6")))),
          x => x.getField("c_e6")).as("cvec"))
      e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cent))
        .select(col("vec_id"), col("c_label"),
          aggregate(
            zip_with(col("embedding"), col("cvec"), (x, c) => {
              val d = x.cast("double") - c.cast("double") / 1000000.0
              d * d
            }),
            lit(0.0), (a, v) => a + v).as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("c_label"))).as("best"))
        .select(col("vec_id"),
          col("best.c_label").as("nearest_label"),
          floor(col("best.dist") * 1000000.0).cast("long").as("dist_e6"))
    },
      // window-rank argmin on (dist, label): the same total order as the
      // engine's min(struct(dist, label)) — equal when no per-vec
      // distance ties (none in this data; both orders break ties by
      // lower label anyway)
      Some("""WITH x AS (
           SELECT label, unnest(range(0, len(embedding))) AS dim_idx,
             unnest(list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))) AS v_e6
           FROM embeddings),
         c AS (
           SELECT label AS c_label, dim_idx,
             CAST(floor(CAST(sum(v_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c_e6
           FROM x GROUP BY 1, 2),
         cv AS (
           SELECT c_label, list(c_e6 ORDER BY dim_idx) AS cvec FROM c GROUP BY 1),
         d AS (
           SELECT e.vec_id, cv.c_label,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(e.embedding, cv.cvec),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / 1000000.0)
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / 1000000.0))),
               (a, b) -> a + b) AS dist
           FROM embeddings e CROSS JOIN cv),
         r AS (
           SELECT vec_id, c_label, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
           FROM d)
         SELECT vec_id, c_label AS nearest_label,
           CAST(floor(dist * 1000000.0) AS BIGINT) AS dist_e6
         FROM r WHERE rn = 1""")),

    // Per-label embedding centroids in fixed point — the ANN family's
    // first hash-green TRAINING artifact (Similarity.trainCentroids'
    // k-means statistic, made engine-portable): components are floored
    // to e6 BIGINTs BEFORE summing, so the per-(label, dim) sums are
    // order-independent integers — no float accumulation-order
    // divergence — and map-side partial aggregation collapses the
    // posexplode's ×dim rows to |labels|×dim partials per partition
    // before the only shuffle.
    Query("q88_label_centroids", (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
        .select(col("label"), col("dim_idx").cast("long").as("dim_idx"),
          floor(col("v").cast("double") * 1000000.0).cast("long").as("v_e6"))
        .groupBy(col("label"), col("dim_idx"))
        .agg(count(lit(1)).as("n"), sum(col("v_e6")).as("sum_e6"))
        .withColumn("centroid_e6",
          floor(col("sum_e6").cast("double") / col("n").cast("double")).cast("long")),
      // fixed-point BEFORE the sum: integer sums are order-independent,
      // so engine-side aggregation order cannot diverge
      Some("""WITH e AS (
           SELECT label,
             unnest(range(0, len(embedding))) AS dim_idx,
             unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS v_e6
           FROM embeddings)
         SELECT label, CAST(dim_idx AS BIGINT) AS dim_idx,
           count(*) AS n,
           CAST(sum(v_e6) AS BIGINT) AS sum_e6,
           CAST(floor(CAST(sum(v_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS centroid_e6
         FROM e GROUP BY 1, 2""")),

    // PCA GATE: distributed dimensionality reduction under the
    // q149 numeric-gate doctrine (an eigendecomposition is not
    // SQL-replayable). One-pass moment fit (d²-sized partials, corpus
    // never shuffles) + driver Jacobi + literal-broadcast projection.
    // Three booleans: (a) variance explained by k=32 of 64 ≥ 0.52 —
    // measured 0.651 @ sf0.01 / 0.574 @ sf0.1 (PcaProbe), and any
    // CORRECT top-k selection is ≥ 0.50 on any spectrum, so the floor
    // sits in the band only a broken solver/ordering can miss; (b) the
    // strong self-check: measured reconstruction MSE (explicit x̂ =
    // mean + Wᵀy per row, no orthonormality assumed) equals the
    // spectrum's prediction (trace − Σtop-k λ)/d — measured agreement
    // is machine epsilon (~1e-16), gate 1e-9; a single wrong
    // eigenvector moves it by ~1e-3; (c) Σλ == trace(cov) within
    // 1e-9·trace (driver-side invariant of the solve).
    Query("q156_pca_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val m = ops.Pca.fit(emb, "embedding", 32)
      // The projection MUST be materialized before the reconstruction
      // measurement consumes it: inlined, Catalyst's
      // CollapseProject folds the k·d-cost projection expression into
      // reconstructionSqErr's per-coordinate rebuild (interpreted HOFs
      // are never CSE'd), re-evaluating it once per output coordinate —
      // O(d²·k) ≈ 131k expression evals PER ROW (measured 24 s isolated
      // at sf0.1). A stage boundary makes `proj` a read-back attribute:
      // the rebuild is the intended O(d·k)/row.
      val projected = ops.Pipeline.stage("pca_proj", emb.select(
        col("embedding"),
        ops.Pca.project(col("embedding"), m).as("proj")))
      val mse = projected.select(
        ops.Pca.reconstructionSqErr(col("embedding"), col("proj"), m).as("e"))
      mse.agg(count(lit(1)).as("n_vectors"),
          (avg(col("e")) / m.d).as("__mse"))
        .select(col("n_vectors"),
          lit(520000L).as("floor_e6"),
          ((lit(1.0) - col("__mse") * m.d / m.trace) * 1e6 >= 520000.0)
            .as("meets_floor"),
          (abs(col("__mse") - m.predictedMse) <= 1e-9).as("spectrum_consistent"),
          lit(m.traceConsistent).as("trace_consistent"))
    },
      // all three booleans are numeric gates (PcaProbe calibration in
      // the query comment); the eigensolve itself is not SQL-replayable
      Some("""SELECT count(*) AS n_vectors, CAST(520000 AS BIGINT) AS floor_e6,
           true AS meets_floor, true AS spectrum_consistent,
           true AS trace_consistent
         FROM embeddings"""), gate = true),

    // PCA→ANN COMPOSITION GATE: cosine top-5 through the 32-of-64
    // reduced space (uncentered projection — the LSA convention for
    // angular retrieval) vs full-dim truth. The fixture embeddings are
    // near-iid (flat spectrum — PCA's worst case, where a floor could
    // only be 0.10), so the query plants LOW-RANK STRUCTURE and the
    // floor can gate PROJECTION QUALITY, not just composition
    // collapse: each vector is a rank-8 mix (coefficients and basis
    // both integer-arithmetic in vec_id/dim — deterministic, replayed
    // identically every run; the i·j cross term keeps the 8 basis
    // vectors independent) plus ±0.02 noise. k=32 ⊇ the 8-dim signal
    // subspace, so a CORRECT fit reconstructs neighborhoods almost
    // exactly (measured recall@5: 1.0 at sf0.01/sf0.1); floor 0.80
    // fails on any wrong eigenvector, dim mix-up, or NaN collapse.
    // PcaSpec holds the same planted-subspace contract at unit scale.
    Query("q157_pca_ann_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val vid = col("vec_id")
      // staged: the synthesis transform is ~512 interpreted HOF ops per
      // row, and its consumers (fit pass, projection, both sides of two
      // brute-force joins) would each re-inline it via CollapseProject —
      // the q156 materialization lesson applies to the synth too
      // (measured: 17 s inline vs ~2 s staged at sf0.1)
      val structured = ops.Pipeline.stage("pca_ann_synth", emb.select(vid,
        transform(sequence(lit(0), lit(63)), i => {
          val sig = (0 until 8).map { j =>
            val cj = pmod(vid * 31L + lit(j * 17L), lit(97L)).cast("double") /
              97.0 - 0.5
            val bji = (pmod(i.cast("long") * 37L + lit(j * 53L) +
              i.cast("long") * lit(j * 11L), lit(19L)).cast("double") - 9.0) / 9.0
            cj * bji
          }.reduce(_ + _)
          val eps = (pmod(vid * 7L + i.cast("long") * 3L, lit(11L))
            .cast("double") - 5.0) / 5.0 * 0.02
          (sig + eps).cast("float")
        }).as("embedding")))
      // the retrieval-correct fit: uncentered second moment (truncated
      // SVD) — PcaSpec measures how the centered fit can lose the
      // mean direction full-space cosine is dominated by
      val m = ops.Pca.fit(structured, "embedding", 32, centered = false)
      // reduced is consumed by BOTH sides of the brute-force join —
      // stage it so the projection runs once per row, not per consumer
      val reduced = ops.Pipeline.stage("pca_ann_reduced",
        structured.select(col("vec_id"),
          transform(ops.Pca.project(col("embedding"), m, center = false),
            y => y.cast("float")).as("embedding")))
      recallGate(
        Similarity.bruteForceTopK(reduced.filter(col("vec_id") < 8), reduced, 5),
        Similarity.bruteForceTopK(structured.filter(col("vec_id") < 8),
          structured, 5),
        Seq("query_id", "neighbor_id"), 8000L)
    }, Some("SELECT CAST(8000 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // INTEGER K-MEANS: Lloyd's iterations in Long fixed point —
    // the q158 PageRank doctrine applied to clustering. The ITERATION
    // ARITHMETIC itself is oracle-gated (two unrolled update rounds
    // replayed CTE-for-CTE in DuckDB), where the float trainCentroids
    // path can only carry recall floors (q96/q97). Assignment is a
    // broadcast join (corpus never shuffles); updates move only
    // map-side-combined (cell, dim) integer partials.
    Query("q164_kmeans_int", (s, dir) =>
      ops.Kmeans.assignInt(T(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2),
      // two unrolled integer Lloyd's rounds replayed CTE-for-CTE — the
      // iteration arithmetic itself is the gate (q158 doctrine)
      Some(s"""WITH $kmeansCtes
         SELECT vec_id, cell, dist FROM af""")),

    // SEMDEDUP PROPER: k-means cells as the blocking structure
    // for embedding dedup (Abbas et al. 2023) — q110 used LSH-bucket
    // cells; this composes the oracle-exact integer k-means assignment
    // with the SAME semanticDedup fold, so the full cluster-then-dedup
    // pipeline sits under one exact oracle (cells integer-exact, pair
    // scoring the q90/q110-verified cosine fold).
    Query("q165_kmeans_semantic_dedup", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val cells = ops.Kmeans.assignInt(e, "vec_id", "embedding",
        k = 8, iters = 2).select(col("vec_id"), col("cell"))
      Similarity.semanticDedup(
          e.select(col("vec_id"), col("embedding")).join(cells, Seq("vec_id")),
          "cell", 3000L)
        .select(col("vec_id"), col("cell"))
    },
      // SemDeDup composition: the kmeans cells feed the q110 dominated-
      // set rule (drop iff a lower-id SAME-CELL neighbor at cos_e4 >=
      // 3000). The engine's exact-duplicate rep collapse is equivalence-
      // preserving (q110's argument), so the oracle scores all pairs.
      Some(s"""WITH $kmeansCtes,
         e2 AS (
           SELECT e.vec_id, e.embedding, af.cell
           FROM embeddings e JOIN af USING (vec_id)),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(floor(
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y)))
               * 10000) AS BIGINT) AS cos_e4
           FROM e2 a JOIN e2 b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         SELECT vec_id, cell FROM e2
         WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos_e4 >= 3000)""")),

    // VECTOR CURATION PIPELINE: the SemDeDup→prototype chain of
    // an embedding-curation deployment (cluster → within-cell dedup →
    // rank survivors by distance to their cell prototype, Sorscher et
    // al. NeurIPS'22) composed under ONE exact oracle — every stage is
    // integer-exact (kmeans cells, cosine e4 drop rule, e6 centroid
    // distances), so the whole pipeline hash-matches, not just gates.
    // Stage boundary after the cell join: kmeans output is consumed by
    // both semanticDedup internals (reps + two joins).
    Query("q166_vector_curation", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val cells = ops.Kmeans.assignInt(e, "vec_id", "embedding",
        k = 8, iters = 2).select(col("vec_id"), col("cell"))
      val withCell = ops.Pipeline.stage("vcur_cells",
        e.select(col("vec_id"), col("embedding")).join(cells, Seq("vec_id")))
      val survivors = Similarity.semanticDedup(withCell, "cell", 3000L)
      Similarity.prototypicality(survivors, "vec_id", "cell", "embedding",
        keepPerCell = 20)
        .withColumnsRenamed(Map("rank" -> "cell_rank"))
    },
      // the q165 survivor set piped through the q115 prototypicality
      // replay, with cells (not labels) as the grouping — centroids are
      // computed over SURVIVORS only, exactly as the engine composes it
      Some(s"""WITH $kmeansCtes,
         e2 AS (
           SELECT e.vec_id, e.embedding, af.cell
           FROM embeddings e JOIN af USING (vec_id)),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(floor(
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y)))
               * 10000) AS BIGINT) AS cos_e4
           FROM e2 a JOIN e2 b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         srv AS (
           SELECT vec_id, embedding, cell FROM e2
           WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos_e4 >= 3000)),
         x AS (
           SELECT cell, unnest(range(0, len(embedding))) AS dim_idx,
             unnest(list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))) AS v_e6
           FROM srv),
         cc AS (
           SELECT cell, dim_idx,
             CAST(floor(CAST(sum(v_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c_e6
           FROM x GROUP BY 1, 2),
         cvv AS (
           SELECT cell, list(c_e6 ORDER BY dim_idx) AS cvec FROM cc GROUP BY 1),
         dd AS (
           SELECT e.vec_id, e.cell,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(e.embedding, cvv.cvec),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / 1000000.0)
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / 1000000.0))),
               (a, b) -> a + b) AS dist
           FROM srv e JOIN cvv USING (cell))
         SELECT vec_id, cell,
           CAST(floor(dist * 1000000.0) AS BIGINT) AS dist_e6,
           CAST(row_number() OVER (PARTITION BY cell ORDER BY dist, vec_id) AS INT) AS cell_rank,
           (row_number() OVER (PARTITION BY cell ORDER BY dist, vec_id)) <= 20 AS kept
         FROM dd""")),

    // ------------------------------------------------------------------
    // q94-q99: DRIVER-VISIBLE floors for the six rows-only probabilistic
    // queries. Each re-runs the approximate operator alongside its exact
    // Spark baseline and emits the measured bound as data under a
    // CONSTANT oracle — the correctness gate now checks recall/error
    // numerically every round, not only in the spec suite.
    // Floors are calibrated against measured values at sf0.01 AND sf0.1
    // (GateProbe): a floor sits well under the measured value, so it
    // catches collapse (hash/params regressions), not noise — and the
    // measurements are deterministic anyway (seeded hyperplanes).
    // ------------------------------------------------------------------

    // q33's gate: the raw fixture embeddings are near-iid —
    // LSH's worst case — so the old floor (0.05, measured 0.10-0.125)
    // could only catch collapse. The query plants CLUSTERED
    // structure in-query instead (the q157 synthesis doctrine, oracle-
    // replayable integer arithmetic): 16 near-orthogonal ±1 centers
    // (the c·i cross term decorrelates dims across clusters), ±0.05
    // noise → angular cluster radius ≈ 0.05 rad, so a CORRECT 4-plane
    // LSH keeps same-cluster neighbors in-bucket (P[plane splits a
    // pair] ≈ 0.1rad/π per plane) and recall is high — measured
    // recall@5: 1.00 @ sf0.01 AND sf0.1 (GateProbe). Floor 0.50 fails
    // on any hyperplane/sign/bucket regression with 2x margin while
    // the q33 rows-only entry keeps pricing the raw-fixture path.
    Query("q94_lsh_recall_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val vid = col("vec_id")
      // staged: interpreted HOF synthesis consumed by both join sides
      val structured = ops.Pipeline.stage("lsh_gate_synth", emb.select(vid,
        transform(sequence(lit(0), lit(63)), i => {
          val c = pmod(vid, lit(16L))
          val center = (pmod(c * 31L + i.cast("long") * 17L +
            c * i.cast("long") * 7L, lit(19L)).cast("double") - 9.0) / 9.0
          val eps = (pmod(vid * 7L + i.cast("long") * 3L, lit(11L))
            .cast("double") - 5.0) / 5.0 * 0.05
          (center + eps).cast("float")
        }).as("embedding")))
      val q = structured.filter(col("vec_id") < 8)
      recallGate(Similarity.lshTopK(q, structured, 5, nPlanes = 4),
        Similarity.bruteForceTopK(q, structured, 5),
        Seq("query_id", "neighbor_id"), 5000L)
    },
      // q94-q98: the measured-recall gates for the probabilistic family.
      // The MEASUREMENT happens on the Spark side (approx operator vs its
      // exact baseline, both computed in the query); the oracle pins the
      // contract — the floor constant and that it is met. A recall
      // collapse flips meets_floor and hash-fails the round.
      Some("SELECT CAST(5000 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // q54's gate — the production multi-table path (measured 0.975 @
    // sf0.01, 0.90 @ sf0.1; floor 0.85 keeps margin below BOTH — a
    // floor equal to a measured value would gate on exact equality)
    Query("q95_lsh_multi_recall_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      recallGate(Similarity.lshTopKMulti(q, emb, 5, nPlanes = 4, nTables = 16),
        Similarity.bruteForceTopK(q, emb, 5),
        Seq("query_id", "neighbor_id"), 8500L)
    }, Some("SELECT CAST(8500 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // q36's gate (the q94 treatment): on raw near-iid
    // fixtures untrained IVF measured 0.175/0.075 and the old 0.05
    // floor could only catch total collapse. The same planted
    // 16-cluster synthesis as q94 instead: sign-sum cells keep a tight
    // cluster in ONE cell, so single-probe recall is high when the
    // bucketing is correct — measured 0.925 @ sf0.01, 1.00 @ sf0.1
    // (GateProbe). Floor 0.45 fails on any cell/sign/bucket regression
    // with 2x margin; q36 keeps pricing the raw-fixture path rows-only.
    Query("q96_ivf_recall_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val vid = col("vec_id")
      val structured = ops.Pipeline.stage("ivf_gate_synth", emb.select(vid,
        transform(sequence(lit(0), lit(63)), i => {
          val c = pmod(vid, lit(16L))
          val center = (pmod(c * 31L + i.cast("long") * 17L +
            c * i.cast("long") * 7L, lit(19L)).cast("double") - 9.0) / 9.0
          val eps = (pmod(vid * 7L + i.cast("long") * 3L, lit(11L))
            .cast("double") - 5.0) / 5.0 * 0.05
          (center + eps).cast("float")
        }).as("embedding")))
      val q = structured.filter(col("vec_id") < 8)
      recallGate(Similarity.ivfTopK(q, structured, 5, nCells = 8),
        Similarity.bruteForceTopK(q, structured, 5),
        Seq("query_id", "neighbor_id"), 4500L)
    }, Some("SELECT CAST(4500 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // q58's gate — trained codebook + 2-probe (measured 0.90 @ sf0.01,
    // 0.975 @ sf0.1)
    Query("q97_ivf_trained_recall_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val cents = Similarity.trainCentroids(emb, nCells = 8, iters = 2)
      recallGate(Similarity.ivfTopKTrained(q, emb, 5, cents, nProbe = 2),
        Similarity.bruteForceTopK(q, emb, 5),
        Seq("query_id", "neighbor_id"), 8500L)
    }, Some("SELECT CAST(8500 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // q35's gate, PLANTED-STRUCTURE edition (the q94/q96
    // treatment): the old gate measured pair recall on
    // near-uniform vectors at cos ≥ 0.30 — the info-theoretically-poor
    // regime (hyperplane agreement p ≈ 0.60 → p^8 per table; measured
    // 0.144/0.159, floor 0.10 could only catch total collapse, and its
    // two-mode ratio was the repo's one 1.3x breach). Production
    // near-dup thresholds (0.85+) sit in the HIGH-recall regime, so
    // the gate now measures THAT: the q96 16-cluster synthesis
    // (tight eps=0.05 clusters) with the cluster id as the label,
    // engineered pairs at cos ≥ 0.85, exact within-label baseline.
    // Measured 1.00 @ sf0.001/0.01/0.1 (GateProbe); floor 0.50
    // fails on any plane/table/bucket regression with 2x margin. The
    // uniform-regime number stays recorded in SCALE.md; q35 keeps
    // pricing the raw-fixture path rows-only.
    Query("q98_cosine_neardup_recall_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val vid = col("vec_id")
      val structured = ops.Pipeline.stage("neardup_gate_synth", emb.select(
        vid,
        transform(sequence(lit(0), lit(63)), i => {
          val c = pmod(vid, lit(16L))
          val center = (pmod(c * 31L + i.cast("long") * 17L +
            c * i.cast("long") * 7L, lit(19L)).cast("double") - 9.0) / 9.0
          val eps = (pmod(vid * 7L + i.cast("long") * 3L, lit(11L))
            .cast("double") - 5.0) / 5.0 * 0.05
          (center + eps).cast("float")
        }).as("embedding"),
        pmod(vid, lit(16L)).cast("int").as("label")))
      recallGate(
        Similarity.cosineNearDupPairsMulti(structured, minSimE4 = 8500L,
          nPlanes = 8, nTables = 8),
        Similarity.cosinePairsLabelExact(structured, "label", 8500L)
          .select(col("id_a"), col("id_b")),
        Seq("id_a", "id_b"), 5000L)
    }, Some("SELECT CAST(5000 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // Prototypicality scoring + per-cell diversity cap (Sorscher et al.
    // NeurIPS'22 prototype pruning): distance of each embedding to its
    // OWN label's fixed-point mean centroid, ranked within the label,
    // keep-k flag. Exact oracle: DuckDB replays the identical e6
    // fixed-point centroid and the same (dist, vec_id) window order.
    Query("q115_prototypicality", (s, dir) =>
      ops.Similarity.prototypicality(
        T(s, dir, "embeddings"), "vec_id", "label", "embedding",
        keepPerCell = 10)
        .withColumnsRenamed(Map("rank" -> "cell_rank")),
      // replays q91's e6 fixed-point centroid construction, but each
      // vector scores against its OWN label's centroid and ranks within
      // the label by (raw double dist, vec_id) — both sides build the
      // distance from the identical left-fold of correctly-rounded IEEE
      // ops, so the floors and the ordering agree exactly
      Some("""WITH x AS (
           SELECT label, unnest(range(0, len(embedding))) AS dim_idx,
             unnest(list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))) AS v_e6
           FROM embeddings),
         c AS (
           SELECT label, dim_idx,
             CAST(floor(CAST(sum(v_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c_e6
           FROM x GROUP BY 1, 2),
         cv AS (
           SELECT label, list(c_e6 ORDER BY dim_idx) AS cvec FROM c GROUP BY 1),
         d AS (
           SELECT e.vec_id, e.label,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_zip(e.embedding, cv.cvec),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / 1000000.0)
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) / 1000000.0))),
               (a, b) -> a + b) AS dist
           FROM embeddings e JOIN cv USING (label))
         SELECT vec_id, label,
           CAST(floor(dist * 1000000.0) AS BIGINT) AS dist_e6,
           CAST(row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS INT) AS cell_rank,
           (row_number() OVER (PARTITION BY label ORDER BY dist, vec_id)) <= 10 AS kept
         FROM d""")),

    // The q94-q99 recall/error floors re-pinned at the sf0.1 dump in
    // ONE query: each probabilistic-family gate
    // recomputes approx-vs-exact at 10× the gate density and must
    // clear the SAME floor constants (chosen below the measured values
    // of BOTH dumps from the start). A bucket-collapse that only
    // manifests at realistic density — the q124 failure mode — flips a
    // meets_floor here and hash-fails the round.
    // The EXACT baselines — the brute-force truth set and the exact
    // cosine pair set — and the ivf_trained centroids are artifacts of
    // the sf0.1 dir, so each rep prices the APPROXIMATE operators
    // under gate, which is what the query gates.
    Query("q128_recall_gates_sf01", (s, dir) => {
      val d = sf01(dir)
      val emb = T(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      val truth = store(annTruth, s, dir)
      def g(name: String, got: DataFrame, tr: DataFrame,
            keys: Seq[String], f: Long): DataFrame =
        recallGate(got, tr, keys, f)
          .select(lit(name).as("gate"), col("floor_e4"), col("meets_floor"))
      val hll = T(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("a"),
          countDistinct(col("user_id")).as("x"))
        .agg(min(abs(col("a") - col("x")) * 10000L <= col("x") * 500L)
          .as("meets_floor"))
        .select(lit("uv_hll").as("gate"), lit(500L).as("floor_e4"),
          col("meets_floor"))
      g("lsh", Similarity.lshTopK(q, emb, 5, nPlanes = 4), truth,
          Seq("query_id", "neighbor_id"), 500L)
        .union(g("lsh_multi",
          Similarity.lshTopKMulti(q, emb, 5, nPlanes = 4, nTables = 16), truth,
          Seq("query_id", "neighbor_id"), 8500L))
        .union(g("ivf", Similarity.ivfTopK(q, emb, 5, nCells = 8), truth,
          Seq("query_id", "neighbor_id"), 500L))
        .union(g("ivf_trained",
          Similarity.ivfTopKTrained(q, emb, 5,
            store(ivfCents, s, dir),
            nProbe = 2),
          truth, Seq("query_id", "neighbor_id"), 8500L))
        .union(g("cosine_neardup",
          Similarity.cosineNearDupPairsMulti(emb, minSimE4 = 3000L,
            nPlanes = 8, nTables = 8),
          store(cosExact, s, dir),
          Seq("id_a", "id_b"), 1000L))
        .union(hll)
    },
      // the sf0.1 re-pin of the probabilistic floors: measurement is
      // Spark-side (on the sibling sf0.1 dump); the oracle pins the
      // contract rows — six gates, their floor constants, all met
      Some("""SELECT * FROM (VALUES
           ('cosine_neardup', CAST(1000 AS BIGINT), true),
           ('ivf', CAST(500 AS BIGINT), true),
           ('ivf_trained', CAST(8500 AS BIGINT), true),
           ('lsh', CAST(500 AS BIGINT), true),
           ('lsh_multi', CAST(8500 AS BIGINT), true),
           ('uv_hll', CAST(500 AS BIGINT), true)) AS t(gate, floor_e4, meets_floor)"""), gate = true),

    // IVF-PQ recall gate: the memory-scale ANN path — coarse IVF routing + product-quantized
    // codes (8 subspaces x 32 codewords = 8 B/vector standing index vs
    // 256 B of floats) + per-query ADC lookup tables + exact re-rank of
    // k·refine. Measured recall@5 vs brute force: 0.85 @ sf0.01,
    // 0.80 @ sf0.1; floor 0.65 keeps margin below both (the q94 floor
    // doctrine — a floor at a measured value would gate on exact
    // equality through float shuffle-order wobble).
    Query("q146_ivfpq_recall_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
      // models AND the encoded index are standing artifacts
      // (Artifacts.pq — the q57 doctrine): the recurring query
      // prices LUT-build + probe + re-rank; the corpus is never
      // re-encoded and candidate embeddings enter only the k·refine
      // point-lookup re-rank
      val (cents, cb, idx) = pq(s, dir)
      recallGate(
        Similarity.ivfPqTopK(q, idx, emb, 5, cents, cb,
          nProbe = 2, refine = 8),
        Similarity.bruteForceTopK(q, emb, 5),
        Seq("query_id", "neighbor_id"), 6500L)
    }, Some("SELECT CAST(6500 AS BIGINT) AS floor_e4, true AS meets_floor"), gate = true),

    // INCREMENTAL INDEX MAINTENANCE (the q57 doctrine for
    // vectors): a pipeline ingesting embeddings continuously must
    // encode ONLY the delta against the frozen models and append —
    // never re-encode the corpus, never retrain per batch. Cell
    // assignment and codeword argmin are pure per-vector functions of
    // the models, so incremental ≡ full-rebuild EXACTLY (cell AND every
    // code) — this query counts disagreements between the two paths
    // over a base/delta split and gates the count at zero under a
    // constant oracle. A drift into corpus-dependent encoding (e.g.
    // retraining inside encode) flips the gate.
    Query("q148_pq_index_incremental", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (cents, cb, _) = pq(s, dir)
      val base = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0L)
      val delta = emb.filter(pmod(col("vec_id"), lit(10L)) === 0L)
      val incremental = Similarity.pqIndexAppend(
        Similarity.pqIndex(base, cents, cb, nSub = 8),
        delta, cents, cb, nSub = 8)
      val rebuilt = Similarity.pqIndex(emb, cents, cb, nSub = 8)
      val mismatches = incremental.alias("i")
        .join(rebuilt.alias("r"), col("i.vec_id") === col("r.vec_id"), "full")
        .filter(col("i.vec_id").isNull || col("r.vec_id").isNull ||
          col("i.cell") =!= col("r.cell") ||
          col("i.codes") =!= col("r.codes"))
      val total = rebuilt.agg(count(lit(1)).as("n_vectors"))
      mismatches.agg(count(lit(1)).as("mism")).crossJoin(total)
        .select(col("n_vectors"),
          (col("mism") === 0L).as("incremental_equals_rebuild"))
    },
      // incremental-vs-rebuild equality is exact by construction (pure
      // per-vector encoding against frozen models), so the oracle is the
      // corpus count + a constant TRUE — any corpus-dependence introduced
      // into the encode path flips the boolean and fails the hash
      Some("""SELECT count(*) AS n_vectors, true AS incremental_equals_rebuild
         FROM embeddings"""), gate = true),

    // INCREMENTAL K-MEANS INGEST (the q148 doctrine for cells):
    // fit once, FREEZE the centroids, ingest mini-batches as
    // per-(cell,dim) integer sufficient statistics (Σx, n) — division
    // deferred to read time, so the merge is EXACT (mean-of-means
    // would round per batch and drift). Gates two equalities over a
    // base/delta split: (a) merged stats = full-corpus stats row for
    // row; (b) the centroid table derived from merged stats is
    // byte-identical to the batch Lloyd's update over the union —
    // i.e. incremental ≡ rebuild, not approximately but exactly.
    // State is O(k·d) Longs regardless of corpus size; per batch only
    // ≤ k·d map-side-combined partials reach the wire.
    Query("q171_kmeans_incremental", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cents = ops.Kmeans.fitCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 1)
      val base = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0L)
      val delta = emb.filter(pmod(col("vec_id"), lit(10L)) === 0L)
      val merged = ops.Kmeans.mergeStats(
        ops.Kmeans.cellStats(base, "vec_id", "embedding", cents),
        ops.Kmeans.cellStats(delta, "vec_id", "embedding", cents))
      val full = ops.Kmeans.cellStats(emb, "vec_id", "embedding", cents)
      val statsMism = merged.alias("m")
        .join(full.alias("f"),
          col("m.cell") === col("f.cell") && col("m.j") === col("f.j"), "full")
        .filter(col("m.cell").isNull || col("f.cell").isNull ||
          col("m.sx") =!= col("f.sx") || col("m.n") =!= col("f.n"))
        .agg(count(lit(1)).as("stats_mism"))
      val centMism = ops.Kmeans.centroidsOf(merged).alias("m")
        .join(ops.Kmeans.centroidsOf(full).alias("f"),
          col("m.cell") === col("f.cell"), "full")
        .filter(col("m.cell").isNull || col("f.cell").isNull ||
          col("m.cv") =!= col("f.cv"))
        .agg(count(lit(1)).as("cent_mism"))
      statsMism.crossJoin(centMism)
        .select((col("stats_mism") === 0L).as("stats_equal"),
          (col("cent_mism") === 0L).as("centroids_equal"))
    },
      // integer-sum associativity makes the stats merge exact and the
      // derived centroid div deterministic — both equalities are
      // structural, so the oracle is two constant TRUEs; any per-batch
      // rounding (mean-of-means) or order-dependence flips one
      Some("SELECT true AS stats_equal, true AS centroids_equal"), gate = true),

    // PQ DRIFT DETECTOR GATE: makes the incremental-index
    // regime's retrain trigger EXECUTABLE, not just documented.
    // pqIndexAppend (q148) freezes the models, so the operational
    // question is "when do I retrain?" — answer: when a delta batch's
    // mean quantization self-error degrades materially vs the
    // training-time value. This query measures the base corpus's
    // self-error under the standing artifacts, then a genuinely
    // SHIFTED delta (one dimension spiked to a constant — the
    // hot-feature class of upstream pipeline bug, a distribution the
    // per-subspace codebooks never saw), and gates that the detector
    // fires. Calibration (DriftProbe, both SFs): base 0.459 @ sf0.01 /
    // 0.506 @ sf0.1 → ceiling 0.70; spike-shift ratio 1.89× / 1.99× →
    // trigger 1.5× (the q94 margin doctrine on both sides). Weaker
    // shifts measured and rejected: reversed dims 1.06-1.20×, +2.0
    // offset 1.03-1.27× — near-iid synthetic dims quantize almost as
    // well permuted, which is itself a finding: the detector needs a
    // trigger BELOW those ratios to catch real drift, hence 1.5× only
    // fires on genuine distribution change. A codebook regression that
    // inflates base error, or an error metric that stops
    // discriminating, flips the constant-oracle booleans.
    Query("q149_pq_drift_gate", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (cents, cb, idx) = pq(s, dir)
      val base = Similarity.pqSelfErrorE6(emb, idx, cb)
        .select(col("n_vectors"), col("mean_sq_err_e6").as("base_e6"))
      val shifted = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, lit(10.0f)).otherwise(x)).as("embedding"))
      val shiftedIdx = Similarity.pqIndex(shifted, cents, cb, nSub = 8)
      val drift = Similarity.pqSelfErrorE6(shifted, shiftedIdx, cb)
        .select(col("mean_sq_err_e6").as("shifted_e6"))
      base.crossJoin(drift).select(
        col("n_vectors"),
        (col("base_e6") <= 700000L).as("base_within_ceiling"),
        (col("shifted_e6") * 2L > col("base_e6") * 3L).as("drift_detected"))
    },
      // both booleans are numeric gates (the q94/q146 floor doctrine):
      // base error measured 0.459-0.506 across SFs, ceiling 0.70; the
      // spiked-dimension shift measured 1.89-1.99x base, trigger 1.5x
      Some("""SELECT count(*) AS n_vectors, true AS base_within_ceiling,
           true AS drift_detected
         FROM embeddings"""), gate = true),

    // STREAMED-INDEX READ PATH: build the PQ index
    // via FOUR successive appends (the exact arithmetic VectorIngest
    // runs per micro-batch — pqIndex on the first slice, pqIndexAppend
    // for each later delta against the frozen models), then SERVE
    // ivfPqTopK from the sliced-built index and from the one-shot
    // artifact. Encoding is a pure per-vector function of the models
    // and the serve ranking is (sim DESC, neighbor_id ASC)-
    // deterministic, so full (query, rank, neighbor) equality is
    // structural — any corpus-dependence smuggled into encode or any
    // order-dependence in serve flips the boolean and fails the hash.
    Query("q193_pq_streamed_serve", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val (cents, cb, oneshot) = pq(s, dir)
      val slices = (0L until 4L).map(i =>
        emb.filter(pmod(col("vec_id"), lit(4L)) === i))
      val built = ops.Pipeline.stage("pq_served_sliced",
        slices.tail.foldLeft(
          Similarity.pqIndex(slices.head, cents, cb, nSub = 8))(
          (ix, sl) => Similarity.pqIndexAppend(ix, sl, cents, cb, nSub = 8)))
      val q = emb.filter(col("vec_id") < 8)
      def serve(idx: DataFrame) = Similarity.ivfPqTopK(q, idx, emb, 5,
        cents, cb, nProbe = 2, refine = 8)
      val mism = serve(built).alias("a")
        .join(serve(oneshot).alias("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.rank") === col("b.rank"), "full")
        .filter(col("a.query_id").isNull || col("b.query_id").isNull ||
          col("a.neighbor_id") =!= col("b.neighbor_id"))
        .agg(count(lit(1)).as("mism"))
      built.agg(count(lit(1)).as("n_index_rows")).crossJoin(mism)
        .select(col("n_index_rows"),
          (col("mism") === 0L).as("served_equals_oneshot"))
    },
      // sliced-built-index serve ≡ one-shot serve is structural (pure
      // per-vector encoding + deterministic serve ranking); the index
      // row count replays as the corpus count
      Some("""SELECT count(*) AS n_index_rows, true AS served_equals_oneshot
         FROM embeddings"""), gate = true),
  )
}
