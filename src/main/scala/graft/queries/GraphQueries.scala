package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.Dedup

import Shared._
import Artifacts._

/** Graph fixpoints: PageRank and its incremental and personalized
  * gates, incremental connected components. */
private[graft] object GraphQueries {

  val all: Seq[Query] = Seq(

    // PAGERANK: link-graph centrality over a synthesized
    // doc→doc graph (1–3 out-edges per node, arithmetic dst), 3
    // damped rounds in e12 integer fixed point — EXACTLY replayable
    // by the oracle's three unrolled CTE iterations (the reason the
    // operator is integer-arithmetic: distributed float sums are
    // order-dependent). GraphSpec pins hand-computed values; the
    // fixed-point cycle case proves the arithmetic is mass-stable.
    Query("q158_pagerank", (s, dir) => {
      val docs = T(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(1L), lit(1L) + pmod(col("doc_id"), lit(3L)))).as("k"))
        .select(col("doc_id").as("src"),
          pmod(col("doc_id") * 31L + col("k") * 17L, col("n")).as("dst"))
      val pr = ops.Graph.pageRank(edges, "src", "dst", iters = 3)
      pr.select(col("id").as("doc_id"), col("score_e12"))
    },
      // three unrolled integer-arithmetic iterations — '//' is DuckDB
      // integral division (both sides positive, so trunc == floor ==
      // Spark's div); the (nodes × t) pre-join avoids the comma-join /
      // LEFT JOIN precedence trap
      Some("""WITH nd AS (SELECT count(*) AS n FROM documents),
         e AS (
           SELECT doc_id AS src,
             (doc_id * 31 + k * 17) % (SELECT n FROM nd) AS dst
           FROM (SELECT doc_id,
                   unnest(generate_series(1, CAST(1 + doc_id % 3 AS BIGINT))) AS k
                 FROM documents)),
         nodes AS (
           SELECT DISTINCT id
           FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         t AS (SELECT count(*) AS nn FROM nodes),
         outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         s0 AS (SELECT id, 1000000000000 // nn AS score FROM nodes, t),
         i1 AS (SELECT e.dst, sum((s.score * 85) // (100 * o.outdeg)) AS inflow
                FROM e JOIN s0 s ON e.src = s.id
                JOIN outdeg o ON o.src = e.src GROUP BY 1),
         s1 AS (SELECT b.id, (15 * 1000000000000 // (100 * b.nn)) +
                  COALESCE(i1.inflow, 0) AS score
                FROM (SELECT id, nn FROM nodes, t) b
                LEFT JOIN i1 ON b.id = i1.dst),
         i2 AS (SELECT e.dst, sum((s.score * 85) // (100 * o.outdeg)) AS inflow
                FROM e JOIN s1 s ON e.src = s.id
                JOIN outdeg o ON o.src = e.src GROUP BY 1),
         s2 AS (SELECT b.id, (15 * 1000000000000 // (100 * b.nn)) +
                  COALESCE(i2.inflow, 0) AS score
                FROM (SELECT id, nn FROM nodes, t) b
                LEFT JOIN i2 ON b.id = i2.dst),
         i3 AS (SELECT e.dst, sum((s.score * 85) // (100 * o.outdeg)) AS inflow
                FROM e JOIN s2 s ON e.src = s.id
                JOIN outdeg o ON o.src = e.src GROUP BY 1),
         s3 AS (SELECT b.id, (15 * 1000000000000 // (100 * b.nn)) +
                  COALESCE(i3.inflow, 0) AS score
                FROM (SELECT id, nn FROM nodes, t) b
                LEFT JOIN i3 ON b.id = i3.dst)
         SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e12 FROM s3""")),

    // INCREMENTAL CONNECTED COMPONENTS: the dedup family's last
    // rebuild-only piece made incremental — q57 maintains the PAIR
    // stream against a standing index; this maintains the LABEL table
    // against a pair delta, by contracting old components to their
    // min-id labels and running CC over the CONTRACTED DELTA graph
    // only (never the standing edge set). Exactness is structural
    // (contraction preserves connectivity; old labels are component
    // minima), so the gate is equality with the full rebuild over a
    // deterministic arithmetic graph (the q158 synthesis shape),
    // split ~80/20 into standing/delta.
    // The standing labels and the full-rebuild audit baseline are
    // artifacts; each rep prices the INCREMENTAL fold + the equality
    // join, the recurring work.
    Query("q174_cc_incremental", (s, dir) => {
      val delta = ccGateEdges(s, dir, 1L)
        .filter(pmod(col("id_a") + col("id_b"), lit(5L)) === 0L)
      val oldLabels = store(ccStanding, s, dir)
      val rebuilt = store(ccRebuilt, s, dir)
      val incr = ops.Dedup.connectedComponentsIncremental(oldLabels, delta)
      val mism = incr.alias("i")
        .join(rebuilt.alias("r"), col("i.id") === col("r.id"), "full")
        .filter(col("i.id").isNull || col("r.id").isNull ||
          col("i.label") =!= col("r.label"))
        .agg(count(lit(1)).as("mism"))
      val total = rebuilt.agg(count(lit(1)).as("n_nodes"))
      mism.crossJoin(total).select(col("n_nodes"),
        (col("mism") === 0L).as("incremental_equals_rebuild"))
    },
      // node count replayed over the same arithmetic edge synthesis;
      // the equality boolean is structural (contraction preserves
      // connectivity, labels are minima) — a wrong remap/expansion or a
      // non-minimum label convention flips it
      Some("""WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (
           SELECT doc_id AS id_a,
             (doc_id * 37 + k * 101) % n AS id_b
           FROM documents, nn,
             (SELECT 1 AS k UNION ALL SELECT 2) ks
           WHERE k <= 1 + doc_id % 2
             AND doc_id <> (doc_id * 37 + k * 101) % n)
         SELECT count(DISTINCT id) AS n_nodes,
           true AS incremental_equals_rebuild
         FROM (SELECT id_a AS id FROM e UNION SELECT id_b AS id FROM e)"""), gate = true),

    // STREAMING LABEL MAINTENANCE FOLD: the per-batch regime the
    // StreamingCc sink runs, gated batch-equivalent — q174's synthesis
    // split into FOUR deltas and folded through
    // connectedComponentsIncremental (each step's output labels are
    // component minima, the next step's precondition), must equal one
    // full-rebuild CC over all edges. This is the induction the
    // composed ingest-path dedup pipeline (StreamingDedup pairs →
    // StreamingCc labels → keepBestByLabelFrame) rests on; the real
    // stream (MemoryStream slicings, replay no-op, end-to-end vs the
    // batch twin) is spec-gated in StreamingCcSpec.
    Query("q178_cc_label_fold", (s, dir) => {
      // sources restricted to 1/16 of docs: the q174 graph's modular
      // chains put CC in the many-round regime, and FIVE CC runs over
      // it price the gate at bench-hostile seconds (measured 17 s warm
      // at sf0.01 even at 1/3 density — the cost is rounds × runs, not
      // data). At 1/16 density a chained id_b is rarely itself a
      // source, so components are star-like, every run converges in
      // ~3 rounds, and the fold still merges across all four deltas
      // (a source's two edges land in different slices)
      val edges = ccGateEdges(s, dir, 16L)
      val slices = (0L until 4L).map(i =>
        edges.filter(pmod(col("id_a") + col("id_b"), lit(4L)) === i))
      // fold: batch 0 bootstraps with plain CC (≡ incremental over an
      // empty labeling, minus the dead contraction/unseen stages), then
      // each delta folds into the standing labels. Each step
      // materializes its labels (localCheckpoint) the way the sink
      // materializes them to the label TABLE per batch — without it
      // the next step's joins recompute the whole prefix
      val bootstrap = ops.Dedup.connectedComponents(slices.head)
        .localCheckpoint(true)
      val folded = slices.tail.foldLeft(bootstrap) { (labels, delta) =>
        ops.Dedup.connectedComponentsIncremental(labels, delta)
          .localCheckpoint(true)
      }
      val rebuilt = store(cc16Rebuilt, s, dir)
      val mism = folded.alias("i")
        .join(rebuilt.alias("r"), col("i.id") === col("r.id"), "full")
        .filter(col("i.id").isNull || col("r.id").isNull ||
          col("i.label") =!= col("r.label"))
        .agg(count(lit(1)).as("mism"))
      val total = rebuilt.agg(count(lit(1)).as("n_nodes"))
      mism.crossJoin(total).select(col("n_nodes"),
        (col("mism") === 0L).as("fold_equals_rebuild"))
    },
      // same arithmetic edge synthesis; the fold-equality boolean is
      // structural (each incremental step outputs component minima — a
      // broken remap/expansion or a non-minimum label after ANY step
      // propagates to the final labeling and flips it)
      Some("""WITH nn AS (SELECT count(*) AS n FROM documents),
         e AS (
           SELECT doc_id AS id_a,
             (doc_id * 37 + k * 101) % n AS id_b
           FROM documents, nn,
             (SELECT 1 AS k UNION ALL SELECT 2) ks
           WHERE doc_id % 16 = 0
             AND k <= 1 + doc_id % 2
             AND doc_id <> (doc_id * 37 + k * 101) % n)
         SELECT count(DISTINCT id) AS n_nodes,
           true AS fold_equals_rebuild
         FROM (SELECT id_a AS id FROM e UNION SELECT id_b AS id FROM e)"""), gate = true),

    // INCREMENTAL PAGERANK GATE: the graph family's rebuild-only
    // op made incremental — a SOURCE-ADDITIVE delta (new pages arrive
    // with their outlinks: src nodes with no standing out-edges, the
    // crawl-frontier shape) warm-starts the from-below fixpoint
    // iteration at the standing scores. Exactness is provable
    // (constant-teleport convention → T_new ≥ T_old pointwise → the
    // standing least fixed point is a certified lower bound; monotone
    // integer iteration from any lower bound reaches exactly the lfp)
    // and GATED here: warm ≡ cold pointwise at the integer fixed
    // point. q158's synthesis split 7/8 standing + 1/8 delta BY
    // SOURCE; gate-friendly parameters (e3 scale, d=0.15 → ~4 rounds
    // per run instead of e12/0.85's ~190; measured 18 s warm at
    // e4/0.30 and 8.3 s in-suite at e3/0.20 — rounds × three runs are
    // the whole cost) exercise the identical code path: rounds scale
    // with log(scaleUnit)/log(1/d), the operator's documented
    // precision-for-rounds knob.
    // The standing scores and the cold audit baseline are artifacts;
    // each rep prices the WARM-STARTED incremental fixpoint + the
    // equality join.
    Query("q177_pagerank_incremental", (s, dir) => {
      val edges = prGateEdges(s, dir)
      val standing = edges.filter(pmod(col("src"), lit(8L)) =!= 0L)
      val delta = edges.filter(pmod(col("src"), lit(8L)) === 0L)
      val old = store(prStanding, s, dir)
      val warm = ops.Graph.pageRankIncremental(old.scores, standing, delta,
        "src", "dst", dampingE2 = 15L, scaleUnit = 1000L)
      val cold = store(prCold, s, dir)
      val mism = warm.scores.alias("w")
        .join(cold.scores.alias("c"), col("w.id") === col("c.id"), "full")
        .filter(col("w.id").isNull || col("c.id").isNull ||
          col("w.score") =!= col("c.score"))
        .agg(count(lit(1)).as("mism"))
      val total = cold.scores.agg(count(lit(1)).as("n_nodes"))
      mism.crossJoin(total).select(col("n_nodes"),
        (col("mism") === 0L).as("warm_equals_cold"),
        lit(old.converged && warm.converged && cold.converged)
          .as("all_converged"),
        lit(warm.rounds <= cold.rounds).as("warm_rounds_le_cold"))
    },
      // node count replayed over q158's edge synthesis (minus
      // self-loops); the three booleans are structural — a broken warm
      // init, clamp, precondition, or convergence check flips them
      Some("""WITH nd AS (SELECT count(*) AS n FROM documents),
         e AS (
           SELECT doc_id AS src,
             (doc_id * 31 + k * 17) % (SELECT n FROM nd) AS dst
           FROM (SELECT doc_id,
                   unnest(generate_series(1, CAST(1 + doc_id % 3 AS BIGINT))) AS k
                 FROM documents) t
           WHERE doc_id <> (doc_id * 31 + k * 17) % (SELECT n FROM nd))
         SELECT count(DISTINCT id) AS n_nodes,
           true AS warm_equals_cold, true AS all_converged,
           true AS warm_rounds_le_cold
         FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)"""), gate = true),

    // PERSONALIZED PAGERANK GATE: seed-restricted teleport over
    // the q177 edge synthesis, seeds = doc_id % 10 == 0. Three
    // structural gates, each provable and each breakable by a real
    // bug: (a) seeds=ALL collapses to the uniform fixpoint (a wrong
    // per-node tele join flips it); (b) PPR ≤ uniform POINTWISE (tele
    // monotonicity of the least fixed point — an inflated seed mass or
    // a stale-round merge flips it); (c) every seed scores ≥ its
    // teleport and every node ≥ 0 with non-seed zero-inflow nodes at
    // EXACTLY 0 (the integer form's clean unreachable verdict).
    // Constant-boolean oracle + replayed node count, the q177 pattern.
    // The uniform fixpoint (q177's cold twin — same edges, same
    // parameters) and the seeds=ALL control are artifacts; each rep
    // prices the SHIPPED seed-restricted PPR + the property joins.
    Query("q186_ppr_seeds", (s, dir) => {
      val docs = T(s, dir, "documents")
      val edges = prGateEdges(s, dir)
      val seeds = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id").as("id"))
      val uni = store(prCold, s, dir)
      val pprAll = store(Artifacts.pprAll, s, dir)
      val ppr = ops.Graph.personalizedPageRankFixpoint(edges, "src", "dst",
        seeds, "id", dampingE2 = 15L, scaleUnit = 1000L)
      val tele = 850L // (100 − 15) · 1000 div 100
      val allEq = pprAll.scores.alias("a")
        .join(uni.scores.alias("u"), col("a.id") === col("u.id"), "full")
        .filter(col("a.id").isNull || col("u.id").isNull ||
          col("a.score") =!= col("u.score"))
        .agg(count(lit(1)).as("n_all_mismatch"))
      val joined = ppr.scores.alias("p")
        .join(uni.scores.alias("u2"), col("p.id") === col("u2.id"), "inner")
        .join(seeds.select(col("id").as("__sid"), lit(1L).as("__seed")),
          col("p.id") === col("__sid"), "left")
      val props = joined.agg(
        count(lit(1)).as("n_nodes"),
        sum(when(col("p.score") > col("u2.score"), 1L).otherwise(0L))
          .as("n_above_uniform"),
        sum(when(col("p.score") < 0L, 1L).otherwise(0L)).as("n_negative"),
        sum(when(col("__seed").isNotNull && col("p.score") < tele, 1L)
          .otherwise(0L)).as("n_seed_below_tele"))
      props.crossJoin(allEq).select(
        col("n_nodes"),
        (col("n_all_mismatch") === 0L).as("all_seeds_equals_uniform"),
        (col("n_above_uniform") === 0L).as("ppr_le_uniform"),
        (col("n_negative") === 0L && col("n_seed_below_tele") === 0L)
          .as("floors_hold"),
        lit(uni.converged && pprAll.converged && ppr.converged)
          .as("all_converged"))
    },
      // q177's node-count replay; the three booleans are structural
      // (seeds=all equality, pointwise tele monotonicity, integer
      // floors) — computed in Spark, provable on paper, flipped by any
      // per-node-teleport join or merge bug
      Some("""WITH nd AS (SELECT count(*) AS n FROM documents),
         e AS (
           SELECT doc_id AS src,
             (doc_id * 31 + k * 17) % (SELECT n FROM nd) AS dst
           FROM (SELECT doc_id,
                   unnest(generate_series(1, CAST(1 + doc_id % 3 AS BIGINT))) AS k
                 FROM documents) t
           WHERE doc_id <> (doc_id * 31 + k * 17) % (SELECT n FROM nd))
         SELECT count(DISTINCT id) AS n_nodes,
           true AS all_seeds_equals_uniform, true AS ppr_le_uniform,
           true AS floors_hold, true AS all_converged
         FROM (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)"""), gate = true),
  )
}
