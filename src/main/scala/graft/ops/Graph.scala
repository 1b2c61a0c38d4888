package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.graft.Checkpoints
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** Link-graph analytics — the web-crawl quality signal family:
  * PageRank over the domain/page link graph is the classic
  * crawl-frontier prioritizer and a standard corpus quality feature
  * (harmonic/PageRank centrality in Common Crawl's ranked host lists).
  *
  * Fixed-point INTEGER arithmetic throughout (scores are e12 longs,
  * per-edge contributions `(score·d_e2) div (100·outdeg)`, teleport
  * `((100−d_e2)·10¹²) div (100·n)`): floating-point PageRank sums are
  * order-dependent under distributed aggregation, so byte-identical
  * results across engines/partitionings would be unattainable — the
  * integer form makes every iteration EXACTLY replayable (the repo's
  * e6-floor doctrine, here load-bearing for the oracle). Mass lost to
  * floor rounding (≤ outdeg ulps per node per round) and to dangling
  * nodes (no out-edges: their damped mass is dropped, the
  * PageRank-lite convention) biases scores uniformly down — ranking,
  * the signal's use, is unaffected.
  *
  * Every variant runs on one co-partitioned RDD kernel: adjacency and
  * per-node teleport are hash-partitioned ONCE on the session's
  * shuffle width; a round is state ⋈ adjacency (narrow) → rates →
  * `reduceByKey` by dst (the one shuffle, map-side combined) →
  * teleport ⋈ inflow (narrow), checkpointed and materialized by the
  * action that sums it — one job per round. A null id is a node that
  * neither gives nor receives (SQL equi-join semantics).
  *
  * Connected components ([[connectedComponents]], the dedup family's
  * cluster labels) is one more round function on the same loop:
  * min-label propagation over the adjacency of both pair directions,
  * also one job per round.
  */
object Graph {

  /** `iters` rounds of damped PageRank; returns (id, score_e12).
    * Caller releases the tracked checkpoint blocks via
    * [[CacheScope.release]] (the dedup-family contract).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingE2: Long = 85L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters=$iters out of [1,50]")
    require(dampingE2 >= 0L && dampingE2 <= 100L,
      s"dampingE2=$dampingE2 out of [0,100]")
    val e = endpoints(edges, srcCol, dstCol, Standing)
    val mixedSources = e.sparkSession.sparkContext.longAccumulator
    val adj = adjacency(e, mixedSources)
    // normalized: init 10¹² div n, teleport ((100−d)·10¹²) div (100·n)
    val n = adj.count()
    val (init, tele) = if (n == 0L) (0L, 0L)
      else (1000000000000L / n, (100L - dampingE2) * 1000000000000L / (100L * n))
    val (state, _, _) = prIterate(adj, mixedSources, adj.mapValues(_ => tele),
      adj.mapValues(_ => init), dampingE2, iters, untilFixed = false)
    frame(e, state, "score_e12", scoreNullable = true)
  }

  /** A finished fixpoint PageRank run: the score frame, rounds
    * executed, and whether the iteration reached the EXACT integer
    * fixed point before `maxIters` ran out (false → scores are the
    * last iterate, not the fixed point — the caller's alert).
    */
  final case class PrRun(scores: DataFrame, rounds: Int, converged: Boolean)

  /** PageRank iterated to the EXACT integer LEAST fixed point — the
    * convention that makes an INCREMENTAL warm start provably exact
    * ([[pageRankIncremental]]). Three deliberate departures from
    * [[pageRank]]:
    *
    *  - UNNORMALIZED teleport: every node gets a CONSTANT
    *    `(100−d)·scaleUnit div 100`, independent of the node count
    *    (total mass grows with n; rankings are unaffected — scores are
    *    a per-node factor of the normalized ones). This is what makes
    *    a source-additive delta MONOTONE: new nodes never dilute
    *    anyone's teleport share, so the old fixed point stays a
    *    certified lower bound of the new one.
    *  - FROM-BELOW iteration: init = teleport-only (trivially ≤ the
    *    fixed point). The update map T is monotone (floor of a
    *    nondecreasing function), so iterates increase pointwise and —
    *    being integers bounded by n·tele/(1−d) — reach the least
    *    fixed point EXACTLY in finitely many rounds. No tolerance, no
    *    oscillation: floating-point PageRank can never terminate on
    *    bit equality, this does by construction.
    *  - Σ-based convergence (the monotone-sum rule CC also uses):
    *    pointwise-nondecreasing scores mean Σ strictly increases until
    *    the fixpoint, so convergence is the exact BigInt sum each round
    *    computes anyway, not a self-join.
    *
    * `scaleUnit` trades precision for rounds: the from-below gap
    * closes by factor d per round, so rounds ≈ log(scaleUnit)/log(1/d)
    * (~190 at e12/0.85, ~14 at e4/0.50). Each round is one edge-scan
    * join — on a 10¹¹-edge graph that IS the cost, and the knob is the
    * operator's honest price list for bit-exactness.
    */
  def pageRankFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIters: Int = 300, dampingE2: Long = 85L,
                       scaleUnit: Long = 1000000000000L): PrRun =
    fixpointFromBelow(endpoints(edges, srcCol, dstCol, Standing), maxIters,
      dampingE2, scaleUnit, warmScores = None)

  /** INCREMENTAL PageRank (r17) — the graph family's q174: absorb a
    * SOURCE-ADDITIVE delta (every delta edge's src is a node with no
    * out-edges in the standing graph — the crawl-frontier shape: a
    * page's outlinks enter the graph once, when it is fetched; its
    * targets may be anything) by warm-starting the from-below
    * iteration at the standing scores instead of the teleport floor.
    *
    * Exactness is PROVABLE, not just gated: under source-additivity
    * and the constant-teleport convention, T_new ≥ T_old pointwise
    * (the delta only adds inflow; no existing out-degree changes, no
    * teleport dilution), so the standing least fixed point is ≤ the
    * new one — a certified lower-bound init. Monotone iteration from
    * any lower bound of the lfp converges to exactly the lfp, the
    * same point the cold rebuild reaches from the teleport floor
    * (squeeze: T^k(tele) ≤ T^k(old) ≤ lfp). q177 gates the equality
    * anyway; GraphSpec carries the hand proofs.
    *
    * The warm start buys ROUNDS (each one full edge scan): the gap is
    * the delta's perturbation, so re-convergence costs
    * ≈ log(perturbation)/log(1/d), not log(scaleUnit)/log(1/d). The
    * precondition is CHECKED inside the kernel's adjacency shuffle, on
    * the long ids it iterates over: standing and delta edges carry a
    * side tag, and a node with out-edges on both sides fails the run
    * loud before any round (an overlapping delta changes out-degrees;
    * rebuild cold instead).
    */
  def pageRankIncremental(oldScores: DataFrame, standingEdges: DataFrame,
                          deltaEdges: DataFrame,
                          srcCol: String, dstCol: String,
                          maxIters: Int = 300, dampingE2: Long = 85L,
                          scaleUnit: Long = 1000000000000L): PrRun =
    fixpointFromBelow(endpoints(standingEdges, srcCol, dstCol, Standing)
        .unionByName(endpoints(deltaEdges, srcCol, dstCol, Delta)),
      maxIters, dampingE2, scaleUnit, warmScores = Some(oldScores))

  /** PERSONALIZED PageRank (r17) to the exact integer least fixed
    * point: teleport mass goes ONLY to `seeds` (one id column named by
    * `seedCol`) — the seed-proximity score behind quality propagation
    * from a trusted host list (the curated-seeds recipe: score every
    * crawled page by its link proximity to known-good sites) and
    * topic-focused frontier prioritization. With seeds = all nodes
    * this IS [[pageRankFixpoint]] (q186 gates the equality).
    *
    * Same exactness argument: tele(v) = tele·[v ∈ seeds] keeps T
    * monotone and init = tele(·) ≤ the lfp. Nodes unreachable from
    * the seeds sit at EXACTLY 0 (float PPR leaves denormal dust);
    * seed ids absent from the graph contribute nothing; an empty
    * effective seed set converges to all-zeros in one round.
    */
  def personalizedPageRankFixpoint(edges: DataFrame, srcCol: String,
                                   dstCol: String, seeds: DataFrame,
                                   seedCol: String, maxIters: Int = 300,
                                   dampingE2: Long = 85L,
                                   scaleUnit: Long = 1000000000000L): PrRun =
    fixpointFromBelow(endpoints(edges, srcCol, dstCol, Standing), maxIters,
      dampingE2, scaleUnit, warmScores = None,
      seedIds = Some(seeds.select(col(seedCol).cast("long").as("id"))))

  /** The from-below fixpoint over an [[endpoints]] frame. */
  private def fixpointFromBelow(e: DataFrame, maxIters: Int,
                                dampingE2: Long, scaleUnit: Long,
                                warmScores: Option[DataFrame],
                                seedIds: Option[DataFrame] = None): PrRun = {
    require(maxIters >= 1 && maxIters <= 1000,
      s"maxIters=$maxIters out of [1,1000]")
    require(dampingE2 >= 0L && dampingE2 <= 99L,
      s"dampingE2=$dampingE2 out of [0,99]") // d=1 has no fixed point here
    require(scaleUnit >= 100L, s"scaleUnit=$scaleUnit too coarse")
    val tele = (100L - dampingE2) * scaleUnit / 100L
    val mixedSources = e.sparkSession.sparkContext.longAccumulator
    val adj = adjacency(e, mixedSources)
    val part = adj.partitioner.get
    // per-node teleport: the constant tele (uniform PageRank) or
    // tele·[id ∈ seeds] (personalized)
    val teleOf = seedIds match {
      case Some(sd) => adj.cogroup(keyed(sd.select(col("id"), lit(0L))), part)
        .flatMapValues { case (a, s) => a.map(_ => if (s.isEmpty) 0L else tele) }
      case None => adj.mapValues(_ => tele)
    }
    // warm rows are clamped to ≥ tele(id) (the teleport floor stays a
    // certified lower bound even for scores of another scaleUnit); new
    // nodes start at their teleport (a copy: the loop drops its init)
    val init = warmScores.fold(teleOf.mapValues(t => t)) { s0 =>
      teleOf.leftOuterJoin(keyed(s0.select(col("id").cast("long"),
          col("score").cast("long"))), part)
        .mapValues { case (t, w) => math.max(w.getOrElse(t), t) }
    }
    val (state, rounds, converged) = prIterate(adj, mixedSources, teleOf, init,
      dampingE2, maxIters, untilFixed = true)
    if (!converged) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"pageRankFixpoint did not converge in $maxIters rounds; scores are " +
        "the last iterate, not the fixed point — raise maxIters or coarsen scaleUnit")
    PrRun(frame(e, state, "score", scoreNullable = false), rounds, converged)
  }

  /** A finished connected-components run: (id, label) rows, label the
    * minimum id of the node's component; the state backing them,
    * registered for [[CacheScope.release]]; label-propagation rounds
    * executed (including the final fixpoint-confirming one); and
    * whether the labels reached the fixpoint before `maxIters` ran out
    * (false → PARTIAL labels: one true cluster reported as several).
    */
  private[ops] final case class CcRun(labels: DataFrame, state: RDD[_],
                                      rounds: Int, converged: Boolean)

  /** Connected components of the undirected graph of (id_a, id_b)
    * `pairs` by min-label propagation on the kernel: the adjacency
    * holds both directions of every pair, the init state is id → id,
    * and a round sends each node's label to its neighbours and keeps
    * the per-node minimum with its own (`reduceByKey` on the
    * adjacency's partitioner). Labels only fall, so the round whose
    * Σ stands still is the fixpoint. Ids must be integral; the labels
    * come back in the ids' type. A null id receives labels but never
    * gives one (SQL equi-join semantics); it has no label of its own,
    * and weighs above every id in Σ so that its first label counts as
    * a fall.
    */
  private[ops] def connectedComponents(pairs: DataFrame, maxIters: Int): CcRun = {
    val ids = pairs.select(col("id_a"), col("id_b"))
    ids.schema.foreach(f => require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
      s"connected components need integral ids: column ${f.name} is ${f.dataType.sql}"))
    val both = ids.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(ids.select(col("id_b").as("src"), col("id_a").as("dst")))
    val e = endpoints(both, "src", "dst", Standing)
    val mixedSources = e.sparkSession.sparkContext.longAccumulator
    val adj = adjacency(e, mixedSources)
    val part = adj.partitioner.get
    val init = adj.mapPartitions(_.map { case (id, _) => (id, id) },
      preservesPartitioning = true)
    val (state, rounds, converged) = iterate(adj, mixedSources, init,
      (l: Id) => if (l == null) BigInt(Long.MaxValue) + 1 else BigInt(l.longValue),
      maxIters, untilFixed = true) { labels =>
      labels.join(adj, part).flatMap { case (id, (label, (deg, nbrs))) =>
        // out-degree above the non-null targets: a null neighbour
        Iterator((id, label)) ++ nbrs.iterator.map(n => (Long.box(n), label)) ++
          Iterator.fill(if (deg > nbrs.length) 1 else 0)((null: Id, label))
      }.reduceByKey(part, (a: Id, b: Id) =>
        if (a == null || (b != null && b.longValue < a.longValue)) b else a)
    }
    if (!converged) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"connectedComponents did not converge in $maxIters rounds; " +
        "labels are partial — raise maxIter for deep-chain graphs")
    val idType = both.schema("src").dataType
    CcRun(frame(e, state, "label", scoreNullable = true)
      .select(col("id").cast(idType).as("id"), col("label").cast(idType).as("label")),
      state, rounds, converged)
  }

  private type Id = java.lang.Long
  private type Adj = RDD[(Id, (Long, Array[Long]))]

  /** Out-edge side tags: an edge of the graph (or of the standing
    * graph), or of an incremental run's delta. */
  private final val Standing = 1
  private final val Delta = 2

  private val NotSourceAdditive =
    "pageRankIncremental requires a source-additive delta: some delta " +
      "sources already have out-edges in the standing graph — their " +
      "out-degrees would change, the standing scores are no longer a " +
      "certified lower bound, rebuild cold with pageRankFixpoint"

  /** (src, dst) as longs, tagged with their `side`. */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String,
                        side: Int): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), lit(side).as("side"))

  /** Every endpoint → (out-degree, non-null targets), in ONE shuffle on
    * the session's shuffle width, persisted. A null src adds no
    * out-edge; a null dst counts in its source's out-degree but
    * receives nothing. A node with out-edges of both sides adds 1 to
    * `mixedSources` when its partition is computed. */
  private def adjacency(e: DataFrame, mixedSources: LongAccumulator): Adj =
    e.rdd.flatMap { r =>
      val (src, dst) = (r.get(0).asInstanceOf[Id], r.get(1).asInstanceOf[Id])
      // (0, null) only makes the id a node; (side, dst) is an out-edge
      Iterator((dst, (0, null: Id)), (src, (if (src == null) 0 else r.getInt(2), dst)))
    }.groupByKey(new HashPartitioner(
        e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))
      .mapValues { vs =>
        val out = vs.filter(_._1 != 0)
        if (out.exists(_._1 == Standing) && out.exists(_._1 == Delta))
          mixedSources.add(1L)
        (out.size.toLong, out.collect { case (_, d) if d != null => d.longValue }.toArray)
      }.persist(StorageLevel.MEMORY_AND_DISK)

  /** A two-column long frame as (id, value) pairs; rows with a null id
    * (which never equi-joins) or a null value are dropped. */
  private def keyed(df: DataFrame): RDD[(Id, Long)] =
    df.rdd.flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some((Long.box(r.getLong(0)), r.getLong(1))))

  /** A PageRank round, lazily. Exact and loud: an overflow throws, as
    * Spark's ANSI `*` and `sum` do; `/` truncates like `div` (all ≥ 0). */
  private def prRound(adj: Adj, teleOf: RDD[(Id, Long)], state: RDD[(Id, Long)],
                      dampingE2: Long): RDD[(Id, Long)] = {
    val part = adj.partitioner.get
    val inflow = state.join(adj, part).flatMap { case (_, (score, (deg, dsts))) =>
      if (deg == 0L) Iterator.empty
      else {
        val rate = Math.multiplyExact(score, dampingE2) / (100L * deg)
        dsts.iterator.map(d => (Long.box(d), rate))
      }
    }.reduceByKey(part, (a: Long, b: Long) => Math.addExact(a, b))
    teleOf.leftOuterJoin(inflow, part)
      .mapValues { case (t, in) => in.fold(t)(Math.addExact(t, _)) }
  }

  /** [[iterate]] with PageRank rounds; `teleOf` is persisted for the
    * loop and dropped with `adj`. */
  private def prIterate(adj: Adj, mixedSources: LongAccumulator,
                        teleOf: RDD[(Id, Long)], init: RDD[(Id, Long)],
                        dampingE2: Long, maxIters: Int,
                        untilFixed: Boolean): (RDD[(Id, Long)], Int, Boolean) = {
    teleOf.persist(StorageLevel.MEMORY_AND_DISK)
    try iterate(adj, mixedSources, init, (s: Long) => BigInt(s), maxIters,
      untilFixed)(prRound(adj, teleOf, _, dampingE2))
    finally teleOf.unpersist(blocking = false)
  }

  /** Marks `state` for a lazy local checkpoint and runs the ONE action
    * that computes every partition of it: (rows, Σ weight). */
  private def settle[V](state: RDD[(Id, V)], weight: V => BigInt): (Long, BigInt) = {
    state.localCheckpoint()
    state.aggregate((0L, BigInt(0)))((a, kv) => (a._1 + 1L, a._2 + weight(kv._2)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** `maxIters` applications of `round` from `init`, or fewer once
    * Σ weight stands still if `untilFixed` (monotone iterates: equal Σ
    * is the fixed point); then drops `adj`. The init settle computes
    * `adj`, so `mixedSources` is complete after it: a count above zero
    * fails the run before any round. On any failure every state is
    * dropped too. Returns (last state, rounds, Σ stood still). */
  private def iterate[V](adj: Adj, mixedSources: LongAccumulator,
                         init: RDD[(Id, V)], weight: V => BigInt,
                         maxIters: Int, untilFixed: Boolean)
                        (round: RDD[(Id, V)] => RDD[(Id, V)]): (RDD[(Id, V)], Int, Boolean) = {
    var (state, next) = (init, init)
    try {
      val (rows, sum0) = settle(state, weight)
      require(mixedSources.isZero, NotSourceAdditive)
      var (prevSum, fixed, i) = (sum0, rows == 0L, 0) // an empty graph is fixed
      while (i < maxIters && !(untilFixed && fixed)) {
        next = round(state)
        val (_, sum) = settle(next, weight) // next is complete: only now drop state
        Checkpoints.drop(state)
        state = next
        fixed = sum == prevSum
        prevSum = sum
        i += 1
      }
      (state, i, fixed)
    } catch { case t: Throwable =>
      Checkpoints.drop(state)
      Checkpoints.drop(next)
      throw t
    } finally adj.unpersist(blocking = false)
  }

  /** The final state as (id, `scoreCol`), id nullable iff an endpoint
    * column is; registered for [[CacheScope.release]]. */
  private def frame[V](e: DataFrame, state: RDD[(Id, V)], scoreCol: String,
                       scoreNullable: Boolean): DataFrame = {
    CacheScope.registerRdds(e.sparkSession, Seq(state))
    e.sparkSession.createDataFrame(state.map { case (id, s) => Row(id, s) },
      StructType(Seq(StructField("id", LongType, e.schema.take(2).exists(_.nullable)),
        StructField(scoreCol, LongType, scoreNullable))))
  }
}
