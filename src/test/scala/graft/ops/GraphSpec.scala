package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.SparkSpec

/** [[Graph.pageRank]] against hand-computed integer arithmetic: the
  * symmetric cycle must be a FIXED POINT of the e12 fixed-point
  * update (mass-stability of the integer form), and an asymmetric
  * star must reproduce exact hand-derived scores per round.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def scores(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val out = Graph.pageRank(df, "src", "dst", iters)
      .as[(Long, Long)].collect().toMap
    CacheScope.release(spark)
    out
  }

  test("3-cycle is a fixed point: init = tele + damped share exactly") {
    // init 10^12 div 3 = 333333333333; rate = (·85) div 100 =
    // 283333333333; tele = 15·10^12 div 300 = 50000000000; sum is the
    // init again — stable at any iteration count
    val cyc = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    for (it <- Seq(1, 4)) {
      val s = scores(cyc, it)
      assert(s === Map(1L -> 333333333333L, 2L -> 333333333333L,
        3L -> 333333333333L))
    }
  }

  test("asymmetric star: exact hand-computed scores after 1 and 2 rounds") {
    // a=1 → {b=2, c=3}, b → a, c → a; outdeg a=2, b=c=1
    val star = Seq(1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L)
    val s1 = scores(star, 1)
    assert(s1 === Map(1L -> 616666666666L, 2L -> 191666666666L,
      3L -> 191666666666L))
    val s2 = scores(star, 2)
    assert(s2 === Map(1L -> 375833333332L, 2L -> 312083333333L,
      3L -> 312083333333L))
  }

  test("sink-only node receives teleport + inflow but contributes nothing") {
    // 1 → 2 only: node 2 is dangling — its mass is dropped (the
    // documented PageRank-lite convention), node 1 gets teleport only
    val s = scores(Seq(1L -> 2L), 1)
    val tele = 15L * 1000000000000L / 200L
    assert(s(1L) === tele)
    assert(s(2L) === tele + 500000000000L * 85L / 100L)
  }

  test("parameter validation fails loud") {
    val df = Seq(1L -> 2L).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(df, "src", "dst", 0))
    intercept[IllegalArgumentException](
      Graph.pageRank(df, "src", "dst", 1, dampingE2 = 101L))
  }

  // ————— fixpoint + incremental (r17) —————

  // gate-friendly parameters: rounds ≈ log(scaleUnit)/log(1/d) — at
  // e4/0.50 the from-below iteration converges in ~14 rounds, so the
  // spec exercises full convergence without paying the e12 price
  private val SCALE = 10000L
  private val D = 50L

  // a deterministic ~40-node graph with hub structure (every node
  // links to i%7 and i%11+20 — multiple in-degrees, chains, a few
  // danglings), the shape where fixpoint iteration does real work
  private def arithEdges(n: Long): Seq[(Long, Long)] =
    (0L until n).flatMap(i => Seq((i, i % 7L), (i, i % 11L + 20L)))
      .filter { case (a, b) => a != b }

  test("fixpoint: reaches an exact integer fixed point; scores satisfy the update") {
    // 3-cycle at e4/d50: tele = 5000; lfp solves x = 5000 + x div 2
    // → x = 9999 (9999 = 5000 + 4999); converges exactly, no tolerance
    val cyc = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L).toDF("src", "dst")
    val run = Graph.pageRankFixpoint(cyc, "src", "dst",
      dampingE2 = D, scaleUnit = SCALE)
    assert(run.converged, s"must converge: $run")
    assert(run.scores.as[(Long, Long)].collect().toMap ===
      Map(1L -> 9999L, 2L -> 9999L, 3L -> 9999L))
    CacheScope.release(spark)
  }

  test("fixpoint: exhausting maxIters reports converged=false") {
    val e = arithEdges(40L).toDF("src", "dst")
    val run = Graph.pageRankFixpoint(e, "src", "dst", maxIters = 2,
      dampingE2 = D, scaleUnit = SCALE)
    assert(!run.converged && run.rounds === 2)
    CacheScope.release(spark)
  }

  test("incremental warm start reaches the cold rebuild's exact fixed point in fewer rounds") {
    val all = arithEdges(40L)
    // source-additive split: sources 0..31 standing, sources 32..39
    // PLUS a brand-new node 99 arrive as the delta (all their
    // out-edges arrive together — the crawl-frontier contract)
    val standing = all.filter(_._1 < 32L)
    val delta = all.filter(_._1 >= 32L) :+ (99L -> 0L)
    val old = Graph.pageRankFixpoint(standing.toDF("src", "dst"), "src", "dst",
      dampingE2 = D, scaleUnit = SCALE)
    assert(old.converged, s"standing run must converge: $old")
    val cold = Graph.pageRankFixpoint((standing ++ delta).toDF("src", "dst"),
      "src", "dst", dampingE2 = D, scaleUnit = SCALE)
    val warm = Graph.pageRankIncremental(old.scores,
      standing.toDF("src", "dst"), delta.toDF("src", "dst"), "src", "dst",
      dampingE2 = D, scaleUnit = SCALE)
    assert(cold.converged && warm.converged)
    val coldMap = cold.scores.as[(Long, Long)].collect().toMap
    val warmMap = warm.scores.as[(Long, Long)].collect().toMap
    assert(warmMap === coldMap,
      "warm start must reach the identical integer least fixed point")
    assert(warmMap.contains(99L), "delta-only node must appear with a score")
    assert(warm.rounds <= cold.rounds,
      s"warm start must not pay more rounds: warm=${warm.rounds} cold=${cold.rounds}")
    info(s"rounds: cold=${cold.rounds} warm=${warm.rounds}")
    CacheScope.release(spark)
  }

  test("personalized: seeds = all nodes IS the uniform fixpoint") {
    val e = arithEdges(40L).toDF("src", "dst")
    val allNodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val uni = Graph.pageRankFixpoint(e, "src", "dst",
      dampingE2 = D, scaleUnit = SCALE)
    val ppr = Graph.personalizedPageRankFixpoint(e, "src", "dst",
      allNodes, "id", dampingE2 = D, scaleUnit = SCALE)
    assert(uni.converged && ppr.converged)
    assert(ppr.scores.as[(Long, Long)].collect().toMap ===
      uni.scores.as[(Long, Long)].collect().toMap)
    CacheScope.release(spark)
  }

  test("personalized: hand-checked chain — unreachable nodes score exactly 0") {
    // 1 → 2 → 3, plus 4 → 3; seed {1}. tele = 50·10⁴ div 100 = 5000.
    // s(1)=5000 (no inflow); s(2)=(5000·50) div (100·1)=2500;
    // s(3)=(2500·50) div 100 = 1250 from 2, plus 0 from 4; s(4)=0 —
    // not seeded, no in-edges: EXACT zero, not dust
    val e = Seq(1L -> 2L, 2L -> 3L, 4L -> 3L).toDF("src", "dst")
    val got = Graph.personalizedPageRankFixpoint(e, "src", "dst",
      Seq(1L).toDF("id"), "id", dampingE2 = D, scaleUnit = SCALE)
    assert(got.converged)
    assert(got.scores.as[(Long, Long)].collect().toMap ===
      Map(1L -> 5000L, 2L -> 2500L, 3L -> 1250L, 4L -> 0L))
    CacheScope.release(spark)
  }

  test("personalized: seeds absent from the graph yield all-zeros; cycles converge") {
    val e = Seq(1L -> 2L, 2L -> 1L).toDF("src", "dst")
    val ghost = Graph.personalizedPageRankFixpoint(e, "src", "dst",
      Seq(77L).toDF("id"), "id", dampingE2 = D, scaleUnit = SCALE)
    assert(ghost.converged)
    assert(ghost.scores.as[(Long, Long)].collect().toMap ===
      Map(1L -> 0L, 2L -> 0L))
    // a seeded 2-cycle reaches an exact fixed point (mass circulates
    // through the seed's tele floor): verify the update equation holds
    val cyc = Graph.personalizedPageRankFixpoint(e, "src", "dst",
      Seq(1L).toDF("id"), "id", dampingE2 = D, scaleUnit = SCALE)
    assert(cyc.converged)
    val m = cyc.scores.as[(Long, Long)].collect().toMap
    assert(m(1L) === 5000L + m(2L) * D / 100L)
    assert(m(2L) === m(1L) * D / 100L)
    CacheScope.release(spark)
  }

  test("incremental rejects a non-source-additive delta loud") {
    val sc = spark.sparkContext
    graft.Bench.releaseAll(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    val standing = Seq(1L -> 2L, 2L -> 3L).toDF("src", "dst")
    // the standing fixed point (tele 5000, d = 0.5), from a local frame
    val old = Seq(1L -> 5000L, 2L -> 7500L, 3L -> 8750L).toDF("id", "score")
    // node 1 already has out-edges: adding another changes its
    // out-degree — the standing scores are no longer a lower bound
    val bad = Seq(1L -> 3L).toDF("src", "dst")
    val err = intercept[IllegalArgumentException] {
      Graph.pageRankIncremental(old, standing, bad, "src", "dst",
        dampingE2 = D, scaleUnit = SCALE)
    }
    assert(err.getMessage === "requirement failed: pageRankIncremental " +
      "requires a source-additive delta: some delta sources already have " +
      "out-edges in the standing graph — their out-degrees would change, " +
      "the standing scores are no longer a certified lower bound, rebuild " +
      "cold with pageRankFixpoint")
    // adjacency, teleport and the settled init state are all released
    assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs.values.mkString(", "))
    CacheScope.release(spark)
  }

  // ————— the RDD kernel's contracts —————

  test("fixpoint: one more round is exactly one more job") {
    val e = arithEdges(40L).toDF("src", "dst")
    def jobs(k: Int): Int = jobsIn {
      val run = Graph.pageRankFixpoint(e, "src", "dst", maxIters = k,
        dampingE2 = D, scaleUnit = SCALE)
      assert(!run.converged && run.rounds === k, s"must not converge by $k: $run")
    }
    val (j3, j4) = (jobs(3), jobs(4))
    CacheScope.release(spark)
    info(s"jobs: maxIters=3 → $j3, maxIters=4 → $j4")
    assert(j4 === j3 + 1)
  }

  test("CC: one more round is exactly one more job") {
    // a 31-node chain needs 30 rounds: neither run converges
    val chain = (0L until 30L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    def jobs(k: Int): Int = jobsIn {
      val run = Graph.connectedComponents(chain, maxIters = k)
      assert(!run.converged && run.rounds === k, s"must not converge by $k: $run")
    }
    val (j3, j4) = (jobs(3), jobs(4))
    CacheScope.release(spark)
    info(s"jobs: maxIters=3 → $j3, maxIters=4 → $j4")
    assert(j4 === j3 + 1)
  }

  test("incremental on local frames: the init settle plus one job per round") {
    val all = arithEdges(40L)
    val standing = all.filter(_._1 < 32L).toDF("src", "dst")
    val delta = all.filter(_._1 >= 32L).toDF("src", "dst")
    val old = Graph.pageRankFixpoint(standing, "src", "dst",
      dampingE2 = D, scaleUnit = SCALE).scores.as[(Long, Long)].collect().toSeq
    CacheScope.release(spark)
    var rounds = 0
    val jobs = jobsIn {
      rounds = Graph.pageRankIncremental(old.toDF("id", "score"), standing, delta,
        "src", "dst", dampingE2 = D, scaleUnit = SCALE).rounds
    }
    CacheScope.release(spark)
    info(s"rounds=$rounds jobs=$jobs")
    assert(rounds >= 1 && jobs === rounds + 1)
  }

  // 1 → 2, 2 → null, null → 1: the null id is a node at its teleport
  // that neither gives nor receives; node 2's share to it is dropped
  private def nullEdges: DataFrame =
    Seq(Option(1L) -> Option(2L), Option(2L) -> Option.empty[Long],
      Option.empty[Long] -> Option(1L)).toDF("src", "dst")

  private def byId(df: DataFrame): Map[Option[Long], Long] =
    df.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))).toMap

  test("a null endpoint is a node at its teleport that neither gives nor receives") {
    val fx = Graph.pageRankFixpoint(nullEdges, "src", "dst",
      dampingE2 = D, scaleUnit = SCALE)
    assert(fx.converged && fx.rounds === 2)
    assert(byId(fx.scores) === Map(Some(1L) -> 5000L, Some(2L) -> 7500L, None -> 5000L))
    val ppr = Graph.personalizedPageRankFixpoint(nullEdges, "src", "dst",
      Seq(1L).toDF("id"), "id", dampingE2 = D, scaleUnit = SCALE)
    assert(ppr.converged && ppr.rounds === 2)
    assert(byId(ppr.scores) === Map(Some(1L) -> 5000L, Some(2L) -> 2500L, None -> 0L))
    // normalized: n = 3 counts the null node; init 333333333333, tele
    // 5·10¹⁰; round 2 gives node 2 tele + (5·10¹⁰·85) div 100
    assert(byId(Graph.pageRank(nullEdges, "src", "dst", 2)) === Map(
      Some(1L) -> 50000000000L, Some(2L) -> 92500000000L, None -> 50000000000L))
    CacheScope.release(spark)
  }

  test("returned frames: (id, score) longs, id nullable iff an endpoint column is") {
    def schema(idNullable: Boolean, score: String, scoreNullable: Boolean) =
      StructType(Seq(StructField("id", LongType, idNullable),
        StructField(score, LongType, scoreNullable)))
    val plain = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L).toDF("src", "dst")
    for ((e, nullable) <- Seq(plain -> false, nullEdges -> true)) {
      assert(Graph.pageRank(e, "src", "dst", 2).schema ===
        schema(nullable, "score_e12", scoreNullable = true))
      val fx = Graph.pageRankFixpoint(e, "src", "dst", dampingE2 = D, scaleUnit = SCALE)
      val ppr = Graph.personalizedPageRankFixpoint(e, "src", "dst",
        Seq(1L).toDF("id"), "id", dampingE2 = D, scaleUnit = SCALE)
      val inc = Graph.pageRankIncremental(fx.scores, e, Seq(9L -> 1L).toDF("src", "dst"),
        "src", "dst", dampingE2 = D, scaleUnit = SCALE)
      for (run <- Seq(fx, ppr, inc))
        assert(run.scores.schema === schema(nullable, "score", scoreNullable = false))
      CacheScope.release(spark)
    }
  }

  test("the kernel keeps only the returned state persisted; release frees it") {
    val sc = spark.sparkContext
    graft.Bench.releaseAll(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    val run = Graph.pageRankFixpoint(arithEdges(40L).toDF("src", "dst"), "src", "dst",
      maxIters = 5, dampingE2 = D, scaleUnit = SCALE)
    assert(run.rounds === 5)
    // adjacency, teleport and rounds 0-4 are gone: round 5 backs the frame
    assert(sc.getPersistentRDDs.size === 1, sc.getPersistentRDDs.values.mkString(", "))
    assert(run.scores.count() > 0L)
    CacheScope.release(spark)
    assert(sc.getPersistentRDDs.isEmpty)
  }
}
