package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Integer fixed-point Lloyd's — hand-computed fixtures.
  *
  * Quantization used throughout: scale=1000, offset=1000, so a
  * coordinate x becomes floor(1000x) + 1000 (exact for the fixture
  * values, all multiples of 1/1000 well inside double precision).
  */
class KmeansSpec extends SparkSpec {

  private def embDf(rows: (Long, Seq[Double])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("float")).as("embedding"))
  }

  test("one update moves centroids to integer means; assignment and dist are exact") {
    // 1-D in a 2-dim array (second coord constant 0 -> quantized 1000
    // everywhere, contributes nothing to any distance).
    // points: 0.0, 0.1, 1.0, 1.1  -> quantized first coord 1000, 1100, 2000, 2100
    // init (k=2): cells 0,1 = vec_ids 0,1 -> centroids at 1000, 1100.
    // assign vs init: v0->c0 (d=0); v1->c1 (0); v2: d(c0)=1e6, d(c1)=810000 -> c1;
    //                 v3: d(c0)=1.21e6, d(c1)=1e6 -> c1.
    // update: c0 = {1000} -> 1000; c1 = mean(1100,2000,2100) = 5200 div 3 = 1733.
    // final assign vs updated: v0: d0=0, d1=733^2=537289 -> c0
    //   v1: d0=100^2=10000, d1=633^2=400689 -> c0
    //   v2: d0=1000^2=1e6, d1=267^2=71289 -> c1
    //   v3: d0=1100^2=1210000, d1=367^2=134689 -> c1
    val df = embDf(0L -> Seq(0.0, 0.0), 1L -> Seq(0.1, 0.0),
      2L -> Seq(1.0, 0.0), 3L -> Seq(1.1, 0.0))
    val out = Kmeans.assignInt(df, "vec_id", "embedding", k = 2, iters = 1)
      .orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (0L, 0L, 0L), (1L, 0L, 10000L), (2L, 1L, 71289L), (3L, 1L, 134689L)))
  }

  test("equal distances tie-break to the smaller cell id") {
    // two centroids symmetric around 0.5: v2 at 0.5 is equidistant
    // (quantized: 1500 vs centroids 1000 and 2000 -> d = 250000 both)
    val df = embDf(0L -> Seq(0.0), 1L -> Seq(1.0), 2L -> Seq(0.5))
    val out = Kmeans.assignInt(df, "vec_id", "embedding", k = 2, iters = 0)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((0L, 0L), (1L, 1L), (2L, 0L)))
  }

  test("a cell that loses every member drops (Lloyd's degeneracy)") {
    // identical init vectors: c0 == c1, so every point ties and the
    // tie-break sends ALL of them to cell 0 — cell 1 is empty after
    // round 1 and vanishes from the update (a cell can only go empty
    // through ties or a later round, never against its own init point,
    // which sits at distance 0). The final assignment still covers
    // every row, all in the surviving cell.
    val df = embDf(0L -> Seq(0.0), 1L -> Seq(0.0),
      2L -> Seq(0.5), 3L -> Seq(0.6))
    val out = Kmeans.assignInt(df, "vec_id", "embedding", k = 2, iters = 1)
      .collect()
    assert(out.length === 4)
    assert(out.forall(_.getLong(1) == 0L))
  }

  test("ids need not start at zero: cells are ranks of the k smallest ids") {
    val df = embDf(100L -> Seq(0.0), 250L -> Seq(1.0), 999L -> Seq(0.9))
    val out = Kmeans.assignInt(df, "vec_id", "embedding", k = 2, iters = 0)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // init: cell 0 = id 100 (0.0), cell 1 = id 250 (1.0); 999 at 0.9 -> cell 1
    assert(out.toSeq === Seq((100L, 0L), (250L, 1L), (999L, 1L)))
  }

  test("iters=2 matches a hand-run second round") {
    // Quantization is FLOAT-exact, not decimal: 1.4f = 1.39999997...,
    // so x1000 floors to 1399, not 1400 (the fixture embeddings are
    // float32 — the operator and the oracle must agree on this).
    // 0.0, 0.2, 1.0, 1.2, 1.4 quantize to 1000,1200,2000,2200,2399.
    // init: c0=1000 (v0), c1=1200 (v1)
    // a1: v0->c0(0); v1->c1(0); v2: 1e6 vs 640000 -> c1;
    //     v3: 1440000 vs 1e6 -> c1; v4: 1957201 vs 1437601 -> c1
    // c1 update: c0={1000}->1000; c1=(1200+2000+2200+2399) div 4 = 1949
    // a2: v0->c0(0); v1: 40000 vs 561001 -> c0; v2: 1e6 vs 2601 -> c1;
    //     v3: 1440000 vs 63001 -> c1; v4: 1957201 vs 202500 -> c1
    // c2 update: c0=(1000+1200) div 2=1100; c1=(2000+2200+2399) div 3=2199
    // final: v0: 10000 vs 1437601 -> c0; v1: 10000 vs 998001 -> c0;
    //   v2: 810000 vs 39601 -> c1; v3: 1210000 vs 1 -> c1;
    //   v4: 1687401 vs 40000 -> c1
    val df = embDf(0L -> Seq(0.0), 1L -> Seq(0.2), 2L -> Seq(1.0),
      3L -> Seq(1.2), 4L -> Seq(1.4))
    val out = Kmeans.assignInt(df, "vec_id", "embedding", k = 2, iters = 2)
      .orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((0L, 0L, 10000L), (1L, 0L, 10000L),
      (2L, 1L, 39601L), (3L, 1L, 1L), (4L, 1L, 40000L)))
  }

  // ————— incremental ingest: exact sufficient statistics (r16) —————

  test("cellStats merge over any slicing equals full-corpus stats exactly") {
    val df = embDf((0L to 9L).map(i =>
      i -> Seq(i * 0.1, 1.0 - i * 0.07)): _*)
    val cents = Kmeans.fitCentroids(df, "vec_id", "embedding", k = 3, iters = 1)
      .localCheckpoint(true) // freeze: every path must see ONE model
    val full = Kmeans.cellStats(df, "vec_id", "embedding", cents)
      .orderBy("cell", "j").collect().toSeq
    // 2-way and 4-way slicings, unbalanced
    for (nSlices <- Seq(2, 4)) {
      val parts = (0 until nSlices).map(s =>
        df.filter(col("vec_id") % nSlices === s))
      val merged = Kmeans.mergeStats(
          parts.map(Kmeans.cellStats(_, "vec_id", "embedding", cents)): _*)
        .orderBy("cell", "j").collect().toSeq
      assert(merged === full, s"$nSlices-way slicing")
    }
  }

  test("centroids from merged stats equal the batch Lloyd's update byte-for-byte") {
    val df = embDf((0L to 11L).map(i =>
      i -> Seq(math.sin(i.toDouble), math.cos(i.toDouble))): _*)
    val cents = Kmeans.fitCentroids(df, "vec_id", "embedding", k = 2, iters = 0)
      .localCheckpoint(true)
    val base = df.filter(col("vec_id") < 8)
    val delta = df.filter(col("vec_id") >= 8)
    val incr = Kmeans.centroidsOf(Kmeans.mergeStats(
        Kmeans.cellStats(base, "vec_id", "embedding", cents),
        Kmeans.cellStats(delta, "vec_id", "embedding", cents)))
      .orderBy("cell").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val batch = Kmeans.centroidsOf(
        Kmeans.cellStats(df, "vec_id", "embedding", cents))
      .orderBy("cell").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(incr.toSeq === batch.toSeq)
    // and the derived table IS the fitCentroids(iters=1) round: same
    // init (iters=0 centroids), same update arithmetic
    val oneRound = Kmeans.fitCentroids(df, "vec_id", "embedding", k = 2,
        iters = 1)
      .orderBy("cell").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(incr.toSeq === oneRound.toSeq)
  }

  test("assignAgainst frozen centroids is a pure per-vector function") {
    val df = embDf(0L -> Seq(0.0), 1L -> Seq(0.2), 2L -> Seq(1.0))
    val cents = Kmeans.fitCentroids(df, "vec_id", "embedding", k = 2, iters = 1)
      .localCheckpoint(true)
    val whole = Kmeans.assignAgainst(df, "vec_id", "embedding", cents)
      .orderBy("vec_id").collect().toSeq
    val pieces = Seq(df.filter(col("vec_id") < 2), df.filter(col("vec_id") >= 2))
      .map(Kmeans.assignAgainst(_, "vec_id", "embedding", cents))
      .reduce(_ unionByName _).orderBy("vec_id").collect().toSeq
    assert(pieces === whole)
  }

  test("a fit leaves no persisted RDD once the caller releases") {
    val df = embDf(0L -> Seq(0.0), 1L -> Seq(0.1), 2L -> Seq(1.0),
      3L -> Seq(1.1))
    CacheScope.release(spark)
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    val out = Kmeans.assignInt(df, "vec_id", "embedding", k = 2, iters = 2)
    assert(out.collect().length === 4)
    CacheScope.release(spark)
    assert((persisted() -- before).isEmpty,
      s"still persisted after release: ${persisted() -- before}")
    // `out` (and the centroid checkpoint its plan reads) stays reachable
    // up to here, so a collected RDD cannot hide a leak
    assert(out.columns.length === 3)
  }
}
