package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution: fuzzy (edit-distance) matching and
  * canonicalization of string attributes — the data-cleaning step a
  * warehouse runs on names, brands, and labels before any join on them
  * (the reference's dimension pipelines assume upstream-clean dim keys;
  * this supplies the cleaner).
  *
  * Scale design — the two levers that make fuzzy matching viable at
  * 100 TB:
  *  1. **Dictionary first.** Matching runs on `SELECT DISTINCT value`,
  *     never on rows. Natural-language attributes dedupe by orders of
  *     magnitude (the sf0.1 `part` table: 20 000 rows, 64 names), and
  *     the row→canonical mapping at the end is a broadcast-able join of
  *     the finished dictionary back to the fact table.
  *  2. **Blocking, not cross join.** Candidate pairs come from an
  *     equi-join on a caller-chosen block key (a token, a phonetic code,
  *     a length band) — the same candidate-generation discipline as the
  *     minhash/LSH dedup family. Recall is explicitly bounded by the
  *     block key, and the oracle replays the identical blocking, so the
  *     contract is exact-as-specified (the q31/q32 pattern).
  *
  * The distance itself is Spark's codegen'd `levenshtein` with the
  * early-exit threshold argument — no UDF; whole-stage codegen applies
  * the cheap `|len(a)-len(b)| <= maxDist` screen before any DP table.
  */
object FuzzyJoin {

  /** The shared candidate scaffolding: distinct non-null dictionary of
    * `valueCol`, block-key self-join, `val_a < val_b` — the scorers
    * ([[dictionaryPairs]], [[dictionaryPairsJaro]]) differ only in what
    * they compute on the in-block pair frame this returns.
    * NOTE for blockKey authors: a key that can be NULL silently drops
    * the value from candidate generation (NULL never equi-joins);
    * coalesce to a default block if those values should still pair.
    */
  private def inBlockPairs(df: DataFrame, valueCol: String,
                           blockKey: Column => Column): DataFrame = {
    val dict = df.select(col(valueCol).as("v")).filter(col("v").isNotNull)
      .distinct()
      .select(col("v"), blockKey(col("v")).as("blk"))
    dict.select(col("v").as("val_a"), col("blk"))
      .join(dict.select(col("v").as("val_b"), col("blk")), "blk")
      .filter(col("val_a") < col("val_b"))
  }

  /** Fuzzy pairs over the distinct-value dictionary of `valueCol`.
    *
    * Output: (val_a, val_b, dist) with `val_a < val_b`, one row per
    * in-block pair within `maxDist` edits. `blockKey` maps the value
    * column to the candidate-generation key; pairs in different blocks
    * are by-contract unmatched (choose a looser key for higher recall —
    * e.g. a length band joins more than a leading token).
    */
  def dictionaryPairs(df: DataFrame, valueCol: String, maxDist: Int,
                      blockKey: Column => Column): DataFrame =
    inBlockPairs(df, valueCol, blockKey)
      // length screen first: it prunes most of the block without touching
      // the DP matrix, and it is pushable into the join's post-condition
      .filter(abs(length(col("val_a")) - length(col("val_b"))) <= maxDist)
      .select(col("val_a"), col("val_b"),
        levenshtein(col("val_a"), col("val_b"), maxDist).as("dist"))
      .filter(col("dist") >= 0)

  /** [[dictionaryPairs]] with Jaro-Winkler scoring instead of edit
    * distance — the record-linkage scorer for short name attributes
    * (transpositions and shared prefixes matter more than raw edits).
    * Emits `jw_e6` = ⌊10⁶·similarity⌋ (the engine's integer-gate
    * doctrine; the codegen'd [[org.apache.spark.sql.graft.JaroWinkler]]
    * runs in the DuckDB/rapidfuzz operation order, so the floor is
    * oracle-exact). Same dictionary + blocking contract as the
    * edit-distance form.
    */
  def dictionaryPairsJaro(df: DataFrame, valueCol: String, minSimE6: Long,
                          blockKey: Column => Column): DataFrame =
    inBlockPairs(df, valueCol, blockKey)
      .select(col("val_a"), col("val_b"),
        floor(org.apache.spark.sql.graft.StringSimilarity
          .jaroWinkler(col("val_a"), col("val_b")) * 1000000.0)
          .cast("long").as("jw_e6"))
      .filter(col("jw_e6") >= minSimE6)

  /** Cross-table record linkage: map every distinct dirty value of
    * `left(leftCol)` to its best-scoring clean value in
    * `dim(dimCol)` — the "fuzzy dim enrichment" shape (a fact table's
    * free-text attribute resolved against a curated dimension before
    * the real join).
    *
    * Candidates come from the block-key equi-join (both sides keyed);
    * the winner per dirty value is the (jw_e6 DESC, clean ASC) argmax
    * via a combinable `max(struct)` — one aggregate, no window, no
    * per-value sort. Dirty values whose block has no candidate at
    * `minSimE6` are ABSENT from the output (caller left-joins and
    * decides the fallback policy).
    *
    * Output: (value, matched, jw_e6). Both sides are dictionaries, so
    * the result is broadcast-sized for the caller's fact-table join.
    */
  def bestMatch(left: DataFrame, leftCol: String,
                dim: DataFrame, dimCol: String, minSimE6: Long,
                blockKey: Column => Column): DataFrame = {
    val dirty = left.select(col(leftCol).as("value")).filter(col("value").isNotNull)
      .distinct()
      .select(col("value"), blockKey(col("value")).as("blk"))
    val clean = dim.select(col(dimCol).as("matched")).filter(col("matched").isNotNull)
      .distinct()
      .select(col("matched"), blockKey(col("matched")).as("blk"))
    dirty.join(clean, "blk")
      .select(col("value"), col("matched"),
        floor(org.apache.spark.sql.graft.StringSimilarity
          .jaroWinkler(col("value"), col("matched")) * 1000000.0)
          .cast("long").as("jw_e6"))
      .filter(col("jw_e6") >= minSimE6)
      // combinable max(struct(jw_e6, matched)): highest score wins, and
      // equal scores resolve to the lexicographically GREATEST candidate
      // (strings have no cheap order inversion inside a struct max, and
      // any deterministic rule serves — this one costs zero extra work;
      // the oracle replays it as ORDER BY jw_e6 DESC, matched DESC)
      .groupBy(col("value"))
      .agg(max(struct(col("jw_e6"), col("matched"))).as("best"))
      .select(col("value"), col("best.matched").as("matched"),
        col("best.jw_e6").as("jw_e6"))
  }

  /** Canonicalization map: every distinct value of `valueCol` →
    * the lexicographically smallest member of its fuzzy cluster
    * (connected components over [[dictionaryPairs]], so A~B~C chains
    * collapse to one canonical form even when A and C exceed `maxDist`).
    *
    * Output: (value, canonical) for EVERY distinct value — unmatched
    * values map to themselves, so the result is directly joinable to the
    * fact table (broadcast-sized: it is the dictionary).
    *
    * CC runs on 8-byte `xxhash64` fingerprints of the values, the dedup
    * family's standard id contract — strings never enter the iterative
    * shuffle. The fingerprints are also checked collision-free before
    * use ([[requireCollisionFree]]): the dictionary is model-sized by
    * construction, so the check is one cheap aggregate, and a 64-bit
    * collision (which would silently fuse two unrelated clusters) fails
    * loudly instead.
    *
    * Convergence is a hard contract, not a hope: the label-propagation
    * loop runs via [[Graph.connectedComponents]], and if `maxIter`
    * rounds did not reach the fixpoint (a fuzzy chain with diameter >
    * maxIter) this THROWS rather than returning silently-partial
    * components — raise `maxIter` for deep-chain dictionaries.
    */
  def canonicalize(df: DataFrame, valueCol: String, maxDist: Int,
                   blockKey: Column => Column, maxIter: Int = 20): DataFrame = {
    val pairs = dictionaryPairs(df, valueCol, maxDist, blockKey)
      .select(xxhash64(col("val_a")).as("id_a"), xxhash64(col("val_b")).as("id_b"))
    val run = Graph.connectedComponents(pairs, maxIter)
    if (!run.converged) throw new IllegalStateException(
      s"canonicalize: connected components did not converge in ${run.rounds} rounds " +
        s"(cluster chain deeper than maxIter=$maxIter) — labels would be " +
        "PARTIAL; raise maxIter")
    val labels = run.labels
    // persist-first ordering (the q123 doctrine): the guard's eager
    // aggregate materializes the persisted dictionary, so the raw value
    // column is scanned once, not once for the guard and once per join
    val dict = CacheScope.persist(
      df.select(col(valueCol).as("value")).filter(col("value").isNotNull)
        .distinct()
        .select(col("value"), xxhash64(col("value")).as("__h")))
    requireCollisionFree(dict, "value", "__h")
    val canon = dict.join(labels, dict("__h") === labels("id"))
      .groupBy(col("label")).agg(min(col("value")).as("canonical"))
    dict.join(labels, dict("__h") === labels("id"), "left")
      .join(canon, Seq("label"), "left")
      .select(col("value"),
        coalesce(col("canonical"), col("value")).as("canonical"))
  }

  /** Loud guard against 64-bit fingerprint collisions: on a
    * dictionary-sized frame, assert `count_distinct(value) ==
    * count_distinct(hash)`. A collision would silently FUSE two
    * unrelated values into one CC node (here) or one vector dimension
    * ([[Retrieval.tfidfCosinePairs]]) — undetectable downstream, so it
    * must fail at the source. One cheap aggregate over a frame that is
    * model-sized by construction; never call it on corpus-sized data.
    */
  private[ops] def requireCollisionFree(dict: DataFrame, valueCol: String,
                                        hashCol: String): Unit = {
    val row = dict.select(
      countDistinct(col(valueCol)).as("nv"),
      countDistinct(col(hashCol)).as("nh")).head()
    val (nv, nh) = (row.getLong(0), row.getLong(1))
    if (nv != nh) throw new IllegalStateException(
      s"xxhash64 fingerprint collision on '$valueCol': $nv distinct values " +
        s"hash to $nh distinct fingerprints — results would silently merge " +
        "unrelated values; use a wider identity for this vocabulary")
  }
}
