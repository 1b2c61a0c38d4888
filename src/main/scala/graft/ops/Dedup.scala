package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.CacheScope.TrackedPersist

/** Document deduplication at 100 TB scale: exact (hash-groupBy),
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design notes (the part that matters at 1000 executors):
  *  - Exact dedup shuffles an 8-byte xxhash64 fingerprint, never the
  *    document text; the text column is dropped before the exchange.
  *  - MinHash/LSH shuffles (band, bucket) keys — O(docs × bands) rows of
  *    a few bytes each. Candidate verification joins only candidate
  *    pairs (tiny vs the N² naive space).
  *  - All hash functions are Catalyst built-ins (murmur3 `hash`,
  *    `xxhash64`) — codegen'd, no UDFs, deterministic across runs.
  */
object Dedup {

  /** Parallel width for small-bytes/heavy-compute shuffle outputs
    * (candidate-pair verification: per-row array intersections). AQE's
    * coalescing targets bytes-per-partition (64 MB advisory), which
    * collapses a few-hundred-KB candidate list into ONE partition and
    * serializes the verify math onto one core. An explicit repartition
    * is exempt from AQE coalescing; width = full session parallelism.
    *
    * Deliberately NOT size-derived (r21 A/B, reverted): deriving this
    * width from the corpus frame's bytes (the ScanFanOut formula, 8-19
    * at sf0.1) regressed every verify-bearing query — q145 6.8→10.2 s,
    * q56 3.0→4.4, q57 2.9→3.9, q31 2.5→3.2 — because per-pair verify
    * CPU tracks the CANDIDATE count (quadratic in near-dup density),
    * not the corpus bytes the candidates were drawn from. The
    * candidate frame itself is join-derived, so its own stats estimate
    * is unusable either way; full width is the measured optimum.
    */
  private def verifyWidth(df: DataFrame): Int = {
    val sc = df.sparkSession
    math.max(sc.sparkContext.defaultParallelism,
      sc.conf.get("spark.sql.shuffle.partitions", "200").toInt)
  }

  /** Exact dedup: one representative (min id) per distinct text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_ct"))
      .select(col("rep_id"), col("dup_ct"))

  /** Exact dedup by content fingerprint — the scale path: group by an
    * 8-byte hash of the normalized text so the shuffle carries hashes,
    * not documents. Collision probability at 10^10 docs ~ 2^-24 per
    * pair-bucket; acceptable for training-data dedup (and verifiable by
    * a second pass on colliding buckets if not).
    */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.contentFingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_ct"))
      .select(col("rep_id"), col("dup_ct"))

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline (everything codegen'd, no interpreted higher-order funcs in
    * the hot path):
    *  1. explode shingle positions → one (id, xxhash64(shingle)) row per
    *     position; the normalized text is computed once per doc and only
    *     an 8-byte hash flows on (Jaccard over hashed shingle sets
    *     equals Jaccard over shingles modulo ~2^-64 collisions);
    *  2. signatures via ONE pure HashAggregate — k `min(xxhash64(h, i))`
    *     columns, fully codegen'd with map-side partials (no collect_set
    *     here: a single TypedImperativeAggregate would force the whole
    *     aggregation into object mode for every doc);
    *  3. band buckets straight off the component columns → self-join on
    *     (band, bucket) carrying only (id, band, bucket) → distinct
    *     candidate pairs → minhash-ESTIMATE prefilter (k integer
    *     compares per pair against the tiny signature projection, 3σ
    *     margin below the threshold);
    *  4. exact verify: shingle SETS are aggregated ONLY for doc ids that
    *     survive the prefilter — on a 100 TB corpus the expensive
    *     object-mode collect_set runs on the ~0.1% of documents that are
    *     actually near-dup candidates, not the corpus.
    */
  /** @param cacheShingles persist the exploded (id, shingle-hash) rows
    *   between the signature pass and the survivor-set pass. Right when
    *   the corpus (×~8 bytes/char) fits the cluster's cache tier; at
    *   true 100 TB scale leave false — the second pass re-scans, and the
    *   collect_set still only aggregates surviving docs.
    */
  /** One (id, xxhash64(shingle)) row per character-shingle position: the
    * normalized text is computed once per doc and only 8-byte hashes flow
    * on (Jaccard over hashed shingle sets equals Jaccard over shingles
    * modulo ~2^-64 collisions). Shared by the full-corpus and incremental
    * minhash pipelines.
    */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, fanOut: Boolean = true): DataFrame = {
    val norm = TextFunctions.normalizeWs(col(textCol))
    (if (fanOut) ScanFanOut(df.select(col(idCol), col(textCol)))
     else df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), norm.as("norm"))
      // null/empty/whitespace-only text produces NO shingles (r10
      // review): unguarded, every such doc got one identical constant
      // hash — xxhash64 of a null child is the seed, greatest(null,1)=1
      // forces a position, and whitespace-only normalizes to the shared
      // " " — so m contentless docs became m²/2 jaccard-1.0 "near-dup"
      // candidate pairs. Contentless docs are not near-dups of
      // anything; they simply have no signature.
      .filter(length(trim(col("norm"))) > 0)
      .select(col("id"), col("norm"),
        explode(sequence(lit(1),
          greatest(length(col("norm")) - (shingleN - 1), lit(1)))).as("pos"))
      .select(col("id"),
        xxhash64(col("norm").substr(col("pos"), lit(shingleN))).as("h"))
  }

  /** Signatures via ONE pure HashAggregate — k `min(xxhash64(h, i))`
    * columns, fully codegen'd with map-side partials.
    */
  private def minhashSigs(shRows: DataFrame, k: Int): DataFrame = {
    val minAggs = (0 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    shRows.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** (id, band, bucket) triples straight off the signature columns. */
  private def bandBuckets(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sigs.select(col("id"),
      explode(array((0 until bands).map { b =>
        val comps = (b * r until (b + 1) * r).map(i => col(s"m$i"))
        struct(lit(b).as("band"), xxhash64(comps :+ lit(b): _*).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** Minhash-estimate prefilter predicate over joined signature columns
    * a0..a(k-1) / b0..b(k-1): estimated Jaccard (fraction of agreeing
    * components) must clear the threshold minus a 3σ binomial margin —
    * never drops a true pair in practice, kills most false bucket
    * collisions before the expensive exact verify.
    */
  private def estimatePasses(k: Int, threshold: Double): Column = {
    val est = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1.0).otherwise(0.0))
      .reduce(_ + _) / k
    val margin = 3.0 * math.sqrt(threshold * (1.0 - threshold) / k)
    est >= threshold - margin
  }

  /** Exact-verify tail shared by the minhash pipelines: join candidate
    * pairs to their (persisted) shingle sets and keep pairs at or above
    * the exact Jaccard threshold. `sets` columns: (id, sh, ssz), with
    * `sh` SORTED ascending (the [[sortedSets]] builders guarantee it) —
    * |∩| is then a codegen'd two-pointer merge
    * ([[org.apache.spark.sql.graft.IntersectCountSorted]]) instead of
    * `array_intersect`'s per-PAIR hash-set build; the sort runs once per
    * document, the merge once per pair.
    */
  private def exactVerify(survivors: DataFrame, sets: DataFrame,
                          threshold: Double): DataFrame =
    survivors
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("ssz").as("sz_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("ssz").as("sz_b")), "id_b")
      .withColumn("inter",
        org.apache.spark.sql.graft.SetExpressions
          .intersectCountSorted(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jac",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"),
        floor(col("jac") * 10000).cast("long").as("jaccard_e4"))

  /** Corpus-size-aware (k, bands) for the minhash banding — the scale
    * dispatch the r10 probe showed is needed: at FIXED (k, bands) the
    * candidate stage carries a BACKGROUND collision term that is
    * quadratic in corpus size (a random non-dup pair at background
    * Jaccard J_bg collides in one band w.p. ~J_bg^r, r = k/bands;
    * measured at ×1..×10 of sf0.1: candidate shuffle records fit
    * L·m + Q·m² with a real Q — fine at 50 k docs, catastrophic at
    * 10^10). Rows-per-band r is the discriminator, so:
    *  - r = smallest integer with n·bands·J_bg^r ≤ `budget` spurious
    *    candidates per doc;
    *  - bands then rises to hold the recall floor at the true-dup
    *    threshold: b ≥ ln(1−recall)/ln(1−t^r) (detect w.p.
    *    1−(1−t^r)^b);
    *  - k = r·b.
    * At n=10^10, t=0.8, J_bg=0.1, budget=1, recall 0.95: the fixpoint
    * is r=12, b=43, k=516 — 16× the default k=32 signature bytes,
    * which is the honest price of quadratic→linear candidates at that
    * scale (the fixpoint exists because r's growth in b is
    * logarithmic while b's growth in r is geometric in t/J < 1).
    */
  def lshParams(corpusSize: Long, threshold: Double,
                bgJaccard: Double = 0.1, recallFloor: Double = 0.95,
                budgetPerDoc: Double = 1.0): (Int, Int) = {
    require(corpusSize > 0 && threshold > 0 && threshold < 1)
    require(bgJaccard > 0 && bgJaccard < threshold)
    var r = 1
    var b = 1
    def bandsFor(rr: Int): Int =
      math.max(1, math.ceil(
        math.log(1.0 - recallFloor) / math.log(1.0 - math.pow(threshold, rr))).toInt)
    // r and b feed back into each other (more bands = more collision
    // surface); iterate to the joint fixpoint — converges in a few
    // steps because r moves logarithmically in b
    var stable = false
    var iters = 0
    while (!stable && iters < 64) {
      val rNext = math.max(1, math.ceil(
        math.log(budgetPerDoc / (corpusSize.toDouble * b))
          / math.log(bgJaccard)).toInt)
      val bNext = bandsFor(rNext)
      stable = rNext == r && bNext == b
      r = rNext; b = bNext
      iters += 1
    }
    require(stable,
      s"lshParams did not converge (threshold=$threshold too close to bgJaccard=$bgJaccard)")
    (r * b, b)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 5, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.8,
                      cacheShingles: Boolean = true): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val shRowsPlan = shingleRows(df, idCol, textCol, shingleN)
    val shRows =
      if (cacheShingles)
        shRowsPlan.persistTracked()
      else shRowsPlan
    // three plan branches consume the signatures (banding + both
    // prefilter sides); the cache is 33 longs per doc
    val sigs = minhashSigs(shRows, k)
      .persistTracked()
    val banded = bandBuckets(sigs, k, bands)
    val candidates = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sigA = sigs.select(
      col("id").as("id_a") +: (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
    val sigB = sigs.select(
      col("id").as("id_b") +: (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
    // explicit repartition: the survivor list is a few hundred KB, so
    // AQE would coalesce it to one partition — and every downstream
    // per-pair set intersection would run on one core (measured 6.7 s
    // single-task at sf0.1)
    val survivors = candidates.join(sigA, "id_a").join(sigB, "id_b")
      .filter(estimatePasses(k, threshold))
      .select(col("id_a"), col("id_b"))
      .repartition(verifyWidth(df), col("id_a"), col("id_b"))
      .persistTracked()
    // exact-verify sets: second shingle pass, semi-joined down to
    // surviving doc ids BEFORE the collect_set aggregation
    val neededIds = survivors
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // no broadcast hint: on a sparse corpus neededIds is tiny and AQE
    // promotes the join to broadcast at runtime; on a dense one (where
    // the candidate set approaches the quadratic output) a forced
    // broadcast would blow the driver limit — let AQE pick.
    // persisted: BOTH pair sides consume it, and without the persist each
    // side's broadcast build re-runs the collect_set aggregation
    val sets = shRows.join(neededIds, "id")
      .groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("ssz"))
      .persistTracked()
    // |A∪B| = |A| + |B| − |A∩B| over sets: one array_intersect per pair,
    // no array_union allocation
    exactVerify(survivors, sets, threshold)
  }

  /** The persistable corpus-side artifact for INCREMENTAL dedup: one row
    * per document, columns (id, m0..m(k-1)). At 100 TB this table is
    * what a nightly pipeline writes to parquet once per corpus snapshot —
    * k longs per document, ~10^-4 of corpus bytes — so each new batch is
    * deduped against the whole history WITHOUT re-reading or re-hashing
    * the historical text.
    */
  def buildMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 5, k: Int = 32): DataFrame =
    minhashSigs(shingleRows(df, idCol, textCol, shingleN), k)

  /** Incremental MinHash+LSH dedup: near-dup pairs of `newDocs` against
    * an existing corpus (via its precomputed [[buildMinhashIndex]]
    * signature table) AND within the new batch itself — the recurring
    * production shape: yesterday's 100 TB corpus is indexed once;
    * today's 0.1 TB batch shingles, signs, and band-joins against the
    * tiny index.
    *
    * Output = exactly [[minhashLshPairs]] over (corpus ∪ new) restricted
    * to pairs touching at least one new doc (canonical id_a < id_b).
    *
    * Scale shape: only NEW docs are shingled up front. Banding joins the
    * (corpus ∪ new) bucket table against the NEW bucket table — the
    * shuffle is index-sized (k+1 longs/doc), never corpus-text-sized.
    * The exact-verify stage re-reads corpus TEXT only for documents that
    * survive the signature prefilter (semi-join pushes the id filter
    * into the corpus scan) — the ~0.1% that are actual near-dup
    * suspects.
    *
    * @param corpus      historical documents (idCol, textCol, ...) —
    *                    scanned ONLY for prefilter survivors
    * @param corpusIndex [[buildMinhashIndex]] of `corpus` (same
    *                    shingleN/k); ids must be disjoint from newDocs'
    */
  def minhashLshIncremental(newDocs: DataFrame, corpus: DataFrame,
                            corpusIndex: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 5, k: Int = 32, bands: Int = 8,
                            threshold: Double = 0.8): DataFrame =
    minhashLshIncrementalWithIndex(newDocs, corpus, corpusIndex,
      idCol, textCol, shingleN, k, bands, threshold)._1

  /** [[minhashLshIncremental]] ALSO returning the new batch's signature
    * rows (persisted, `buildMinhashIndex` schema) — the caller appends
    * them to the standing index without a second shingle+sign pass
    * (the streaming sink's per-trigger cost was dominated by exactly
    * that duplicate work).
    *
    * `smallBatch = true` selects the STREAMING-TRIGGER profile, for
    * batches far smaller than the index:
    *  - the batch-side bucket table is broadcast (bounded: bands rows
    *    per new doc), so the index side band-joins map-side with no
    *    full-index shuffle;
    *  - the minhash-estimate prefilter is SKIPPED: it is a performance
    *    screen in front of the exact verify, and on a small batch the
    *    candidate list is small enough to verify directly — output
    *    semantics are unchanged (if anything, pairs the 3σ estimate
    *    margin would falsely reject now reach the exact check);
    *  - the explicit verify-width repartition is dropped (it exists to
    *    spread DENSE-corpus verify math; a trigger batch's candidate
    *    list does not need 32 partitions, and each saved exchange is a
    *    saved job — on a 500-doc trigger the job count IS the cost).
    */
  def minhashLshIncrementalWithIndex(newDocs: DataFrame, corpus: DataFrame,
                                     corpusIndex: DataFrame,
                                     idCol: String, textCol: String,
                                     shingleN: Int = 5, k: Int = 32,
                                     bands: Int = 8, threshold: Double = 0.8,
                                     smallBatch: Boolean = false): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into bands")
    // new-batch shingles feed the signature pass AND the verify-set pass.
    // smallBatch skips the fan-out repartition: a trigger batch does not
    // need 32-way explode parallelism, and the saved exchange + narrow
    // task width matter more at trigger cadence
    val newSh = shingleRows(newDocs, idCol, textCol, shingleN,
      fanOut = !smallBatch).persistTracked()
    // persisted: banding consumes it here, the caller may append it to
    // the standing index table (k+1 longs per new doc)
    val newSigs = minhashSigs(newSh, k).persistTracked()
    val allSigsPlan = corpusIndex.select(col("id") +: (0 until k).map(i => col(s"m$i")): _*)
      .unionByName(newSigs)
    // banding + both prefilter sides consume the union in the batch
    // profile: persist. In the small-batch profile only banding reads
    // it — a cache would cost a materialization pass for zero reuse.
    val allSigs = if (smallBatch) allSigsPlan else allSigsPlan.persistTracked()
    // the new rows of allSigs ARE newSigs (ids disjoint) — band the
    // persisted frame directly instead of re-deriving it through a join
    val newBandedPlan = bandBuckets(newSigs, k, bands)
    val newBanded = if (smallBatch) broadcast(newBandedPlan) else newBandedPlan
    val allBanded = bandBuckets(allSigs, k, bands)
    // one side of every candidate pair is new; canonicalize to
    // id_a < id_b (a corpus id may be larger or smaller than a new id)
    val candidates = allBanded.alias("a").join(newBanded.alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val survivorsPlan =
      if (smallBatch) candidates
      else {
        val sigA = allSigs.select(
          col("id").as("id_a") +: (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
        val sigB = allSigs.select(
          col("id").as("id_b") +: (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
        candidates.join(sigA, "id_a").join(sigB, "id_b")
          .filter(estimatePasses(k, threshold))
          .select(col("id_a"), col("id_b"))
          .repartition(verifyWidth(newDocs), col("id_a"), col("id_b"))
      }
    val survivors = survivorsPlan.persistTracked()
    // two consumers (the new-side set filter and the corpus semi-join)
    // — persisted in the small-batch profile so the explode+distinct
    // subquery runs once, not once per consumer
    val neededIdsPlan = survivors
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val neededIds = if (smallBatch) neededIdsPlan.persistTracked() else neededIdsPlan
    // corpus text is touched HERE only, semi-joined to survivors first;
    // new-side shingles come from the persisted first pass
    val corpusSurvivorSh = shingleRows(
      corpus.join(neededIds, corpus(idCol) === neededIds("id"), "left_semi"),
      idCol, textCol, shingleN, fanOut = !smallBatch)
    val sets = newSh.join(neededIds, "id")
      .unionByName(corpusSurvivorSh)
      .groupBy(col("id")).agg(sort_array(collect_set(col("h"))).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("ssz"))
      .persistTracked()
    (exactVerify(survivors, sets, threshold), newSigs)
  }

  /** Modulus and per-bit multipliers for the PORTABLE simhash flavor:
    * bit j of token t is parity(md5head(t) · g^(j+1) mod p), with
    * g = 2654435761 mod p. Multiplicative per-bit constants, NOT an
    * additive step: an additive step s ≪ p makes adjacent bits
    * alternate deterministically between wraps (the j-walk spans 64·s
    * ≪ p, so wraps are rare) — every token then carries ~1 bit of
    * entropy and the signature space collapses (measured: 44× too many
    * pairs at sf0.01). Distinct powers of g decorrelate the bits.
    * Every product stays below p² < 2^60 — exact BIGINT in any engine.
    */
  private[graft] val SimhashP = 1000000007L
  private[graft] val SimhashMults: IndexedSeq[Long] = {
    val g = 2654435761L % SimhashP
    Iterator.iterate(g)(m => m * g % SimhashP).take(64).toIndexedSeq
  }

  /** 64-bit SimHash signatures, one row per document: explode tokens,
    * hash each, then a single hash-aggregate with 64 ±1 bit-counters
    * folded into one long. Partial (map-side) aggregation applies, so at
    * scale the shuffle carries 64 longs per doc, never the tokens.
    *
    * Two bit-source flavors (mirrors [[Sampling.portableBucket]]):
    *  - default: bit j of `xxhash64(token)` — full avalanche, the
    *    production path;
    *  - `portable = true`: the token's md5 head (15 hex chars → a
    *    60-bit BIGINT, identical in any engine with a standard md5)
    *    mixed per-bit with [[SimhashMults]] — so the ENTIRE signature
    *    is replayable in plain ANSI-ish SQL (the DuckDB oracle for q32
    *    recomputes it exactly).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        portable: Boolean = false): DataFrame = {
    val tokHash =
      if (portable)
        // md5 → first 15 hex chars → BIGINT (< 2^60) → pre-mod so the
        // per-bit multiply below cannot overflow under ANSI
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
          lit(SimhashP))
      else xxhash64(col("tok"))
    val toks = ScanFanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokenize(lower(col(textCol)))).as("tok"))
      .select(col("id"), tokHash.as("h"))
    def bitSet(j: Int): Column =
      if (portable)
        pmod(pmod(col("h") * lit(SimhashMults(j)), lit(SimhashP)), lit(2L)) === 1L
      else shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L
    val counters = (0 until 64).map(j =>
      sum(when(bitSet(j), 1L).otherwise(-1L)).as(s"c$j"))
    toks.groupBy(col("id"))
      .agg(counters.head, counters.tail: _*)
      .select(col("id"),
        (0 until 64).map(j =>
          when(col(s"c$j") > 0L, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** SimHash near-dup pairs: block on 16-bit chunks of the simhash (two
    * docs within hamming distance ≤ 3 of a 64-bit hash share at least
    * one of 4 exact 16-bit chunks — pigeonhole), verify with bit_count.
    *
    * RECALL CONTRACT: the pigeonhole guarantee is complete only for
    * `maxHamming` ≤ 3. For larger radii (q32 runs 12) the output is the
    * CHUNK-BLOCKED subset — pairs within the hamming radius that also
    * share at least one exact 16-bit chunk; q32's oracle replays the
    * identical blocking, so the gate checks exactly this contract. The
    * partial contract is now an explicit OPT-IN at the call site:
    * `maxHamming > 3` without `partialScreen = true` is rejected with a
    * pointer to the complete alternatives — [[simhashPairsComplete]]
    * (Manku-style h+1-chunk blocking, exact for moderate radii) or
    * [[minhashLshPairs]] (similarity-threshold near-dup, the right tool
    * when a radius as loose as 12/64 bits is really a Jaccard
    * question). At hamming 12/64 the per-block bit budget drops to ~4
    * bits and candidate generation degenerates toward all-pairs, which
    * is why the production near-dup radius for 64-bit simhash is ≤ 3.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, portable: Boolean = false,
                   partialScreen: Boolean = false): DataFrame = {
    require(maxHamming <= 3 || partialScreen,
      s"simhashPairs with maxHamming=$maxHamming > 3 is a PARTIAL screen " +
        "(4-chunk pigeonhole is complete only for hamming <= 3). Pass " +
        "partialScreen = true to accept chunk-blocked recall, or use " +
        "simhashPairsComplete (h+1-chunk blocking, exact) or " +
        "minhashLshPairs (threshold near-dup) instead.")
    chunkBlockedPairs(df, idCol, textCol, nChunks = 4, maxHamming, portable)
  }

  /** COMPLETE simhash pair search for radii beyond the 4-chunk bound:
    * block on `maxHamming + 1` equal-width chunks, so two signatures
    * within the radius differ in at most `maxHamming` chunks and MUST
    * share one exactly (pigeonhole) — the single-table core of Manku et
    * al. WWW'07's multi-index. Exact at any radius ≤ 15; the price is
    * scale, not recall: chunk width shrinks to ⌊64/(h+1)⌋ bits, so at
    * h = 7 each 8-bit chunk has 256 values and a 10^10-doc corpus puts
    * ~4·10^7 docs in every block — use it for moderate radii (4-7) and
    * switch to [[minhashLshPairs]] when the radius is really a
    * similarity threshold.
    */
  def simhashPairsComplete(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int, portable: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: h+1 chunks need width >= 4 bits (h <= 15)")
    chunkBlockedPairs(df, idCol, textCol, nChunks = maxHamming + 1,
      maxHamming, portable)
  }

  /** Shared chunk-blocking core: explode each signature into `nChunks`
    * (chunk, key) rows, self-join on exact chunk match, verify with
    * bit_count. Complete iff `maxHamming < nChunks`. Chunks are
    * ⌊64/n⌋-bit slices, the LAST chunk absorbing the remainder bits —
    * widths are Scala-level constants, so the whole blocking stays one
    * codegen'd projection (no per-row loop).
    */
  private def chunkBlockedPairs(df: DataFrame, idCol: String, textCol: String,
                                nChunks: Int, maxHamming: Int,
                                portable: Boolean): DataFrame =
    // persist the signatures: both sides of the chunk self-join consume
    // them, and the token explode + 64-counter aggregation must run once
    // (the cache is two longs per doc)
    chunkBlockedPairsFromSigs(
      simhashSignatures(df, idCol, textCol, portable).persistTracked(),
      nChunks, maxHamming)

  /** Hamming-radius pairing over PRECOMPUTED 64-bit signatures — the
    * chunk-blocking machinery decoupled from text simhash, so any
    * 64-bit perceptual/locality hash (image dHash, audio fingerprint)
    * reuses it. Complete by pigeonhole for `maxHamming ≤ 15` (blocks on
    * `maxHamming + 1` chunks). Output: (id_a, id_b, hamming).
    *
    * COST CLIFF at high radii (the lshParams blow-up doctrine): chunk
    * key width is ⌊64/(h+1)⌋ bits, so candidate volume per chunk is
    * ~n²/2^width — h ≤ 7 keeps ≥ 8-bit keys (256 values/chunk); at
    * h = 15 the key shrinks to 4 bits and the self-join degenerates
    * toward ~n²/16 per chunk × 16 chunks, effectively the full cross
    * product the blocking exists to avoid. Perceptual dedup radii
    * (2-6) are safely below the cliff; a caller above h = 7 gets a
    * stderr warning rather than a hard failure (completeness still
    * holds — only cost degrades).
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int): DataFrame =
    hammingPairs(sigs, idCol, sigCol, maxHamming, corpusSizeHint = None)

  /** `corpusSizeHint` makes the cost cliff CORPUS-SIZE-AWARE (r13/r14
    * ADVICE): with a hint the expected candidate volume
    * ~ nChunks · n²/2^width is computed up front, logged, and REFUSED
    * (require) past 10^12 candidates — at that point the "blocked"
    * join is a cross product in disguise and the caller must lower the
    * radius or pre-partition. Without a hint (the corpus size may not
    * be known plan-time; counting here would add a job) the static
    * high-radius warning still fires.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int, corpusSizeHint: Option[Long]): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: h+1 chunks need width >= 4 bits (h <= 15)")
    val width = 64 / (maxHamming + 1)
    corpusSizeHint.foreach { n =>
      val perChunk = n.toDouble * n.toDouble / math.pow(2.0, width.toDouble)
      val est = perChunk * (maxHamming + 1)
      require(est <= 1e12,
        f"hammingPairs: ~$est%.2g expected candidate pairs at n=$n, " +
          f"maxHamming=$maxHamming ($width-bit chunk keys) — effectively a " +
          "cross product; lower the radius (<= 7 keeps >= 8-bit keys) or " +
          "block on more bits")
      if (est > 1e9)
        System.err.println(f"[graft.dedup] hammingPairs: ~$est%.2g expected " +
          f"candidate pairs at n=$n, maxHamming=$maxHamming — heavy but " +
          "bounded; consider radius <= 7")
    }
    if (maxHamming > 7 && corpusSizeHint.isEmpty)
      System.err.println(s"[graft.dedup] hammingPairs maxHamming=$maxHamming " +
        s"blocks on $width-bit chunk keys — candidate " +
        "volume approaches quadratic; radii <= 7 keep >= 8-bit keys")
    // persist: both sides of the chunk self-join consume the signatures,
    // and the caller's signature computation (e.g. an image decode
    // kernel) must run once — the cache is two longs per item
    chunkBlockedPairsFromSigs(
      sigs.select(col(idCol).as("id"), col(sigCol).as("sh")).persistTracked(),
      nChunks = maxHamming + 1, maxHamming)
  }

  /** Incremental Hamming-radius pairing — [[hammingPairs]]' delta face
    * (the minhashLshIncremental shape transplanted to 64-bit
    * fingerprints, r19): pairs of `newSigs` against `standingSigs` ∪
    * `newSigs` — exactly the pairs with at least one NEW endpoint.
    * Folding successive batch deltas reproduces the one-shot
    * [[hammingPairs]] pair set over everything ever seen, because each
    * pair lands in the batch where its LATER endpoint arrives
    * (spec-gated by `StreamingMediaSpec`; the driver face is q197).
    *
    * Scale shape: only the chunk keys of the BATCH meet the standing
    * chunk frame in the equijoin — batch-sized build side (AQE
    * broadcasts it at daily-delta scale), standing side streams; the
    * standing signatures are 2 longs/item, never payload bytes.
    */
  def hammingPairsIncremental(newSigs: DataFrame, standingSigs: DataFrame,
                              idCol: String, sigCol: String,
                              maxHamming: Int): DataFrame =
    hammingPairsIncremental(newSigs, standingSigs, idCol, sigCol,
      maxHamming, Nil)

  /** `blockCols` are extra equi-join columns carried through the
    * chunking — pairs only form within equal block values (e.g. the
    * media family's `kind`: image fingerprints must never pair with
    * audio fingerprints, and ONE blocked join over the union frame
    * costs half the stages of per-kind calls — measured on q197,
    * where stage-count overhead, not data, was the bill).
    */
  def hammingPairsIncremental(newSigs: DataFrame, standingSigs: DataFrame,
                              idCol: String, sigCol: String,
                              maxHamming: Int,
                              blockCols: Seq[String]): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming=$maxHamming: h+1 chunks need width >= 4 bits (h <= 15)")
    val nChunks = maxHamming + 1
    val width = 64 / nChunks
    def norm(df: DataFrame) = df.select(
      col(idCol).as("id") +: col(sigCol).as("sh") +: blockCols.map(col): _*)
    def chunked(df: DataFrame) = df
      .select(col("id") +: col("sh") +: blockCols.map(col) :+
        explode(array((0 until nChunks).map { c =>
          val w = if (c == nChunks - 1) 64 - c * width else width
          val mask = if (w == 64) -1L else (1L << w) - 1L
          struct(lit(c).as("chunk"),
            shiftright(col("sh"), c * width).bitwiseAND(lit(mask)).as("ckey"))
        }: _*)).as("cc"): _*)
      .select(col("id") +: col("sh") +: blockCols.map(col) :+
        col("cc.chunk") :+ col("cc.ckey"): _*)
    // persist the batch side: it feeds both the probe side and the
    // union's tail, and the caller's signature computation (a media
    // decode kernel) must run once
    val newP = norm(newSigs).persistTracked()
    val a = chunked(newP).alias("a")
    val b = chunked(norm(standingSigs).unionByName(newP)).alias("b")
    val cond = (Seq("chunk", "ckey") ++ blockCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.id") =!= col("b.id")
    // filter before the dedup exchange — same reasoning and receipts
    // as chunkBlockedPairsFromSigs (a pair's hamming is chunk-
    // independent; the dropDuplicates shuffle carries true pairs, not
    // the standing-size-proportional candidate stream)
    a.join(b, cond)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Shared blocking core over an (id, sh) frame — see
    * [[chunkBlockedPairs]] for the text path and [[hammingPairs]] for
    * the precomputed-signature path.
    */
  private def chunkBlockedPairsFromSigs(base: DataFrame, nChunks: Int,
                                        maxHamming: Int): DataFrame = {
    val width = 64 / nChunks
    val chunked = base.select(col("id"), col("sh"),
      explode(array((0 until nChunks).map { c =>
        val w = if (c == nChunks - 1) 64 - c * width else width
        val mask = if (w == 64) -1L else (1L << w) - 1L
        struct(lit(c).as("chunk"),
          shiftright(col("sh"), c * width).bitwiseAND(lit(mask)).as("ckey"))
      }: _*)).as("cc"))
      .select(col("id"), col("sh"), col("cc.chunk"), col("cc.ckey"))
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    // hamming FILTER before the dedup EXCHANGE (r19 — found by
    // MediaDeltaProbe): a pair's hamming is identical on every chunk
    // it collides in (same two sh values), so filtering first is
    // semantics-preserving — and the dropDuplicates shuffle then
    // carries TRUE pairs instead of the full candidate volume
    // (measured: 2.2M candidate records → ~the pair count, per probe
    // batch). At 10⁹ items the candidate stream is the dominant
    // exchange; now it dies map-side inside the join stage.
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components over a near-duplicate pair list → cluster
    * labels, via iterative min-label propagation on [[Graph]]'s RDD
    * kernel (each round sends every node's label to its neighbours and
    * keeps the per-node minimum — one Spark job per round; converges in
    * O(graph diameter) rounds — near-dup clusters are shallow, so a
    * handful). This is the dedup deliverable at scale: pair enumeration
    * is quadratic in cluster size, the representative set is linear.
    *
    * Input: (id_a, id_b) pairs of integral ids. Output: (id, label)
    * where label is the minimum id of the node's component. The state
    * backing the frame lives until the caller's [[CacheScope.release]].
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    Graph.connectedComponents(pairs, maxIter).labels

  /** INCREMENTAL connected components (r16 — the q57/q148 incremental
    * regime for the LABEL table): merge a DELTA pair batch into
    * standing CC labels without re-running CC over the full edge set.
    * Exactness is structural, not approximate: contracting each old
    * component to its label preserves the connectivity of
    * (old ∪ delta) — old components are internally connected by
    * construction — and because every old label IS its component's
    * minimum id, the min-label CC over the contracted graph yields
    * exactly the merged component's global minimum. So the result
    * equals `connectedComponents(oldPairs ∪ newPairs)` row for row
    * (q174 gates it; DedupSpec hand-verifies merge/untouched/unseen).
    *
    * Scale shape — the whole point: the CC iteration runs over the
    * CONTRACTED DELTA graph (≤ |newPairs| edges after self-loop drop,
    * typically far fewer), never the corpus edge set; the standing
    * label table is touched by ONE remap join against the delta-sized
    * merged labels (broadcast when the delta is small — the daily
    * case). A 10¹¹-edge standing graph absorbs a 10⁶-pair day at
    * delta cost.
    *
    * Inputs: `oldLabels` (id, label) — a finished CC labeling (labels
    * must be component minima, which [[connectedComponents]]
    * guarantees); `newPairs` (id_a, id_b). Output: (id, label) for
    * every old node and every new-pair endpoint.
    */
  def connectedComponentsIncremental(oldLabels: DataFrame,
                                     newPairs: DataFrame,
                                     maxIter: Int = 20): DataFrame = {
    val (lookup, merged, endpoints) =
      ccDeltaParts(oldLabels, newPairs, maxIter)
    // expand: old nodes remap through their component's rep; untouched
    // components (rep absent from the delta) keep their label. The
    // second and last standing-table touch — a scan with the
    // delta-sized merged labels broadcast into it.
    val remapped = oldLabels.select(col("id"), col("label"))
      .join(broadcast(merged.select(col("id").as("label"),
        col("label").as("__m"))), Seq("label"), "left")
      .select(col("id"), coalesce(col("__m"), col("label")).as("label"))
    remapped.unionByName(
      ccUnseenRows(lookup, merged, endpoints).select(col("id"), col("label")))
  }

  /** The UPSERT DELTA of [[connectedComponentsIncremental]] — only the
    * rows the fold CHANGES or ADDS, with `is_new` marking rows absent
    * from the standing table. The keyed-merge write path
    * ([[graft.streaming.StreamingCc.incrementalCcMergeSink]]) consumes
    * this instead of rewriting the whole table: at 10¹¹ standing
    * labels the full output is corpus-sized while this frame is
    * delta-COMPONENT-sized (standing rows whose component absorbed a
    * delta edge, plus genuinely new ids). Invariant (spec-gated):
    *   incremental(old, pairs) ≡ old ⟂ changed.id  ∪  changed
    * (anti join on id, then union) — i.e. applying this frame as a
    * keyed MERGE reproduces the full fold exactly. On a replayed or
    * fully-absorbed batch the frame is EMPTY (every edge contracts to
    * a self-loop and every remap is the identity) — the merge write's
    * replay-safety is inherited from the same structural argument.
    */
  def connectedComponentsIncrementalChanged(oldLabels: DataFrame,
                                            newPairs: DataFrame,
                                            maxIter: Int = 20): DataFrame = {
    val (lookup, merged, endpoints) =
      ccDeltaParts(oldLabels, newPairs, maxIter)
    // standing rows whose label actually moves: remap entries that are
    // not the identity, inner-joined INTO the standing table (one
    // pruned scan, broadcast probe — the remapped-join shape minus the
    // untouched majority)
    val changedStanding = oldLabels.select(col("id"), col("label"))
      .join(broadcast(merged.filter(col("id") =!= col("label"))
        .select(col("id").as("label"), col("label").as("__m"))),
        Seq("label"))
      .select(col("id"), col("__m").as("label"), lit(false).as("is_new"))
    changedStanding.unionByName(ccUnseenRows(lookup, merged, endpoints))
  }

  /** Shared delta machinery of the incremental-CC faces: the standing
    * lookup slice, the delta-contracted component merge, and the
    * delta's endpoint set — every frame delta-sized, the standing
    * table touched by exactly one semi-joined scan.
    */
  private def ccDeltaParts(oldLabels: DataFrame, newPairs: DataFrame,
                           maxIter: Int): (DataFrame, DataFrame, DataFrame) = {
    val pairs = newPairs.select(col("id_a"), col("id_b"))
    // SEMI-JOIN REDUCTION first (r17 — the 100 TB shape): the naive
    // form left-joined the delta against the FULL standing table
    // twice and anti-joined it once more; on test data AQE broadcasts
    // the standing side, but at 10¹¹ standing nodes a LeftOuter join
    // can only build RIGHT, so each of those joins would SHUFFLE the
    // standing table — per-batch cost proportional to the corpus, the
    // exact failure the operator exists to avoid. Instead the delta's
    // endpoint set (delta-sized, explicitly broadcast — the daily-
    // delta regime this operator is for; a delta too big to broadcast
    // wants the full rebuild anyway) semi-joins INTO the standing
    // table: ONE standing-table scan, zero standing shuffles, and a
    // ≤|endpoints|-row lookup slice that every downstream join can
    // broadcast.
    val endpoints = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    val lookup = oldLabels.select(col("id"), col("label"))
      .join(broadcast(endpoints), Seq("id"), "left_semi")
      .persistTracked()
    // contract: each endpoint reps as its old component label (itself
    // when unseen); edges internal to one old component vanish
    val contracted = pairs
      .join(broadcast(lookup.select(col("id").as("id_a"),
        col("label").as("__la"))), Seq("id_a"), "left")
      .join(broadcast(lookup.select(col("id").as("id_b"),
        col("label").as("__lb"))), Seq("id_b"), "left")
      .select(coalesce(col("__la"), col("id_a")).as("id_a"),
        coalesce(col("__lb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // delta-sized CC over the contracted graph
    val merged = connectedComponents(contracted, maxIter)
    (lookup, merged, endpoints)
  }

  /** Unseen delta endpoints as label rows: their own merged label
    * (themselves when their only delta edges were self-loops) — all
    * frames delta-sized. `is_new` rides along for the upsert face.
    */
  private def ccUnseenRows(lookup: DataFrame, merged: DataFrame,
                           endpoints: DataFrame): DataFrame =
    endpoints
      .join(broadcast(lookup.select(col("id"))), Seq("id"), "left_anti")
      .join(broadcast(merged.select(col("id"), col("label").as("__m"))),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__m"), col("id")).as("label"),
        lit(true).as("is_new"))

  /** Keep one representative (the component's min id) per near-dup
    * cluster: drops every non-representative member of `df`. Documents
    * with no near-dup pair pass through untouched.
    */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dropIds = connectedComponents(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id"))
    df.join(dropIds, df(idCol) === dropIds("id"), "left_anti")
  }

  /** Keep the BEST-scoring member per near-dup cluster (production
    * keep-policy: the cleanest copy survives, not the lowest id) —
    * ties broken by id for determinism. Rows without any near-dup pair
    * pass through. The score column must already be on `df`; only the
    * clustered minority enters the ranking window (an exchange+sort of
    * |labels| rows), the rest of the corpus streams through a
    * broadcast-able anti join — no full-corpus shuffle, ever.
    *
    * ONE-SHOT form: every call reruns connected components over
    * `pairs`. In any pipeline where the cluster labels have a second
    * consumer (a histogram, a drop-list, a second keep-policy — i.e.
    * almost every real pipeline), build the labels artifact once with
    * [[report]] and use [[DedupReport.keepBest]] — same core
    * ([[keepBestByLabels]]), CC priced once, and the artifact carries
    * the convergence telemetry this form can only log.
    */
  def dedupByPairsScored(df: DataFrame, idCol: String, scoreCol: String,
                         pairs: DataFrame): DataFrame = {
    // (id, label) — only ids that appear in a near-dup pair; at scale a
    // vanishing fraction of the corpus. Persisted: both the inner join
    // (clustered minority) and the anti join (majority) consume it, and
    // its size lets AQE broadcast both joins.
    val labels = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("label").as("__cc_grp"))
      .persistTracked()
    keepBestByLabels(df, idCol, scoreCol, labels)
  }

  /** Scored keep-policy over an externally maintained (id, label)
    * frame — the keep-best face of the INCREMENTAL label regime: the
    * streaming sink ([[graft.streaming.StreamingCc]]) maintains the
    * label table via [[connectedComponentsIncremental]]; this view
    * applies the production keep-policy to it without re-running CC.
    * Same core as [[dedupByPairsScored]] / [[DedupReport.keepBest]].
    */
  def keepBestByLabelFrame(df: DataFrame, idCol: String, scoreCol: String,
                           labels: DataFrame): DataFrame =
    keepBestByLabels(df, idCol, scoreCol,
      labels.select(col("id").as("__cc_id"), col("label").as("__cc_grp")))

  /** Scored keep-policy over a precomputed (__cc_id, __cc_grp) label
    * frame — the core shared by [[dedupByPairsScored]] (labels from a
    * fresh CC run) and [[DedupReport.keepBest]] (labels from the
    * persisted artifact).
    */
  private def keepBestByLabels(df: DataFrame, idCol: String, scoreCol: String,
                               labels: DataFrame): DataFrame = {
    // rank ONLY the clustered minority: the window exchange + sort
    // carries |labels| rows, never the corpus — the unclustered majority
    // must not pay a full-corpus shuffle to rank its singleton groups
    val w = Window.partitionBy(col("__cc_grp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    val bestPerCluster = df.join(labels, df(idCol) === labels("__cc_id"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__cc_id", "__cc_grp")
    // the rest streams through a (broadcast-able) anti join — narrow per
    // corpus partition, no shuffle of df
    val untouched = df.join(labels, df(idCol) === labels("__cc_id"), "left_anti")
    untouched.unionByName(bestPerCluster)
  }

  /** The COMPOSED dedup deliverable: near-dup pairs → connected
    * components computed ONCE, materialized as a parquet artifact (the
    * production shape — a recurring pipeline writes the labels table
    * nightly), with every consumer a derived VIEW over the artifact:
    *  - [[DedupReport.clusters]] — the (id, label) cluster map;
    *  - [[DedupReport.sizeHistogram]] — the mass-to-remove
    *    distribution an operator actually watches;
    *  - [[DedupReport.keepBest]] / [[DedupReport.dropDuplicates]] —
    *    the corpus-mutating keep-policies.
    * Before round 9, each consumer recomputed the quadratic pair
    * enumeration + CC loop from scratch (the r8 verdict's q93 blemish:
    * 13.5 s of a 105 s bench was the same Jaccard+CC work done twice).
    *
    * The artifact lives at `artifactPath` (caller-owned table location
    * at scale; a temp dir by default), so derived views survive cache
    * eviction and session cache sweeps — reading it is a
    * labels-table-sized scan, ~10⁻⁵ of the corpus bytes.
    */
  final class DedupReport private[graft] (
      @transient private val spark: org.apache.spark.sql.SparkSession,
      val artifactPath: String,
      val schema: org.apache.spark.sql.types.StructType) extends Serializable {

    /** The raw artifact: one (id, label) row per clustered document,
      * carrying the CC convergence telemetry as constant columns
      * (`cc_rounds`, `cc_converged` — parquet RLE makes them free).
      * Read with the schema recorded when it was written, so a read
      * runs no schema-inference job.
      */
    def labels: DataFrame = spark.read.schema(schema).parquet(artifactPath)

    /** Convergence telemetry of the CC run that built the artifact:
      * (rounds executed, converged). A pipeline operator alerts on
      * `converged = false` — the labels are then partial and a
      * downstream keep-policy would emit duplicate "representatives".
      * An empty artifact (no near-dup pairs at all) is trivially
      * converged.
      */
    def convergence: (Int, Boolean) =
      labels.select(col("cc_rounds"), col("cc_converged"))
        .limit(1).collect().headOption
        .map(r => (r.getInt(0), r.getBoolean(1)))
        .getOrElse((0, true))

    /** Cluster map view (q52's contract). */
    def clusters: DataFrame = labels.select(col("id"), col("label"))

    /** Cluster-size distribution view (q93's contract): how much mass
      * dedup will remove. Two tiny aggregations over the artifact.
      */
    def sizeHistogram: DataFrame = labels
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

    /** Keep the best-scoring member per cluster (ties by id); rows
      * without a near-dup pair pass through untouched.
      */
    def keepBest(df: DataFrame, idCol: String, scoreCol: String): DataFrame =
      keepBestByLabels(df, idCol, scoreCol,
        labels.select(col("id").as("__cc_id"), col("label").as("__cc_grp")))

    /** Keep one representative (the min id) per cluster. */
    def dropDuplicates(df: DataFrame, idCol: String): DataFrame = {
      val dropIds = labels.filter(col("id") =!= col("label")).select(col("id"))
      df.join(dropIds, df(idCol) === dropIds("id"), "left_anti")
    }
  }

  /** Build the [[DedupReport]] artifact: run CC over `pairs` once and
    * write the labels to parquet. The checkpoint blocks backing the CC
    * result are dropped as soon as the write lands — the artifact IS
    * the lifetime, so a report outlives any cache sweep.
    */
  def report(pairs: DataFrame, artifactPath: Option[String] = None,
             maxIter: Int = 20): DedupReport = {
    val spark = pairs.sparkSession
    val run = Graph.connectedComponents(pairs, maxIter)
    val path = artifactPath.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-dedup-labels").toString)
    run.labels
      .withColumn("cc_rounds", lit(run.rounds))
      .withColumn("cc_converged", lit(run.converged))
      .write.mode("overwrite").parquet(path)
    CacheScope.unpersistRdds(Seq(run.state))
    new DedupReport(spark, path, spark.read.parquet(path).schema)
  }

  /** Exact blocked n-gram Jaccard: pairwise token-set Jaccard within
    * blocking keys (e.g. language + length band) — the verification
    * baseline for the probabilistic dedupers.
    *
    * Shape: explode distinct tokens to (block, token, id, setsize) rows,
    * self-join on (block, token) equality, and count shared tokens per
    * id-pair — |∩| is the group count, |∪| = sz_a + sz_b − |∩|. Every
    * step is a codegen'd hash join/aggregate; no per-pair array
    * intersection (interpreted and allocation-heavy) ever runs. Pairs
    * with zero shared tokens never materialize, which is exactly the
    * pairs a positive threshold filters out anyway. Block sizes bound
    * the quadratic term; blocks shuffle independently.
    *
    * Cost is Σ_(block,token) f² joined rows, so high-frequency tokens
    * (stopwords) inside large blocks dominate; when the corpus is
    * sparse in true near-dups, [[ngramJaccardPairsPrefix]] removes that
    * term with an exactness-preserving prefix filter. On a dense corpus
    * (many true near-dup clusters, like the synthetic test tables) the
    * two converge to the same quadratic output cost and this direct
    * counting form has the smaller constant — measured at sf0.1: 9.2 s
    * here vs 15.8 s for the prefix path on q30's 215 k-pair output.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[Column], thresholdE4: Long): DataFrame = {
    val keys = blockCols.indices.map(i => s"blk_$i")
    // tokenize ABOVE the fan-out exchange (r20): a projection under the
    // exchange still runs at scan width — the whole point of the fan-out
    // is that the CPU-dense tokenize runs wide. The exchange carries the
    // raw text once either way.
    val base = ScanFanOut(df.select(
      (col(idCol).as("id") +: col(textCol).as("__txt") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") }): _*))
      .select(
        (col("id") +:
          array_distinct(TextFunctions.tokenize(lower(col("__txt")))).as("toks") +:
          keys.map(col)): _*)
    val toks = base.select(
      (col("id") +: size(col("toks")).as("sz") +: keys.map(col)) :+
        explode(col("toks")).as("tok"): _*)
      .select((col("id") +: col("sz") +: keys.map(col)) :+
        xxhash64(col("tok")).as("th"): _*)
    // size-ratio pruning, exactness-preserving: jaccard ≥ t forces
    // |∩| ≤ min(sz) and |∩| ≥ t·|∪| ≥ t·max(sz), so min ≥ t·max —
    // size-mismatched pairs drop inside the join, before the pair-token
    // rows ever reach the counting shuffle
    val t = thresholdE4.toDouble / 10000.0
    val cond = (keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
      (col("a.th") === col("b.th")) :+ (col("a.id") < col("b.id")) :+
      (least(col("a.sz"), col("b.sz")).cast("double") >=
        greatest(col("a.sz"), col("b.sz")).cast("double") * t)).reduce(_ && _)
    toks.alias("a").join(toks.alias("b"), cond)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        floor(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double") * 10000)
          .cast("long").as("jaccard_e4"))
      .filter(col("jaccard_e4") >= thresholdE4)
  }

  /** Exact blocked n-gram Jaccard with ALGORITHM DISPATCH: measure the
    * counting join's joined-row amplification Σ_(block,token) f² /
    * |token rows| with ONE cheap aggregate over the token counts, then
    * run [[ngramJaccardPairs]] (dense/blocked regime) or
    * [[ngramJaccardPairsPrefix]] (stopword-dominated regime) — both
    * produce identical output, so the dispatch is purely physical.
    *
    * Threshold calibration (sf0.1, local[32], see SCALE.md): at
    * amplification 948 the counting join still beats the prefix path
    * 3–4× (1.1 s vs 4.3 s — the prefix path's window-rank + distinct +
    * collect_set passes are ~3 extra shuffles of fixed cost), and its
    * measured throughput is ~10⁸ joined rows/s, so the crossover sits
    * where amplification ≈ several thousand. Above that the quadratic
    * term dominates everything (an unblocked stopword at corpus scale
    * has f ≈ N, amplification ≈ N — the counting join is infeasible,
    * which is precisely the case prefix filtering exists for).
    * Conf-gated: `graft.dedup.jaccard.maxAmp` (default 4000).
    *
    * The statistic job scans only the (id, block, token-hash) rows —
    * at 100 TB it is one partial-aggregated pass over 8-byte hashes,
    * ~10⁻⁴ of the corpus bytes, and decides a job that is 10–1000× its
    * cost in either direction.
    */
  def ngramJaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                            blockCols: Seq[Column], thresholdE4: Long): DataFrame = {
    val keys = blockCols.indices.map(i => s"blk_$i")
    val toks = df.select(
      (col(idCol).as("id") +:
        array_distinct(TextFunctions.tokenize(lower(col(textCol)))).as("toks") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") }): _*)
      .select((col("id") +: keys.map(col)) :+ explode(col("toks")).as("tok"): _*)
      .select(keys.map(col) :+ xxhash64(col("tok")).as("th"): _*)
    // f as double BEFORE squaring: an unblocked corpus-scale stopword
    // (f ≈ 4·10⁹) overflows Long at f² — precisely the regime this
    // statistic exists to detect; doubles lose ulps, not the magnitude
    val agg = toks.groupBy((keys.map(col) :+ col("th")): _*)
      .agg(count(lit(1)).as("f"))
      .agg(sum(col("f").cast("double") * col("f").cast("double")).as("f2"),
        sum(col("f")).as("n"))
      .head()
    val amp = if (agg.isNullAt(1) || agg.getLong(1) == 0L) 0.0
      else agg.getDouble(0) / agg.getLong(1)
    val maxAmp = df.sparkSession.conf
      .get("graft.dedup.jaccard.maxAmp", "4000").toDouble
    if (amp <= maxAmp) ngramJaccardPairs(df, idCol, textCol, blockCols, thresholdE4)
    else ngramJaccardPairsPrefix(df, idCol, textCol, blockCols, thresholdE4)
  }

  /** Exact blocked n-gram Jaccard with PREFIX FILTERING (the
    * AllPairs/PPJoin candidate bound, Bayardo et al. WWW'07; Xiao et
    * al. WWW'08) — same output as [[ngramJaccardPairs]], different
    * quadratic-term shape: the scale path for corpora where true
    * near-dups are sparse but blocks contain high-frequency tokens.
    *
    * Shape:
    *  1. explode distinct tokens to (block, token-hash, id, setsize)
    *     rows; count per-(block, token) document frequency;
    *  2. rank each doc's tokens rarest-first — total order (dfc, th),
    *     identical for both docs of any within-block pair;
    *  3. PREFIX join: only each doc's first |A| − ⌈t·|A|⌉ + 1 tokens
    *     enter the self-join. Prefix theorem: if J(A,B) ≥ t their
    *     smallest common token lies in BOTH prefixes (were all common
    *     tokens outside A's prefix, |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤
    *     t·|A∪B|, contradiction) — so no qualifying pair is lost, while
    *     stopword-driven quadratic blowup never happens: high-frequency
    *     tokens rank last and stay out of every prefix.
    *  4. exact verify on candidates only: token sets are collect_set'd
    *     for candidate docs alone (semi-join first), |∩| via
    *     array_intersect per surviving pair.
    *
    * At 100 TB the only non-codegen step (collect_set) touches
    * candidate docs — a vanishing fraction of a sparse corpus — never
    * the corpus itself.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              blockCols: Seq[Column], thresholdE4: Long): DataFrame = {
    val keys = blockCols.indices.map(i => s"blk_$i")
    val t = thresholdE4.toDouble / 10000.0
    // tokenize ABOVE the fan-out exchange (r20, the ngramJaccardPairs
    // rationale — measured on q56: a 1.5 s single-task tokenize stage
    // under the exchange)
    val base = ScanFanOut(df.select(
      (col(idCol).as("id") +: col(textCol).as("__txt") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") }): _*))
      .select(
        (col("id") +:
          array_distinct(TextFunctions.tokenize(lower(col("__txt")))).as("toks") +:
          keys.map(col)): _*)
    val toks = base.select(
      (col("id") +: size(col("toks")).as("sz") +: keys.map(col)) :+
        explode(col("toks")).as("tok"): _*)
      .select((col("id") +: col("sz") +: keys.map(col)) :+
        xxhash64(col("tok")).as("th"): _*)
    // shared by the prefix pass and the verify pass; tiny rows (8-byte
    // hashes + block keys), never the text
    val tokRows = toks.persistTracked()
    val dfc = tokRows.groupBy((keys.map(col) :+ col("th")): _*)
      .agg(count(lit(1)).as("dfc"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dfc"), col("th"))
    val prefix = tokRows.join(dfc, keys :+ "th")
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * t) + 1)
      .select((col("id") +: col("sz") +: keys.map(col)) :+ col("th"): _*)
    val cond = (keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
      (col("a.th") === col("b.th")) :+ (col("a.id") < col("b.id")) :+
      (least(col("a.sz"), col("b.sz")).cast("double") >=
        greatest(col("a.sz"), col("b.sz")).cast("double") * t)).reduce(_ && _)
    // explicit repartition before persist — same rationale as
    // minhashLshPairs: keep the per-pair verify math at full width
    // instead of AQE's one-small-partition coalesce
    val candidates = prefix.alias("a").join(prefix.alias("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
      .repartition(verifyWidth(df), col("id_a"), col("id_b"))
      .persistTracked()
    val neededIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // no broadcast hint (same rationale as minhashLshPairs): AQE
    // broadcasts when the candidate set is actually small. Persisted:
    // both pair sides consume it — one collect_set pass, not two.
    val sets = tokRows.join(neededIds, "id")
      .groupBy(col("id")).agg(sort_array(collect_set(col("th"))).as("sh"))
      .persistTracked()
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      // two-pointer merge over the per-doc-sorted hash sets (the
      // exactVerify doctrine, r10 review: array_intersect rebuilt a
      // hash set per candidate PAIR while the sort already ran once
      // per doc — on q56's stopword-heavy worst case the verify stage
      // is exactly where the pairs concentrate)
      .withColumn("inter", org.apache.spark.sql.graft.SetExpressions
        .intersectCountSorted(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        floor(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double") * 10000)
          .cast("long").as("jaccard_e4"))
      .filter(col("jaccard_e4") >= thresholdE4)
  }

  /** Exact shared-substring dedup: doc pairs sharing at least one
    * character window of length `k`, sampled at offsets 0, stride,
    * 2·stride, … (stride = 1 ⇒ any shared k-char substring). This is
    * the "exact substring duplication" family from the training-data
    * dedup literature (Lee et al., ACL'22 — there via suffix arrays on
    * a single machine); windows-at-stride is the shuffle-friendly
    * reformulation: a shared span of length ≥ k + stride − 1 always
    * contains an aligned shared window, so stride trades recall
    * granularity for a 1/stride row-count reduction.
    *
    * Shape (same doctrine as the Jaccard family):
    *  1. per-doc DISTINCT window fingerprints — 8-byte xxhash64 of each
    *     window; the only thing that ever enters an exchange. O(len/stride)
    *     rows per doc.
    *  2. candidate pairs: self-equi-join on the fingerprint, id_a < id_b,
    *     distinct. Hash collisions can only ADD candidates here, never
    *     drop a true pair.
    *  3. exact verify on candidates only: window STRINGS are re-derived
    *     for candidate docs alone (semi-join first — a vanishing
    *     fraction of a mostly-unique corpus), collect_set'd, and
    *     intersected per pair. `shared_ct` counts distinct shared
    *     window strings, so a colliding fingerprint pair that shares no
    *     actual window drops out — output is collision-free exact.
    *
    * At 100 TB step 1 is the dominant shuffle: len/stride × 16 bytes
    * per doc (~4% of corpus bytes at k=40, stride=4 on ~250-char docs;
    * shrinks linearly with stride). The corpus text itself is never
    * exchanged.
    */
  def sharedWindowPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int, stride: Int): DataFrame = {
    require(k > 0 && stride > 0, s"k=$k stride=$stride must be positive")
    val base = ScanFanOut(df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(length(col("txt")) >= k))
    val offs = base.select(col("id"), col("txt"),
      explode(sequence(lit(0), length(col("txt")) - k, lit(stride))).as("off"))
    val wh = offs
      .select(col("id"), xxhash64(substring(col("txt"), col("off") + 1, lit(k))).as("wh"))
      .distinct()
    val candidates = wh.alias("a").join(wh.alias("b"),
        col("a.wh") === col("b.wh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .repartition(verifyWidth(df), col("id_a"), col("id_b"))
      .persistTracked()
    val neededIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    // the candidate-id join sits BELOW the window explode (r10 review:
    // it was above, and Catalyst cannot push an equi-join through a
    // generate — the verify pass re-exploded every document's windows
    // just to join ~0.1% of them away). Joining doc-level rows first
    // makes the second explode candidate-sized.
    val winSets = base.join(neededIds, "id")
      .select(col("id"), col("txt"),
        explode(sequence(lit(0), length(col("txt")) - k, lit(stride))).as("off"))
      .select(col("id"), substring(col("txt"), col("off") + 1, lit(k)).as("win"))
      .groupBy(col("id")).agg(sort_array(collect_set(col("win"))).as("wins"))
      .persistTracked()
    candidates
      .join(winSets.select(col("id").as("id_a"), col("wins").as("w_a")), "id_a")
      .join(winSets.select(col("id").as("id_b"), col("wins").as("w_b")), "id_b")
      .withColumn("shared_ct", size(array_intersect(col("w_a"), col("w_b"))).cast("long"))
      .filter(col("shared_ct") >= 1L)
      .select(col("id_a"), col("id_b"), col("shared_ct"))
  }

  /** TRAIN→EVAL LEAKAGE REPORT: (train doc, eval doc) pairs that share
    * at least one k-char window at stride `stride` — the cross-SPLIT
    * contamination check a training pipeline runs before shipping a
    * dataset (an eval answer string duplicated inside a training doc is
    * exactly a shared window). The split is the engine's ZERO-STATE
    * split ([[Sampling.splitExpr]], a pure function of the id) computed
    * INLINE on both sides of the check — no assignment table is ever
    * materialized or joined, which is the point of deterministic
    * splits: the leakage audit of a 10^10-doc corpus adds one derived
    * column to the window scan, not a 10^10-row join.
    *
    * Same three-step doctrine as [[sharedWindowPairs]] (8-byte window
    * fingerprints are all that shuffles; candidate pairs verified on
    * re-derived window STRINGS so hash collisions cannot fabricate a
    * leak), with the candidate join restricted to train×eval — the
    * pair space a same-split near-dup (legitimate) never enters.
    * Output: (train_id, eval_id, shared_ct ≥ 1).
    */
  def splitLeakagePairs(df: DataFrame, idCol: String, textCol: String,
                        weights: Seq[(String, Double)],
                        trainSplit: String, evalSplit: String,
                        k: Int, stride: Int,
                        portable: Boolean = true): DataFrame = {
    require(k > 0 && stride > 0, s"k=$k stride=$stride must be positive")
    require(weights.exists(_._1 == trainSplit) && weights.exists(_._1 == evalSplit),
      s"splits ($trainSplit, $evalSplit) must be in the weight spec")
    val base = ScanFanOut(df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .filter(length(col("txt")) >= k))
      .withColumn("__split", Sampling.splitExpr(col("id"), weights, portable))
      .filter(col("__split").isin(trainSplit, evalSplit))
    val offs = base.select(col("id"), col("__split"), col("txt"),
      explode(sequence(lit(0), length(col("txt")) - k, lit(stride))).as("off"))
    val wh = offs
      .select(col("id"), col("__split"),
        xxhash64(substring(col("txt"), col("off") + 1, lit(k))).as("wh"))
      .distinct()
    val candidates = wh.filter(col("__split") === trainSplit).alias("a")
      .join(wh.filter(col("__split") === evalSplit).alias("b"),
        col("a.wh") === col("b.wh"))
      .select(col("a.id").as("train_id"), col("b.id").as("eval_id"))
      .distinct()
      .repartition(verifyWidth(df), col("train_id"), col("eval_id"))
      .persistTracked()
    val neededIds = candidates
      .select(explode(array(col("train_id"), col("eval_id"))).as("id"))
      .distinct()
    // same r10 fix as sharedWindowPairs: join candidate ids on
    // doc-level rows BEFORE the window explode — the verify explode
    // runs candidate-sized, not corpus-sized
    val winSets = base.join(neededIds, "id")
      .select(col("id"), col("txt"),
        explode(sequence(lit(0), length(col("txt")) - k, lit(stride))).as("off"))
      .select(col("id"), substring(col("txt"), col("off") + 1, lit(k)).as("win"))
      .groupBy(col("id")).agg(sort_array(collect_set(col("win"))).as("wins"))
      .persistTracked()
    candidates
      .join(winSets.select(col("id").as("train_id"), col("wins").as("w_a")), "train_id")
      .join(winSets.select(col("id").as("eval_id"), col("wins").as("w_b")), "eval_id")
      .withColumn("shared_ct", size(array_intersect(col("w_a"), col("w_b"))).cast("long"))
      .filter(col("shared_ct") >= 1L)
      .select(col("train_id"), col("eval_id"), col("shared_ct"))
  }

  /** Exact blocked containment (asymmetric Jaccard): for each in-block
    * pair, C = |A∩B| / min(|A|,|B|) over distinct token sets — the
    * subset/quote detector. A 50-token excerpt pasted into a 5000-token
    * page scores C ≈ 1 while its symmetric Jaccard ≈ 0.01, which is why
    * [[ngramJaccardPairs]] cannot find it and why this operator blocks
    * on language only (a length band would split exactly the pairs it
    * exists to find).
    *
    * Same counting-join shape as [[ngramJaccardPairs]] — |∩| is a
    * codegen'd group count over (token-hash)-equality joined rows; no
    * per-pair array math on the full corpus. The size-ratio pruning is
    * deliberately ABSENT (containment has no size bound by design), so
    * the quadratic cost term is the unmitigated Σ f² per (block, token);
    * on stopword-heavy corpora feed this pre-filtered tokens (drop
    * document-frequency > x% tokens upstream) — rarity filtering
    * changes the token universe, not the operator.
    *
    * Scoring: containment_e4 = ⌊|∩| · 10000 / min(sz)⌋ — the operands
    * are small integers exactly representable as doubles, so the
    * division is identically rounded in any IEEE engine and the floor
    * is engine-portable (same argument as the Jaccard family).
    *
    * `maxDfFrac` is the scale knob for the quadratic term: tokens
    * present in more than that fraction of the block's docs (the
    * stopwords that drive Σf²) are dropped BEFORE the join. Set-sizes
    * keep counting the full distinct sets, so every reported score is
    * a LOWER BOUND on the true containment — the capped output is a
    * subset of the exact output (missed pairs possible, spurious pairs
    * impossible; pinned in `DedupSpec`). Default 1.0 = exact.
    *
    * `maxDfAbs` is the ABSOLUTE twin (the q123/`Retrieval.maxDfAbs`
    * doctrine, confirmed by the r12 skew probe): a fractional cap
    * weakens as the corpus grows — a sub-corpus-local stopword's df
    * FRACTION shrinks with every merge while its Σf² contribution
    * keeps growing quadratically — so a 100 TB deployment sets the
    * absolute cap, bounding per-(block, token) join fan-out at
    * maxDfAbs² regardless of corpus size. Same lower-bound contract.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[Column], thresholdE4: Long,
                       minSize: Int = 0, maxDfFrac: Double = 1.0,
                       maxDfAbs: Long = Long.MaxValue): DataFrame = {
    val keys = blockCols.indices.map(i => s"blk_$i")
    // both pair members must have ≥ minSize distinct tokens (containment
    // of a near-empty set is trivially 1), so sub-minSize docs can be
    // dropped before the explode — an exactness-preserving pre-filter
    // tokenize ABOVE the fan-out exchange (r20, the ngramJaccardPairs
    // rationale); the minSize filter rides above it too — a few extra
    // sub-minSize text rows in the exchange vs a serial tokenize pass
    val base = ScanFanOut(df.select(
      (col(idCol).as("id") +: col(textCol).as("__txt") +:
        blockCols.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") }): _*))
      .select(
        (col("id") +:
          array_distinct(TextFunctions.tokenize(lower(col("__txt")))).as("toks") +:
          keys.map(col)): _*)
      .filter(size(col("toks")) >= minSize)
    val toks = base.select(
      (col("id") +: size(col("toks")).as("sz") +: keys.map(col)) :+
        explode(col("toks")).as("tok"): _*)
      .select((col("id") +: col("sz") +: keys.map(col)) :+
        xxhash64(col("tok")).as("th"): _*)
    // df-cap: drop block-stopwords before the self-join. toks rows are
    // distinct per (id, th), so the per-(block, th) count IS document
    // frequency; both stat frames are token-hash-sized aggregates.
    val joinable = if (maxDfFrac >= 1.0 && maxDfAbs == Long.MaxValue) toks else {
      val blockDocs = toks.select(keys.map(col) :+ col("id"): _*).distinct()
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bd"))
      val dfc = toks.groupBy((keys.map(col) :+ col("th")): _*)
        .agg(count(lit(1)).as("__dfc"))
      toks.join(dfc, keys :+ "th").join(blockDocs, keys)
        .filter(col("__dfc").cast("double") <= col("__bd").cast("double") * maxDfFrac
          && col("__dfc") <= lit(maxDfAbs))
        .select((col("id") +: col("sz") +: keys.map(col)) :+ col("th"): _*)
    }
    val cond = (keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
      (col("a.th") === col("b.th")) :+ (col("a.id") < col("b.id"))).reduce(_ && _)
    joinable.alias("a").join(joinable.alias("b"), cond)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"),
        floor(col("inter").cast("double") * 10000.0 /
          least(col("sz_a"), col("sz_b")).cast("double"))
          .cast("long").as("containment_e4"))
      .filter(col("containment_e4") >= thresholdE4)
  }
}
