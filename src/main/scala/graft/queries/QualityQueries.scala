package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

import Shared._
import Sql._
import Artifacts._

/** Document quality: heuristic scores and gates, the Stupid-Backoff LM
  * scorer, and the logistic quality classifier and its gates. */
private[graft] object QualityQueries {

  val all: Seq[Query] = Seq(

    // Text analysis — quality scoring
    Query("q21_quality_score", (s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("char_ct"),
        TF.qualityStopwordRatio(col("text")).as("stopword_ratio_e4"),
        TF.meanTokenLen(col("text")).as("mean_token_len_e4"))
    }, Some("""WITH t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents)
         SELECT doc_id,
           length(text) AS char_ct,
           CAST(floor(CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','was','at','by'))) AS DOUBLE)
             / CAST(greatest(len(toks), 1) AS DOUBLE) * 10000) AS BIGINT) AS stopword_ratio_e4,
           CAST(floor(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a,b) -> a + b) AS DOUBLE)
             / CAST(greatest(len(toks), 1) AS DOUBLE) * 10000) AS BIGINT) AS mean_token_len_e4
         FROM t""")),

    // Training-pipeline utility — composed quality gate: the C4-style
    // keep/drop decision with a first-failing-reason label, built from
    // the already-oracle-replayable scalar signals. One narrow
    // projection; the whole policy rides in the plan as literals.
    Query("q69_quality_gate", (s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        ops.Quality.gateReason(col("text")).as("reason"))
        .withColumn("keep", (col("reason") === "keep").cast("boolean"))
    },
      // q21's replayed signal expressions feeding the gate's CASE.
      Some("""WITH t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         m AS (
           SELECT doc_id,
             length(text) AS char_ct,
             CAST(floor(CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','was','at','by'))) AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE) * 10000) AS BIGINT) AS stop_e4,
             CAST(floor(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a,b) -> a + b) AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE) * 10000) AS BIGINT) AS mtl_e4
           FROM t),
         r AS (
           SELECT doc_id,
             CASE WHEN char_ct < 200 THEN 'too_short'
                  WHEN char_ct > 20000 THEN 'too_long'
                  WHEN mtl_e4 < 20000 OR mtl_e4 > 120000 THEN 'token_len_out_of_range'
                  WHEN stop_e4 < 100 THEN 'low_stopword_density'
                  ELSE 'keep' END AS reason
           FROM m)
         SELECT doc_id, reason, reason = 'keep' AS keep FROM r""")),

    // Curriculum/data-mix utility — per-language quality deciles via
    // ntile over a deterministic total order (metric, then id: ntile
    // bucket boundaries are positional, so ties MUST be broken for a
    // portable answer). One shuffle on the language key.
    Query("q84_quality_deciles", (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(10).over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))).cast("long").as("decile")),
      Some("""SELECT doc_id, lang, n_chars,
         CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS decile
         FROM documents""")),

    // LM quality scoring: bigram Stupid Backoff trained on the
    // doc_id % 10 == 0 split (playing "the reference corpus"), scoring
    // the rest — the CCNet "looks like Wikipedia" gate. ln is e6-floored
    // per position (q107's doctrine); sums are integer.
    Query("q113_lm_quality", (s, dir) => {
      val d = T(s, dir, "documents")
      ops.LmScore.bigramScore(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    },
      // replays the bigram Stupid Backoff string-keyed (Spark joins
      // xxhash64 keys — the established hashed-token contract): identical
      // operands, identical association order, the single ln e6-floored
      // per position before the order-independent integer sum
      Some(lmQualityOracle)),

    // ADDITIVE LM-MODEL BUILD: the q179 decomposition applied to
    // the LM family — an n-gram model is count tables, and counts over
    // disjoint slices SUM to counts over the union, so a model
    // assembled from THREE slice-count appends must score byte-equal
    // to one-shot training (the oracle is q113's replay VERBATIM —
    // equality is the gate). This is the read path of a standing
    // reference model maintained by per-batch count appends
    // (streaming face spec-gated in LmIngestSpec); at 100 TB the
    // count tables are vocab-sized artifacts, never corpus-sized.
    Query("q183_lm_additive", (s, dir) => {
      val d = T(s, dir, "documents")
      val ref = d.filter(col("doc_id") % 10 === 0)
      val slices = (0L until 3L).map(i =>
        ref.filter(pmod(col("doc_id"), lit(3L)) === i))
      val model = ops.LmScore.modelFromCounts(
        slices.map(ops.LmScore.unigramCounts(_, "doc_id", "text"))
          .reduce(_ unionByName _),
        slices.map(ops.LmScore.bigramCounts(_, "doc_id", "text"))
          .reduce(_ unionByName _))
      ops.LmScore.scoreWithModel(
        d.filter(col("doc_id") % 10 =!= 0), model, "doc_id", "text")
    },
      // the 3-slice additive count-merge must score byte-equal — the
      // n-gram model's sufficient statistics are counts, and counts add
      Some(lmQualityOracle)),

    // CCNet head/middle/tail bucketing per language — score-agnostic
    // (n_chars stands in for the LM score here; the LM composition is
    // spec-covered), rank = (score DESC NULLS LAST, id) with the
    // integer-ceil cut arithmetic. Exact oracle: the same window
    // replayed.
    Query("q133_perplexity_buckets", (s, dir) =>
      ops.LmScore.perplexityBuckets(
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), "doc_id", "n_chars"),
      // the same window + integer-ceil cut replay; DESC defaults to
      // NULLS FIRST in DuckDB, so the NULLS LAST contract is explicit
      Some("""WITH r AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS p,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT doc_id, lang,
           CAST(p AS BIGINT) AS rank_in_group,
           CAST(n AS BIGINT) AS n_in_group,
           CASE WHEN p <= (333333 * n + 999999) // 1000000 THEN 'head'
                WHEN p <= (666667 * n + 999999) // 1000000 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM r""")),

    // TRAINED QUALITY CLASSIFIER: integer fixed-point logistic
    // regression over bag-of-token features — the scoring family's
    // discriminative leg (q113 generative LM, q182 importance ratio,
    // this: the CCNet/GPT-3 "trained quality filter"). The planted
    // fixture (the q96 treatment): labels derive from doc_id, marker
    // tokens ride 80% of documents, the real corpus tokens are the
    // noise the gradient must overcome. TWO full gradient rounds are
    // replayed by the oracle as unrolled CTEs — the TRAINING
    // ARITHMETIC is under the hash gate (every weight, margin, clamp,
    // and floor-div), not just the scoring pass. Held-out doc scores.
    // ARTIFACT-BACKED: the scoring face reads the standing parquet
    // model (Artifacts.lrModel — same deterministic training arithmetic, so the oracle's unrolled
    // training replay still hash-matches); the training cost is priced
    // in-suite by the tagged gates (q191/q195/q196) only.
    Query("q190_quality_lr_scores", (s, dir) => {
      val aug = lrAugment(T(s, dir, "documents"))
      val model = store(lrModel, s, dir)
      ops.QualityClassifier.scoreLogistic(
        aug.filter(pmod(col("doc_id"), lit(2L)) === 1L), model,
        "doc_id", "text")
    },
      // two unrolled gradient rounds replayed string-keyed — the
      // TRAINING arithmetic (every weight, margin, hard-sigmoid clamp,
      // floor division) is under the hash gate, then the held-out
      // margins/scores
      Some(s"""WITH ${lrOracleCtes("documents")}
         SELECT doc_id, CAST(z AS BIGINT) AS z_e6,
           CAST($lrSigSql AS BIGINT) AS p_e6,
           $lrSigSql >= 500000 AS pred
         FROM zt""")),

    // q190's accuracy gate — fully deterministic, so unlike the
    // probabilistic recall gates (q94-q98) the oracle REPLAYS the
    // accuracy count rather than pinning a constant: measured 0.904 @
    // sf0.01, 0.901 @ sf0.1, 0.896 @ sf0.001 (GateProbe row); floor
    // 0.70 = chance + 0.20 with the measured value at chance + 0.40 —
    // the 2x-margin convention. gMul=4 diverges on this fixture (the
    // calibration run's negative control).
    Query("q191_quality_lr_gate", (s, dir) => {
      val aug = lrAugment(T(s, dir, "documents"))
      val model = ops.QualityClassifier.trainLogistic(
        aug.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", "y", rounds = 2, gMul = 16L)
      val test = aug.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      ops.QualityClassifier.scoreLogistic(test, model, "doc_id", "text")
        .join(test.select(col("doc_id"), col("y")), Seq("doc_id"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("pred") === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_test"), col("n_correct"),
          lit(7000L).as("floor_e4"),
          (col("n_correct") * 10000L >= col("n_test") * 7000L)
            .as("meets_floor"))
    },
      // deterministic training ⇒ the accuracy REPLAYS (not a pinned
      // constant like the probabilistic q94-q98 gates); the floor
      // boolean rides along
      Some(s"""WITH ${lrOracleCtes("documents")},
         pr AS (SELECT doc_id, y, $lrSigSql >= 500000 AS pred FROM zt)
         SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN pred = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(7000 AS BIGINT) AS floor_e4,
           sum(CASE WHEN pred = (y = 1) THEN 1 ELSE 0 END) * 10000
             >= count(*) * 7000 AS meets_floor
         FROM pr"""), gate = true),

    // COMPOSED CLASSIFIER CURATION: the q189 chain with the
    // trained classifier as the scorer — banned-phrase gate (q181's
    // automaton) → train on the FILTERED pool's even half → score the
    // held-out half → per-language top-half keep (q184's integer-ceil
    // cut) under ONE oracle. The filter changes the training pool, so
    // every gradient, weight, margin, rank, and cut boundary
    // downstream must move exactly as the filtered replay moves them.
    Query("q192_curation_classifier", (s, dir) => {
      val clean = ops.Decontaminate.multiPatternFilter(
        T(s, dir, "documents"), "text", Seq("batch batch", "dow win"))
      val aug = lrAugment(clean)
      // artifact-backed: the filtered-pool model is its own
      // standing artifact — the filter changes every gradient, so it
      // can never share q190's weights
      val model = store(lrCleanModel, s, dir)
      val scored = ops.QualityClassifier.scoreLogistic(
          aug.filter(pmod(col("doc_id"), lit(2L)) === 1L), model,
          "doc_id", "text")
        .join(clean.select(col("doc_id"), col("lang")), Seq("doc_id"))
      ops.LmScore.perplexityBuckets(scored, Seq("lang"), "doc_id",
          "z_e6", cutsE6 = Seq(500000L), labels = Seq("keep", "drop"))
        .filter(col("bucket") === "keep")
        .select(col("doc_id"), col("lang"),
          col("rank_in_group"), col("n_in_group"))
    },
      // the q190 chain over a banned-phrase-filtered pool, then the
      // perplexityBuckets top-half cut: the filter changes the training
      // pool, so every gradient and rank downstream must move with it
      Some(s"""WITH ${lrOracleCtes(
          """(SELECT * FROM documents
           WHERE text NOT LIKE '%batch batch%'
             AND text NOT LIKE '%dow win%')""")},
         sl AS (SELECT zt.doc_id, aug.lang, zt.z
                FROM zt JOIN aug USING (doc_id)),
         rk AS (
           SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY z DESC, doc_id ASC) AS BIGINT) AS rank_in_group,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_in_group
           FROM sl)
         SELECT doc_id, lang, rank_in_group, n_in_group
         FROM rk
         WHERE rank_in_group <= (500000 * n_in_group + 999999) // 1000000""")),

    // BUCKETED (hashing-trick) CLASSIFIER: q190's training with
    // feature id = pmod(xxhash64(w), 4096) — the 100 TB vocabulary
    // dial made driver-visible (model bounded at nBuckets rows however
    // large the corpus vocabulary grows). Bucket ids are xxhash64-
    // derived, so the oracle can't replay the weights string-keyed
    // (the q33-family limitation); the gate is therefore the measured
    // accuracy floor under a constant oracle, like q94-q98: measured
    // 0.896/0.904/0.901 at sf0.001/0.01/0.1 — IDENTICAL to the
    // unbucketed q191 at this vocab (LrProbe; zero collisions at
    // 4096), floor 0.70 = chance + 0.20 at measured chance + 0.40.
    // The collision trade is recorded honestly: nBuckets=64 degrades
    // to 0.52-0.79 (LrProbe row), the standard hashing-trick cost.
    Query("q195_quality_lr_bucketed_gate", (s, dir) => {
      val aug = lrAugment(T(s, dir, "documents"))
      val model = ops.QualityClassifier.trainLogistic(
        aug.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", "y", rounds = 2, gMul = 16L, nBuckets = 4096L)
      val test = aug.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      ops.QualityClassifier.scoreLogistic(test, model, "doc_id", "text",
          nBuckets = 4096L)
        .join(test.select(col("doc_id"), col("y")), Seq("doc_id"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("pred") === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_test"), lit(7000L).as("floor_e4"),
          (col("n_correct") * 10000L >= col("n_test") * 7000L)
            .as("meets_floor"))
    },
      // bucket ids are xxhash64-derived (not SQL-replayable), so the
      // gate is the q94-style measured floor: n_test replays, the
      // accuracy boolean is computed in Spark against the floor constant
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(7000 AS BIGINT) AS floor_e4, true AS meets_floor
         FROM documents WHERE doc_id % 2 = 1"""), gate = true),

    // CLASSIFIER DRIFT GATE — the q149
    // treatment for the standing LogisticModel: the ARTIFACT model
    // (trained once off the timed path, the q190/q192 scoring source)
    // scores (a) the fixture's held-out half — the accepted-baseline
    // confidence — and (b) the SAME documents under a new marker
    // regime the model has never seen (xmk/zmk replace qmk/jmk: the
    // discriminative surface features left the corpus, the production
    // vocabulary-drift failure). Confidence = mean |p−½| in e6,
    // label-free, exact integer arithmetic. Drift trips the ratio gate
    // (new·2 < base, the PQ drift gate's shape), and the RETRAIN
    // TRIGGER is exercised in-query: a full retrain on the new
    // regime's train half must recover held-out accuracy past the
    // q191 floor. Everything — both trainings, both scorings, the
    // confidence folds — replays in the oracle's unrolled CTEs.
    Query("q196_quality_lr_drift_gate", (s, dir) => {
      val docs = T(s, dir, "documents")
      val odd = pmod(col("doc_id"), lit(2L)) === 1L
      val model = store(lrModel, s, dir)
      val base = ops.QualityClassifier.scoreConfidenceE6(
          ops.QualityClassifier.scoreLogistic(
            lrAugment(docs).filter(odd), model, "doc_id", "text"))
        .select(col("n_scored"), col("conf_e6").as("base_conf_e6"))
      val augNew = lrAugmentMk(docs, "xmk", "zmk")
      val drift = ops.QualityClassifier.scoreConfidenceE6(
          ops.QualityClassifier.scoreLogistic(
            augNew.filter(odd), model, "doc_id", "text"))
        .select(col("conf_e6").as("new_conf_e6"))
      val re = ops.QualityClassifier.trainLogistic(
        augNew.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", "y", rounds = 2, gMul = 16L)
      val heldNew = augNew.filter(odd)
      val reAcc = ops.QualityClassifier.scoreLogistic(
          heldNew, re, "doc_id", "text")
        .join(heldNew.select(col("doc_id"), col("y")), Seq("doc_id"))
        .agg(count(lit(1)).as("n_re"),
          sum(when(col("pred") === (col("y") === 1L), 1L).otherwise(0L))
            .as("n_correct"))
      base.crossJoin(drift).crossJoin(reAcc).select(
        col("n_scored"), col("base_conf_e6"), col("new_conf_e6"),
        (col("new_conf_e6") * 2L < col("base_conf_e6"))
          .as("drift_detected"),
        (col("n_correct") * 10000L >= col("n_re") * 7000L)
          .as("retrain_recovers"))
    },
      // TWO independent unrolled trainings side by side (baseline
      // regime + the xmk/zmk drift regime via the CTE prefix), the
      // cross-regime scoring of the new corpus under the OLD weights
      // (zx), both confidence folds, and the retrain accuracy — every
      // integer of the drift decision replays
      Some(s"""WITH ${lrOracleCtes("documents")},
         ${lrOracleCtes("documents", "xmk", "zmk", "n")},
         zx AS (SELECT t.doc_id,
                  (SELECT b FROM b2) + CAST(sum(t.c * coalesce(w2.wt, 0)) AS BIGINT) AS z
                FROM nte t LEFT JOIN w2 USING (w) GROUP BY t.doc_id),
         cb AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(abs($lrSigSql - 500000)) AS BIGINT) AS s FROM zt),
         cn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(abs($lrSigSql - 500000)) AS BIGINT) AS s FROM zx),
         ac AS (SELECT CAST(count(*) AS BIGINT) AS n_re,
                  CAST(sum(CASE WHEN ($lrSigSql >= 500000) = (y = 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
                FROM nzt)
         SELECT cb.n AS n_scored,
           CAST(${fdivSql("cb.s", "cb.n")} AS BIGINT) AS base_conf_e6,
           CAST(${fdivSql("cn.s", "cn.n")} AS BIGINT) AS new_conf_e6,
           (${fdivSql("cn.s", "cn.n")}) * 2 < (${fdivSql("cb.s", "cb.n")})
             AS drift_detected,
           ac.n_correct * 10000 >= ac.n_re * 7000 AS retrain_recovers
         FROM cb, cn, ac"""), gate = true),

    // COUNTS-BASED RETRAIN CONTRACT (the q197 shape applied to
    // LrIngest): the fixture's train half is
    // folded in TWO slices through the count-maintenance arithmetic
    // lrCountSink runs per micro-batch (tokenize the slice once,
    // append its (doc_id, y, h, c) rows), the model is trained FROM
    // the folded standing counts, and its weight table is
    // equality-joined against the from-scratch twin — the 100 TB
    // retrain contract (retrain ≡ from-scratch, zero re-tokenize)
    // made oracle-visible. The twin is the artifact model
    // (Artifacts.lrModel — the same frame q190/q196 score from: the
    // from-scratch leg is the nightly artifact by the family's own
    // production framing), so each rep prices the counts fold + the
    // 2-round counts training + the equality join. n_w / sum_w_e6 /
    // bias_e6 replay string-keyed in the oracle's unrolled training
    // CTEs, so the hash gate covers the folded training's arithmetic,
    // not just the equality boolean.
    Query("q198_quality_lr_counts_retrain", (s, dir) => {
      val train = lrAugment(T(s, dir, "documents"))
        .filter(pmod(col("doc_id"), lit(2L)) === 0L)
      val sliceKey = pmod(xxhash64(col("doc_id")), lit(2L))
      val counts = (0L until 2L).map { i =>
        ops.QualityClassifier.tokenCounts(train.filter(sliceKey === i),
          "doc_id", "text", Some("y"))
      }.reduce(_ unionByName _)
      val m = ops.QualityClassifier.trainLogisticFromCounts(counts,
        rounds = 2, gMul = 16L)
      val scratch = store(lrModel, s, dir)
      val mism = m.w.alias("a")
        .join(scratch.w.alias("b"), col("a.h") === col("b.h"), "full")
        .filter(col("a.h").isNull || col("b.h").isNull ||
          col("a.w_e6") =!= col("b.w_e6"))
        .agg(count(lit(1)).as("mism"))
      val nTrain = counts.select(col("doc_id")).distinct()
        .agg(count(lit(1)).as("n_train"))
      m.w.agg(count(lit(1)).as("n_w"), sum(col("w_e6")).as("sum_w_e6"))
        .crossJoin(mism).crossJoin(nTrain)
        .select(col("n_train"), col("n_w"), col("sum_w_e6"),
          lit(m.biasE6).as("bias_e6"),
          (col("mism") === 0L && lit(m.biasE6 == scratch.biasE6))
            .as("fold_equals_scratch"))
    },
      // the folded-counts training replays in the SAME unrolled CTEs as
      // q190's from-scratch training (count additivity means the folded
      // standing table IS the one-shot count table, so one replay covers
      // both legs); the equality boolean is structural. n_w counts the
      // train vocabulary, sum_w_e6 folds every final weight — a drifted
      // gradient anywhere moves it
      Some(s"""WITH ${lrOracleCtes("documents")}
         SELECT
           (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM tr) AS n_train,
           (SELECT CAST(count(*) AS BIGINT) FROM w2) AS n_w,
           (SELECT CAST(sum(wt) AS BIGINT) FROM w2) AS sum_w_e6,
           (SELECT CAST(b AS BIGINT) FROM b2) AS bias_e6,
           true AS fold_equals_scratch"""), gate = true),
  )
}
