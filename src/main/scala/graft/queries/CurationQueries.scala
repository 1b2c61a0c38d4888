package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.ops.{Dedup, Pack, Sampling}

import Shared._
import Sql._

/** Corpus curation: sampling, splits, decontamination, mixing, packing,
  * token budgets, DSIR selection and the composed pipelines. */
private[graft] object CurationQueries {

  val all: Seq[Query] = Seq(

    // Training-pipeline utility — EXACT stratified sample (20% per
    // language), deterministic portable id-mixing so the oracle
    // re-derives the identical row set in DuckDB.
    Query("q60_stratified_sample", (s, dir) => {
      Sampling.stratifiedSampleExact(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("lang"), "doc_id", 0.2)
    },
      // Replays Sampling.portableBucket exactly: ((id % 1000003) *
      // 2654435761) % 1000000007 in plain BIGINT math (every term < 2^63),
      // then the same rank-within-stratum cut. The cutoff multiplies by a
      // DOUBLE 0.2 to mirror Spark's IEEE arithmetic — DuckDB's bare 0.2
      // is DECIMAL and could disagree by one row at exact boundaries.
      Some("""WITH m AS (
           SELECT doc_id, lang,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS mix
           FROM documents),
         r AS (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY mix, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS ct
           FROM m)
         SELECT doc_id, lang FROM r WHERE rn <= ceil(ct * CAST(0.2 AS DOUBLE))""")),

    // Training-pipeline utility — deterministic train/val/test split as
    // a pure function of the id (no rand(), no assignment table); the
    // portable mix makes the assignment replayable in the oracle.
    Query("q61_split_assign", (s, dir) => {
      Sampling.assignSplit(
        T(s, dir, "documents").select(col("doc_id")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        portable = true)
    },
      // Replays assignSplit's portable path: bucket = mix % 1e6, then the
      // cumulative-weight cuts. 800000/900000 are the exact values of
      // (0.8*1e6).toLong / ((0.8+0.1)*1e6).toLong under IEEE doubles.
      Some("""SELECT doc_id,
         CASE WHEN b < 800000 THEN 'train'
              WHEN b < 900000 THEN 'val'
              ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ((doc_id % 1000003) * 2654435761) % 1000000007 % 1000000 AS b
               FROM documents)""")),

    // Training-pipeline utility — DECONTAMINATION: near-duplicate pairs
    // (q30's exact blocked-Jaccard machinery) that straddle the
    // test/train boundary. Both sides' splits are computed INLINE from
    // the pair's ids ([[Sampling.splitExpr]] is a pure function) — no
    // join against an assignment table, zero shuffles beyond q30's own.
    Query("q64_decontaminate", (s, dir) => {
      val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val pairs = Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 8000L)
      val sa = Sampling.splitExpr(col("id_a"), weights, portable = true)
      val sb = Sampling.splitExpr(col("id_b"), weights, portable = true)
      pairs
        .withColumn("split_a", sa).withColumn("split_b", sb)
        .filter((col("split_a") === "test" && col("split_b") === "train") ||
                (col("split_a") === "train" && col("split_b") === "test"))
        .select(
          when(col("split_a") === "test", col("id_a")).otherwise(col("id_b"))
            .as("test_doc_id"),
          when(col("split_a") === "train", col("id_a")).otherwise(col("id_b"))
            .as("train_doc_id"),
          col("jaccard_e4"))
    },
      // q30's exact pair oracle + the q61 split CASE applied to both ids.
      Some("""WITH t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks,
             CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000000007 % 1000000 < 800000 THEN 'train'
                  WHEN ((doc_id % 1000003) * 2654435761) % 1000000007 % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.split AS split_a, b.split AS split_b,
             CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) AS jaccard_e4
           FROM t a JOIN t b
             ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
         SELECT CASE WHEN split_a = 'test' THEN id_a ELSE id_b END AS test_doc_id,
                CASE WHEN split_a = 'train' THEN id_a ELSE id_b END AS train_doc_id,
                jaccard_e4
         FROM p
         WHERE jaccard_e4 >= 8000
           AND ((split_a = 'test' AND split_b = 'train')
             OR (split_a = 'train' AND split_b = 'test'))""")),

    // Training-pipeline utility — greedy token-budget sequence packing
    // within (lang, shard-of-16) groups; the id-derived shard bounds the
    // per-partition sort at scale and keeps the oracle replayable.
    Query("q65_pack_sequences", (s, dir) => {
      val d = T(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TF.tokenCount(col("text")).cast("long").as("token_ct"),
        Sampling.portableBucket(col("doc_id"), 16).as("shard"))
      Pack.packGreedy(d, Seq("lang", "shard"), "doc_id", "token_ct", 2048L)
    }, Some("""WITH t AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS BIGINT) AS token_ct,
             ((doc_id % 1000003) * 2654435761) % 1000000007 % 16 AS shard
           FROM documents),
         c AS (
           SELECT doc_id, lang, token_ct, shard,
             CAST(COALESCE(sum(token_ct) OVER (PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
           FROM t)
         SELECT doc_id, lang, token_ct, shard, tokens_before,
           CAST(tokens_before // 2048 AS BIGINT) AS seq_id
         FROM c""")),

    // Training-pipeline utility — EXACT dataset mixing: a different
    // keep-fraction per language (power-of-two fractions so no decimal
    // vs double ambiguity), exact counts per stratum.
    Query("q66_dataset_mix", (s, dir) => {
      Sampling.sampleByExact(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Map("en" -> 1.0, "zh" -> 0.5, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.25))
    }, Some("""WITH m AS (
           SELECT doc_id, lang,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS mix,
             CASE lang WHEN 'en' THEN 1.0 WHEN 'zh' THEN 0.5 WHEN 'de' THEN 0.5
                       WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25 ELSE 0.0 END AS frac
           FROM documents),
         r AS (
           SELECT doc_id, lang, frac,
             row_number() OVER (PARTITION BY lang ORDER BY mix, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS ct
           FROM m)
         SELECT doc_id, lang FROM r WHERE rn <= ceil(ct * CAST(frac AS DOUBLE))""")),

    // Training-pipeline utility — domain capping ("at most N docs per
    // source"): deterministic rank-and-cut inside each stratum. Which
    // rows survive is a pure function of the ids, so a grown domain
    // never evicts previously kept docs arbitrarily.
    Query("q75_domain_cap", (s, dir) => {
      Sampling.capPerStratum(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("source"), "doc_id", 20L)
    }, Some("""WITH m AS (
           SELECT doc_id, source,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS mix
           FROM documents),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY mix, doc_id) AS rn
           FROM m)
         SELECT doc_id, source FROM r WHERE rn <= 20""")),

    // Decontamination, bloom-prefiltered two-phase EXACT shape (see
    // ops.Decontaminate): bloom negatives are flagged clean map-side
    // with zero exchange; only bloom positives (matches + ~fpp of the
    // corpus) pay the exact content-key join. Same answer as the plain
    // anti/semi join — the bloom changes the plan, never the result.
    Query("q85_bloom_decontaminate", (s, dir) => {
      val d = T(s, dir, "documents")
      val contam = d.filter(col("doc_id") % 7 === 0)
      ops.Decontaminate.flag(
        d.select(col("doc_id"), col("text")), col("text"),
        contam, col("text"))
        .select(col("doc_id"), col("contaminated"))
    },
      // the bloom is plan-level only (no false negatives; false positives
      // cleared by the exact phase), so the oracle is the plain
      // content-membership predicate
      Some("""SELECT doc_id,
         text IN (SELECT text FROM documents WHERE doc_id % 7 = 0) AS contaminated
         FROM documents""")),

    // Temperature-based dataset mixing (the mT5 multilingual recipe):
    // ~300 docs sampled with per-language targets ∝ n^0.5 — small
    // languages up-weighted vs proportional. Every step engine-exact
    // (e3 fixed-point sqrt weights, integer floor-division targets,
    // portable-mix rank), so the oracle replays the full selection.
    Query("q103_temperature_mix", (s, dir) =>
      Sampling.temperatureMix(T(s, dir, "documents"), "lang", "doc_id",
          totalN = 300)
        .select(col("doc_id"), col("lang")),
      // full replay of the temperature-mix selection: e3 fixed-point sqrt
      // weights summed as integers, floor-division targets capped at the
      // stratum size, portable-mix rank (same mix as the split/sample
      // oracles)
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT lang, n,
           CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS s FROM c),
         t AS (SELECT lang,
           least(n, (300 * s) // (SELECT sum(s) FROM w)) AS target FROM w),
         r AS (SELECT d.doc_id, d.lang,
           row_number() OVER (PARTITION BY d.lang
             ORDER BY ((d.doc_id % 1000003) * 2654435761) % 1000000007,
               d.doc_id) AS rn
           FROM documents d)
         SELECT r.doc_id, r.lang FROM r JOIN t USING (lang)
         WHERE rn <= target""")),

    // temperatureMix's ARBITRARY-alpha gate (q94-style): the alpha=0.3
    // path goes through pow, whose last ulp is libm-dependent — so no
    // full-replay oracle (a floor flip would hash-fail on a correct
    // build). Instead BOTH engines independently run the selection at
    // alpha=0.3 and check the per-stratum sampled count against the
    // IDEAL real-valued target totalN·n^α/Σn^α within an absolute band
    // of 3 rows (fixed-point floors + integer division lose < 2; see
    // temperatureMix's arithmetic notes). A pow/overflow regression
    // that skews any stratum flips within_band and hash-fails.
    Query("q105_temperature_mix_alpha_gate", (s, dir) => {
      val docs = T(s, dir, "documents")
      val sampled = Sampling.temperatureMix(docs, "lang", "doc_id",
        totalN = 300, alpha = 0.3)
      val got = sampled.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val ideal = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("w", pow(col("n").cast("double"), lit(0.3)))
        .withColumn("ideal",
          lit(300.0) * col("w") / sum(col("w")).over(Window.partitionBy()))
      ideal.join(got, Seq("lang"), "left")
        .select(col("lang"),
          (abs(coalesce(col("c"), lit(0L)).cast("double")
            - least(col("n").cast("double"), col("ideal"))) <= 3.0)
            .as("within_band"))
    },
      // independent replay of the alpha=0.3 selection with DUCKDB's pow:
      // both engines must land inside the same ±3-row band around the
      // real-valued ideal targets — libm ulp differences cannot flip it,
      // a broken pow path or target overflow can
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT lang, n,
           CAST(floor(pow(CAST(n AS DOUBLE), 0.3) * 1000) AS BIGINT) AS s,
           pow(CAST(n AS DOUBLE), 0.3) AS wr FROM c),
         t AS (SELECT lang, n,
           least(n, (300 * s) // (SELECT sum(s) FROM w)) AS target,
           300.0 * wr / (SELECT sum(wr) FROM w) AS ideal FROM w),
         r AS (SELECT d.doc_id, d.lang,
           row_number() OVER (PARTITION BY d.lang
             ORDER BY ((d.doc_id % 1000003) * 2654435761) % 1000000007,
               d.doc_id) AS rn
           FROM documents d),
         sel AS (SELECT r.lang, count(*) AS c
           FROM r JOIN t USING (lang) WHERE rn <= target GROUP BY 1)
         SELECT t.lang,
           abs(CAST(coalesce(sel.c, 0) AS DOUBLE)
             - least(CAST(t.n AS DOUBLE), t.ideal)) <= 3.0 AS within_band
         FROM t LEFT JOIN sel USING (lang)"""), gate = true),

    // Cross-SPLIT leakage audit: train→test pairs sharing a
    // 40-char window at stride 4, with the train/test assignment
    // derived INLINE from the id (the zero-state split — no assignment
    // table exists, let alone joins). The oracle replays the portable
    // split mix AND the window intersection — pair set and shared
    // counts are exact.
    Query("q106_split_leakage", (s, dir) =>
      Dedup.splitLeakagePairs(T(s, dir, "documents"), "doc_id", "text",
        Seq("train" -> 0.8, "test" -> 0.2), "train", "test",
        k = 40, stride = 4),
      // replays the portable split mix (same arithmetic as q61/q103's
      // oracles) and the 40-char/stride-4 window intersection across the
      // train×test pair space
      Some("""WITH sp AS (
           SELECT doc_id, text,
             CASE WHEN ((doc_id % 1000003) * 2654435761) % 1000000007 % 1000000 < 800000
                  THEN 'train' ELSE 'test' END AS split
           FROM documents WHERE length(text) >= 40),
         w AS (
           SELECT DISTINCT doc_id, split,
             substr(text, CAST(o AS INT) + 1, 40) AS win
           FROM (SELECT doc_id, split, text,
                   unnest(range(0, CAST(length(text) AS BIGINT) - 39, 4)) AS o
                 FROM sp))
         SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
           CAST(count(DISTINCT a.win) AS BIGINT) AS shared_ct
         FROM w a JOIN w b ON a.win = b.win
         WHERE a.split = 'train' AND b.split = 'test'
         GROUP BY 1, 2""")),

    // Graded n-gram contamination: per-doc fraction of distinct
    // word 5-grams appearing in a benchmark set (doc_id % 10 == 0
    // plays the eval set). Completes the decontamination family:
    // q64/q85 are boolean key hits, this is the partial-leak measure.
    Query("q108_ngram_contamination", (s, dir) => {
      val d = T(s, dir, "documents")
      ops.Decontaminate.ngramOverlapFraction(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 5)
    },
      // replays the word-5-gram overlap on the gram STRINGS (the Spark
      // side joins xxhash64 fingerprints — identical modulo ~2^-64
      // collisions, the established hashed-token contract); the single
      // float op is one correctly-rounded division
      Some("""WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 3),
               o -> array_to_string(list_slice(toks, o, o + 4), ' '))) AS grams
           FROM d),
         doc AS (
           SELECT doc_id, grams, CAST(len(grams) AS BIGINT) AS n_grams
           FROM g WHERE doc_id % 10 <> 0 AND len(grams) > 0),
         bg AS (
           SELECT DISTINCT unnest(grams) AS gram
           FROM g WHERE doc_id % 10 = 0),
         agg AS (
           SELECT e.doc_id, e.n_grams,
             CAST(sum(CASE WHEN bg.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS hits
           FROM (SELECT doc_id, n_grams, unnest(grams) AS gram FROM doc) e
           LEFT JOIN bg USING (gram)
           GROUP BY 1, 2)
         SELECT doc_id, n_grams, hits,
           CAST(floor(CAST(hits AS DOUBLE) / n_grams * 10000.0) AS BIGINT) AS frac_e4
         FROM agg""")),

    // Token-budget sampling: per-language char budget filled in
    // the deterministic mix order via the distributed prefix-sum
    // shape — whole coarse buckets pass/drop map-side, only the
    // boundary bucket pays a window cumsum. The oracle replays the
    // single-window definition; the two must select the same row set.
    Query("q109_token_budget", (s, dir) =>
      Sampling.tokenBudgetSample(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), "doc_id", "n_chars", budget = 12000L, nBuckets = 16)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      // replays the single-window cumsum definition of the budget
      // selection: order (coarse bucket, fine mix, id) per lang, keep
      // while inclusive running n_chars <= 12000 — all integer arithmetic
      Some("""WITH t AS (
           SELECT doc_id, lang, n_chars,
             ((doc_id % 1000003) * 2654435761) % 1000000007 % 16 AS b,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS m
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_chars,
             sum(n_chars) OVER (PARTITION BY lang ORDER BY b, m, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t)
         SELECT doc_id, lang, n_chars FROM c WHERE cum <= 12000""")),

    // Fractional-epoch upsampling: 0.4 epochs of en, 2.5 of zh,
    // 1.0 of de; es/fr unlisted -> dropped. Milli-epoch integer
    // arithmetic makes the partial-copy cut engine-exact; the oracle
    // replays rank, cut, and copy generation.
    Query("q111_epoch_upsample", (s, dir) =>
      Sampling.epochUpsample(
        T(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", Map("en" -> 0.4, "zh" -> 2.5, "de" -> 1.0))
        .select(col("doc_id"), col("lang"), col("epoch")),
      // replays the milli-epoch rule: nc = em div 1000 full copies plus
      // one more iff (rank-1)*1000 < n*(em mod 1000) — all integer, the
      // exact ceil(n*frac) prefix of the portable-mix order
      Some("""WITH t AS (
           SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 400 WHEN 'zh' THEN 2500
                       WHEN 'de' THEN 1000 ELSE 0 END AS em,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS m
           FROM documents),
         r AS (
           SELECT doc_id, lang, em,
             row_number() OVER (PARTITION BY lang ORDER BY m, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS ct
           FROM t),
         c AS (
           SELECT doc_id, lang,
             em // 1000
               + CASE WHEN (rn - 1) * 1000 < ct * (em % 1000) THEN 1 ELSE 0 END AS nc
           FROM r)
         SELECT doc_id, lang, gs.e AS epoch
         FROM c CROSS JOIN (SELECT unnest(range(0, 4)) AS e) gs
         WHERE gs.e < c.nc""")),

    // DSIR importance scoring (Xie et al. NeurIPS 2023): weight
    // every raw-pool document by its token-level log-likelihood ratio
    // between the TARGET distribution (doc_id % 10 == 0 plays the
    // clean split, as in q113) and the RAW pool itself — the published
    // data-selection recipe ("resample raw so it looks like target"),
    // completing the quality family: q21/q69 = well-formedness,
    // q113 = absolute reference likelihood, this = the target-vs-pool
    // CONTRAST. Add-one smoothing over the union vocabulary; each ln
    // e6-floored per token (q113's doctrine), integer sums per doc.
    // Selection composes downstream (perplexityBuckets / capPerStratum
    // by dsir_e6) — the score is the new primitive.
    Query("q182_dsir_importance", (s, dir) => {
      val d = T(s, dir, "documents")
      val rawPool = d.filter(col("doc_id") % 10 =!= 0)
      ops.LmScore.importanceScore(rawPool,
        d.filter(col("doc_id") % 10 === 0), rawPool, "doc_id", "text")
    },
      // replays the DSIR log-ratio string-keyed (Spark joins xxhash64
      // fingerprints — the hashed-token contract). Both lns run over
      // identical correctly-rounded operands ((c+1)/(N+V), all integers
      // exact in double) and e6-floor separately, the q113 margin
      // doctrine. n_unseen is literal 0: the raw side of the ratio IS
      // the scored pool, so every scored token has a raw count.
      Some(dsirOracle)),

    // CURATION PIPELINE: the session's new ops composed in
    // production order under ONE replay — multi-pattern
    // decontamination (drop any document containing a banned phrase,
    // the q181 automaton's gate face) → DSIR importance scoring
    // against the clean target split → per-language top-quarter keep
    // (q184's cut). The composition is the point: the banned-phrase
    // filter changes the pool, so every count, λ, rank, and cut
    // boundary downstream must move EXACTLY as the oracle's filtered
    // replay moves them.
    Query("q189_curation_pipeline", (s, dir) => {
      val clean = ops.Decontaminate.multiPatternFilter(
        T(s, dir, "documents"), "text", Seq("batch batch", "dow win"))
      val rawPool = clean.filter(col("doc_id") % 10 =!= 0)
      val scored = ops.LmScore.importanceScore(rawPool,
          clean.filter(col("doc_id") % 10 === 0), rawPool, "doc_id", "text")
        .join(rawPool.select(col("doc_id"), col("lang")), Seq("doc_id"))
      ops.LmScore.perplexityBuckets(scored, Seq("lang"), "doc_id",
          "dsir_e6", cutsE6 = Seq(250000L), labels = Seq("keep", "drop"))
        .filter(col("bucket") === "keep")
        .select(col("doc_id"), col("lang"),
          col("rank_in_group"), col("n_in_group"))
    },
      // the q184 chain over a banned-phrase-filtered pool: the filter
      // changes every count, λ, rank, and cut boundary downstream, and
      // the replay must move with them
      Some("""WITH d0 AS (
           SELECT * FROM documents
           WHERE text NOT LIKE '%batch batch%'
             AND text NOT LIKE '%dow win%'),
         d AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM d0),
         t AS (SELECT unnest(toks) AS w FROM d WHERE doc_id % 10 = 0),
         r AS (SELECT unnest(toks) AS w FROM d WHERE doc_id % 10 <> 0),
         ct AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         cr AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1),
         k AS (SELECT
             (SELECT count(*) FROM (SELECT w FROM ct UNION SELECT w FROM cr)) AS v,
             (SELECT sum(c) FROM ct) AS nt,
             (SELECT sum(c) FROM cr) AS nr),
         lam AS (
           SELECT coalesce(ct.w, cr.w) AS w,
             CAST(floor(1000000.0 * ln((coalesce(ct.c, 0) + 1.0) / (nt + v))) AS BIGINT)
             - CAST(floor(1000000.0 * ln((coalesce(cr.c, 0) + 1.0) / (nr + v))) AS BIGINT) AS lam_e6
           FROM ct FULL JOIN cr ON ct.w = cr.w CROSS JOIN k),
         pos AS (SELECT doc_id, unnest(toks) AS w FROM d WHERE doc_id % 10 <> 0),
         scored AS (
           SELECT doc_id, CAST(sum(lam_e6) AS BIGINT) AS dsir_e6
           FROM pos JOIN lam USING (w) GROUP BY 1),
         sl AS (
           SELECT s.doc_id, d2.lang, s.dsir_e6
           FROM scored s JOIN d0 d2 USING (doc_id)),
         rk AS (
           SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY dsir_e6 DESC, doc_id ASC) AS BIGINT) AS rank_in_group,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_in_group
           FROM sl)
         SELECT doc_id, lang, rank_in_group, n_in_group
         FROM rk
         WHERE rank_in_group <= (250000 * n_in_group + 999999) // 1000000""")),

    // ADDITIVE DSIR MODEL: the importance model's raw side is
    // unigram counts, and the raw pool GROWS per ingest batch — so a
    // model assembled from THREE raw-pool count slices must score
    // byte-equal to one-shot training (oracle = q182's replay
    // VERBATIM). The LmIngest unigram table serves the raw side
    // directly; the target stays a fixed curation asset.
    Query("q188_dsir_additive", (s, dir) => {
      val d = T(s, dir, "documents")
      val rawPool = d.filter(col("doc_id") % 10 =!= 0)
      val rawCounts = (0L until 3L).map(i =>
          ops.LmScore.unigramCounts(
            rawPool.filter(pmod(col("doc_id"), lit(3L)) === i),
            "doc_id", "text"))
        .reduce(_ unionByName _)
      val model = ops.LmScore.importanceModelFromCounts(
        ops.LmScore.unigramCounts(
          d.filter(col("doc_id") % 10 === 0), "doc_id", "text"),
        rawCounts)
      ops.LmScore.importanceWithModel(rawPool, model, "doc_id", "text")
    },
      // the 3-slice raw-pool count merge must score byte-equal — the
      // importance model's raw side is additive counts (q182's replay)
      Some(dsirOracle)),

    // DSIR SELECTION: the composed recipe — q182's importance
    // scores ranked per language, top quarter kept (the
    // perplexityBuckets integer-ceil cut arithmetic with a single
    // 250000-e6 cut). One new-op query composed from two
    // independently-oracled pieces under ONE exact replay (the
    // q166/q176 composition pattern): score join ranks join cut, all
    // integer once the per-token lns are floored.
    Query("q184_dsir_selection", (s, dir) => {
      val d = T(s, dir, "documents")
      val rawPool = d.filter(col("doc_id") % 10 =!= 0)
      val scored = ops.LmScore.importanceScore(rawPool,
          d.filter(col("doc_id") % 10 === 0), rawPool, "doc_id", "text")
        .join(rawPool.select(col("doc_id"), col("lang")), Seq("doc_id"))
      ops.LmScore.perplexityBuckets(scored, Seq("lang"), "doc_id",
          "dsir_e6", cutsE6 = Seq(250000L), labels = Seq("keep", "drop"))
        .filter(col("bucket") === "keep")
        .select(col("doc_id"), col("lang"),
          col("rank_in_group"), col("n_in_group"))
    },
      // q182's score replay, then the perplexityBuckets window verbatim:
      // rank per language by (dsir_e6 DESC, doc_id), keep rank ≤
      // ⌈0.25·n⌉ via the same integer-ceil arithmetic
      Some("""WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         t AS (SELECT unnest(toks) AS w FROM d WHERE doc_id % 10 = 0),
         r AS (SELECT unnest(toks) AS w FROM d WHERE doc_id % 10 <> 0),
         ct AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
         cr AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1),
         k AS (SELECT
             (SELECT count(*) FROM (SELECT w FROM ct UNION SELECT w FROM cr)) AS v,
             (SELECT sum(c) FROM ct) AS nt,
             (SELECT sum(c) FROM cr) AS nr),
         lam AS (
           SELECT coalesce(ct.w, cr.w) AS w,
             CAST(floor(1000000.0 * ln((coalesce(ct.c, 0) + 1.0) / (nt + v))) AS BIGINT)
             - CAST(floor(1000000.0 * ln((coalesce(cr.c, 0) + 1.0) / (nr + v))) AS BIGINT) AS lam_e6
           FROM ct FULL JOIN cr ON ct.w = cr.w CROSS JOIN k),
         pos AS (SELECT doc_id, unnest(toks) AS w FROM d WHERE doc_id % 10 <> 0),
         scored AS (
           SELECT doc_id, CAST(sum(lam_e6) AS BIGINT) AS dsir_e6
           FROM pos JOIN lam USING (w) GROUP BY 1),
         sl AS (
           SELECT s.doc_id, d2.lang, s.dsir_e6
           FROM scored s JOIN documents d2 USING (doc_id)),
         rk AS (
           SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY dsir_e6 DESC, doc_id ASC) AS BIGINT) AS rank_in_group,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_in_group
           FROM sl)
         SELECT doc_id, lang, rank_in_group, n_in_group
         FROM rk
         WHERE rank_in_group <= (250000 * n_in_group + 999999) // 1000000""")),

    // A-ES weighted sampling without replacement, weight = n_chars
    // (token-mass-weighted doc selection). Exact oracle: portable mix,
    // identical ln floor, same (key desc, id) top-k.
    Query("q126_weighted_sample", (s, dir) =>
      ops.Sampling.weightedSample(
        T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100),
      // portable mix -> u in (0,1) -> floor(1e9 * ln(u)/w) -> top-k by
      // (key DESC, id) — the A-ES key order replayed exactly
      Some("""WITH m AS (
           SELECT doc_id, n_chars,
             ((doc_id % 2147483647) * 2654435761) % 2147483629
               * 2147483648
               + ((doc_id % 2147483629) * 2246822519) % 2147483647 AS mix
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         SELECT doc_id, n_chars,
           CAST(floor(1000000000.0 *
             (ln((CAST(mix AS DOUBLE) + 1.0) / 4611686018427387904.0) / CAST(n_chars AS DOUBLE))) AS BIGINT) AS aes_key_e9
         FROM m
         ORDER BY aes_key_e9 DESC, doc_id ASC LIMIT 100""")),

    // Deterministic weighted interleave — the curriculum key that
    // schedules source s's r-th doc at virtual time ⌊10⁹·r/w⌋ so the
    // training order has no single-source pockets. Exact oracle: the
    // same rank window + integer floor division.
    Query("q138_interleave_key", (s, dir) =>
      ops.Sampling.interleaveBySource(
        T(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", "doc_id",
        Map("src1" -> 3000000L, "src2" -> 2000000L),
        defaultWeightE6 = 1000000L),
      // interleave key: same per-source rank window, same integer floor
      // division (// == Spark's div on positive operands)
      Some("""WITH r AS (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY doc_id, doc_id) AS BIGINT) AS within_rank
           FROM documents)
         SELECT doc_id, source, within_rank,
           CAST((within_rank * 1000000000) //
             (CASE WHEN source = 'src1' THEN 3000000
                   WHEN source = 'src2' THEN 2000000
                   ELSE 1000000 END) AS BIGINT) AS interleave_key
         FROM r""")),

    // THE COMPOSED CORPUS-BUILD PIPELINE: the chain a real
    // LLM-data user runs, as ONE query under ONE oracle — repetition
    // gate → repeated-span scrub → keep-best near-dup dedup →
    // split-leakage decontamination → temperature mix → sequence pack
    // → weighted interleave. Every stage consumes the PREVIOUS stage's
    // output (gate reasons on raw text, span df on survivors, dedup
    // bands on CLEANED lengths, mix strata on post-dedup counts...),
    // so the oracle replaying the full composition proves the operator
    // contracts compose without column/caching/eagerness surprises.
    Query("q145_corpus_pipeline", (s, dir) => {
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      // A. repetition gate (q130's thresholds): drop template-heavy docs
      val reasons = ops.Quality.repetitionSignals(docs, "doc_id", "text",
          topNs = Seq(2), dupN = 3, lineDelim = " ")
        .select(col("doc_id"), ops.Quality.repetitionGate(
          maxDupLineFracE6 = 970000L, maxDupLineCharFracE6 = 950000L,
          maxTop2CharFracE6 = 100000L, maxDupNCharFracE6 = 20000L,
          dupNCol = "dup3gram_char_frac_e6").as("reason"))
      // STAGE-BOUNDARY PERSISTS via ops.Pipeline.stage: each stage's output is consumed
      // several times by the next operator's internal plan (the scrub
      // alone references its input 3x) — unpersisted, the gate's
      // explode-aggregate would re-execute once per reference and the
      // whole chain goes combinatorial (measured: 28 s/rep -> the
      // staged chain below; see Pipeline.scala for the full lesson)
      val d1 = ops.Pipeline.stage("gate", docs.join(
        reasons.filter(col("reason") === "keep").select("doc_id"), Seq("doc_id")))
      // B. boilerplate scrub (q102's window df) over the SURVIVORS —
      // the hot-window set is recomputed on the gated corpus
      val d2 = ops.Pipeline.stage("scrub",
        ops.SpanScrub.scrubRepeatedSpans(d1, "doc_id", "text",
            k = 40, stride = 4, maxDf = 3)
          .select(col("doc_id"), col("clean_text"))
          .join(d1.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("clean_text").as("text")))
      // C. keep-best dedup: exact blocked Jaccard pairs on the CLEANED
      // text (bands from cleaned lengths), CC, best = longest survivor
      val banded = d2.withColumn("n_chars", length(col("text")).cast("long"))
      val pairs = ops.Dedup.ngramJaccardPairs(banded, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 9500L)
      // inline CC + keep-best (dedupByPairsScored): same keep policy as
      // the q101 artifact path, without pricing a labels parquet
      // round-trip inside the recurring pipeline
      val d3 = ops.Dedup.dedupByPairsScored(banded, "doc_id", "n_chars", pairs)
      // D. decontamination: portable split, then train docs sharing a
      // TEST doc's exact text are removed (bloom-prefiltered anti join)
      val withSplit = ops.Pipeline.stage("split",
        d3.withColumn("split", Sampling.splitExpr(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), portable = true)))
      val d4 = ops.Pipeline.stage("decontaminate", ops.Decontaminate.antiJoin(
        withSplit.filter(col("split") === "train"), col("text"),
        withSplit.filter(col("split") === "test"), col("text")))
      // E. temperature mix (√n targets) over the decontaminated train set
      val d5 = Sampling.temperatureMix(
        d4.select(col("doc_id"), col("lang"), col("text")),
        "lang", "doc_id", totalN = 200)
      // F. greedy sequence packing per (lang, shard) at 1024 tokens
      val toPack = d5.select(col("doc_id"), col("lang"),
        TF.tokenCount(col("text")).cast("long").as("token_ct"),
        Sampling.portableBucket(col("doc_id"), 8).as("shard"))
      val packed = ops.Pack.packGreedy(toPack, Seq("lang", "shard"),
        "doc_id", "token_ct", 1024L)
      // G. weighted interleave of the packed docs across languages
      Sampling.interleaveBySource(packed, "doc_id", "lang", "doc_id",
          Map("en" -> 3000000L, "zh" -> 2000000L), defaultWeightE6 = 1000000L)
        .select(col("doc_id"), col("lang"), col("token_ct"), col("shard"),
          col("tokens_before"), col("seq_id"), col("within_rank"),
          col("interleave_key"))
    },
      // incremental ≡ rebuild: the oracle is q135's full-rebuild SQL over
      // the COMPLETE changelog, byte-identical conventions
      // Replays the ENTIRE q145 composition stage by stage (gate -> scrub
      // -> keep-best CC dedup -> split decontamination -> temperature mix
      // -> pack -> interleave); every intermediate relation d1..d6 feeds
      // the next stage exactly as the Spark operators chain.
      Some("""WITH RECURSIVE d0 AS (SELECT doc_id, lang, text FROM documents),
         -- A. repetition gate (q130 replay over d0)
         rl AS (
           SELECT doc_id, line, count(*) AS c, max(length(line)) AS len
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS line FROM d0)
           WHERE length(line) > 0 GROUP BY 1, 2),
         rla AS (
           SELECT doc_id, sum(c) AS n_lines,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
             sum(c * len) AS line_chars,
             sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup_line_chars
           FROM rl GROUP BY 1),
         rw AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                    x -> length(x) > 0) AS words,
                  length(text) AS total_chars
                FROM d0),
         rg AS (
           SELECT doc_id, 2 AS n, array_to_string(words[i:i+1], ' ') AS gram
           FROM rw, unnest(range(1, len(words))) AS t(i)
           UNION ALL
           SELECT doc_id, 3, array_to_string(words[i:i+2], ' ')
           FROM rw, unnest(range(1, len(words) - 1)) AS t(i)),
         rgc AS (SELECT doc_id, n, gram, count(*) AS c, max(length(gram)) AS len
                 FROM rg GROUP BY 1, 2, 3),
         rga AS (SELECT doc_id,
                   max(CASE WHEN n = 2 THEN c * len END) AS top2_mass,
                   sum(CASE WHEN n = 3 AND c > 1 THEN c * len ELSE 0 END) AS dup_mass
                 FROM rgc GROUP BY 1),
         rsig AS (
           SELECT rw.doc_id,
             CAST(CASE WHEN COALESCE(rla.n_lines, 0) > 0
               THEN (1000000 * rla.dup_lines) // rla.n_lines ELSE 0 END AS BIGINT) AS dlf,
             CAST(CASE WHEN COALESCE(rla.line_chars, 0) > 0
               THEN (1000000 * rla.dup_line_chars) // rla.line_chars ELSE 0 END AS BIGINT) AS dlcf,
             CAST(LEAST(CASE WHEN rw.total_chars > 0
               THEN (1000000 * COALESCE(rga.top2_mass, 0)) // rw.total_chars
               ELSE 0 END, 1000000) AS BIGINT) AS t2f,
             CAST(LEAST(CASE WHEN rw.total_chars > 0
               THEN (1000000 * COALESCE(rga.dup_mass, 0)) // rw.total_chars
               ELSE 0 END, 1000000) AS BIGINT) AS d5f
           FROM rw LEFT JOIN rla USING (doc_id) LEFT JOIN rga USING (doc_id)),
         d1 AS MATERIALIZED (
           SELECT d0.* FROM d0 JOIN rsig USING (doc_id)
           WHERE NOT (dlf > 970000 OR dlcf > 950000 OR t2f > 100000 OR d5f > 20000)),
         -- B. span scrub (q102 replay over d1)
         sw AS MATERIALIZED (
           SELECT doc_id, CAST(o AS INT) AS o,
             substr(text, CAST(o AS INT) + 1, 40) AS win
           FROM (SELECT doc_id, text,
                   unnest(range(0, CAST(length(text) AS BIGINT) - 39, 4)) AS o
                 FROM d1 WHERE length(text) >= 40)),
         swdf AS MATERIALIZED (
           SELECT win FROM (SELECT DISTINCT doc_id, win FROM sw)
           GROUP BY win HAVING count(*) > 3),
         shot AS MATERIALIZED (SELECT DISTINCT sw.doc_id, sw.o FROM sw JOIN swdf USING (win)),
         spos AS (
           SELECT doc_id, text,
             CAST(unnest(range(1, CAST(length(text) AS BIGINT) + 1)) AS INT) AS p
           FROM d1),
         skept AS (
           SELECT spos.doc_id, spos.p, substr(spos.text, spos.p, 1) AS ch
           FROM spos
           WHERE NOT EXISTS (SELECT 1 FROM shot h
             WHERE h.doc_id = spos.doc_id AND spos.p > h.o AND spos.p <= h.o + 40)),
         d2 AS MATERIALIZED (
           SELECT d1.doc_id, d1.lang, coalesce(k.clean_text, '') AS text
           FROM d1 LEFT JOIN (
             SELECT doc_id, string_agg(ch, '' ORDER BY p) AS clean_text
             FROM skept GROUP BY doc_id) k USING (doc_id)),
         -- C. keep-best dedup (q101 replay over d2, bands on cleaned lengths)
         ct AS MATERIALIZED (
           SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
             CAST(floor(length(text) / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
               x -> length(x) > 0)) AS toks
           FROM d2),
         cp AS MATERIALIZED (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM ct a JOIN ct b
             ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
           WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
               * 10000) AS BIGINT) >= 9500),
         ce AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM cp UNION SELECT id_b, id_a FROM cp),
         creach AS (
           SELECT src AS id, src AS r FROM ce
           UNION
           SELECT ce.src, creach.r FROM ce JOIN creach ON ce.dst = creach.id),
         clabels AS (SELECT id, min(r) AS rep FROM creach GROUP BY id),
         cranked AS (
           SELECT t.doc_id, t.lang, t.n_chars,
             row_number() OVER (PARTITION BY l.rep
               ORDER BY t.n_chars DESC, t.doc_id) AS rk
           FROM ct t JOIN clabels l ON t.doc_id = l.id),
         d3 AS MATERIALIZED (
           SELECT d2.doc_id, d2.lang, d2.text
           FROM d2 JOIN cranked USING (doc_id) WHERE cranked.rk = 1
           UNION ALL
           SELECT d2.doc_id, d2.lang, d2.text
           FROM d2 WHERE doc_id NOT IN (SELECT id FROM clabels)),
         -- D. decontamination: portable split; train docs with a test doc's text removed
         dsplit AS (
           SELECT doc_id, lang, text,
             CASE WHEN b < 800000 THEN 'train'
                  WHEN b < 900000 THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT d3.*,
                   ((doc_id % 1000003) * 2654435761) % 1000000007 % 1000000 AS b
                 FROM d3)),
         d4 AS MATERIALIZED (
           SELECT tr.doc_id, tr.lang, tr.text
           FROM dsplit tr
           WHERE tr.split = 'train'
             AND NOT EXISTS (SELECT 1 FROM dsplit te
               WHERE te.split = 'test' AND te.text = tr.text)),
         -- E. temperature mix totalN=200 over d4
         mc AS (SELECT lang, count(*) AS n FROM d4 GROUP BY 1),
         mw AS (SELECT lang, n,
           CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS s FROM mc),
         mt AS (SELECT lang,
           least(n, (200 * s) // (SELECT sum(s) FROM mw)) AS target FROM mw),
         mr AS (SELECT d4.doc_id, d4.lang, d4.text,
           row_number() OVER (PARTITION BY d4.lang
             ORDER BY ((d4.doc_id % 1000003) * 2654435761) % 1000000007,
               d4.doc_id) AS rn
           FROM d4),
         d5 AS MATERIALIZED (
           SELECT mr.doc_id, mr.lang, mr.text FROM mr JOIN mt USING (lang)
           WHERE rn <= target),
         -- F. pack (q65 replay over d5, shard % 8, 1024 tokens)
         pt AS (
           SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               x -> length(x) > 0)) AS BIGINT) AS token_ct,
             ((doc_id % 1000003) * 2654435761) % 1000000007 % 8 AS shard
           FROM d5),
         pc AS (
           SELECT doc_id, lang, token_ct, shard,
             CAST(COALESCE(sum(token_ct) OVER (PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
           FROM pt),
         d6 AS MATERIALIZED (
           SELECT doc_id, lang, token_ct, shard, tokens_before,
             CAST(tokens_before // 1024 AS BIGINT) AS seq_id
           FROM pc),
         -- G. weighted interleave (q138 replay over d6)
         gr AS (
           SELECT d6.*,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY doc_id, doc_id) AS BIGINT) AS within_rank
           FROM d6)
         SELECT doc_id, lang, token_ct, CAST(shard AS BIGINT) AS shard,
           tokens_before, seq_id, within_rank,
           CAST((within_rank * 1000000000) //
             (CASE WHEN lang = 'en' THEN 3000000
                   WHEN lang = 'zh' THEN 2000000
                   ELSE 1000000 END) AS BIGINT) AS interleave_key
         FROM gr""")),
  )
}
