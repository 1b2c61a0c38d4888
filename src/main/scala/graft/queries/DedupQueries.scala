package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

import Shared._
import Artifacts._

/** Deduplication: exact, n-gram Jaccard, MinHash, SimHash, shared
  * windows, containment, fuzzy names and the composed dedup report. */
private[graft] object DedupQueries {

  val all: Seq[Query] = Seq(

    // Dedup family — exact (hash groupBy)
    Query("q19_dedup_exact", (s, dir) =>
      Dedup.exact(T(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT min(doc_id) AS rep_id, count(*) AS dup_ct
         FROM documents GROUP BY text""")),

    // Dedup family — blocked n-gram Jaccard (exact within blocks)
    Query("q30_dedup_ngram", (s, dir) => {
      val d = T(s, dir, "documents")
      Dedup.ngramJaccardPairs(d, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 8000L)
    }, Some("""WITH t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) AS jaccard_e4
         FROM t a JOIN t b
           ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
         WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) >= 8000""")),

    // Dedup family — MinHash + LSH (probabilistic; rows-only check)
    Query("q31_dedup_minhash", (s, dir) =>
      Dedup.minhashLshPairs(T(s, dir, "documents"), "doc_id", "text",
        shingleN = 5, k = 32, bands = 8, threshold = 0.5),
      // EXACT oracle for the LSH pipeline: exhaustive char-5-shingle
      // Jaccard (shingle equi-join counting form — the all-pairs
      // list_intersect form takes ~28 s in DuckDB, this ~1 s). Valid
      // because (a) the final stage exact-verifies candidates, so
      // precision is 1 by construction, and (b) recall measured 100% on
      // this corpus: every true pair has J ≥ 0.928, where the 8-band ×
      // 4-row banding misses with p < 1e-4 (all 25 sf0.01 truth pairs
      // matched offline; Jaccard over xxhash64'd shingles equals Jaccard
      // over shingles absent 64-bit collisions).
      Some("""WITH n AS (
           SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt
           FROM documents),
         s AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(length(nt) - 4, 1) + 1),
               i -> substr(nt, CAST(i AS INT), 5))) AS sh
           FROM n),
         e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM s),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sa, b.sz AS sb,
                  count(*) AS inter
           FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT id_a, id_b,
           CAST(floor(CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) * 10000) AS BIGINT) AS jaccard_e4
         FROM p
         WHERE CAST(floor(CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) * 10000) AS BIGINT) >= 5000""")),

    // Dedup family — INCREMENTAL MinHash+LSH: dedup a "new batch" (odd
    // doc_ids) against an indexed "historical corpus" (even doc_ids) —
    // the recurring-production shape where the corpus text is only
    // re-read for prefilter survivors. Exact oracle: q31's shingle-join
    // Jaccard restricted to pairs touching an odd id (same recall
    // precondition as q31 — identical banding over a subset of the same
    // pair universe).
    Query("q57_dedup_incremental", (s, dir) => {
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val fresh = docs.filter(col("doc_id") % 2 === 1)
      // the standing signature index is a memoized parquet artifact —
      // the query prices the RECURRING work (new-batch sign + band join
      // + survivor verify), matching the production shape where the
      // index is written nightly and read per batch
      Dedup.minhashLshIncremental(fresh, corpus,
        store(minhashIndex, s, dir), "doc_id", "text",
        shingleN = 5, k = 32, bands = 8, threshold = 0.5)
    },
      // q31's exact oracle restricted to pairs touching a new-batch (odd)
      // doc — the incremental pipeline must produce exactly the full-corpus
      // result minus corpus-corpus pairs.
      Some("""WITH n AS (
           SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt
           FROM documents),
         s AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(length(nt) - 4, 1) + 1),
               i -> substr(nt, CAST(i AS INT), 5))) AS sh
           FROM n),
         e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS g FROM s),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sa, b.sz AS sb,
                  count(*) AS inter
           FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT id_a, id_b,
           CAST(floor(CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) * 10000) AS BIGINT) AS jaccard_e4
         FROM p
         WHERE CAST(floor(CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE) * 10000) AS BIGINT) >= 5000
           AND (id_a % 2 = 1 OR id_b % 2 = 1)""")),

    // Dedup family — SimHash near-dup. Portable bit mix → the DuckDB
    // oracle replays the 64-bit signature (md5-head token hash +
    // multiplicative-mod per-bit mix) and the exact pair list.
    Query("q32_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), "doc_id", "text",
        maxHamming = 12, portable = true, partialScreen = true),
      // EXACT oracle for the portable simhash: recompute the 64 ±1
      // bit-counters from the md5-head token hash and the same per-bit
      // multipliers g^(j+1) mod p (the VALUES list below is generated
      // from Dedup.SimhashMults — every product < p² < 2^60, exact in
      // BIGINT), pack the four 16-bit chunks, and replay the
      // chunk-blocked hamming join. Chunk values, not a packed 64-bit
      // long, so no 1<<63 sign games in either engine.
      Some(s"""WITH m(j, mult) AS (VALUES ${
           ops.Dedup.SimhashMults.zipWithIndex
             .map { case (mu, j) => s"($j, ${mu}::BIGINT)" }.mkString(", ")
         }),
         t AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007 AS ti
           FROM t),
         c AS (
           SELECT doc_id, j,
             sum(CASE WHEN ((ti * mult) % 1000000007) % 2 = 1
                 THEN 1 ELSE -1 END) AS cnt
           FROM h CROSS JOIN m
           GROUP BY doc_id, j),
         s AS (
           SELECT doc_id,
             sum(CASE WHEN j BETWEEN 0  AND 15 AND cnt > 0 THEN (1::BIGINT << CAST(j AS INT))      ELSE 0 END) AS ch0,
             sum(CASE WHEN j BETWEEN 16 AND 31 AND cnt > 0 THEN (1::BIGINT << CAST(j - 16 AS INT)) ELSE 0 END) AS ch1,
             sum(CASE WHEN j BETWEEN 32 AND 47 AND cnt > 0 THEN (1::BIGINT << CAST(j - 32 AS INT)) ELSE 0 END) AS ch2,
             sum(CASE WHEN j BETWEEN 48 AND 63 AND cnt > 0 THEN (1::BIGINT << CAST(j - 48 AS INT)) ELSE 0 END) AS ch3
           FROM c GROUP BY doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.ch0, b.ch0)) + bit_count(xor(a.ch1, b.ch1))
               + bit_count(xor(a.ch2, b.ch2)) + bit_count(xor(a.ch3, b.ch3)) AS hamming
           FROM s a JOIN s b ON a.doc_id < b.doc_id
             AND (a.ch0 = b.ch0 OR a.ch1 = b.ch1 OR a.ch2 = b.ch2 OR a.ch3 = b.ch3))
         WHERE hamming <= 12""")),

    // the dedup deliverable: near-dup pairs → connected components →
    // one (member, representative) row per clustered doc, via the
    // COMPOSED report artifact (pairs+CC once, parquet-backed; q93 is a
    // derived view of the same artifact). Exact oracle: DuckDB WITH
    // RECURSIVE transitive closure + min reachable id.
    Query("q52_dedup_clusters", (s, dir) =>
      store.rebuild(dedupLabels, s, dir).clusters
        .select(col("id").as("doc_id"), col("label").as("cluster_rep")),
      // EXACT oracle for the clustering deliverable: q30-style pair
      // enumeration at the q52 threshold, then connected components as a
      // recursive transitive closure — reach(id, r) grows by one edge hop
      // per iteration (UNION dedups, so it terminates at the closure) and
      // min(r) per id is exactly min-label propagation's fixpoint.
      Some("""WITH RECURSIVE t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
           WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) >= 9500),
         e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
         SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id""")),

    // Dedup observability — the cluster-SIZE distribution (how much
    // mass dedup will remove, the number a pipeline operator actually
    // watches): a derived VIEW over q52's report artifact — two tiny
    // aggregations over the labels table, no pair/CC recompute.
    Query("q93_cluster_size_histogram", (s, dir) =>
      store(dedupLabels, s, dir).sizeHistogram,
      // q52's transitive closure regrouped into the size histogram
      Some("""WITH RECURSIVE t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
           WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) >= 9500),
         e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         labels AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         sizes AS (SELECT rep, count(*) AS cluster_size FROM labels GROUP BY rep)
         SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1""")),

    // Dedup family — prefix-filtered (AllPairs/PPJoin) exact Jaccard:
    // same output contract as q30, candidate join restricted to each
    // doc's rarest |A|−⌈t·|A|⌉+1 tokens — the sparse-corpus /
    // stopword-heavy scale path, under the same exact oracle
    Query("q56_dedup_ngram_prefix", (s, dir) => {
      val d = T(s, dir, "documents")
      Dedup.ngramJaccardPairsPrefix(d, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 8000L)
    },
      // exact same semantics as q30 (prefix filtering is output-preserving)
      Some("""WITH t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) AS jaccard_e4
         FROM t a JOIN t b
           ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
         WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) >= 8000""")),

    // Dedup family — measured-statistic dispatch between the counting
    // join (q30's form) and the prefix filter (q56's form): one cheap
    // Σf² aggregate decides; output identical either way, so the same
    // exact oracle applies (see Dedup.ngramJaccardPairsAuto + SCALE.md)
    Query("q79_dedup_ngram_auto", (s, dir) => {
      val d = T(s, dir, "documents")
      Dedup.ngramJaccardPairsAuto(d, "doc_id", "text",
        Seq(col("lang"), floor(col("n_chars") / 100).cast("long")), 8000L)
    },
      // exact same semantics as q30 (the dispatch is purely physical)
      Some("""WITH t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) AS jaccard_e4
         FROM t a JOIN t b
           ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
         WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) >= 8000""")),

    // Dedup family — exact shared-substring pairs (windows-at-stride
    // reformulation of suffix-array substring dedup): docs sharing a
    // 40-char window sampled every 4 chars. Hash-bucketed candidates
    // (8-byte fingerprints in the exchange, never text), exact
    // window-string verify on candidate docs only.
    Query("q80_shared_window_pairs", (s, dir) =>
      Dedup.sharedWindowPairs(T(s, dir, "documents"), "doc_id", "text",
        k = 40, stride = 4),
      // exact by construction: candidate fingerprints can only ADD pairs
      // (collisions), the window-string verify removes them — so the
      // oracle is the plain windows-at-stride self-join. range() end is
      // exclusive: range(0, len-39, 4) ≡ Spark sequence(0, len-40, 4).
      Some("""WITH w AS (
           SELECT DISTINCT doc_id, substr(text, CAST(o AS INT) + 1, 40) AS win
           FROM (SELECT doc_id, text,
                   unnest(range(0, CAST(length(text) AS BIGINT) - 39, 4)) AS o
                 FROM documents WHERE length(text) >= 40))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_ct
         FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
         GROUP BY 1, 2""")),

    // Dedup family — exact blocked containment (asymmetric Jaccard):
    // the subset/quote detector symmetric Jaccard cannot see (a short
    // doc inside a long one). Blocks on language only — a length band
    // would split exactly the pairs this exists to find.
    Query("q83_containment_pairs", (s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), "doc_id", "text",
        Seq(col("lang")), 9000L, minSize = 30),
      Some("""WITH t AS (
           SELECT doc_id, lang,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents),
         f AS (SELECT * FROM t WHERE len(toks) >= 30)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) * 10000.0
             / CAST(least(len(a.toks), len(b.toks)) AS DOUBLE)) AS BIGINT) AS containment_e4
         FROM f a JOIN f b ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) * 10000.0
             / CAST(least(len(a.toks), len(b.toks)) AS DOUBLE)) AS BIGINT) >= 9000""")),

    // The production KEEP-POLICY under the exact gate: one survivor per
    // q52 near-dup cluster, chosen by score (longest doc wins, ties by
    // id) — a derived view over the shared report artifact, so the pair
    // + CC pipeline is not recomputed. Unclustered docs pass through an
    // anti join untouched; only the clustered minority is windowed
    // (plan-locked for dedupByPairsScored, same core).
    Query("q101_dedup_keep_best", (s, dir) =>
      store(dedupLabels, s, dir)
        .keepBest(T(s, dir, "documents"), "doc_id", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars")),
      // q52's recursive transitive closure + keep-policy rank: the best-
      // scoring member (n_chars desc, doc_id asc) survives per cluster;
      // docs in no cluster pass through
      Some("""WITH RECURSIVE t AS (
           SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS band,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS toks
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a JOIN t b
             ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
           WHERE CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) * 10000) AS BIGINT) >= 9500),
         e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         labels AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         ranked AS (
           SELECT d.doc_id, d.lang, d.n_chars,
             row_number() OVER (PARTITION BY l.rep
               ORDER BY d.n_chars DESC, d.doc_id) AS rk
           FROM documents d JOIN labels l ON d.doc_id = l.id)
         SELECT doc_id, lang, n_chars FROM ranked WHERE rk = 1
         UNION ALL
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id FROM labels)""")),

    // SemDeDup: drop every vector with a lower-id same-cell
    // neighbor at cos_e4 >= 3000 — pair scoring IS q90's
    // cosinePairsLabelAuto (one definition, one oracle-verified fold).
    Query("q110_semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(T(s, dir, "embeddings"), "label", 3000L)
        .select(col("vec_id"), col("label")),
      // q90's pair fold verbatim, then the one-pass dominated rule:
      // a vector is dropped iff some lower-id same-label neighbor sits
      // at cos_e4 >= 3000
      Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(floor(
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(b.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y)))
               * 10000) AS BIGINT) AS cos_e4
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT vec_id, label FROM e
         WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos_e4 >= 3000)""")),

    // Paragraph-level dedup: the corpus text has no paragraph
    // structure, so it is synthesized inline (both engines build the
    // identical string): a license-header paragraph shared by ALL docs,
    // two content chunks (every third doc repeats its first chunk —
    // a within-doc dup), and a shared footer. Only the corpus-first
    // occurrence of each paragraph survives.
    Query("q114_paragraph_dedup", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val nn = "\n\n"
      val synth = concat(
        lit("Licensed under the Apache License Version 2"), lit(nn),
        substring(col("text"), 1, 70), lit(nn),
        when(col("doc_id") % 3 === 0, substring(col("text"), 1, 70))
          .otherwise(substring(col("text"), 71, 70)), lit(nn),
        lit("standard footer text"))
      ops.SpanScrub.dedupParagraphs(
        d.select(col("doc_id"), synth.as("text")), "doc_id", "text")
    },
      // replays the keep-first rule on paragraph STRINGS (Spark keys on
      // xxhash64 — the hashed-token contract): first occurrence by
      // (doc_id, pos), later occurrences killed, text rebuilt by
      // position-filtered rejoin
      Some("""WITH d0 AS (
           SELECT doc_id,
             'Licensed under the Apache License Version 2' || chr(10) || chr(10) ||
             substring(text, 1, 70) || chr(10) || chr(10) ||
             CASE WHEN doc_id % 3 = 0 THEN substring(text, 1, 70)
                  ELSE substring(text, 71, 70) END ||
             chr(10) || chr(10) || 'standard footer text' AS text
           FROM documents),
         w AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS paras FROM d0),
         p AS (
           SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, paras[i] AS para
           FROM (SELECT doc_id, paras, unnest(range(1, len(paras) + 1)) AS i FROM w)),
         el AS (SELECT * FROM p WHERE length(para) >= 1),
         m AS (
           SELECT doc_id, pos,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
           FROM el),
         kill AS (
           SELECT doc_id, list(pos ORDER BY pos) AS killed
           FROM m WHERE rn > 1 GROUP BY 1)
         SELECT w.doc_id,
           CASE WHEN k.killed IS NULL
             THEN array_to_string(w.paras, chr(10) || chr(10))
             -- COALESCE: DuckDB's array_to_string of an EMPTY list is
             -- NULL; an all-paragraphs-killed doc must be '' (Spark's
             -- array_join semantics)
             ELSE COALESCE(array_to_string(
               list_transform(
                 list_filter(
                   list_transform(range(1, len(w.paras) + 1),
                     i -> {'p': w.paras[i], 'i': CAST(i - 1 AS BIGINT)}),
                   s -> NOT list_contains(k.killed, s.i)),
                 s -> s.p),
               chr(10) || chr(10)), '') END AS clean_text,
           CAST(COALESCE(len(k.killed), 0) AS BIGINT) AS removed_paras
         FROM w LEFT JOIN kill k USING (doc_id)""")),

    // Entity resolution: blocked edit-distance pairs over the DISTINCT
    // part-name dictionary (block = the noun token, the q31-style
    // exact-as-specified recall contract). Exact oracle: DuckDB's
    // levenshtein is the same textbook DP distance.
    Query("q116_fuzzy_name_pairs", (s, dir) =>
      ops.FuzzyJoin.dictionaryPairs(
        T(s, dir, "part"), "p_name", maxDist = 4,
        blockKey = v => coalesce(split(v, " ").getItem(1), lit(""))),
      // replays the identical dictionary + noun-token blocking + length
      // screen; levenshtein is the same textbook edit distance on both
      // engines
      Some("""WITH dict AS (
           SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL),
         b AS (SELECT v, split_part(v, ' ', 2) AS blk FROM dict)
         SELECT x.v AS val_a, y.v AS val_b,
           CAST(levenshtein(x.v, y.v) AS INT) AS dist
         FROM b x JOIN b y USING (blk)
         WHERE x.v < y.v
           AND abs(length(x.v) - length(y.v)) <= 4
           AND levenshtein(x.v, y.v) <= 4""")),

    // Jaro-Winkler record linkage over the same name dictionary as
    // q116 — the custom codegen'd expression (Spark has no builtin)
    // pinned bit-for-bit to DuckDB's operation order, gated at the
    // e6-floored integer per the engine doctrine.
    Query("q118_fuzzy_jw_pairs", (s, dir) =>
      ops.FuzzyJoin.dictionaryPairsJaro(
        T(s, dir, "part"), "p_name", minSimE6 = 800000L,
        blockKey = v => coalesce(split(v, " ").getItem(1), lit(""))),
      // DuckDB's jaro_winkler_similarity is the same rapidfuzz-order
      // computation the codegen'd expression replays — floors agree
      // bit-for-bit
      Some("""WITH dict AS (
           SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL),
         b AS (SELECT v, split_part(v, ' ', 2) AS blk FROM dict)
         SELECT val_a, val_b, jw_e6 FROM (
           SELECT x.v AS val_a, y.v AS val_b,
             CAST(floor(jaro_winkler_similarity(x.v, y.v) * 1000000.0) AS BIGINT) AS jw_e6
           FROM b x JOIN b y USING (blk)
           WHERE x.v < y.v)
         WHERE jw_e6 >= 800000""")),

    // Cross-table linkage: a synthesized dirty dictionary (3rd char
    // deleted from every part name) resolved against the clean name
    // dim — best JW match per dirty value via combinable max(struct).
    // Exact oracle: DuckDB replays corruption, blocking, scoring, and
    // the (score DESC, candidate DESC) argmax.
    Query("q119_fuzzy_best_match", (s, dir) => {
      val part = T(s, dir, "part")
      val dirty = part.select(
        concat(substring(col("p_name"), 1, 2),
          expr("substring(p_name, 4)")).as("name"))
      ops.FuzzyJoin.bestMatch(dirty, "name", part, "p_name",
        minSimE6 = 700000L, blockKey = v => coalesce(split(v, " ").getItem(1), lit("")))
    },
      // corruption, blocking, scoring, and argmax replayed; ties break
      // toward the lexicographically greatest candidate (the documented
      // max(struct) contract)
      Some("""WITH dirty AS (
           SELECT DISTINCT substr(p_name, 1, 2) || substr(p_name, 4) AS value
           FROM part WHERE p_name IS NOT NULL),
         clean AS (SELECT DISTINCT p_name AS matched FROM part WHERE p_name IS NOT NULL),
         scored AS (
           SELECT d.value, c.matched,
             CAST(floor(jaro_winkler_similarity(d.value, c.matched) * 1000000.0) AS BIGINT) AS jw_e6
           FROM (SELECT value, split_part(value, ' ', 2) AS blk FROM dirty) d
           JOIN (SELECT matched, split_part(matched, ' ', 2) AS blk FROM clean) c USING (blk))
         SELECT value, matched, jw_e6 FROM (
           SELECT value, matched, jw_e6,
             row_number() OVER (PARTITION BY value ORDER BY jw_e6 DESC, matched DESC) AS rn
           FROM scored WHERE jw_e6 >= 700000)
         WHERE rn = 1""")),

    // Fuzzy canonicalization over q116's pair graph — this puts the
    // connected-components loop itself under an exact oracle: DuckDB
    // computes the same components via a recursive-CTE transitive
    // closure and the same lexicographic-min canonical per component.
    Query("q127_fuzzy_canonicalize", (s, dir) =>
      ops.FuzzyJoin.canonicalize(
        T(s, dir, "part"), "p_name", maxDist = 4,
        blockKey = v => coalesce(split(v, " ").getItem(1), lit(""))),
      // transitive closure by recursive CTE == the engine's min-label CC
      // fixpoint; canonical = min VALUE over the component on both sides
      Some("""WITH RECURSIVE
         dict AS (SELECT DISTINCT p_name AS v FROM part WHERE p_name IS NOT NULL),
         b AS (SELECT v, split_part(v, ' ', 2) AS blk FROM dict),
         e0 AS (SELECT x.v AS a, y.v AS bb FROM b x JOIN b y USING (blk)
                WHERE x.v < y.v AND abs(length(x.v) - length(y.v)) <= 4
                  AND levenshtein(x.v, y.v) <= 4),
         edges AS (SELECT a, bb FROM e0 UNION ALL SELECT bb, a FROM e0),
         reach(v, l) AS (
           SELECT v, v FROM dict
           UNION
           SELECT e.bb, r.l FROM reach r JOIN edges e ON r.v = e.a)
         SELECT v AS value, min(l) AS canonical FROM reach GROUP BY 1""")),
  )
}
