package graft
package queries

/** SQL fragments that more than one oracle interpolates. They live in
  * one object, declared before any use: an oracle `val` in a family
  * object that read a fragment declared later in the same object would
  * read `null`.
  */
private[graft] object Sql {

  // Shared CTE prefix for the q164/q165 oracles: quantize (float
  // widened to double, floor(x*1000)+1000 — non-negative so `//` ==
  // floor == Spark's div) → init = the 8 smallest vec_ids → TWO
  // unrolled Lloyd's rounds → final assignment `af(vec_id, cell,
  // dist)`. Every distance/argmin/mean is BIGINT-exact, so the
  // assignment replay is hash-exact, not recall-gated.
  val kmeansCtes: String =
    """q AS (
         SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x * 1000) AS BIGINT) + 1000) AS v
         FROM embeddings),
       dims AS (SELECT unnest(range(1, 65)) AS j),
       c0 AS (
         SELECT CAST(rn - 1 AS BIGINT) AS cell, v FROM (
           SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM q)
         WHERE rn <= 8),
       d1 AS (
         SELECT q.vec_id, c.cell,
           CAST(list_sum(list_transform(range(1, 65),
             j -> (q.v[j] - c.v[j]) * (q.v[j] - c.v[j]))) AS BIGINT) AS dist
         FROM q CROSS JOIN c0 c),
       a1 AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           FROM d1) WHERE rn = 1),
       s1 AS (
         SELECT a.cell, d.j, CAST(SUM(q.v[d.j]) // COUNT(*) AS BIGINT) AS s
         FROM a1 a JOIN q USING (vec_id) CROSS JOIN dims d
         GROUP BY a.cell, d.j),
       c1 AS (SELECT cell, list(s ORDER BY j) AS v FROM s1 GROUP BY cell),
       d2 AS (
         SELECT q.vec_id, c.cell,
           CAST(list_sum(list_transform(range(1, 65),
             j -> (q.v[j] - c.v[j]) * (q.v[j] - c.v[j]))) AS BIGINT) AS dist
         FROM q CROSS JOIN c1 c),
       a2 AS (
         SELECT vec_id, cell FROM (
           SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           FROM d2) WHERE rn = 1),
       s2 AS (
         SELECT a.cell, d.j, CAST(SUM(q.v[d.j]) // COUNT(*) AS BIGINT) AS s
         FROM a2 a JOIN q USING (vec_id) CROSS JOIN dims d
         GROUP BY a.cell, d.j),
       c2 AS (SELECT cell, list(s ORDER BY j) AS v FROM s2 GROUP BY cell),
       df2 AS (
         SELECT q.vec_id, c.cell,
           CAST(list_sum(list_transform(range(1, 65),
             j -> (q.v[j] - c.v[j]) * (q.v[j] - c.v[j]))) AS BIGINT) AS dist
         FROM q CROSS JOIN c2 c),
       af AS (
         SELECT vec_id, cell, dist FROM (
           SELECT vec_id, cell, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           FROM df2) WHERE rn = 1)"""
  // q180's full phrase replay — shared verbatim by q187: the
  // incremental positional-index path's oracle IS the one-shot answer
  val phraseOracle: String =
    """WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
               x -> length(x) > 0) AS toks
           FROM documents),
         m2 AS (
           SELECT 'part filter' AS phrase, doc_id,
             CAST(len(list_filter(range(1, len(toks)),
               i -> toks[i] = 'part' AND toks[i+1] = 'filter'))
               AS BIGINT) AS n_hits
           FROM d),
         m3 AS (
           SELECT 'big order scan' AS phrase, doc_id,
             CAST(len(list_filter(range(1, len(toks) - 1),
               i -> toks[i] = 'big' AND toks[i+1] = 'order'
                 AND toks[i+2] = 'scan')) AS BIGINT) AS n_hits
           FROM d)
         SELECT phrase, doc_id, n_hits
         FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m3)
         WHERE n_hits >= 1"""

  // Floor division in DuckDB SQL, exactly as the Spark side computes
  // it (QualityClassifier.fdiv): subtract the non-negative mod, then
  // divide — exactly divisible, so `//`'s truncation semantics can't
  // differ from Spark's
  def fdivSql(a: String, b: String): String =
    s"(($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b)"

  /** The q190-q192 training replay: two unrolled gradient rounds of
    * the e6 fixed-point logistic regression (hard-sigmoid link, floor
    * division) over `docSrc` (a table name or filtered subquery),
    * ending with `zt(doc_id, z)` = held-out margins. String-keyed
    * where Spark is hash-keyed (the q113 contract); every other op is
    * integer arithmetic both engines replay bit-for-bit.
    *
    * Parameterized by the fixture MARKERS (q196's drift regime
    * swaps qmk/jmk for xmk/zmk) and a CTE-name PREFIX so one query can
    * unroll TWO independent trainings (q196 replays the baseline
    * training AND the post-drift retrain side by side).
    */
  def lrOracleCtes(docSrc: String, posMk: String = "qmk",
                           negMk: String = "jmk", p: String = ""): String = {
    val sig = "greatest(0, least(1000000, (" + fdivSql("z", "4") + ") + 500000))"
    s"""${p}aug AS (
           SELECT doc_id, lang,
             lower(text) || CASE WHEN doc_id % 5 = 4 THEN ''
               WHEN doc_id % 4 <= 1 THEN ' $posMk $posMk $posMk'
               ELSE ' $negMk $negMk $negMk' END AS text,
             CAST(CASE WHEN doc_id % 4 <= 1 THEN 1 ELSE 0 END AS BIGINT) AS y
           FROM $docSrc),
         ${p}cnt AS (
           SELECT doc_id, y, w, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT doc_id, y,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                     x -> length(x) > 0)) AS w
                 FROM ${p}aug)
           GROUP BY 1, 2, 3),
         ${p}tr AS (SELECT * FROM ${p}cnt WHERE doc_id % 2 = 0),
         ${p}gden AS (SELECT 16 * CAST(count(DISTINCT doc_id) AS BIGINT) AS g FROM ${p}tr),
         ${p}e1 AS (SELECT DISTINCT doc_id, 500000 - 1000000 * y AS e FROM ${p}tr),
         ${p}gw1 AS (SELECT w, CAST(sum(e * c) AS BIGINT) AS gr
                 FROM ${p}tr JOIN ${p}e1 USING (doc_id) GROUP BY 1),
         ${p}w1 AS (SELECT w, -(${fdivSql("gr", "g")}) AS wt FROM ${p}gw1 CROSS JOIN ${p}gden),
         ${p}b1 AS (SELECT -(${fdivSql(s"(SELECT CAST(sum(e) AS BIGINT) FROM ${p}e1)", "g")}) AS b FROM ${p}gden),
         ${p}z2 AS (SELECT t.doc_id, any_value(t.y) AS y,
                  (SELECT b FROM ${p}b1) + CAST(sum(t.c * ${p}w1.wt) AS BIGINT) AS z
                FROM ${p}tr t JOIN ${p}w1 USING (w) GROUP BY t.doc_id),
         ${p}e2 AS (SELECT doc_id, $sig - 1000000 * y AS e FROM ${p}z2),
         ${p}gw2 AS (SELECT w, CAST(sum(e * c) AS BIGINT) AS gr
                 FROM ${p}tr JOIN ${p}e2 USING (doc_id) GROUP BY 1),
         ${p}w2 AS (SELECT ${p}w1.w, ${p}w1.wt - (${fdivSql(s"coalesce(${p}gw2.gr, 0)", "g")}) AS wt
                FROM ${p}w1 LEFT JOIN ${p}gw2 USING (w) CROSS JOIN ${p}gden),
         ${p}b2 AS (SELECT (SELECT b FROM ${p}b1)
                  - (${fdivSql(s"(SELECT CAST(sum(e) AS BIGINT) FROM ${p}e2)", "g")}) AS b FROM ${p}gden),
         ${p}te AS (SELECT * FROM ${p}cnt WHERE doc_id % 2 = 1),
         ${p}zt AS (SELECT t.doc_id, any_value(t.y) AS y,
                  (SELECT b FROM ${p}b2) + CAST(sum(t.c * coalesce(${p}w2.wt, 0)) AS BIGINT) AS z
                FROM ${p}te t LEFT JOIN ${p}w2 USING (w) GROUP BY t.doc_id)"""
  }

  val lrSigSql: String =
    "greatest(0, least(1000000, (" + fdivSql("z", "4") + ") + 500000))"

  // q182's full DSIR replay — shared verbatim by q188: the additive
  // raw-count-merge path's oracle IS the one-shot training answer
  val dsirOracle: String =
    """WITH d AS (
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
         pos AS (SELECT doc_id, unnest(toks) AS w FROM d WHERE doc_id % 10 <> 0)
         SELECT doc_id, CAST(sum(lam_e6) AS BIGINT) AS dsir_e6,
           CAST(count(*) AS BIGINT) AS n_pos, CAST(0 AS BIGINT) AS n_unseen
         FROM pos JOIN lam USING (w) GROUP BY 1"""

  // q113's full Stupid-Backoff replay — shared verbatim by q183: the
  // additive count-merge path's oracle IS the one-shot training answer
  val lmQualityOracle: String =
    """WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         r AS (SELECT toks FROM d WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id, toks FROM d WHERE doc_id % 10 <> 0),
         uni AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cu
           FROM (SELECT unnest(toks) AS w FROM r) GROUP BY 1),
         stats AS (SELECT CAST(sum(cu) + count(*) AS DOUBLE) AS nv FROM uni),
         bi AS (
           SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
           FROM (SELECT toks[i] AS w1, toks[i+1] AS w2
                 FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM r))
           GROUP BY 1, 2),
         biu AS (
           SELECT bi.w1, bi.w2, bi.cb, uni.cu AS cu1
           FROM bi JOIN uni ON bi.w1 = uni.w),
         p AS (
           SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
         j AS (
           SELECT p.doc_id, biu.cb, biu.cu1, u2.cu AS cu2
           FROM p LEFT JOIN biu ON p.w1 = biu.w1 AND p.w2 = biu.w2
                  LEFT JOIN uni u2 ON p.w2 = u2.w),
         s AS (
           SELECT doc_id,
             CAST(floor(1000000.0 * CASE
               WHEN cb IS NOT NULL THEN ln(CAST(cb AS DOUBLE) / CAST(cu1 AS DOUBLE))
               ELSE ln(0.4 * (CAST(COALESCE(cu2, 0) + 1 AS DOUBLE) / (SELECT nv FROM stats)))
             END) AS BIGINT) AS lnp_e6,
             CASE WHEN cb IS NULL THEN 1 ELSE 0 END AS bo
           FROM j)
         SELECT doc_id, CAST(sum(lnp_e6) AS BIGINT) AS ll_e6,
           CAST(count(*) AS BIGINT) AS n_pos, CAST(sum(bo) AS BIGINT) AS n_backoff
         FROM s GROUP BY 1"""

  // q107's full BM25 replay — shared verbatim by q179: the
  // incremental index path's oracle IS the one-shot corpus answer
  val bm25Oracle: String =
    """WITH d AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
         stats AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM base),
         tf AS (
           SELECT doc_id, dl, term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base)
           WHERE term IN ('dup', 'spark', 'vector', 'stream', 'hash', 'scan')
           GROUP BY 1, 2, 3),
         idf AS (
           SELECT term,
             CAST(floor(1000000.0 * ln(
               (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5)
                 / (count(*) + 0.5) + 1.0)) AS BIGINT) AS idf_e6
           FROM tf GROUP BY term),
         parts AS (
           SELECT tf.doc_id,
             CAST(floor(CAST(idf.idf_e6 AS DOUBLE) *
               ((tf.tf * (1.2 + 1.0)) /
                 (tf.tf + 1.2 * (1.0 - 0.75) +
                   1.2 * 0.75 * tf.dl / (SELECT avgdl FROM stats))) * 1000.0)
               AS BIGINT) AS part_e9
           FROM tf JOIN idf USING (term)),
         s AS (
           SELECT doc_id, CAST(sum(part_e9) AS BIGINT) AS score_e9,
             count(*) AS n_terms
           FROM parts GROUP BY 1)
         SELECT doc_id, score_e9, n_terms FROM s
         QUALIFY row_number() OVER (ORDER BY score_e9 DESC, doc_id) <= 20"""

  // q117's sequential 4-merge replay — shared verbatim by q175:
  // the batched-merge path's oracle IS the sequential answer
  val bpeSequentialOracle: String =
    """WITH w AS (
           SELECT word, count(*) AS freq FROM (
             SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
               x -> length(x) > 0 AND NOT contains(x, chr(1)))) AS word
             FROM documents) GROUP BY 1),
         d0 AS (SELECT array_to_string(list_transform(string_split(word, ''), c -> chr(1) || c || chr(1)), '') AS sym, freq FROM w),
         p1 AS (SELECT z[1] AS x, z[2] AS y, sum(freq) AS ct
                FROM (SELECT freq, unnest(list_zip(list_slice(toks, 1, len(toks)-1), list_slice(toks, 2, len(toks)))) AS z
                      FROM (SELECT string_split(trim(sym, chr(1)), chr(1) || chr(1)) AS toks, freq FROM d0))
                GROUP BY 1, 2 ORDER BY ct DESC, x ASC, y ASC LIMIT 1),
         d1 AS (SELECT replace(sym, (SELECT chr(1) || x || chr(1) || chr(1) || y || chr(1) FROM p1), (SELECT chr(1) || x || y || chr(1) FROM p1)) AS sym, freq FROM d0),
         p2 AS (SELECT z[1] AS x, z[2] AS y, sum(freq) AS ct
                FROM (SELECT freq, unnest(list_zip(list_slice(toks, 1, len(toks)-1), list_slice(toks, 2, len(toks)))) AS z
                      FROM (SELECT string_split(trim(sym, chr(1)), chr(1) || chr(1)) AS toks, freq FROM d1))
                GROUP BY 1, 2 ORDER BY ct DESC, x ASC, y ASC LIMIT 1),
         d2 AS (SELECT replace(sym, (SELECT chr(1) || x || chr(1) || chr(1) || y || chr(1) FROM p2), (SELECT chr(1) || x || y || chr(1) FROM p2)) AS sym, freq FROM d1),
         p3 AS (SELECT z[1] AS x, z[2] AS y, sum(freq) AS ct
                FROM (SELECT freq, unnest(list_zip(list_slice(toks, 1, len(toks)-1), list_slice(toks, 2, len(toks)))) AS z
                      FROM (SELECT string_split(trim(sym, chr(1)), chr(1) || chr(1)) AS toks, freq FROM d2))
                GROUP BY 1, 2 ORDER BY ct DESC, x ASC, y ASC LIMIT 1),
         d3 AS (SELECT replace(sym, (SELECT chr(1) || x || chr(1) || chr(1) || y || chr(1) FROM p3), (SELECT chr(1) || x || y || chr(1) FROM p3)) AS sym, freq FROM d2),
         p4 AS (SELECT z[1] AS x, z[2] AS y, sum(freq) AS ct
                FROM (SELECT freq, unnest(list_zip(list_slice(toks, 1, len(toks)-1), list_slice(toks, 2, len(toks)))) AS z
                      FROM (SELECT string_split(trim(sym, chr(1)), chr(1) || chr(1)) AS toks, freq FROM d3))
                GROUP BY 1, 2 ORDER BY ct DESC, x ASC, y ASC LIMIT 1)
         SELECT * FROM (
           SELECT CAST(1 AS INT) AS rank, x AS lhs, y AS rhs, x || y AS merged, CAST(ct AS BIGINT) AS pair_ct FROM p1
           UNION ALL SELECT 2, x, y, x || y, CAST(ct AS BIGINT) FROM p2
           UNION ALL SELECT 3, x, y, x || y, CAST(ct AS BIGINT) FROM p3
           UNION ALL SELECT 4, x, y, x || y, CAST(ct AS BIGINT) FROM p4)
         WHERE pair_ct >= 2"""
}
