package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

import Shared._

/** Privacy: PII redaction, k-anonymity, frequency thresholds,
  * l-diversity and their composition. */
private[graft] object PrivacyQueries {

  val all: Seq[Query] = Seq(

    // Training-pipeline utility — PII redaction. The synthetic corpus
    // carries no PII, so the query injects a deterministic email/IP/
    // phone suffix per doc and redacts it — exercising all three
    // patterns on real text while staying oracle-replayable.
    Query("q67_pii_redact", (s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
        pmod(col("doc_id"), lit(256L)), lit(".7 tel 555-867-5309"))
      T(s, dir, "documents").select(
        col("doc_id"), TF.redactPii(injected).as("redacted"))
    },
      // Same regex chain, RE2/Java-shared syntax; 'g' = replace-all to
      // match Spark's regexp_replace semantics.
      Some("""SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           text || ' contact user' || doc_id || '@example.com or 10.0.' || (doc_id % 256) || '.7 tel 555-867-5309',
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM documents""")),

    // K-ANONYMITY SMALL-CELL SUPPRESSION: the release-side gate
    // for published corpus statistics — rows whose (lang, length-band)
    // cohort is smaller than k=10 get their quasi columns replaced by
    // the '*' marker, pooling them into one residual; totals exact,
    // no cohort under k distinguishable. Corpus never shuffles: one
    // cell-count exchange, broadcast join back.
    Query("q168_k_anonymity", (s, dir) =>
      ops.Privacy.suppressSmallCells(
        T(s, dir, "documents").select(col("doc_id"), col("lang"),
          expr("n_chars div 500").as("band")),
        Seq("lang", "band"), k = 10L),
      // replay: window count per cohort, CASE under k -> '*'; quasi
      // columns released as strings (the marker needs a common type)
      Some("""WITH t AS (
           SELECT doc_id, lang, n_chars // 500 AS band
           FROM documents),
         c AS (
           SELECT doc_id, lang, band,
             count(*) OVER (PARTITION BY lang, band) AS n
           FROM t)
         SELECT doc_id,
           CASE WHEN n < 10 THEN '*' ELSE lang END AS lang,
           CASE WHEN n < 10 THEN '*' ELSE CAST(band AS VARCHAR) END AS band
         FROM c""")),

    // FREQUENCY-THRESHOLD RELEASE: the memorization-mitigation
    // rule — publish an extracted key only when it appears in >= 11
    // DISTINCT documents; within-doc repetition cannot launder a rare
    // key past the gate (counting is over distinct (key, doc)). Keys:
    // the documents' first WORD (heavy natural reuse — the threshold
    // splits the population both ways) plus a per-doc unique tail row
    // that must always drop.
    Query("q169_frequency_threshold", (s, dir) => {
      val d = T(s, dir, "documents")
      val rows = d.select(col("doc_id"),
          split(col("text"), " ").getItem(0).as("key"))
        .unionByName(d.select(col("doc_id"),
          concat(lit("uniq-"), col("doc_id").cast("string")).as("key")))
      ops.Privacy.frequencyThreshold(rows, "key", "doc_id", minDocs = 11L)
    },
      // replay: distinct (key, doc) document frequency >= 11 keeps the
      // row; the per-doc unique tail rows must all drop
      Some("""WITH rows_in AS (
           SELECT doc_id, split_part(text, ' ', 1) AS key FROM documents
           UNION ALL
           SELECT doc_id, 'uniq-' || CAST(doc_id AS VARCHAR) AS key
           FROM documents),
         ok AS (
           SELECT key FROM (SELECT DISTINCT key, doc_id FROM rows_in)
           GROUP BY key HAVING count(*) >= 11)
         SELECT key, doc_id FROM rows_in WHERE key IN (SELECT key FROM ok)""")),

    // l-DIVERSITY SUPPRESSION: k-anonymity's attribute-
    // disclosure sibling — a (lang, length-band) cohort whose
    // SENSITIVE column (source) holds fewer than l=8 distinct values
    // pools into the marker even if the cohort is large (everyone in
    // a low-diversity cohort shares a small sensitive set; releasing
    // the quasi values discloses it). band=50 chars splits cohorts
    // both ways at all three SFs (8-36 suppressed / 17-51 kept).
    // Same shape as q168: one cell-diversity exchange, broadcast
    // join back, corpus never shuffles.
    Query("q173_l_diversity", (s, dir) =>
      ops.Privacy.suppressLowDiversity(
        T(s, dir, "documents").select(col("doc_id"), col("lang"),
          expr("n_chars div 50").as("band"), col("source")),
        Seq("lang", "band"), "source", l = 8L),
      // replay: per-cohort COUNT(DISTINCT sensitive) via a grouped
      // subquery joined back (DuckDB windows don't take DISTINCT);
      // CASE under l -> '*' on both quasi columns, sensitive released
      Some("""WITH t AS (
           SELECT doc_id, lang, n_chars // 50 AS band, source
           FROM documents),
         c AS (
           SELECT lang, band, count(DISTINCT source) AS nd
           FROM t GROUP BY 1, 2)
         SELECT t.doc_id,
           CASE WHEN c.nd < 8 THEN '*' ELSE t.lang END AS lang,
           CASE WHEN c.nd < 8 THEN '*' ELSE CAST(t.band AS VARCHAR) END AS band,
           t.source
         FROM t JOIN c ON t.lang = c.lang AND t.band = c.band""")),

    // COMPOSED PRIVACY RELEASE: the production posture applies
    // BOTH gates — k-anonymity first (small cohorts pool into the
    // marker), then l-diversity over the POOLED cohorts (a cohort that
    // survived k but shares few sensitive values still suppresses; the
    // marker cohort itself is re-judged — diverse → it stays '*',
    // uniform → suppressing it is a no-op, either way pooled). One
    // oracle replays the whole composition; (band=20, k=8, l=10)
    // splits three ways at ALL SFs (k-suppressed / l-suppressed-after-
    // k / kept: 382/93/25 @ sf0.001, 319/126/55 @ sf0.01,
    // 20/48/4932 @ sf0.1). Scale shape unchanged: each gate is one
    // cell-sized exchange + a broadcast join back; the corpus never
    // shuffles in either stage.
    Query("q176_privacy_compose", (s, dir) =>
      ops.Privacy.suppressLowDiversity(
        ops.Privacy.suppressSmallCells(
          T(s, dir, "documents").select(col("doc_id"), col("lang"),
            expr("n_chars div 20").as("band"), col("source")),
          Seq("lang", "band"), k = 8L),
        Seq("lang", "band"), "source", l = 10L),
      // replay of the COMPOSITION: window-count k-gate first, then the
      // distinct-sensitive l-gate over the k-gated quasi values (the
      // marker cohort re-judged like any other — count(DISTINCT) skips
      // NULL sources, matching the fail-closed Spark side)
      Some("""WITH t AS (
           SELECT doc_id, lang, n_chars // 20 AS band, source
           FROM documents),
         k AS (
           SELECT doc_id,
             CASE WHEN n < 8 THEN '*' ELSE lang END AS lang,
             CASE WHEN n < 8 THEN '*' ELSE CAST(band AS VARCHAR) END AS band,
             source
           FROM (SELECT *, count(*) OVER (PARTITION BY lang, band) AS n
                 FROM t)),
         c AS (
           SELECT lang, band, count(DISTINCT source) AS nd
           FROM k GROUP BY 1, 2)
         SELECT k.doc_id,
           CASE WHEN c.nd < 10 THEN '*' ELSE k.lang END AS lang,
           CASE WHEN c.nd < 10 THEN '*' ELSE k.band END AS band,
           k.source
         FROM k JOIN c ON k.lang = c.lang AND k.band = c.band""")),
  )
}
