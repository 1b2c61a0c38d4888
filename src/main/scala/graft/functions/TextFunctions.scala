package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the document pipeline.
  *
  * Everything here is composed from `org.apache.spark.sql.functions._`
  * (whole-stage-codegen'd Catalyst expressions) — no Scala UDFs in the
  * hot path. Capabilities mirror the reference's text utilities
  * (rt-flink CommonTool.scala:17-56 emoji/char-class strippers,
  * KeywordUtil.scala:18-42 tokenizer) re-expressed as Column exprs, plus
  * the LLM-pipeline operators (language ID, quality scoring, token
  * counting, fingerprinting) that a 100 TB training-data pipeline needs.
  */
object TextFunctions {

  /** Tokenizer: text → array of non-empty tokens. Whitespace-split,
    * with CJK runs dictionary-segmented by greedy longest match
    * ([[CjkSegmenter]] — parity with the reference's IK smart-mode
    * tokenizer, rt-flink KeywordUtil.scala:18-42, on its own
    * "Apple手机"-shaped fixtures). Non-CJK text tokenizes EXACTLY as
    * the plain `\s+` split did (same Java regex, empties dropped), so
    * every whitespace-tokenization oracle replays unchanged; one
    * codegen'd expression call per row, no interpreted HOFs under the
    * simhash/Jaccard/keyword hot paths.
    */
  def tokenize(text: Column): Column =
    org.apache.spark.sql.graft.TextExpressions.cjkTokenize(text)

  /** BPE-ish pre-tokenizer: word chunks, digit runs, or single
    * punctuation marks — the standard GPT-style pre-tokenization split,
    * via regexp_extract_all (one native call per row).
    */
  def bpeTokenize(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(tokenize(text))

  /** Strip characters outside letters/digits/punctuation/whitespace —
    * the reference's emoji filter (rt-flink CommonTool.scala:40-47
    * `removeEmoji`) as a single codegen'd regexp_replace.
    */
  def removeEmoji(text: Column): Column =
    regexp_replace(text, "[^\\p{L}\\p{M}\\p{N}\\p{P}\\p{Z}\\s]", "")

  /** Unicode NFC normalization
    * ([[org.apache.spark.sql.graft.NfcNormalize]], codegen'd): canonical
    * composition so that byte-level fingerprints mean visual-identity —
    * run it BEFORE [[contentFingerprint]] / the dedup family on corpora
    * with mixed normalization (OCR, user-generated text). Already-NFC
    * strings pass through without allocation.
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graft.TextExpressions.nfcNormalize(text)

  /** THE whitespace normalization: lowercase, runs of whitespace → one
    * space. One definition shared by shingling, content fingerprinting,
    * and the dedup family's shingle pipeline — the DuckDB oracles
    * (q31/q57/q74) replay exactly this expression, so the three users
    * must never drift apart.
    */
  def normalizeWs(text: Column): Column =
    lower(regexp_replace(text, "\\s+", " "))

  /** Character n-gram shingles of the whitespace-normalized text. Used by
    * MinHash / Jaccard dedup.
    *
    * Implementation note: higher-order functions are interpreted, and any
    * outer expression referenced inside a lambda body is RE-EVALUATED per
    * element (a `transform(sequence(...), i => norm.substr(i, n))` shape
    * re-runs the `norm` regex once per shingle position — O(len) regex
    * calls per row, catastrophic on real documents). Instead the char
    * array is zip_with'ed against shifted slices of itself: inputs are
    * function *arguments*, evaluated once per row, and the lambdas touch
    * only their own elements. Windows shorter than n become null via
    * concat's null propagation and are filtered; a document shorter than
    * n falls back to the whole normalized string as its one shingle.
    */
  def shingles(text: Column, n: Int): Column = {
    val norm = normalizeWs(text)
    val chars = split(norm, "")
    val grams = (2 to n).foldLeft(chars: Column)((acc, kk) =>
      zip_with(acc, slice(chars, lit(kk), greatest(size(chars) - (kk - 1), lit(0))),
        (a, b) => concat(a, b)))
    val full = filter(grams, g => g.isNotNull && length(g) === n)
    when(size(full) === 0, array(norm)).otherwise(array_distinct(full))
  }

  /** Word n-grams from the token array, via zip_with against shifted
    * slices (same rationale as [[shingles]]: no outer expression inside
    * a lambda body, so `tokens` is evaluated once per row).
    */
  def wordNgrams(tokens: Column, n: Int): Column = {
    val grams = (2 to n).foldLeft(tokens)((acc, kk) =>
      zip_with(acc, slice(tokens, lit(kk), greatest(size(tokens) - (kk - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b)))
    filter(grams, g => g.isNotNull)
  }

  /** Stopword-hit count over a token array. */
  def stopwordCount(tokens: Column, stopwords: Seq[String]): Column =
    size(filter(tokens, t => t.isin(stopwords: _*)))

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "was", "at", "by")

  /** Heuristic language ID: score = stopword-hit ratio per language's
    * marker set; argmax with 'und' fallback below threshold. Stays
    * SQL-expressible (CASE over ratios) so the DuckDB oracle can
    * replicate it exactly.
    */
  def langId(text: Column): Column = {
    val toks = tokenize(lower(text))
    val n = greatest(size(toks), lit(1))
    def ratio(markers: Seq[String]): Column =
      size(filter(toks, t => t.isin(markers: _*))).cast("double") / n.cast("double")
    val en = ratio(Seq("the", "a", "and", "of", "to", "is"))
    val fr = ratio(Seq("le", "la", "les", "et", "de", "un"))
    val de = ratio(Seq("der", "die", "das", "und", "ein", "zu"))
    val es = ratio(Seq("el", "los", "las", "y", "una", "en"))
    when(en >= fr && en >= de && en >= es && en > lit(0.0), lit("en"))
      .when(fr >= de && fr >= es && fr > lit(0.0), lit("fr"))
      .when(de >= es && de > lit(0.0), lit("de"))
      .when(es > lit(0.0), lit("es"))
      .otherwise(lit("und"))
  }

  /** Document quality signals (stopword ratio, mean token length) —
    * the standard pre-training quality filters. Ratios are scaled by 1e4
    * and floored to BIGINT so results hash identically across engines
    * (floor of an identical IEEE double is deterministic; `round` tie
    * behavior is not portable).
    */
  def qualityStopwordRatio(text: Column): Column = {
    val toks = tokenize(lower(text))
    val n = greatest(size(toks), lit(1))
    floor(stopwordCount(toks, EnStopwords).cast("double") / n.cast("double") * 10000)
      .cast("long")
  }

  def meanTokenLen(text: Column): Column = {
    val toks = tokenize(text)
    val n = greatest(size(toks), lit(1))
    floor(aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
      .cast("double") / n.cast("double") * 10000).cast("long")
  }

  /** Portable rolling fingerprint: polynomial hash of token lengths mod
    * 1e9+7, left-to-right — deterministic and replicable in ANSI SQL
    * (DuckDB list_reduce) for the oracle. For a collision-resistant
    * fingerprint use [[contentFingerprint]].
    */
  def rollingFingerprint(text: Column): Column =
    aggregate(tokenize(text), lit(0L),
      (acc, t) => (acc * 31 + length(t).cast("long")) % 1000000007L)

  /** Collision-resistant content fingerprint: xxhash64 of the
    * whitespace-normalized text. Engine-native (codegen'd), used for
    * exact dedup at scale where hashing the full text into the shuffle
    * key beats shuffling the text itself.
    */
  def contentFingerprint(text: Column): Column =
    xxhash64(normalizeWs(text))

  /** PII redaction for training corpora: emails, IPv4 addresses, and
    * phone-shaped digit runs replaced with typed placeholder tokens.
    * Three codegen'd `regexp_replace` passes (each replaces ALL
    * occurrences), ordered email → IP → phone so an address's digits
    * are never half-eaten by the later patterns. Patterns stay in the
    * syntax subset Java regex and RE2 share, so the oracle replays them
    * verbatim. This is the scrub-shape: swap in jurisdiction-specific
    * patterns per deployment; the chain stays one narrow projection.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ip, "<IP>"),
      phone, "<PHONE>")
  }

  /** Keep only CJK ideographs, CJK compatibility, fullwidth forms, and
    * ASCII — the reference's `getSubsidy` emoji/foreign-char filter
    * (rt-flink CommonTool.scala:17-37) as one codegen'd regexp_replace.
    */
  def cjkAsciiOnly(text: Column): Column =
    regexp_replace(text,
      "[^\\u4E00-\\u9FA5\\uF900-\\uFA2D\\uFF00-\\uFFEF\\u0000-\\u00FF]", "")

  /** Strip UTF-16 surrogate pairs (astral-plane chars) and trim — the
    * reference's `specialStr` (rt-flink CommonTool.scala:50-56).
    */
  def stripSurrogates(text: Column): Column =
    trim(regexp_replace(text, "[\\uD800-\\uDFFF]", ""))

  /** Blocklist flag: 0 when the text contains any blocked term, else 1 —
    * the reference's product-name filter (rt-flink
    * BusinessRulesTool.scala:98-114 `filterData`).
    */
  def blocklistFlag(text: Column, blocked: Seq[String]): Column =
    when(blocked.map(b => text.contains(b)).reduce(_ || _), 0L).otherwise(1L)

  /** Keyword-dictionary multi-label classifier — capability parity with
    * the reference's complaint classifier
    * (rt-flink BusinessRulesTool.scala:15-68 `getCommentType`, 5 keyword
    * dictionaries → multi-label string). Labels are emitted in the given
    * dictionary order, comma-joined, 'none' when nothing matches.
    */
  def dictClassify(text: Column, dicts: Seq[(String, Seq[String])]): Column = {
    val toks = tokenize(lower(text))
    val labels = dicts.map { case (label, words) =>
      when(size(filter(toks, t => t.isin(words: _*))) > 0, lit(label)).otherwise(lit(null))
    }
    val joined = array_join(filter(array(labels: _*), l => l.isNotNull), ",")
    when(length(joined) > 0, joined).otherwise(lit("none"))
  }
}
