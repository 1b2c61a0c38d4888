package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

import Shared._
import Sql._

/** Text operators: cleaning, tokenization, n-gram and repetition
  * signals, BPE, phrase and multi-pattern scans, BM25 retrieval. */
private[graft] object TextQueries {

  val all: Seq[Query] = Seq(

    // §2.11 — emoji/char-class strip (ref: CommonTool.scala:40-47)
    Query("q18_text_clean", (s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        TF.removeEmoji(col("text")).as("clean_text"),
        length(TF.removeEmoji(col("text"))).as("clean_len"))
    }, Some("""SELECT doc_id,
         regexp_replace(text, '[^\p{L}\p{M}\p{N}\p{P}\p{Z}\s]', '', 'g') AS clean_text,
         length(regexp_replace(text, '[^\p{L}\p{M}\p{N}\p{P}\p{Z}\s]', '', 'g')) AS clean_len
         FROM documents""")),

    // Text analysis — whitespace + BPE-ish token counting + portable
    // rolling fingerprint
    Query("q20_token_stats", (s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).cast("long").as("token_ct"),
        size(TF.bpeTokenize(col("text"))).cast("long").as("bpe_token_ct"),
        TF.rollingFingerprint(col("text")).as("fingerprint"))
    }, Some("""SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS token_ct,
         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_token_ct,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0),
               t -> CAST(length(t) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
         FROM documents""")),

    // Text analysis — heuristic language ID
    Query("q24_lang_id", (s, dir) => {
      T(s, dir, "documents").select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))
    }, Some("""WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         r AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','is'))) AS DOUBLE) / CAST(greatest(len(toks),1) AS DOUBLE) AS en,
             CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','de','un'))) AS DOUBLE) / CAST(greatest(len(toks),1) AS DOUBLE) AS fr,
             CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ein','zu'))) AS DOUBLE) / CAST(greatest(len(toks),1) AS DOUBLE) AS de,
             CAST(len(list_filter(toks, x -> x IN ('el','los','las','y','una','en'))) AS DOUBLE) / CAST(greatest(len(toks),1) AS DOUBLE) AS es
           FROM t)
         SELECT doc_id,
           CASE WHEN en >= fr AND en >= de AND en >= es AND en > 0 THEN 'en'
                WHEN fr >= de AND fr >= es AND fr > 0 THEN 'fr'
                WHEN de >= es AND de > 0 THEN 'de'
                WHEN es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
         FROM r""")),

    // §2.11 — keyword-dictionary multi-label classifier
    // (ref: BusinessRulesTool.scala:15-68)
    Query("q25_dict_classify", (s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
        TF.dictClassify(col("text"), Seq(
          "perf" -> Seq("fast", "slow"),
          "storage" -> Seq("table", "row", "column"),
          "compute" -> Seq("join", "merge", "sort", "scan"),
          "stream" -> Seq("stream", "window", "batch"))).as("labels"))
    }, Some("""WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         l AS (
           SELECT doc_id,
             concat_ws(',',
               CASE WHEN len(list_filter(toks, x -> x IN ('fast','slow'))) > 0 THEN 'perf' END,
               CASE WHEN len(list_filter(toks, x -> x IN ('table','row','column'))) > 0 THEN 'storage' END,
               CASE WHEN len(list_filter(toks, x -> x IN ('join','merge','sort','scan'))) > 0 THEN 'compute' END,
               CASE WHEN len(list_filter(toks, x -> x IN ('stream','window','batch'))) > 0 THEN 'stream' END) AS joined
           FROM t)
         SELECT doc_id, CASE WHEN length(joined) > 0 THEN joined ELSE 'none' END AS labels
         FROM l""")),

    // §2.11 — text business rules: char-class strips + blocklist flag
    // (ref: CommonTool.scala:17-56, BusinessRulesTool.scala:98-114)
    Query("q43_text_rules", (s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        length(TF.cjkAsciiOnly(col("text"))).cast("long").as("cjk_ascii_len"),
        length(TF.stripSurrogates(col("text"))).cast("long").as("stripped_len"),
        TF.blocklistFlag(col("text"), Seq("table", "row")).as("allowed"))
    }, Some("""SELECT doc_id,
         length(regexp_replace(text, '[^\x{4E00}-\x{9FA5}\x{F900}-\x{FA2D}\x{FF00}-\x{FFEF}\x{0000}-\x{00FF}]', '', 'g')) AS cjk_ascii_len,
         length(trim(regexp_replace(text, '[\x{D800}-\x{DFFF}]', '', 'g'))) AS stripped_len,
         CASE WHEN contains(text, 'table') OR contains(text, 'row')
              THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS allowed
         FROM documents""")),

    // Training-pipeline utility — corpus distribution profile: exact
    // per-(lang, source) percentiles of document length. At 100 TB the
    // exact `percentile` (sorts each group's values) gives way to
    // `approx_percentile` (t-digest, one pass, mergeable partials) —
    // same query shape, one function swap; exact here so the oracle can
    // hash-match.
    Query("q62_corpus_stats", (s, dir) => {
      T(s, dir, "documents").groupBy(col("lang"), col("source")).agg(
        count(lit(1)).as("doc_ct"),
        avg(col("n_chars")).as("avg_chars"),
        expr("percentile(n_chars, 0.5D)").as("p50_chars"),
        expr("percentile(n_chars, 0.9D)").as("p90_chars"),
        expr("percentile(n_chars, 0.99D)").as("p99_chars"),
        stddev(col("n_chars")).as("sd_chars"))
    },
      // DuckDB quantile_cont and Spark percentile both interpolate at
      // p*(N-1) (R-7), so exact percentiles hash-match at the driver's
      // float normalization.
      Some("""SELECT lang, source,
         count(*) AS doc_ct,
         avg(n_chars) AS avg_chars,
         quantile_cont(n_chars, 0.5) AS p50_chars,
         quantile_cont(n_chars, 0.9) AS p90_chars,
         quantile_cont(n_chars, 0.99) AS p99_chars,
         stddev(n_chars) AS sd_chars
         FROM documents GROUP BY 1, 2""")),

    // Training-pipeline utility — exact heavy hitters: top-10 tokens per
    // language. Two-level: partial-aggregated (lang, token) counts
    // (map-side combine absorbs the Zipf head before the shuffle), then
    // a per-lang top-k window that WindowGroupLimit cuts map-side —
    // never a global sort, never a driver-side collect.
    Query("q63_top_tokens", (s, dir) => {
      val counts = T(s, dir, "documents")
        .select(col("lang"), explode(TF.tokenize(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("ct"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("ct").desc, col("token"))
      counts.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
    }, Some("""WITH t AS (
           SELECT lang,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS ct FROM t GROUP BY 1, 2),
         r AS (SELECT lang, token, ct,
                 row_number() OVER (PARTITION BY lang ORDER BY ct DESC, token) AS rk
               FROM c)
         SELECT lang, token, ct, rk FROM r WHERE rk <= 10""")),

    // Training-pipeline utility — repetition metrics (the Gopher-style
    // repetition filters): duplicate-token fraction and most-common-
    // token fraction per doc. One explode + two aggregations; ratios
    // floored at 1e4 so they hash identically across engines.
    Query("q68_repetition", (s, dir) => {
      val counts = T(s, dir, "documents")
        .select(col("doc_id"), explode(TF.tokenize(lower(col("text")))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("ct"))
      counts.groupBy(col("doc_id")).agg(
        sum(col("ct")).as("total_toks"),
        count(lit(1)).as("distinct_toks"),
        max(col("ct")).as("top_tok_ct"))
        .select(col("doc_id"), col("total_toks"), col("distinct_toks"),
          floor((lit(1.0) - col("distinct_toks").cast("double")
            / col("total_toks").cast("double")) * 10000).cast("long")
            .as("dup_ratio_e4"),
          col("top_tok_ct"),
          floor(col("top_tok_ct").cast("double")
            / col("total_toks").cast("double") * 10000).cast("long")
            .as("top_tok_frac_e4"))
    }, Some("""WITH c AS (
           SELECT doc_id, tok, count(*) AS ct
           FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS tok
                 FROM documents)
           GROUP BY doc_id, tok),
         a AS (
           SELECT doc_id, CAST(sum(ct) AS BIGINT) AS total_toks,
             count(*) AS distinct_toks, CAST(max(ct) AS BIGINT) AS top_tok_ct
           FROM c GROUP BY doc_id)
         SELECT doc_id, total_toks, distinct_toks,
           CAST(floor((CAST(1 AS DOUBLE) - CAST(distinct_toks AS DOUBLE) / CAST(total_toks AS DOUBLE)) * 10000) AS BIGINT) AS dup_ratio_e4,
           top_tok_ct,
           CAST(floor(CAST(top_tok_ct AS DOUBLE) / CAST(total_toks AS DOUBLE) * 10000) AS BIGINT) AS top_tok_frac_e4
         FROM a""")),

    // Training-pipeline utility — token-rarity scoring (the
    // LM-perplexity-filter stand-in with EXACT arithmetic: corpus
    // frequencies are BIGINT counts, so the score is reproducible
    // across engines, where sums of logs diverge in the last ulp).
    // A doc of common words scores high, OOV-ish gibberish low.
    // Skew design for the 100 TB Zipf vocabulary: ONE tokenize pass
    // into per-(doc, token) counts — (doc, tok) keys spread the head
    // tokens across every partition, so the pre-aggregation itself
    // cannot skew — then the corpus frequencies' top-K head (precisely
    // the keys a token-level shuffle join would hotspot on) joins by
    // BROADCAST, and only the bounded-frequency tail (each key ≤ the
    // K-th frequency by construction) takes the shuffle join. Exact:
    // head ∪ tail partitions the vocabulary.
    Query("q78_token_rarity", (s, dir) => {
      val tokCounts = ops.CacheScope.persist(T(s, dir, "documents")
        .select(col("doc_id"), explode(TF.tokenize(lower(col("text")))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c")))
        // ^ feeds the freq agg AND both join probes; released by the
        //   session's CacheScope.release
      val freqs = tokCounts.groupBy(col("tok")).agg(sum(col("c")).as("freq"))
      ops.Skew.headTailJoin(tokCounts, freqs, "tok", col("freq"), topK = 1024,
          uniqueKeys = true) // freqs is a groupBy(tok) output
        .select(col("doc_id"), col("c"), (col("c") * col("freq")).as("cf"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"), sum(col("cf")).as("sum_freq"))
        .select(col("doc_id"), col("n_toks"), col("sum_freq"),
          floor(col("sum_freq").cast("double") / col("n_toks").cast("double") * 100)
            .cast("long").as("mean_freq_e2"))
    }, Some("""WITH t AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS tok
           FROM documents),
         f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok)
         SELECT t.doc_id, count(*) AS n_toks,
           CAST(sum(f.freq) AS BIGINT) AS sum_freq,
           CAST(floor(CAST(sum(f.freq) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 100) AS BIGINT) AS mean_freq_e2
         FROM t JOIN f ON t.tok = f.tok
         GROUP BY t.doc_id""")),

    // Per-doc distinctive terms: top-3 by (tf desc, df asc, term) —
    // the integer-exact tf-idf rank (float log idf would disagree
    // across engines in the last ulp; the RANKING it induces at fixed
    // tf is df asc, which is exact). Same Zipf-skew design as q78:
    // per-(doc,term) pre-aggregation, then head vocabulary by
    // broadcast, bounded-frequency tail by shuffle join.
    Query("q81_distinctive_terms", (s, dir) => {
      val tf = ops.CacheScope.persist(T(s, dir, "documents")
        .select(col("doc_id"), explode(TF.tokenize(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
        // ^ feeds the df agg AND both join probes; released by the
        //   session's CacheScope.release
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val joined = ops.Skew.headTailJoin(tf, dfreq, "term", col("df"),
        topK = 1024, uniqueKeys = true) // dfreq is a groupBy(term) output
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      joined.withColumn("term_rank", row_number().over(w).cast("long"))
        .filter(col("term_rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("term_rank"))
    }, Some("""WITH tk AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS term
           FROM documents),
         tfm AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         dfm AS (SELECT term, count(*) AS df FROM tfm GROUP BY 1),
         r AS (
           SELECT tfm.doc_id, tfm.term, tfm.tf, dfm.df,
             CAST(row_number() OVER (PARTITION BY tfm.doc_id
               ORDER BY tfm.tf DESC, dfm.df ASC, tfm.term ASC) AS BIGINT) AS term_rank
           FROM tfm JOIN dfm USING (term))
         SELECT doc_id, term, tf, df, term_rank FROM r WHERE term_rank <= 3""")),

    // Within-doc self-repetition at window granularity (the
    // boilerplate/template signal the pair-wise window dedup can't
    // give): duplicated-40-char-window fraction per doc as PURE array
    // expressions — sequence → transform(substring) → size vs
    // size(array_distinct), zero shuffles, whole row streams through
    // codegen. Complements q68's token-level repetition metrics.
    Query("q87_self_repetition", (s, dir) => {
      val k = 40
      val wins = transform(
        sequence(lit(0), greatest(length(col("text")) - k, lit(0)), lit(4)),
        o => substring(col("text"), o + 1, lit(k)))
      T(s, dir, "documents")
        .filter(length(col("text")) >= k)
        .select(col("doc_id"),
          size(wins).cast("long").as("n_windows"),
          size(array_distinct(wins)).cast("long").as("n_distinct"))
        .withColumn("dup_frac_e4",
          floor((col("n_windows") - col("n_distinct")).cast("double") * 10000.0 /
            col("n_windows").cast("double")).cast("long"))
    }, Some("""WITH w AS (
           SELECT doc_id,
             list_transform(range(0, CAST(length(text) AS BIGINT) - 39, 4),
               o -> substr(text, CAST(o AS INT) + 1, 40)) AS wins
           FROM documents WHERE length(text) >= 40)
         SELECT doc_id,
           CAST(len(wins) AS BIGINT) AS n_windows,
           CAST(len(list_distinct(wins)) AS BIGINT) AS n_distinct,
           CAST(floor(CAST(len(wins) - len(list_distinct(wins)) AS DOUBLE) * 10000.0
             / CAST(len(wins) AS DOUBLE)) AS BIGINT) AS dup_frac_e4
         FROM w""")),

    // Context-window chunking (training/RAG prep): 64-token chunks at
    // stride 48 (16-token overlap), trailing partial kept. Pure
    // explode + projection — zero shuffles; chunk identity is
    // (doc_id, chunk_idx), deterministic for downstream dedup/packing.
    Query("q89_chunk_documents", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), TF.tokenize(lower(col("text"))).as("toks"))
        // zero-token docs emit NO chunk (the oracle's range(0, 0, 48) is
        // empty; sequence(0, greatest(-1, 0), 48) would emit offset 0)
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(48)))
            .as("off"))
        .select(col("doc_id"),
          (col("off") / 48).cast("long").as("chunk_idx"),
          slice(col("toks"), col("off") + 1, lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          array_join(col("chunk"), " ").as("chunk_text"),
          size(col("chunk")).cast("long").as("n_tokens")),
      // list_slice end-index is INCLUSIVE (Spark slice takes a length)
      Some("""WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks,
             unnest(range(0, CAST(len(toks) AS BIGINT), 48)) AS o
           FROM t)
         SELECT doc_id, o // 48 AS chunk_idx,
           array_to_string(list_slice(toks, CAST(o AS INT) + 1, CAST(o AS INT) + 64), ' ') AS chunk_text,
           CAST(len(list_slice(toks, CAST(o AS INT) + 1, CAST(o AS INT) + 64)) AS BIGINT) AS n_tokens
         FROM c""")),

    // BPE-style adjacent-pair statistics (the aggregate a tokenizer
    // merge step maximizes): zip each doc's token stream with its own
    // 1-shift, count globally, rank with a deterministic tiebreak.
    // One shuffle carrying (pair, partial-count) — map-side combine
    // absorbs the Zipf head; TakeOrderedAndProject cuts the top-k
    // per partition before the driver merge.
    Query("q92_bpe_pair_counts", (s, dir) =>
      T(s, dir, "documents")
        .select(TF.tokenize(lower(col("text"))).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("pair_ct"))
        // TakeOrderedAndProject first (per-partition heap of 20), THEN
        // rank the 20 survivors — a global window over the full
        // vocabulary would single-partition-sort the Zipf tail
        .orderBy(col("pair_ct").desc, col("pair").asc).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pair_ct").desc, col("pair").asc)).cast("long")),
      Some("""WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0) AS toks
           FROM documents),
         p AS (
           SELECT unnest(list_transform(
             list_zip(list_slice(toks, 1, len(toks) - 1), list_slice(toks, 2, len(toks))),
             z -> z[1] || ' ' || z[2])) AS pair
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT pair, count(*) AS pair_ct FROM p GROUP BY 1)
         SELECT pair, pair_ct,
           CAST(row_number() OVER (ORDER BY pair_ct DESC, pair ASC) AS BIGINT) AS rank
         FROM c ORDER BY pair_ct DESC, pair ASC LIMIT 20""")),

    // T1 at CJK parity — the reference's own fixture shape ("Apple手机"
    // product titles through IK → keyword rows, KeywordUtil.scala:18-42):
    // deterministic CJK titles keyed by doc_id flow through the
    // codegen'd FMM dictionary tokenizer (CjkSegmenter), explode, and
    // count. The oracle hand-pins the expected segmentation of each
    // template — longest-match priority (平板电脑 over 平板+电脑),
    // latin/CJK run splitting, and OOV single-char fallback are all
    // under the hash gate end-to-end.
    Query("q100_cjk_keywords", (s, dir) => {
      val titles = array(
        lit("Apple手机壳促销"), lit("华为手机充电器"), lit("小米蓝牙耳机"),
        lit("三星平板电脑保护套"), lit("苹果笔记本电脑"), lit("无线键盘鼠标套装"),
        lit("智能手表运动版"), lit("数据线两条装"))
      T(s, dir, "documents")
        .select(element_at(titles, pmod(col("doc_id"), lit(8L)).cast("int") + 1)
          .as("title"))
        .select(explode(TF.tokenize(lower(col("title")))).as("kw"))
        .groupBy(col("kw")).agg(count(lit(1)).as("kw_ct"))
    },
      // hand-derived FMM segmentation of the 8 fixture titles (the
      // MEASUREMENT — actual dictionary segmentation through the codegen'd
      // expression — happens Spark-side; the oracle pins expected tokens)
      Some("""WITH t AS (
           SELECT CASE CAST(doc_id % 8 AS INT)
             WHEN 0 THEN 'apple 手机壳 促销'
             WHEN 1 THEN '华为 手机 充电器'
             WHEN 2 THEN '小米 蓝牙耳机'
             WHEN 3 THEN '三星 平板电脑 保护套'
             WHEN 4 THEN '苹果 笔记本电脑'
             WHEN 5 THEN '无线 键盘 鼠标 套装'
             WHEN 6 THEN '智能手表 运动 版'
             ELSE '数据线 两 条 装' END AS segged
           FROM documents)
         SELECT kw, count(*) AS kw_ct
         FROM (SELECT unnest(string_split(segged, ' ')) AS kw FROM t)
         GROUP BY 1""")),

    // Substring-level duplicate REMOVAL (Lee et al. ACL'22 made
    // shuffle-friendly): every 40-char window at stride 4 occurring in
    // >3 distinct docs is CUT from its carriers (boilerplate scrub —
    // the surgical counterpart of q80's pair detection); the per-doc
    // surgery is one zero-shuffle fold over the sorted hot offsets.
    // The oracle reconstructs each document character-by-character
    // against the same hot-window set — full clean-text equality.
    Query("q102_scrub_spans", (s, dir) =>
      ops.SpanScrub.scrubRepeatedSpans(T(s, dir, "documents"),
        "doc_id", "text", k = 40, stride = 4, maxDf = 3),
      // character-level reconstruction against the same hot-window set:
      // a char survives iff no hot window of its own doc covers it
      Some("""WITH w AS (
           SELECT doc_id, CAST(o AS INT) AS o,
             substr(text, CAST(o AS INT) + 1, 40) AS win
           FROM (SELECT doc_id, text,
                   unnest(range(0, CAST(length(text) AS BIGINT) - 39, 4)) AS o
                 FROM documents WHERE length(text) >= 40)),
         wdf AS (
           SELECT win FROM (SELECT DISTINCT doc_id, win FROM w)
           GROUP BY win HAVING count(*) > 3),
         hot AS (SELECT DISTINCT w.doc_id, w.o FROM w JOIN wdf USING (win)),
         pos AS (
           SELECT doc_id, text,
             CAST(unnest(range(1, CAST(length(text) AS BIGINT) + 1)) AS INT) AS p
           FROM documents),
         kept AS (
           SELECT pos.doc_id, pos.p, substr(pos.text, pos.p, 1) AS ch
           FROM pos
           WHERE NOT EXISTS (SELECT 1 FROM hot h
             WHERE h.doc_id = pos.doc_id AND pos.p > h.o AND pos.p <= h.o + 40))
         SELECT d.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           CAST(length(d.text) - length(coalesce(k.clean_text, '')) AS BIGINT)
             AS removed_chars
         FROM documents d LEFT JOIN (
           SELECT doc_id, string_agg(ch, '' ORDER BY p) AS clean_text
           FROM kept GROUP BY doc_id) k USING (doc_id)""")),

    // BM25 top-k retrieval: inverted-postings shape without the
    // index — literal IN filter on the query terms before any
    // exchange, e9-integer score partials (order-independent sum),
    // TakeOrderedAndProject top-k. The single non-correctly-rounded
    // op (ln) is e6-quantized per (term, df) with verified margins —
    // everything else replays bit-for-bit in the oracle.
    Query("q107_bm25_topk", (s, dir) =>
      ops.Retrieval.bm25TopK(T(s, dir, "documents"), "doc_id", "text",
        Seq("dup", "spark", "vector", "stream", "hash", "scan"),
        k1 = 1.2, b = 0.75, topK = 20),
      // replays BM25 with the identical association order: idf is
      // e6-floored per term BEFORE use (isolating the one libm op, ln),
      // per-(doc,term) parts are e9-floored BEFORE the per-doc sum
      // (integer sums are order-independent), top-20 by (score desc,
      // doc_id) — every other op is a correctly-rounded IEEE double op
      // over identical operands
      Some(bm25Oracle)),

    // INCREMENTAL BM25 INDEX: the retrieval family joins the
    // incremental regime — BM25's inputs decompose into ADDITIVE
    // sufficient statistics (postings rows + (n_docs, n_toks)
    // counters; a document belongs to exactly one ingest batch), so
    // an index built as THREE slice appends must answer queries
    // byte-equal to the one-shot corpus operator. The oracle is
    // q107's replay VERBATIM — equality is the gate. Streaming face
    // (per-batch appends, two-table replay guards) is spec-gated in
    // Bm25IngestSpec; at 100 TB the postings table is laid out by
    // term so a query prunes to |q| buckets instead of tokenizing
    // the corpus.
    // EXACT PHRASE MATCH: the positional side of the retrieval
    // index — adjacent-token phrase queries over (term, doc_id, pos)
    // postings, one 2-gram and one 3-gram (both attested at ALL SFs:
    // "part filter" 46/46/~340 occurrences, "big order scan" 5/3/10).
    // Postings filter to the phrase's terms BEFORE any exchange; the
    // n-way join is co-partitioned on (doc_id, pos − slot) so every
    // word of one occurrence meets at its anchor. Oracle replays the
    // adjacency count as a DuckDB list lambda over token positions.
    Query("q180_phrase_match", (s, dir) => {
      val docs = T(s, dir, "documents")
      ops.Retrieval.phraseMatch(docs, "doc_id", "text",
          Seq("part", "filter"))
        .select(lit("part filter").as("phrase"), col("doc_id"), col("n_hits"))
        .unionByName(
          ops.Retrieval.phraseMatch(docs, "doc_id", "text",
              Seq("big", "order", "scan"))
            .select(lit("big order scan").as("phrase"), col("doc_id"),
              col("n_hits")))
    },
      // adjacency counts replayed as list lambdas over 1-based token
      // positions; overlapping occurrences each count (one per anchor)
      Some(phraseOracle)),

    // INCREMENTAL POSITIONAL INDEX: q179's decomposition for the
    // phrase side — positional postings are position FACTS, trivially
    // additive across disjoint batches, so a 3-slice index build must
    // answer q180's phrase queries byte-equal (the oracle is q180's
    // replay VERBATIM). Streaming face (single-table append, the
    // batch's own rows as the replay marker) spec-gated in
    // PhraseIngestSpec.
    Query("q187_phrase_index", (s, dir) => {
      val docs = T(s, dir, "documents")
      val postings = (0L until 3L).map(i =>
          ops.Retrieval.positionalPostings(
            docs.filter(pmod(col("doc_id"), lit(3L)) === i), "doc_id", "text"))
        .reduce(_ unionByName _)
      ops.Retrieval.phraseMatchFromIndex(postings, Seq("part", "filter"))
        .select(lit("part filter").as("phrase"), col("doc_id"), col("n_hits"))
        .unionByName(
          ops.Retrieval.phraseMatchFromIndex(postings,
              Seq("big", "order", "scan"))
            .select(lit("big order scan").as("phrase"), col("doc_id"),
              col("n_hits")))
    },
      // the 3-slice positional index must answer byte-equal — postings
      // rows are position facts and position facts add
      Some(phraseOracle)),

    // MULTI-PATTERN SUBSTRING SCAN: Aho–Corasick over a
    // query-constant pattern dictionary — the substring face of the
    // decontamination family (benchmark answer strings, canaries,
    // banned phrases land mid-paragraph where key and n-gram gates
    // can't see them). One codegen'd O(|text|) pass per document
    // regardless of pattern count; the automaton rides the expression
    // (driver-compiled, broadcast-sized), zero joins, zero exchanges.
    // The set exercises every automaton behavior on attested corpus
    // strings: self-overlap ("batch batch" in "batch batch batch"
    // counts twice), suffix-nesting ("ta" fires inside both "data"
    // and "table"), cross-word substrings ("an or" inside
    // "scan order…", "dow win" inside "window window"), and an
    // absent pattern (contributes no rows). Oracle replays each
    // pattern as a per-position DuckDB list lambda.
    Query("q181_multi_pattern_scan", (s, dir) =>
      ops.Decontaminate.multiPatternHits(T(s, dir, "documents"),
        "doc_id", "text",
        Seq("batch batch", "data", "ta", "an or", "dow win",
          "missing-from-corpus")),
      // per-pattern occurrence counts replayed as a per-position list
      // lambda (overlapping occurrences each count — one per start
      // position); char-unit vs code-point indexing can't disagree on a
      // literal's occurrence COUNT, so the replay is exact
      Some("""WITH pats AS (
           SELECT unnest(['batch batch', 'data', 'ta', 'an or',
                          'dow win', 'missing-from-corpus']) AS pattern),
         h AS (
           SELECT d.doc_id, p.pattern,
             CAST(len(list_filter(
               range(1, length(d.text) - length(p.pattern) + 2),
               i -> substr(d.text, i, length(p.pattern)) = p.pattern))
               AS BIGINT) AS n_hits
           FROM documents d, pats p)
         SELECT doc_id, pattern, n_hits FROM h WHERE n_hits >= 1""")),

    // MULTI-PATTERN SCRUB: the redaction face of q181's
    // automaton — remove every character covered by any pattern
    // occurrence (mask-union: overlapping "batch batch" runs and
    // "ta"-inside-"data" nesting compose order-free, no
    // leftmost-longest tie rule to replay). Same dictionary as q181 so
    // the two faces cross-check; oracle rebuilds each text from the
    // uncovered positions via the same per-position lambda.
    Query("q185_multi_pattern_scrub", (s, dir) =>
      ops.Decontaminate.multiPatternScrub(T(s, dir, "documents"),
        "doc_id", "text",
        Seq("batch batch", "data", "ta", "an or", "dow win",
          "missing-from-corpus")),
      // mask-union replay: per (doc, pattern) the occurrence-start list,
      // flattened to covered positions, text rebuilt from the uncovered
      // ones (array_to_string so a fully-covered doc yields '' not NULL)
      Some("""WITH pats AS (
           SELECT unnest(['batch batch', 'data', 'ta', 'an or',
                          'dow win', 'missing-from-corpus']) AS pattern),
         spans AS (
           SELECT d.doc_id,
             flatten(list_transform(
               list_filter(range(1, length(d.text) - length(p.pattern) + 2),
                 i -> substr(d.text, i, length(p.pattern)) = p.pattern),
               s -> range(s, s + length(p.pattern)))) AS cov
           FROM documents d, pats p),
         cov AS (
           SELECT doc_id, list_distinct(flatten(list(cov))) AS covered
           FROM spans GROUP BY doc_id)
         SELECT d.doc_id,
           array_to_string(list_transform(
             list_filter(range(1, length(d.text) + 1),
               i -> NOT list_contains(coalesce(c.covered, []), i)),
             i -> substr(d.text, i, 1)), '') AS scrub_text,
           CAST(coalesce(len(c.covered), 0) AS BIGINT) AS n_removed
         FROM documents d LEFT JOIN cov c USING (doc_id)""")),

    Query("q179_bm25_index", (s, dir) => {
      val docs = T(s, dir, "documents")
      val slices = (0L until 3L).map(i =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === i))
      val postings = slices.map(ops.Retrieval.bm25Postings(_, "doc_id", "text"))
        .reduce(_ unionByName _)
      val stats = slices.map(ops.Retrieval.bm25Stats(_, "doc_id", "text"))
        .reduce(_ unionByName _)
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_toks")).as("n_toks"))
      ops.Retrieval.bm25TopKFromIndex(postings, stats,
        Seq("dup", "spark", "vector", "stream", "hash", "scan"),
        k1 = 1.2, b = 0.75, topK = 20)
    },
      // the 3-slice incremental index build must answer byte-equal —
      // the additive-sufficient-statistics decomposition made visible
      Some(bm25Oracle)),

    // Unicode NFC normalization: the corpus is already NFC, so
    // decomposed text is synthesized inline — even doc_ids get a suffix
    // with combining marks (e+U+0301, A+U+030A, o+U+0308), odd ids a
    // plain suffix exercising the zero-allocation fast path. The oracle
    // is DuckDB's own nfc_normalize over the identical synthesis.
    Query("q112_nfc_normalize", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val synth = concat(substring(col("text"), 1, 60),
        when(col("doc_id") % 2 === 0, lit(" Café Ångström"))
          .otherwise(lit(" plain suffix")))
      d.select(col("doc_id"),
        TF.nfcNormalize(synth).as("norm_text"),
        (TF.nfcNormalize(synth) =!= synth).as("changed"))
    },
      // DuckDB's own NFC pass over the identical synthesis — the suffix
      // is built from chr() codepoints (769/778/776 = the combining
      // acute/ring/diaeresis the Spark literal embeds as UTF-8)
      Some("""WITH t AS (
           SELECT doc_id,
             substring(text, 1, 60) ||
             CASE WHEN doc_id % 2 = 0
               THEN ' Cafe' || chr(769) || ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
               ELSE ' plain suffix' END AS synth
           FROM documents)
         SELECT doc_id, nfc_normalize(synth) AS norm_text,
           nfc_normalize(synth) <> synth AS changed
         FROM t""")),

    // Distributed BPE tokenizer TRAINING (Sennrich et al.): 4 greedy
    // merge rounds over the word-frequency dictionary. Exact oracle:
    // DuckDB replays the identical loop — space-joined symbol strings,
    // leftmost non-overlapping replace as the merge, (ct, lhs, rhs)
    // argmax per round via scalar subqueries.
    Query("q117_bpe_learn", (s, dir) =>
      ops.BpeTrain.learnMerges(T(s, dir, "documents"), "text", nMerges = 4),
      // full replay of the 4-round greedy BPE loop: every symbol is
      // wrapped in its own chr(1) sentinel pair, and a merge is leftmost
      // non-overlapping replace of chr(1)||x||chr(1)||chr(1)||y||chr(1)
      // (both engines' replace() has exactly those semantics; the
      // sentinels keep a pattern from matching INSIDE a longer symbol and
      // give adjacent occurrences disjoint boundaries). Per-round argmax
      // by (ct DESC, lhs, rhs) via scalar subqueries.
      Some(bpeSequentialOracle)),

    // BATCHED BPE: the SAME four merges learned through the
    // mergeBatch>1 path — per round the pair count runs ONCE, the top
    // candidates are accepted as the longest provably-independent
    // strict-separated prefix, and the result must be BYTE-IDENTICAL
    // to the sequential loop (the oracle is q117's sequential replay,
    // verbatim — equality IS the gate). At corpus scale this is the
    // vocab-training cost lever: jobs per vocab entry drop by the mean
    // accepted-prefix length (measured in SCALE.md; BpeTrainSpec
    // proves mergeBatch=8 ≡ sequential on real text at spec level).
    Query("q175_bpe_batched", (s, dir) =>
      ops.BpeTrain.learnMerges(T(s, dir, "documents"), "text", nMerges = 4,
        mergeBatch = 8),
      // the BATCHED path must return byte-identical merges — the
      // independent-prefix acceptance proof made driver-visible
      Some(bpeSequentialOracle)),

    // TF-IDF cosine document pairs — the VSM sibling of the Jaccard
    // family. Exact oracle under the hashed-term contract (grouping by
    // xxhash64(term) == grouping by term, collision-free at test scale):
    // e3-quantized idf makes weights integers, sums are exact decimals,
    // the final sqrt/divide is IEEE on both engines.
    Query("q123_tfidf_pairs", (s, dir) =>
      ops.Retrieval.tfidfCosinePairs(
        T(s, dir, "documents"), "doc_id", "text", minSimE4 = 5000L),
      // string-keyed replay of the hashed-term pipeline: same token
      // space, e3 idf floors, integer weights, IEEE sqrt/divide in the
      // identical operation order
      Some("""WITH t AS (
           SELECT doc_id, word AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS word
             FROM documents) GROUP BY 1, 2),
         nd AS (SELECT count(*) AS n FROM documents),
         d AS (SELECT term, count(*) AS df FROM t GROUP BY 1
               HAVING count(*) >= 2 AND count(*) <= (SELECT floor(0.5 * n) FROM nd)),
         w AS (SELECT doc_id, term,
                 tf * CAST(floor(1000.0 * ln(CAST((SELECT n FROM nd) AS DOUBLE) / df)) AS BIGINT) AS w
               FROM t JOIN d USING (term)),
         norms AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm FROM w GROUP BY 1),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(sum(a.w * b.w) AS DOUBLE) AS dot
               FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2)
         SELECT id_a, id_b, sim_e4 FROM (
           SELECT id_a, id_b,
             CAST(floor(10000.0 * (dot / (na.nrm * nb.nrm))) AS BIGINT) AS sim_e4
           FROM p JOIN norms na ON p.id_a = na.doc_id JOIN norms nb ON p.id_b = nb.doc_id)
         WHERE sim_e4 >= 5000""")),

    // Gopher-rule repetition signals (Rae et al. §A1.1) — line
    // duplication + heaviest-n-gram mass + duplicated-5-gram mass per
    // document, exact integer e6 floors. The fixture corpus has no
    // newlines, so the "line" split runs at word granularity (delim
    // " ") — degenerate but fully exercised: the dup_line columns
    // become word-repetition fractions. Exact oracle: DuckDB replays
    // split/count/clamp with the same `//` integer division.
    Query("q129_repetition", (s, dir) =>
      ops.Quality.repetitionSignals(T(s, dir, "documents"),
        "doc_id", "text", topNs = Seq(2, 3), dupN = 5, lineDelim = " "),
      // Gopher repetition signals: duplicated mass counts EVERY
      // occurrence (c·len, not (c−1)·len); top-gram = max of the c·len
      // PRODUCT (deterministic without a tie-break); exact `//` integer
      // e6 floors; overlap-driven masses clamp to 1e6. Grouping grams by
      // value here == grouping by xxhash64 in the engine (per-document
      // collision-free contract, as q123).
      Some("""WITH l AS (
           SELECT doc_id, line, count(*) AS c, max(length(line)) AS len
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS line
                 FROM documents)
           WHERE length(line) > 0 GROUP BY 1, 2),
         la AS (
           SELECT doc_id, sum(c) AS n_lines,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
             sum(c * len) AS line_chars,
             sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup_line_chars
           FROM l GROUP BY 1),
         w AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                   x -> length(x) > 0) AS words,
                 length(text) AS total_chars
               FROM documents),
         g AS (
           SELECT doc_id, 2 AS n, array_to_string(words[i:i+1], ' ') AS gram
           FROM w, unnest(range(1, len(words))) AS t(i)
           UNION ALL
           SELECT doc_id, 3, array_to_string(words[i:i+2], ' ')
           FROM w, unnest(range(1, len(words) - 1)) AS t(i)
           UNION ALL
           SELECT doc_id, 5, array_to_string(words[i:i+4], ' ')
           FROM w, unnest(range(1, len(words) - 3)) AS t(i)),
         gc AS (SELECT doc_id, n, gram, count(*) AS c,
                  max(length(gram)) AS len
                FROM g GROUP BY 1, 2, 3),
         ga AS (SELECT doc_id,
                  max(CASE WHEN n = 2 THEN c * len END) AS top2_mass,
                  max(CASE WHEN n = 3 THEN c * len END) AS top3_mass,
                  sum(CASE WHEN n = 5 AND c > 1 THEN c * len ELSE 0 END)
                    AS dup_mass
                FROM gc GROUP BY 1)
         SELECT w.doc_id,
           CAST(COALESCE(la.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(CASE WHEN COALESCE(la.n_lines, 0) > 0
             THEN (1000000 * la.dup_lines) // la.n_lines ELSE 0 END
             AS BIGINT) AS dup_line_frac_e6,
           CAST(CASE WHEN COALESCE(la.line_chars, 0) > 0
             THEN (1000000 * la.dup_line_chars) // la.line_chars ELSE 0 END
             AS BIGINT) AS dup_line_char_frac_e6,
           CAST(LEAST(CASE WHEN w.total_chars > 0
             THEN (1000000 * COALESCE(ga.top2_mass, 0)) // w.total_chars
             ELSE 0 END, 1000000) AS BIGINT) AS top2gram_char_frac_e6,
           CAST(LEAST(CASE WHEN w.total_chars > 0
             THEN (1000000 * COALESCE(ga.top3_mass, 0)) // w.total_chars
             ELSE 0 END, 1000000) AS BIGINT) AS top3gram_char_frac_e6,
           CAST(LEAST(CASE WHEN w.total_chars > 0
             THEN (1000000 * COALESCE(ga.dup_mass, 0)) // w.total_chars
             ELSE 0 END, 1000000) AS BIGINT) AS dup5gram_char_frac_e6
         FROM w LEFT JOIN la USING (doc_id) LEFT JOIN ga USING (doc_id)""")),

    // The first-failing-reason repetition gate over q129's signals,
    // thresholds chosen to spread documents across all four reasons on
    // this corpus. Exact oracle: the same CASE over the same signal
    // SQL, counts per reason.
    Query("q130_repetition_gate", (s, dir) =>
      ops.Quality.repetitionSignals(T(s, dir, "documents"),
        "doc_id", "text", topNs = Seq(2), dupN = 3, lineDelim = " ")
        .select(ops.Quality.repetitionGate(
          maxDupLineFracE6 = 970000L, maxDupLineCharFracE6 = 950000L,
          maxTop2CharFracE6 = 100000L, maxDupNCharFracE6 = 20000L,
          dupNCol = "dup3gram_char_frac_e6")
          .as("reason"))
        .groupBy(col("reason")).agg(count(lit(1)).as("ct")),
      // the same CASE over the same signal SQL, counts per first-failing
      // reason
      Some("""WITH l AS (
           SELECT doc_id, line, count(*) AS c, max(length(line)) AS len
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS line
                 FROM documents)
           WHERE length(line) > 0 GROUP BY 1, 2),
         la AS (
           SELECT doc_id, sum(c) AS n_lines,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
             sum(c * len) AS line_chars,
             sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup_line_chars
           FROM l GROUP BY 1),
         w AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'),
                   x -> length(x) > 0) AS words,
                 length(text) AS total_chars
               FROM documents),
         g AS (
           SELECT doc_id, 2 AS n, array_to_string(words[i:i+1], ' ') AS gram
           FROM w, unnest(range(1, len(words))) AS t(i)
           UNION ALL
           SELECT doc_id, 3, array_to_string(words[i:i+2], ' ')
           FROM w, unnest(range(1, len(words) - 1)) AS t(i)),
         gc AS (SELECT doc_id, n, gram, count(*) AS c,
                  max(length(gram)) AS len
                FROM g GROUP BY 1, 2, 3),
         ga AS (SELECT doc_id,
                  max(CASE WHEN n = 2 THEN c * len END) AS top2_mass,
                  sum(CASE WHEN n = 3 AND c > 1 THEN c * len ELSE 0 END)
                    AS dup_mass
                FROM gc GROUP BY 1),
         sig AS (
           SELECT
             CAST(CASE WHEN COALESCE(la.n_lines, 0) > 0
               THEN (1000000 * la.dup_lines) // la.n_lines ELSE 0 END
               AS BIGINT) AS dlf,
             CAST(CASE WHEN COALESCE(la.line_chars, 0) > 0
               THEN (1000000 * la.dup_line_chars) // la.line_chars ELSE 0 END
               AS BIGINT) AS dlcf,
             CAST(LEAST(CASE WHEN w.total_chars > 0
               THEN (1000000 * COALESCE(ga.top2_mass, 0)) // w.total_chars
               ELSE 0 END, 1000000) AS BIGINT) AS t2f,
             CAST(LEAST(CASE WHEN w.total_chars > 0
               THEN (1000000 * COALESCE(ga.dup_mass, 0)) // w.total_chars
               ELSE 0 END, 1000000) AS BIGINT) AS d5f
           FROM w LEFT JOIN la USING (doc_id) LEFT JOIN ga USING (doc_id))
         SELECT reason, count(*) AS ct FROM (
           SELECT CASE WHEN dlf > 970000 THEN 'dup_lines'
                       WHEN dlcf > 950000 THEN 'dup_line_chars'
                       WHEN t2f > 100000 THEN 'top_ngram_mass'
                       WHEN d5f > 20000 THEN 'dup_ngram_mass'
                       ELSE 'keep' END AS reason
           FROM sig)
         GROUP BY 1""")),

    // BPE ENCODE under a fixed 4-merge list — the apply side of q117's
    // trainer, sharing its sentinel-replace machinery: the whole encode
    // is |merges| chained codegen'd replaces over the distinct-word
    // dictionary, and the corpus side is one (id, word) count join.
    // Exact oracle: DuckDB replays the identical nested replace chain.
    Query("q131_bpe_token_counts", (s, dir) =>
      ops.BpeTrain.tokenCounts(T(s, dir, "documents"), "doc_id", "text",
        Seq("a" -> "t", "s" -> "t", "t" -> "h", "at" -> "a")),
      // BPE encode replay: the identical sentinel-replace chain, applied
      // to the distinct-word dictionary in merge-rank order, then one
      // count join — DuckDB's replace is the same leftmost
      // non-overlapping rule
      Some("""WITH w AS (
           SELECT doc_id, word FROM (
             SELECT doc_id, unnest(list_filter(
               string_split_regex(lower(text), '\s+'),
               x -> length(x) > 0 AND NOT contains(x, chr(1)))) AS word
             FROM documents)),
         wc AS (SELECT doc_id, word, count(*) AS wct FROM w GROUP BY 1, 2),
         dict AS (SELECT DISTINCT word FROM w),
         enc AS (SELECT word, len(string_split(trim(
             replace(replace(replace(replace(
               array_to_string(list_transform(string_split(word, ''),
                 c -> chr(1) || c || chr(1)), ''),
               chr(1)||'a'||chr(1)||chr(1)||'t'||chr(1), chr(1)||'at'||chr(1)),
               chr(1)||'s'||chr(1)||chr(1)||'t'||chr(1), chr(1)||'st'||chr(1)),
               chr(1)||'t'||chr(1)||chr(1)||'h'||chr(1), chr(1)||'th'||chr(1)),
               chr(1)||'at'||chr(1)||chr(1)||'a'||chr(1), chr(1)||'ata'||chr(1)),
             chr(1)), chr(1) || chr(1))) AS n_tokens
           FROM dict)
         SELECT d.doc_id,
           CAST(COALESCE(sum(x.wct * x.n_tokens), 0) AS BIGINT) AS bpe_tokens,
           CAST(COALESCE(sum(x.wct), 0) AS BIGINT) AS n_words
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN (SELECT wc.doc_id, wc.wct, enc.n_tokens
                    FROM wc JOIN enc USING (word)) x USING (doc_id)
         GROUP BY 1""")),

    // Per-doc top-3 TF-IDF keywords — q123's exact integer-weight
    // conventions, ranked (w DESC, term ASC) inside each document.
    // Exact oracle: same df screen, idf floor, and window replay.
    Query("q134_top_keywords", (s, dir) =>
      // maxDfFrac 0.9: the synthetic corpus has a ~60-word vocabulary
      // with most words in >half the docs — the production 0.5 default
      // would empty the keyword space here
      ops.Retrieval.topKeywords(T(s, dir, "documents"),
        "doc_id", "text", k = 3, maxDfFrac = 0.9),
      // q123's exact vocabulary/weight replay, then the per-document
      // window with the lexicographic tie-break
      Some("""WITH t AS (
           SELECT doc_id, word AS term, count(*) AS tf FROM (
             SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> length(x) > 0)) AS word
             FROM documents) GROUP BY 1, 2),
         nd AS (SELECT count(*) AS n FROM documents),
         d AS (SELECT term, count(*) AS df FROM t GROUP BY 1
               HAVING count(*) >= 2 AND count(*) <= (SELECT floor(0.9 * n) FROM nd)),
         w AS (SELECT doc_id, term, tf,
                 tf * CAST(floor(1000.0 * ln(CAST((SELECT n FROM nd) AS DOUBLE) / df)) AS BIGINT) AS w
               FROM t JOIN d USING (term)),
         r AS (SELECT doc_id, term, tf, w,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY w DESC, term ASC) AS rk
               FROM w)
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
           CAST(w AS BIGINT) AS w, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3""")),

    // Vocabulary drift between two corpus halves: top-k tokens by
    // per-token Jensen–Shannon contribution over Laplace-smoothed
    // unigram distributions. Exact oracle: the probabilities are exact
    // rationals cast to double, the ln/multiply/floor order is fixed,
    // and the two e9-floored halves sum as integers.
    Query("q140_vocab_divergence", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      ops.Retrieval.vocabularyDivergence(
        d.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        d.filter(pmod(col("doc_id"), lit(2L)) === 1L),
        "text", topK = 50)
    },
      // identical smoothing rationals, double casts, and ln/floor order;
      // DESC NULLS LAST mirrors Spark's desc
      Some("""WITH ta AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> length(x) > 0)) AS term
           FROM documents WHERE doc_id % 2 = 0),
         tb AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> length(x) > 0)) AS term
           FROM documents WHERE doc_id % 2 = 1),
         ca AS (SELECT term, count(*) AS c FROM ta GROUP BY 1),
         cb AS (SELECT term, count(*) AS c FROM tb GROUP BY 1),
         j AS (
           SELECT COALESCE(ca.term, cb.term) AS term,
             COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
           FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
         t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM j),
         w AS (
           SELECT term, ca, cb,
             CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS pa,
             CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS pb
           FROM j CROSS JOIN t)
         SELECT term, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
           CAST(floor(500000000.0 * (pa * ln(pa / ((pa + pb) / 2.0)))) +
                floor(500000000.0 * (pb * ln(pb / ((pa + pb) / 2.0)))) AS BIGINT) AS js_e9
         FROM w
         ORDER BY js_e9 DESC NULLS LAST, term ASC LIMIT 50""")),
  )
}
