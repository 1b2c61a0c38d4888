package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** Web crawl: HTML extraction, URL normalization, WARC round trips,
  * boilerplate scrub, robots decisions and fetch scheduling. */
private[graft] object CrawlQueries {

  val all: Seq[Query] = Seq(

    // HTML → TEXT EXTRACTION: the crawl pipeline's first stage
    // (WET generation), the q112/q150 synthesis doctrine — markup is
    // built in-query from row data (title, heading, escaped entities,
    // a script whose body contains raw < > && that must NOT leak into
    // the text, doc_id%4 anchor tags, a comment that must vanish), so
    // the oracle replays synthesis AND extraction char-for-char. The
    // whole query is one codegen'd narrow projection — no shuffle, no
    // UDF; raw HTML never enters an exchange.
    Query("q153_html_extract", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title> "), col("source"), lit(" #"), did,
        lit(" </title>\n<style>p { color: #333; }</style>"),
        lit("<script type=\"text/javascript\">var t = 1 < 2 && 3 > 2;</script>"),
        lit("</head>\n<body>\n\t<h1>"), upper(col("source")),
        lit("</h1>\n<p>"), substring(col("text"), 1, 120),
        lit("</p>\n<p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;end</p>"),
        array_join(array_repeat(
          lit("<a href=\"https://example.com/p\">l</a>"),
          pmod(col("doc_id"), lit(4L)).cast("int")), ""),
        lit("<!-- hidden "), did, lit(" -->\n</body></html>"))
      docs.select(col("doc_id"), html.as("__html"))
        .select(col("doc_id"),
          ops.Html.extractTitle(col("__html")).as("title"),
          ops.Html.extractText(col("__html")).as("body_text"),
          ops.Html.countLinks(col("__html")).cast("long").as("n_links"),
          ops.Html.linkDensityE6(col("__html")).as("link_density_e6"))
    },
      // replays synthesis AND the extraction chain char-for-char: DuckDB
      // regexes are RE2 (no lookaround, no \x0B in any class — the
      // operator avoids both by construction), replacement backrefs are
      // \1 vs Spark's $1 (none used here), and regexp_replace needs the
      // explicit 'g' flag where Spark replaces globally by default
      Some("""WITH h AS (
           SELECT doc_id,
             '<html><head><title> ' || source || ' #' || doc_id ||
             ' </title>' || chr(10) || '<style>p { color: #333; }</style>' ||
             '<script type="text/javascript">var t = 1 < 2 && 3 > 2;</script>' ||
             '</head>' || chr(10) || '<body>' || chr(10) || chr(9) ||
             '<h1>' || upper(source) || '</h1>' || chr(10) || '<p>' ||
             substring(text, 1, 120) || '</p>' || chr(10) ||
             '<p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;end</p>' ||
             repeat('<a href="https://example.com/p">l</a>',
               CAST(doc_id % 4 AS INT)) ||
             '<!-- hidden ' || doc_id || ' -->' || chr(10) ||
             '</body></html>' AS html
           FROM documents),
         u AS (
           SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script\b[^>]*>.*?</script>', '', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', '', 'g'),
               '(?s)<!--.*?-->', '', 'g'),
               '(?s)<[^>]+>', ' ', 'g') AS untag,
             regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS rawtitle
           FROM h),
         dec AS (
           SELECT doc_id, html,
             replace(replace(replace(replace(replace(replace(replace(untag,
               '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),
               '&apos;',chr(39)),'&nbsp;',' '),'&amp;','&') AS dtext,
             replace(replace(replace(replace(replace(replace(replace(rawtitle,
               '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),
               '&apos;',chr(39)),'&nbsp;',' '),'&amp;','&') AS dtitle
           FROM u),
         fin AS (
           SELECT doc_id,
             trim(regexp_replace(dtitle, '[ \t\r\n]+', ' ', 'g')) AS title,
             trim(regexp_replace(dtext, '[ \t\r\n]+', ' ', 'g')) AS body_text,
             CAST(len(regexp_extract_all(html, '(?is)<a\b[^>]*href', 0)) AS BIGINT) AS n_links
           FROM dec)
         SELECT doc_id, title, body_text, n_links,
           CASE WHEN length(body_text) = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(floor(n_links * 100000000.0 / length(body_text)) AS BIGINT)
           END AS link_density_e6
         FROM fin""")),

    // URL CANONICALIZATION: the q153 sibling — synthesized URLs
    // exercise every rule (uppercase scheme+host, co.uk vs .com
    // registrable domains, default vs real ports, tracking-param runs
    // in every position, fragments), and the oracle replays synthesis
    // + normalization char-for-char. One narrow codegen'd projection.
    Query("q154_url_normalize", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val scheme = when(pmod(did, lit(2L)) === 0L, lit("HTTP")).otherwise(lit("https"))
      val hostS = concat(lit("WWW."), col("source"),
        when(pmod(did, lit(3L)) === 0L, lit(".Example.CO.uk"))
          .otherwise(lit(".Example.com")))
      val port = when(pmod(did, lit(5L)) === 0L,
          when(pmod(did, lit(2L)) === 0L, lit(":80")).otherwise(lit(":443")))
        .when(pmod(did, lit(5L)) === 1L, lit(":8080"))
        .otherwise(lit(""))
      val path = concat(lit("/Articles/p"), pmod(did, lit(50L)).cast("string"))
      val query = when(pmod(did, lit(4L)) === 0L,
          lit("?utm_source=feed&utm_medium=rss&utm_campaign=x1"))
        .when(pmod(did, lit(4L)) === 1L,
          concat(lit("?id="), pmod(did, lit(7L)).cast("string"), lit("&utm_source=tw&gclid=z9")))
        .when(pmod(did, lit(4L)) === 2L,
          concat(lit("?a=1&fbclid=abc&b="), pmod(did, lit(9L)).cast("string")))
        .otherwise(lit(""))
      val frag = when(pmod(did, lit(6L)) === 0L, lit("#Sec-2")).otherwise(lit(""))
      val url = concat(scheme, lit("://"), hostS, port, path, query, frag)
      docs.select(did, url.as("__url"))
        .select(did,
          ops.Url.normalizeUrl(col("__url")).as("url_norm"),
          ops.Url.host(col("__url")).as("host"),
          ops.Url.registrableDomain(ops.Url.host(col("__url"))).as("domain"))
    },
      // replays synthesis + every normalization rule; anchored port
      // patterns need no 'g', the tracking/collapse passes do
      Some("""WITH u0 AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
             'WWW.' || source ||
             (CASE WHEN doc_id % 3 = 0 THEN '.Example.CO.uk' ELSE '.Example.com' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN
                (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
               WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
             '/Articles/p' || (doc_id % 50) ||
             (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss&utm_campaign=x1'
               WHEN doc_id % 4 = 1 THEN '?id=' || (doc_id % 7) || '&utm_source=tw&gclid=z9'
               WHEN doc_id % 4 = 2 THEN '?a=1&fbclid=abc&b=' || (doc_id % 9)
               ELSE '' END) ||
             (CASE WHEN doc_id % 6 = 0 THEN '#Sec-2' ELSE '' END) AS url
           FROM documents),
         n1 AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([^/?#]*://[^/?#]*)', 1)) ||
               regexp_extract(url, '(?s)^[^/?#]*://[^/?#]*(.*)$', 1) AS lowered,
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
           FROM u0),
         n2 AS (
           SELECT doc_id, host,
             regexp_replace(regexp_replace(regexp_replace(lowered,
               '(?s)#.*', '', 'g'),
               '^(http://(?:[^/?#]*@)?[^/:?#]*):80([/?#].*)?$', '\1\2'),
               '^(https://(?:[^/?#]*@)?[^/:?#]*):443([/?#].*)?$', '\1\2')
               AS base
           FROM n1),
         n3 AS (
           SELECT doc_id, host,
             regexp_extract(base, '(?s)^([^?]*)', 1) AS pre,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_extract(base, '(?s)^[^?]*\?(.*)$', 1),
               '(^|&)(utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&]*', '\1', 'g'),
               '&&+', '&', 'g'),
               '^&+|&+$', '', 'g') AS qbody
           FROM n2),
         n4 AS (
           SELECT doc_id, host,
             pre || CASE WHEN qbody = '' THEN '' ELSE '?' || qbody END
               AS url_norm
           FROM n3)
         SELECT doc_id, url_norm, host,
           CASE WHEN regexp_extract(host,
               '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.[a-z][a-z])$', 1) <> ''
             THEN regexp_extract(host,
               '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.[a-z][a-z])$', 1)
             WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
             THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
             ELSE host END AS domain
         FROM n4""")),

    // WARC ROUND-TRIP: crawl-container ingestion under the q150
    // synth→parse doctrine — records (with CJK/emoji payloads on
    // doc_id%4==0, so Content-Length is genuinely octets ≠ chars) are
    // concatenated into 8 file blobs, then the REAL byte-walk parser
    // (Content-Length-driven, not separator-split) re-emits every
    // field; the oracle computes the expected parse arithmetically,
    // rec_index replaying byte order as the member sort.
    Query("q155_warc_roundtrip", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val payload = concat(substring(col("text"), 1, 100),
        when(pmod(did, lit(4L)) === 0L, lit(" — 中文 😀")).otherwise(lit("")))
      val rec = ops.Warc.recordString(
        concat(lit("<urn:uuid:"), did.cast("string"), lit(">")),
        concat(lit("https://example.com/"), col("source"), lit("/"),
          did.cast("string")),
        payload)
      ops.Warc.parseRecords(
        ops.Warc.asWarcFiles(docs, pmod(did, lit(8L)), did, rec))
    },
      // the parse is replayed arithmetically: every field is a pure
      // function of the source row, content_length in OCTETS (DuckDB
      // strlen = bytes, mirroring Spark octet_length), rec_index = the
      // member's rank in its file (byte order == doc_id order)
      Some("""WITH d AS (
           SELECT doc_id, source,
             substring(text, 1, 100) ||
               CASE WHEN doc_id % 4 = 0 THEN ' — 中文 😀' ELSE '' END AS payload
           FROM documents)
         SELECT doc_id % 8 AS file_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
             AS BIGINT) AS rec_index,
           'response' AS warc_type,
           '<urn:uuid:' || doc_id || '>' AS record_id,
           'https://example.com/' || source || '/' || doc_id AS target_uri,
           CAST(strlen(payload) AS BIGINT) AS content_length,
           payload AS payload_text
         FROM d""")),

    // GZIP-MEMBER WARC ROUND-TRIP: the container crawl corpora
    // actually ship — q155's records, but each record is its OWN RFC
    // 1952 gzip member (real Deflater) and members concatenate per
    // file; the read side is the sequential member walk (header parse
    // + raw inflate + CRC32/ISIZE trailer verify — NOT a magic scan:
    // compressed bytes can contain 1f 8b) feeding the SAME record
    // parser as q155. The oracle replays the identity arithmetically:
    // compression must be invisible to every parsed field.
    Query("q170_warcgz_roundtrip", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val payload = concat(substring(col("text"), 1, 100),
        when(pmod(did, lit(4L)) === 0L, lit(" — 中文 😀")).otherwise(lit("")))
      val rec = ops.Warc.recordString(
        concat(lit("<urn:uuid:"), did.cast("string"), lit(">")),
        concat(lit("https://example.com/"), col("source"), lit("/"),
          did.cast("string")),
        payload)
      ops.Warc.parseGzRecords(
        ops.Warc.asWarcGzFiles(docs, pmod(did, lit(7L)), did, rec))
    },
      // the gzip container is invisible to the parse: same replay as
      // q155 modulo the file grouping (one gzip member per record)
      Some("""WITH d AS (
           SELECT doc_id, source,
             substring(text, 1, 100) ||
               CASE WHEN doc_id % 4 = 0 THEN ' — 中文 😀' ELSE '' END AS payload
           FROM documents)
         SELECT doc_id % 7 AS file_id,
           CAST(row_number() OVER (PARTITION BY doc_id % 7 ORDER BY doc_id) - 1
             AS BIGINT) AS rec_index,
           'response' AS warc_type,
           '<urn:uuid:' || doc_id || '>' AS record_id,
           'https://example.com/' || source || '/' || doc_id AS target_uri,
           CAST(strlen(payload) AS BIGINT) AS content_length,
           payload AS payload_text
         FROM d""")),

    // INDEXED RANDOM-ACCESS FETCH: the read path the member
    // offsets exist FOR — a CDX-style index (file_id, member_index,
    // byte_offset, comp_len) from the member walk selects every 3rd
    // member; the fetch slices ONLY those byte ranges (binary
    // substring, codegen'd) and inflates member-locally. At 100 TB:
    // "touch k byte ranges", never "parse the petabyte". Oracle = the
    // full q170 parse filtered to the requested members — the fetch
    // must be exactly the restriction of the full read.
    Query("q172_warcgz_indexed_fetch", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val payload = concat(substring(col("text"), 1, 100),
        when(pmod(did, lit(4L)) === 0L, lit(" — 中文 😀")).otherwise(lit("")))
      val rec = ops.Warc.recordString(
        concat(lit("<urn:uuid:"), did.cast("string"), lit(">")),
        concat(lit("https://example.com/"), col("source"), lit("/"),
          did.cast("string")),
        payload)
      val files = ops.Pipeline.stage("warcgz_fetch_files",
        ops.Warc.asWarcGzFiles(docs, pmod(did, lit(6L)), did, rec))
      val index = ops.Warc.splitGzMembers(files)
        .select(col("file_id"), col("member_index"),
          col("byte_offset"), col("comp_len"))
        .filter(pmod(col("member_index"), lit(3L)) === 0L)
      ops.Warc.fetchGzRecords(files, index)
    },
      // the fetch is the restriction of the full parse: members are
      // doc-ordered per file, every 3rd selected; rec_index is WITHIN
      // the fetched member (one record per member -> 0)
      Some("""WITH d AS (
           SELECT doc_id, source,
             substring(text, 1, 100) ||
               CASE WHEN doc_id % 4 = 0 THEN ' — 中文 😀' ELSE '' END AS payload
           FROM documents),
         m AS (
           SELECT doc_id, source, payload,
             doc_id % 6 AS file_id,
             CAST(row_number() OVER (PARTITION BY doc_id % 6 ORDER BY doc_id) - 1
               AS BIGINT) AS member_index
           FROM d)
         SELECT member_index, file_id,
           CAST(0 AS BIGINT) AS rec_index,
           'response' AS warc_type,
           '<urn:uuid:' || doc_id || '>' AS record_id,
           'https://example.com/' || source || '/' || doc_id AS target_uri,
           CAST(strlen(payload) AS BIGINT) AS content_length,
           payload AS payload_text
         FROM m WHERE member_index % 3 = 0""")),

    // THE COMPOSED CRAWL-INGEST PIPELINE: q145's sibling for the
    // crawl side, under ONE oracle — WARC files → byte-walk record
    // parse → HTML text extraction → URL canonicalization → canonical-
    // URL dedup (even/odd doc pairs share a page, the odd twin
    // differing only by tracking params + fragment: the dedup MUST
    // fold them) → link-density/length quality gate. Every stage
    // consumes the previous stage's output; the oracle replays the
    // whole composition (the WARC leg as the identity it proves,
    // HTML/URL legs by their regex chains). doc_id is recovered from
    // the parsed record_id, not threaded through — the pipeline sees
    // only what a real crawl consumer would.
    Query("q159_crawl_pipeline", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val page = (did - pmod(did, lit(2L))).cast("string")
      val rawUrl = concat(
        when(pmod(did, lit(2L)) === 0L, lit("HTTPS://")).otherwise(lit("https://")),
        lit("WWW.crawl"),
        pmod(did - pmod(did, lit(2L)), lit(5L)).cast("string"),
        lit(".Example.org/page/"), page,
        when(pmod(did, lit(2L)) === 1L,
          lit("?utm_source=mirror&utm_medium=rss#ref")).otherwise(lit("")))
      val html = concat(
        lit("<html><head><title>Doc "), page, lit("</title></head>\n<body><p>"),
        substring(col("text"), 1, 150), lit("</p>"),
        array_join(array_repeat(lit("<a href=\"/l\">x</a>"),
          pmod(did, lit(6L)).cast("int")), ""),
        lit("</body></html>"))
      val rec = ops.Warc.recordString(
        concat(lit("<urn:uuid:"), did.cast("string"), lit(">")), rawUrl, html)
      val parsed = ops.Pipeline.stage("warc_parse", ops.Warc.parseRecords(
        ops.Warc.asWarcFiles(docs, pmod(did, lit(8L)), did, rec)))
      val extracted = ops.Pipeline.stage("extract", parsed.select(
        regexp_extract(col("record_id"), "<urn:uuid:([0-9]+)>", 1)
          .cast("long").as("doc_id"),
        ops.Url.normalizeUrl(col("target_uri")).as("url_norm"),
        ops.Url.registrableDomain(ops.Url.host(col("target_uri"))).as("domain"),
        ops.Html.extractTitle(col("payload_text")).as("title"),
        ops.Html.extractText(col("payload_text")).as("body_text"),
        ops.Html.linkDensityE6(col("payload_text")).as("link_density_e6")))
      // Canonical-URL keep-first as a combinable argmin — min over a
      // struct whose FIRST field is the tiebreak key (q114's shape) —
      // instead of row_number over a window: the aggregate gets a
      // map-side partial combine, so a hot URL's duplicates fold down
      // BEFORE the exchange and no per-group sort ever runs. Same winner by construction: doc_id leads the
      // struct and is unique, so lexicographic min ≡ orderBy(doc_id)
      // rank 1.
      extracted
        .groupBy(col("url_norm"))
        .agg(min(struct(col("doc_id"), col("domain"), col("title"),
          col("body_text"), col("link_density_e6"))).as("__w"))
        .select(col("__w.doc_id").as("doc_id"), col("url_norm"),
          col("__w.domain").as("domain"), col("__w.title").as("title"),
          col("__w.body_text").as("body_text"),
          col("__w.link_density_e6").as("link_density_e6"))
        .filter(length(col("body_text")) >= 120 &&
          col("link_density_e6") <= 2500000L)
        .select(col("doc_id"), col("url_norm"), col("domain"), col("title"),
          length(col("body_text")).cast("long").as("n_chars"),
          col("link_density_e6"))
    },
      // replays the FULL composition: synthesis, the WARC leg as the
      // identity it proves, the q153 extract chain, the q154 normalize
      // chain, canonical dedup, and the gate — one SQL statement
      Some("""WITH h AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
               'WWW.crawl' || ((doc_id - (doc_id % 2)) % 5) ||
               '.Example.org/page/' || (doc_id - (doc_id % 2)) ||
               (CASE WHEN doc_id % 2 = 1
                 THEN '?utm_source=mirror&utm_medium=rss#ref' ELSE '' END) AS url,
             '<html><head><title>Doc ' || (doc_id - (doc_id % 2)) ||
               '</title></head>' || chr(10) || '<body><p>' ||
               substring(text, 1, 150) || '</p>' ||
               repeat('<a href="/l">x</a>', CAST(doc_id % 6 AS INT)) ||
               '</body></html>' AS html
           FROM documents),
         x AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^([^/?#]*://[^/?#]*)', 1)) ||
                 regexp_extract(url, '(?s)^[^/?#]*://[^/?#]*(.*)$', 1),
               '(?s)#.*', '', 'g'),
               '^(http://(?:[^/?#]*@)?[^/:?#]*):80([/?#].*)?$', '\1\2'),
               '^(https://(?:[^/?#]*@)?[^/:?#]*):443([/?#].*)?$', '\1\2')
               AS base,
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host,
             trim(regexp_replace(
               regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
               '[ \t\r\n]+', ' ', 'g')) AS title,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
                   '(?is)<script\b[^>]*>.*?</script>', '', 'g'),
                   '(?is)<style\b[^>]*>.*?</style>', '', 'g'),
                   '(?s)<!--.*?-->', '', 'g'),
                   '(?s)<[^>]+>', ' ', 'g'),
                 '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),
                 '&apos;',chr(39)),'&nbsp;',' '),'&amp;','&'),
               '[ \t\r\n]+', ' ', 'g')) AS body_text,
             CAST(len(regexp_extract_all(html, '(?is)<a\b[^>]*href', 0))
               AS BIGINT) AS n_links
           FROM h),
         x2 AS (
           SELECT doc_id, host, title, body_text, n_links,
             regexp_extract(base, '(?s)^([^?]*)', 1) AS pre,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_extract(base, '(?s)^[^?]*\?(.*)$', 1),
               '(^|&)(utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&]*', '\1', 'g'),
               '&&+', '&', 'g'),
               '^&+|&+$', '', 'g') AS qbody
           FROM x),
         y AS (
           SELECT doc_id,
             pre || CASE WHEN qbody = '' THEN '' ELSE '?' || qbody END
               AS url_norm,
             title, body_text,
             CASE WHEN regexp_extract(host,
                 '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.[a-z][a-z])$', 1) <> ''
               THEN regexp_extract(host,
                 '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.[a-z][a-z])$', 1)
               WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
               THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
               ELSE host END AS domain,
             CASE WHEN length(body_text) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor(n_links * 100000000.0 / length(body_text))
                 AS BIGINT) END AS link_density_e6
           FROM x2),
         z AS (
           SELECT y.*, row_number() OVER (PARTITION BY url_norm
             ORDER BY doc_id) AS rk FROM y)
         SELECT doc_id, url_norm, domain, title,
           CAST(length(body_text) AS BIGINT) AS n_chars, link_density_e6
         FROM z
         WHERE rk = 1 AND length(body_text) >= 120
           AND link_density_e6 <= 2500000""")),

    // PER-DOMAIN BOILERPLATE LINE REMOVAL: the site-template pass
    // (CCNet/trafilatura class) — a line carried by ≥ 60% of the SAME
    // domain's pages is chrome, deleted from every page of that domain.
    // The synthesis engineers every contract clause: a domain-specific
    // NAV + footer (100% → removed), "Subscribe to our newsletter" hot
    // in domains d0–d4 (every page) but on only ~20% of pages in d5–d9
    // (SAME string, removed there vs KEPT — frequencies must never pool
    // across domains), a per-doc body line (kept), and a 2-char "ad"
    // line everywhere that minLen=3 exempts (kept even at 100% df).
    // Thresholds are pure integer arithmetic (⌈n·frac/10⁶⌉ via div);
    // only (domain, 8-byte line hash) rows enter the df exchange.
    Query("q160_boilerplate_scrub", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val dom = concat(lit("d"), pmod(did, lit(10L)).cast("string"))
      val r = expr("doc_id div 10")
      val synth = concat(
        lit("NAV d"), pmod(did, lit(10L)).cast("string"),
        lit(" | home | about"), lit("\n"),
        when(pmod(did, lit(10L)) < 5L || pmod(r, lit(5L)) === 0L,
          lit("Subscribe to our newsletter"))
          .otherwise(concat(lit("Local news item "),
            pmod(r, lit(11L)).cast("string"))), lit("\n"),
        substring(col("text"), 1, 200), lit("\n"),
        lit("ad"), lit("\n"),
        lit("(c) d"), pmod(did, lit(10L)).cast("string"),
        lit(" media group"))
      ops.SpanScrub.scrubBoilerplateLines(
        docs.select(did, dom.as("dom"), synth.as("text")),
        "doc_id", "dom", "text",
        minFracE6 = 600000L, minAbs = 2L, minLen = 3)
    },
      // full replay of the per-domain boilerplate pass (q114's rebuild
      // shape with q160's df-threshold kill rule): the synthesis, the
      // minLen=3 exemption ('ad' never participates), the per-domain
      // distinct doc-frequency, the integer ceil threshold
      // max(2, ceil(n*0.6)) as (n*600000 + 999999) // 1000000, and the
      // position-wise line surgery — '//' is DuckDB integral division
      // (both operands positive, so trunc == floor == Spark's div)
      Some("""WITH d0 AS (
           SELECT doc_id, 'd' || CAST(doc_id % 10 AS VARCHAR) AS dom,
             'NAV d' || CAST(doc_id % 10 AS VARCHAR) || ' | home | about'
               || chr(10) ||
             CASE WHEN doc_id % 10 < 5 OR (doc_id // 10) % 5 = 0
               THEN 'Subscribe to our newsletter'
               ELSE 'Local news item ' || CAST((doc_id // 10) % 11 AS VARCHAR)
             END || chr(10) ||
             substring(text, 1, 200) || chr(10) ||
             'ad' || chr(10) ||
             '(c) d' || CAST(doc_id % 10 AS VARCHAR) || ' media group' AS text
           FROM documents),
         w AS (SELECT doc_id, dom, string_split(text, chr(10)) AS lines FROM d0),
         p AS (
           SELECT doc_id, dom, CAST(i - 1 AS BIGINT) AS pos, lines[i] AS line
           FROM (SELECT doc_id, dom, lines,
                   unnest(range(1, len(lines) + 1)) AS i FROM w)),
         el AS (SELECT * FROM p WHERE length(line) >= 3),
         nd AS (SELECT dom, count(*) AS n FROM d0 GROUP BY 1),
         ldf AS (
           SELECT dom, line, count(DISTINCT doc_id) AS df FROM el GROUP BY 1, 2),
         hot AS (
           SELECT ldf.dom, ldf.line FROM ldf JOIN nd USING (dom)
           WHERE df >= greatest(2, (n * 600000 + 999999) // 1000000)),
         kill AS (
           SELECT doc_id, list(pos ORDER BY pos) AS killed
           FROM el JOIN hot ON el.dom = hot.dom AND el.line = hot.line
           GROUP BY 1)
         SELECT w.doc_id,
           CASE WHEN k.killed IS NULL THEN array_to_string(w.lines, chr(10))
             ELSE COALESCE(array_to_string(
               list_transform(
                 list_filter(
                   list_transform(range(1, len(w.lines) + 1),
                     i -> {'p': w.lines[i], 'i': CAST(i - 1 AS BIGINT)}),
                   s -> NOT list_contains(k.killed, s.i)),
                 s -> s.p),
               chr(10)), '') END AS clean_text,
           CAST(COALESCE(len(k.killed), 0) AS BIGINT) AS removed_lines
         FROM w LEFT JOIN kill k USING (doc_id)""")),

    // CRAWL PIPELINE WITH BOILERPLATE SCRUB: q159's composition
    // completed to the CCNet stage order — extract → per-site
    // boilerplate → dedup — under ONE oracle. WARC files → byte-walk
    // parse → BLOCK-structured text extraction (extractTextLines: one
    // DOM block ≈ one line — the representation the line-frequency
    // pass needs) → per-SITE boilerplate scrub (site = full host:
    // q159's registrableDomain would pool all five crawl subdomains
    // into one "example.org" and break the never-pool-frequencies
    // contract) → canonical-URL keep-first dedup (the q159 argmin
    // shape) → clean-length quality gate. The synthesis plants the
    // full scrub contract inside the pipeline: a per-site nav + footer
    // (100% → removed), "Subscribe to our newsletter" on every page of
    // sites 0-1 but ~20% of pages of sites 2-4 (removed vs KEPT), the
    // 2-char "ad" div that minLen=3 exempts, and the per-page title
    // line (df 2 per site → kept).
    Query("q161_crawl_scrub_pipeline", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val page = (did - pmod(did, lit(2L))).cast("string")
      val site = pmod(did - pmod(did, lit(2L)), lit(5L))
      val rawUrl = concat(lit("https://www.crawl"), site.cast("string"),
        lit(".example.org/page/"), page,
        when(pmod(did, lit(2L)) === 1L,
          lit("?utm_source=mirror#frag")).otherwise(lit("")))
      val r = expr("doc_id div 10")
      val html = concat(
        lit("<html><head><title>Doc "), page, lit("</title></head><body>"),
        lit("<div>site"), site.cast("string"),
        lit(" nav | home | about</div>"),
        when(site < 2L || pmod(r, lit(5L)) === 0L,
          lit("<p>Subscribe to our newsletter</p>")).otherwise(lit("")),
        lit("<p>"), substring(col("text"), 1, 150), lit("</p>"),
        lit("<div>ad</div>"),
        lit("<div>(c) site"), site.cast("string"),
        lit(" media group</div></body></html>"))
      val rec = ops.Warc.recordString(
        concat(lit("<urn:uuid:"), did.cast("string"), lit(">")), rawUrl, html)
      val parsed = ops.Pipeline.stage("warc_parse", ops.Warc.parseRecords(
        ops.Warc.asWarcFiles(docs, pmod(did, lit(8L)), did, rec)))
      val extracted = ops.Pipeline.stage("extract", parsed.select(
        regexp_extract(col("record_id"), "<urn:uuid:([0-9]+)>", 1)
          .cast("long").as("doc_id"),
        ops.Url.normalizeUrl(col("target_uri")).as("url_norm"),
        ops.Url.host(col("target_uri")).as("site"),
        ops.Html.extractTitle(col("payload_text")).as("title"),
        ops.Html.extractTextLines(col("payload_text")).as("body_lines")))
      val scrubbed = ops.Pipeline.stage("scrub",
        ops.SpanScrub.scrubBoilerplateLines(
          extracted.select(col("doc_id"), col("site"), col("body_lines")),
          "doc_id", "site", "body_lines",
          minFracE6 = 600000L, minAbs = 2L, minLen = 3))
      val rejoined = extracted.select(col("doc_id"), col("url_norm"),
          col("site"), col("title"))
        .join(scrubbed, "doc_id")
      rejoined
        .groupBy(col("url_norm"))
        .agg(min(struct(col("doc_id"), col("site"), col("title"),
          col("clean_text"), col("removed_lines"))).as("__w"))
        .select(col("__w.doc_id").as("doc_id"), col("url_norm"),
          col("__w.site").as("site"), col("__w.title").as("title"),
          col("__w.clean_text").as("clean_text"),
          col("__w.removed_lines").as("removed_lines"))
        .filter(length(col("clean_text")) >= 80)
        .select(col("doc_id"), col("url_norm"), col("site"), col("title"),
          length(col("clean_text")).cast("long").as("n_chars_clean"),
          col("removed_lines"))
    },
      // q159's replay extended by the block-line extraction and the q160
      // scrub CTEs: extractTextLines is replayed as the same regexp chain
      // with the per-line trim/drop done as list ops (equivalent by
      // construction: after '[ \t\r]+'→' ' only spaces and newlines
      // remain, so trim-around-newlines + collapse-blank-lines + edge
      // strip ≡ split/trim/filter-empty). The WARC leg is the identity
      // q155 proves; '//' is DuckDB integral division (operands positive)
      Some("""WITH h AS (
           SELECT doc_id,
             'https://www.crawl' || ((doc_id - (doc_id % 2)) % 5) ||
               '.example.org/page/' || (doc_id - (doc_id % 2)) ||
               (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=mirror#frag'
                 ELSE '' END) AS url,
             '<html><head><title>Doc ' || (doc_id - (doc_id % 2)) ||
               '</title></head><body>' ||
               '<div>site' || ((doc_id - (doc_id % 2)) % 5) ||
               ' nav | home | about</div>' ||
               (CASE WHEN (doc_id - (doc_id % 2)) % 5 < 2
                   OR (doc_id // 10) % 5 = 0
                 THEN '<p>Subscribe to our newsletter</p>' ELSE '' END) ||
               '<p>' || substring(text, 1, 150) || '</p>' ||
               '<div>ad</div>' ||
               '<div>(c) site' || ((doc_id - (doc_id % 2)) % 5) ||
               ' media group</div></body></html>' AS html
           FROM documents),
         x AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^([^/?#]*://[^/?#]*)', 1)) ||
                 regexp_extract(url, '(?s)^[^/?#]*://[^/?#]*(.*)$', 1),
               '(?s)#.*', '', 'g'),
               '^(http://(?:[^/?#]*@)?[^/:?#]*):80([/?#].*)?$', '\1\2'),
               '^(https://(?:[^/?#]*@)?[^/:?#]*):443([/?#].*)?$', '\1\2')
               AS base,
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1))
               AS site,
             trim(regexp_replace(
               regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
               '[ \t\r\n]+', ' ', 'g')) AS title,
             list_filter(list_transform(string_split(
               regexp_replace(
                 replace(replace(replace(replace(replace(replace(replace(
                   regexp_replace(regexp_replace(
                     regexp_replace(regexp_replace(regexp_replace(html,
                       '(?is)<script\b[^>]*>.*?</script>', '', 'g'),
                       '(?is)<style\b[^>]*>.*?</style>', '', 'g'),
                       '(?s)<!--.*?-->', '', 'g'),
                     '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|table|title|head|body|html|section|article|header|footer|blockquote|pre)\b[^>]*>',
                     chr(10), 'g'),
                     '(?s)<[^>]+>', ' ', 'g'),
                   '&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',chr(39)),
                   '&apos;',chr(39)),'&nbsp;',' '),'&amp;','&'),
                 '[ \t\r]+', ' ', 'g'),
               chr(10)), l -> trim(l, ' ')), l -> l <> '') AS lines
           FROM h),
         x2 AS (
           SELECT doc_id, site, title, lines,
             regexp_extract(base, '(?s)^([^?]*)', 1) ||
               CASE WHEN regexp_replace(regexp_replace(regexp_replace(
                   regexp_extract(base, '(?s)^[^?]*\?(.*)$', 1),
                   '(^|&)(utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&]*', '\1', 'g'),
                   '&&+', '&', 'g'), '^&+|&+$', '', 'g') = '' THEN ''
                 ELSE '?' || regexp_replace(regexp_replace(regexp_replace(
                   regexp_extract(base, '(?s)^[^?]*\?(.*)$', 1),
                   '(^|&)(utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&]*', '\1', 'g'),
                   '&&+', '&', 'g'), '^&+|&+$', '', 'g') END AS url_norm
           FROM x),
         el AS (
           SELECT doc_id, site, CAST(i - 1 AS BIGINT) AS pos, lines[i] AS line
           FROM (SELECT doc_id, site, lines,
                   unnest(range(1, len(lines) + 1)) AS i FROM x2)
           WHERE length(lines[i]) >= 3),
         nd AS (SELECT site, count(*) AS n FROM x2 GROUP BY 1),
         ldf AS (
           SELECT site, line, count(DISTINCT doc_id) AS df FROM el GROUP BY 1, 2),
         hot AS (
           SELECT ldf.site, ldf.line FROM ldf JOIN nd USING (site)
           WHERE df >= greatest(2, (n * 600000 + 999999) // 1000000)),
         kill AS (
           SELECT doc_id, list(pos ORDER BY pos) AS killed
           FROM el JOIN hot ON el.site = hot.site AND el.line = hot.line
           GROUP BY 1),
         sc AS (
           SELECT x2.doc_id, x2.url_norm, x2.site, x2.title,
             CASE WHEN k.killed IS NULL
               THEN array_to_string(x2.lines, chr(10))
               ELSE COALESCE(array_to_string(
                 list_transform(
                   list_filter(
                     list_transform(range(1, len(x2.lines) + 1),
                       i -> {'p': x2.lines[i], 'i': CAST(i - 1 AS BIGINT)}),
                     s -> NOT list_contains(k.killed, s.i)),
                   s -> s.p),
                 chr(10)), '') END AS clean_text,
             CAST(COALESCE(len(k.killed), 0) AS BIGINT) AS removed_lines
           FROM x2 LEFT JOIN kill k USING (doc_id)),
         z AS (
           SELECT sc.*, row_number() OVER (PARTITION BY url_norm
             ORDER BY doc_id) AS rk FROM sc)
         SELECT doc_id, url_norm, site, title,
           CAST(length(clean_text) AS BIGINT) AS n_chars_clean, removed_lines
         FROM z
         WHERE rk = 1 AND length(clean_text) >= 80""")),

    // ROBOTS.TXT DECISIONS: RFC 9309 crawl-politeness gating —
    // parse per-host robots bodies into groups/rules (window-assigned
    // group ids, host-partitioned), select the fetch agent's group
    // (named exactly, else the '*' fallback — even hosts carry a
    // graftbot group, odd hosts only '*', so BOTH selection paths run
    // under the oracle), translate RFC patterns (prefix, '*' wildcard,
    // '$' anchor) to engine-portable LIKE, decide by longest-match
    // with Allow winning ties. The oracle is an INDEPENDENT
    // hand-derived truth table over the synthesized (host, path)
    // pairs — stronger than a replay: any parser/matcher bug diverges
    // from RFC semantics stated directly in SQL.
    Query("q162_robots_decisions", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val hk = pmod(did, lit(5L))
      val host = concat(lit("h"), hk.cast("string"))
      val body = concat(
        when(pmod(hk, lit(2L)) === 0L,
          lit("# policy\nUser-agent: graftbot\nDisallow: /private/\n" +
            "Allow: /private/pub*\n\n")).otherwise(lit("")),
        lit("User-agent: *\nDisallow: /tmp/$\nDisallow: /search\n" +
          "Allow: /search/docs\nDisallow: /*.zip$\n"))
      val m = pmod(expr("doc_id div 5"), lit(8L))
      val r = expr("doc_id div 40").cast("string")
      val path = when(m === 0, concat(lit("/private/secret/"), r))
        .when(m === 1, concat(lit("/private/pub"), r))
        .when(m === 2, concat(lit("/search?q="), r))
        .when(m === 3, concat(lit("/search/docs/"), r))
        .when(m === 4, lit("/tmp/"))
        .when(m === 5, concat(lit("/tmp/f"), r))
        .when(m === 6, concat(lit("/data/f"), r, lit(".zip")))
        .otherwise(concat(lit("/page/"), r))
      ops.Robots.decisions(
        docs.select(host.as("host"), path.as("path")),
        "host", "path",
        ops.Robots.parseRules(
          docs.select(host.as("host"), body.as("txt")).distinct(),
          "host", "txt"),
        "graftbot")
    },
      // INDEPENDENT truth table, not a parse replay: the expected
      // decision for every synthesized (host, path) pair is stated
      // directly from RFC 9309 semantics — named-group selection on even
      // hosts (the '*' group must NOT leak in), '*' fallback on odd
      // hosts, longest-match with Allow winning, '$' anchors, default
      // allow. Any engine-side parser/matcher bug diverges.
      Some("""WITH u AS (
           SELECT DISTINCT
             CAST(doc_id % 5 AS BIGINT) AS hk,
             CAST((doc_id // 5) % 8 AS BIGINT) AS m,
             CAST(doc_id // 40 AS BIGINT) AS r
           FROM documents),
         p AS (
           SELECT 'h' || CAST(hk AS VARCHAR) AS host, hk, m,
             CASE m
               WHEN 0 THEN '/private/secret/' || r
               WHEN 1 THEN '/private/pub' || r
               WHEN 2 THEN '/search?q=' || r
               WHEN 3 THEN '/search/docs/' || r
               WHEN 4 THEN '/tmp/'
               WHEN 5 THEN '/tmp/f' || r
               WHEN 6 THEN '/data/f' || r || '.zip'
               ELSE '/page/' || r END AS path
           FROM u),
         d AS (SELECT DISTINCT host, hk, m, path FROM p),
         sel AS (
           SELECT host, path,
             CASE WHEN hk % 2 = 0 AND m = 0 THEN '/private/'
                  WHEN hk % 2 = 0 AND m = 1 THEN '/private/pub*'
                  WHEN hk % 2 = 1 AND m = 2 THEN '/search'
                  WHEN hk % 2 = 1 AND m = 3 THEN '/search/docs'
                  WHEN hk % 2 = 1 AND m = 4 THEN '/tmp/$'
                  WHEN hk % 2 = 1 AND m = 6 THEN '/*.zip$'
                  ELSE NULL END AS matched_pattern,
             NOT ((hk % 2 = 0 AND m = 0)
               OR (hk % 2 = 1 AND m IN (2, 4, 6))) AS allowed
           FROM d)
         SELECT host, path, matched_pattern,
           CAST(length(matched_pattern) AS BIGINT) AS matched_len,
           allowed
         FROM sel""")),

    // POLITENESS FETCH SCHEDULE: the frontier stage between
    // robots decisions and the fetch fleet — q162's allow/deny
    // composed with Crawl-delay (the de-facto REP extension) into
    // per-host fetch slots: rank allowed URLs per host, slot k fires
    // at (k−1)·delay. Named-group delay (2.5 s, fractional) on even
    // hosts, '*' delay (10 s) on odd — BOTH delay-selection paths run
    // under the oracle, and maxPerHost=5 makes the rank cut a
    // WindowGroupLimit (map-side heap — a 10⁸-page host never sorts).
    Query("q167_fetch_schedule", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val hk = pmod(did, lit(5L))
      val host = concat(lit("h"), hk.cast("string"))
      val body = concat(
        when(pmod(hk, lit(2L)) === 0L,
          lit("User-agent: graftbot\nCrawl-delay: 2.5\n" +
            "Disallow: /private/\nAllow: /private/pub*\n\n"))
          .otherwise(lit("")),
        lit("User-agent: *\nCrawl-delay: 10\nDisallow: /tmp/$\n" +
          "Disallow: /search\nAllow: /search/docs\nDisallow: /*.zip$\n"))
      val m = pmod(expr("doc_id div 5"), lit(8L))
      val r = expr("doc_id div 40").cast("string")
      val path = when(m === 0, concat(lit("/private/secret/"), r))
        .when(m === 1, concat(lit("/private/pub"), r))
        .when(m === 2, concat(lit("/search?q="), r))
        .when(m === 3, concat(lit("/search/docs/"), r))
        .when(m === 4, lit("/tmp/"))
        .when(m === 5, concat(lit("/tmp/f"), r))
        .when(m === 6, concat(lit("/data/f"), r, lit(".zip")))
        .otherwise(concat(lit("/page/"), r))
      val bodies = docs.select(host.as("host"), body.as("txt")).distinct()
      ops.Robots.fetchSchedule(
        docs.select(host.as("host"), path.as("path")), "host", "path",
        ops.Robots.parseRules(bodies, "host", "txt"),
        ops.Robots.crawlDelays(bodies, "host", "txt", "graftbot"),
        "graftbot", defaultDelayMs = 1000L, maxPerHost = Some(5))
    },
      // independent truth table again: allowed set = q162's RFC
      // semantics, delay = named-group 2500 ms on even hosts / '*'
      // 10000 ms on odd, slots = (rank−1)·delay over path order
      Some("""WITH u AS (
           SELECT DISTINCT
             CAST(doc_id % 5 AS BIGINT) AS hk,
             CAST((doc_id // 5) % 8 AS BIGINT) AS m,
             CAST(doc_id // 40 AS BIGINT) AS r
           FROM documents),
         p AS (
           SELECT 'h' || CAST(hk AS VARCHAR) AS host, hk, m,
             CASE m
               WHEN 0 THEN '/private/secret/' || r
               WHEN 1 THEN '/private/pub' || r
               WHEN 2 THEN '/search?q=' || r
               WHEN 3 THEN '/search/docs/' || r
               WHEN 4 THEN '/tmp/'
               WHEN 5 THEN '/tmp/f' || r
               WHEN 6 THEN '/data/f' || r || '.zip'
               ELSE '/page/' || r END AS path
           FROM u),
         d AS (SELECT DISTINCT host, hk, m, path FROM p),
         al AS (
           SELECT host, hk, path FROM d
           WHERE NOT ((hk % 2 = 0 AND m = 0)
             OR (hk % 2 = 1 AND m IN (2, 4, 6)))),
         rk AS (
           SELECT host, path,
             CASE WHEN hk % 2 = 0 THEN 2500 ELSE 10000 END AS delay_ms,
             row_number() OVER (PARTITION BY host ORDER BY path) AS fetch_rank
           FROM al)
         SELECT host, path, CAST(delay_ms AS BIGINT) AS delay_ms,
           CAST(fetch_rank AS BIGINT) AS fetch_rank,
           CAST((fetch_rank - 1) * delay_ms AS BIGINT) AS fetch_at_ms
         FROM rk WHERE fetch_rank <= 5""")),
  )
}
