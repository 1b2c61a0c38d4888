package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Dedup

import Shared._
import Artifacts._

/** Media: container metadata, image/audio/video decode and
  * fingerprints, MIME sniffing and the media curation faces. */
private[graft] object MultimodalQueries {

  val all: Seq[Query] = Seq(

    // Multimodal plumbing — opaque binary columns with typed metadata:
    // byte length + content digest (the decode step itself is stubbed in
    // graft.ops.Multimodal; Spark-side schema/partitioning is real)
    Query("q22_multimodal_meta", (s, dir) => {
      T(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("digest"))
    }, Some("""SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS digest
         FROM documents""")),

    // Multimodal decode — REAL header parse: payloads are synthesized
    // PNGs (signature + IHDR) with row-derived dimensions, and the
    // decode kernel reads width/height/channels back out of the actual
    // bytes. The oracle recomputes the dimensions arithmetically, so a
    // parser regression (endianness, offset, channel map) hash-fails.
    Query("q34_multimodal_decode", (s, dir) => {
      val docs = T(s, dir, "documents")
      val media = ops.Multimodal.asPngMediaTable(docs, "doc_id",
        lit(16) + pmod(col("doc_id"), lit(64L)),
        lit(16) + pmod(col("n_chars"), lit(64L)))
      ops.Multimodal.decodeFeatures(media)
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), col("n_bytes"))
    },
      // the payload is a synthesized PNG: 8-byte signature + len + "IHDR"
      // + 13 data bytes + CRC = 33 bytes; decoded dims must equal the
      // arithmetic the payload was built from, channels = 3 (color type 2)
      Some("""SELECT doc_id AS media_id,
         16 + doc_id % 64 AS width,
         16 + n_chars % 64 AS height,
         3 AS channels,
         CAST(33 AS BIGINT) AS n_bytes
         FROM documents""")),

    // Multimodal audio leg: REAL synthesized RIFF/WAV headers with
    // row-derived params, parsed back by the real LE chunk walker
    // (ops.Multimodal.parseWavHeader) — the q34 pattern: Spark
    // round-trips actual bytes, the oracle replays the arithmetic.
    Query("q86_audio_meta", (s, dir) => {
      val docs = T(s, dir, "documents")
      val media = ops.Multimodal.asWavMediaTable(docs, "doc_id",
        lit(8000L) + pmod(col("doc_id"), lit(8L)) * 1000L,
        lit(1L) + pmod(col("doc_id"), lit(2L)))
      ops.Multimodal.decodeAudioMeta(media)
    },
      // replays the WAV synthesis arithmetic; the Spark side actually
      // round-trips through RIFF bytes (q34's oracle pattern)
      Some("""SELECT doc_id AS media_id,
         CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
         CAST(1 + doc_id % 2 AS INT) AS channels,
         16 AS bits_per_sample,
         CAST(44 AS BIGINT) AS n_bytes
         FROM documents""")),

    // VIDEO FRAME SAMPLING: payloads carry real frame data (the
    // ftyp+moov header plus an mdat of raw 9x8 grayscale frames — the
    // layout where sampling is a SEEK: unsampled frames are never
    // materialized), every 2nd frame is sliced partition-local and
    // dHashed with the q144 kernel. The oracle replays pixels → dhash
    // for exactly the sampled frames; frame pixels mix the frame index
    // into the q144 diffusion formula.
    Query("q151_video_frame_sample", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val pixels = flatten(transform(sequence(lit(0), lit(3)), f =>
        flatten(transform(sequence(lit(0), lit(7)), y =>
          transform(sequence(lit(0), lit(8)), x => {
            val xl = x.cast("long"); val yl = y.cast("long")
            val fl = f.cast("long")
            val h = (did + lit(1L)) * lit(2654435761L) + fl * lit(8191L) +
              xl * lit(97L) + yl * lit(1031L)
            val g = h.bitwiseXOR(shiftright(h, 7))
            pmod(g * lit(31L) + shiftright(g, 11), lit(241L)).cast("int")
          })))))
      val media = ops.Multimodal.asMp4FramesMediaTable(docs, "doc_id",
        timescale = 600, w = 9, h = 8, nFrames = 4, pixels)
      ops.Multimodal.videoFrameDHash(media, everyN = 2)
    },
      // Replays the q151 pipeline from the pixel formula for exactly the
      // SAMPLED frames (range(0,4,2) = frames 0 and 2): same 9x8 values
      // with the frame index mixed into the diffusion, the q144 dhash
      // bit rule (bit 63 via the two's-complement HUGEINT trick)
      Some("""WITH hx AS (
           SELECT d.doc_id, fs.f AS f, xs.x AS x, ys.y AS y,
             (d.doc_id + 1) * 2654435761 + fs.f * 8191
               + xs.x * 97 + ys.y * 1031 AS h
           FROM documents d
           CROSS JOIN (SELECT unnest(range(0, 4, 2)) AS f) fs
           CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
           CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
         px AS (
           SELECT doc_id, f, x, y,
             (xor(h, h >> 7) * 31 + (xor(h, h >> 7) >> 11)) % 241 AS p
           FROM hx)
         SELECT l.doc_id AS media_id, CAST(l.f AS INT) AS frame_idx,
           CAST(COALESCE(SUM(
             CASE WHEN l.p < r.p AND l.y * 8 + l.x = 63
               THEN CAST(-9223372036854775808 AS HUGEINT)
             WHEN l.p < r.p
               THEN CAST(CAST(1 AS BIGINT) << (l.y * 8 + l.x) AS HUGEINT)
             ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
         FROM px l JOIN px r
           ON r.doc_id = l.doc_id AND r.f = l.f AND r.y = l.y AND r.x = l.x + 1
         WHERE l.x < 8
         GROUP BY l.doc_id, l.f""")),

    // VIDEO SCENE-CUT DETECTION: the temporal-segmentation
    // composition the frame machinery exists for — per-frame dHash →
    // one window per media (lag over frame order) → emit frames whose
    // Hamming distance to the previous frame crosses the cut
    // threshold. Synthesis: 4 frames per doc; within a scene each
    // frame perturbs ONE pixel of the scene's base image (consecutive
    // hamming ≤ 4, the q144 locality property); docs with
    // doc_id % 3 == 0 switch scenes at frame 2 (a different diffusion
    // seed — hamming ~32). Threshold 10 separates the regimes with
    // margin on both sides. Only (media_id, frame, dhash) longs enter
    // the window exchange — frames stay partition-local.
    Query("q152_video_scene_cuts", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val pixels = flatten(transform(sequence(lit(0), lit(3)), f => {
        val fl = f.cast("long")
        val scene = when(pmod(did, lit(3L)) === 0L && fl >= 2L, lit(1L))
          .otherwise(lit(0L))
        val pos = pmod(did * lit(13L) + fl * lit(29L), lit(72L))
        flatten(transform(sequence(lit(0), lit(7)), y =>
          transform(sequence(lit(0), lit(8)), x => {
            val xl = x.cast("long"); val yl = y.cast("long")
            val i = yl * lit(9L) + xl
            // scene offset stays ~1e9 so g*31 cannot overflow a Long
            // under ANSI (the diffusion spreads it across the grid)
            val h = (did + lit(1L)) * lit(2654435761L) +
              scene * lit(999999937L) +
              xl * lit(97L) + yl * lit(1031L)
            val g = h.bitwiseXOR(shiftright(h, 7))
            val p = pmod(g * lit(31L) + shiftright(g, 11), lit(241L))
            when(i === pos, pmod(p + lit(128L), lit(241L)))
              .otherwise(p).cast("int")
          })))
      }))
      val media = ops.Multimodal.asMp4FramesMediaTable(docs, "doc_id",
        timescale = 600, w = 9, h = 8, nFrames = 4, pixels)
      val hashes = ops.Multimodal.videoFrameDHash(media, everyN = 1)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      hashes
        .withColumn("prev", lag(col("dhash"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("hamming_prev",
          bit_count(col("dhash").bitwiseXOR(col("prev"))).cast("long"))
        .filter(col("hamming_prev") > 10L)
        .select(col("media_id"), col("frame_idx"), col("hamming_prev"))
    },
      // Replays the q152 pipeline: all four frames' dhashes from the
      // scene/perturbation formula, consecutive-frame Hamming via a
      // self-join on f-1, cuts = distance > 10 (q144's HUGEINT bit-63
      // trick in the dhash fold)
      Some("""WITH hx AS (
           SELECT d.doc_id, fs.f AS f, xs.x AS x, ys.y AS y,
             (d.doc_id * 13 + fs.f * 29) % 72 AS pos,
             (d.doc_id + 1) * 2654435761
               + (CASE WHEN d.doc_id % 3 = 0 AND fs.f >= 2
                  THEN 999999937 ELSE 0 END)
               + xs.x * 97 + ys.y * 1031 AS h
           FROM documents d
           CROSS JOIN (SELECT unnest(range(0, 4)) AS f) fs
           CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
           CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
         gx AS (
           SELECT doc_id, f, x, y, pos, xor(h, h >> 7) AS g FROM hx),
         px AS (
           SELECT doc_id, f, x, y,
             CASE WHEN y * 9 + x = pos
               THEN ((g * 31 + (g >> 11)) % 241 + 128) % 241
               ELSE (g * 31 + (g >> 11)) % 241
             END AS p
           FROM gx),
         dh AS (
           SELECT l.doc_id, l.f,
             CAST(COALESCE(SUM(
               CASE WHEN l.p < r.p AND l.y * 8 + l.x = 63
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN l.p < r.p
                 THEN CAST(CAST(1 AS BIGINT) << (l.y * 8 + l.x) AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
           FROM px l JOIN px r
             ON r.doc_id = l.doc_id AND r.f = l.f
               AND r.y = l.y AND r.x = l.x + 1
           WHERE l.x < 8
           GROUP BY l.doc_id, l.f)
         SELECT a.doc_id AS media_id, CAST(a.f AS INT) AS frame_idx,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming_prev
         FROM dh a JOIN dh b
           ON b.doc_id = a.doc_id AND b.f = a.f - 1
         WHERE bit_count(xor(a.dhash, b.dhash)) > 10""")),

    // VIDEO metadata: the q86 doctrine on the third modality —
    // real MP4/ISO-BMFF payloads (ftyp + moov{mvhd, trak/tkhd})
    // synthesized from row-derived parameters, walked by the real box
    // parser (big-endian sizes, nested box walk, 16.16 fixed-point
    // track dims), oracle-replayed arithmetically including the
    // integer duration·1000/timescale millisecond conversion.
    Query("q150_video_meta", (s, dir) => {
      val docs = T(s, dir, "documents")
      val media = ops.Multimodal.asMp4MediaTable(docs, "doc_id",
        lit(600L) + pmod(col("doc_id"), lit(5L)) * 100L,
        pmod(col("doc_id") * lit(37L), lit(100000L)),
        lit(320L) + pmod(col("doc_id"), lit(8L)) * 16L,
        lit(240L) + pmod(col("doc_id"), lit(6L)) * 16L)
      ops.Multimodal.decodeVideoMeta(media)
    },
      // payload size is constant by construction: 16 (ftyp) + 216 (moov
      // with one mvhd + one trak/tkhd); duration_ms is the integer
      // duration*1000/timescale the decoder computes
      Some("""SELECT doc_id AS media_id,
         CAST(600 + (doc_id % 5) * 100 AS INT) AS timescale,
         CAST(((doc_id * 37) % 100000) * 1000
           // (600 + (doc_id % 5) * 100) AS BIGINT) AS duration_ms,
         CAST(320 + (doc_id % 8) * 16 AS INT) AS width,
         CAST(240 + (doc_id % 6) * 16 AS INT) AS height,
         CAST(232 AS BIGINT) AS n_bytes
         FROM documents""")),

    // MIME SNIFFING: multimodal ingest dispatch by MAGIC BYTES
    // (extensions and crawl Content-Type headers lie) — eight payload
    // kinds synthesized through the repo's own REAL container encoders
    // (syntheticPng, syntheticMp4, WARC recordString) plus raw
    // magic-prefixed bytes, sniffed back by the codegen'd when-chain.
    // The oracle is the independent truth table by construction kind.
    Query("q163_mime_sniff", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val k = pmod(did, lit(8L))
      val textB = encode(substring(col("text"), 1, 64), "UTF-8")
      val payload = when(k === 0L, ops.Multimodal.syntheticPng(lit(2), lit(2)))
        .when(k === 1L,
          concat(unhex(lit("524946461000000057415645")), textB))
        .when(k === 2L, ops.Multimodal.syntheticMp4(
          lit(1000L), lit(5000L), lit(64L), lit(48L)))
        .when(k === 3L, concat(unhex(lit("FFD8FF")), textB))
        .when(k === 4L, encode(concat(lit("%PDF-1.4 "),
          substring(col("text"), 1, 32)), "UTF-8"))
        .when(k === 5L, concat(unhex(lit("1F8B08")), textB))
        .when(k === 6L, encode(ops.Warc.recordString(
          concat(lit("<urn:uuid:"), did.cast("string"), lit(">")),
          lit("https://x/"), substring(col("text"), 1, 40)), "UTF-8"))
        // "T " guard byte: fixture text starting with a container magic
        // would otherwise flip the expected fallback row
        .otherwise(concat(encode(lit("T "), "UTF-8"), textB))
      docs.select(did, ops.Mime.sniffMime(payload).as("mime"))
    },
      // truth table by construction kind — any signature/offset bug in
      // the sniffer (or a corrupt synthesized container) diverges
      Some("""SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'image/png'
             WHEN 1 THEN 'audio/wav'
             WHEN 2 THEN 'video/mp4'
             WHEN 3 THEN 'image/jpeg'
             WHEN 4 THEN 'application/pdf'
             WHEN 5 THEN 'application/gzip'
             WHEN 6 THEN 'application/warc'
             ELSE 'application/octet-stream' END AS mime
         FROM documents""")),

    // Perceptual image dedup: synthesize COMPLETE valid PNGs
    // (real zlib IDAT, real CRCs, alternating scanline filters) whose
    // 9x8 grayscale pixels are a declarative integer formula of
    // doc_id — groups of 3 consecutive ids share a base image, the two
    // variants perturb one pixel each — then full pixel decode →
    // 64-bit dHash → Hamming-radius pairing via the simhash
    // chunk-blocking machinery (complete by pigeonhole at h=4). The
    // oracle replays pixels → dhash → brute-force pairs arithmetically;
    // Spark's blocked pair set must equal it exactly.
    Query("q144_image_neardup", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val base = did - pmod(did, lit(3L))
      val pos = pmod(did * lit(13L), lit(72L))
      val pixels = flatten(transform(sequence(lit(0), lit(7)), y =>
        transform(sequence(lit(0), lit(8)), x => {
          val xl = x.cast("long"); val yl = y.cast("long")
          val i = yl * lit(9L) + xl
          // hash-like mix (xor/shift diffusion) — a LINEAR formula makes
          // adjacent-pixel deltas constant, which collapses the dhash
          // space (329 cross-base collisions at 500 docs when tried)
          val h = (base + lit(1L)) * lit(2654435761L) +
            xl * lit(97L) + yl * lit(1031L)
          val g = h.bitwiseXOR(shiftright(h, 7))
          val p = pmod(g * lit(31L) + shiftright(g, 11), lit(241L))
          when(pmod(did, lit(3L)) =!= lit(0L) && i === pos,
            pmod(p + lit(128L), lit(241L))).otherwise(p).cast("int")
        })))
      val media = ops.Multimodal.asGrayPngMediaTable(docs, "doc_id", 9, 8, pixels)
      ops.Multimodal.imageNearDupPairs(media, maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    },
      // Replays the q144 pipeline end-to-end from the pixel formula: the
      // same 9x8 grayscale values, the dHash bit rule (bit y*8+x set iff
      // left < right), then BRUTE-FORCE pairs at hamming <= 4 — Spark's
      // chunk-blocked set must match exactly (blocking is complete by
      // pigeonhole at this radius).
      Some("""WITH hx AS (
           SELECT d.doc_id, xs.x AS x, ys.y AS y,
             ((d.doc_id - d.doc_id % 3) + 1) * 2654435761
               + xs.x * 97 + ys.y * 1031 AS h
           FROM documents d
           CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
           CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
         gx AS (
           SELECT doc_id, x, y, xor(h, h >> 7) AS g FROM hx),
         px AS (
           SELECT doc_id, x, y,
             CASE WHEN doc_id % 3 <> 0
                    AND y * 9 + x = (doc_id * 13) % 72
               THEN ((g * 31 + (g >> 11)) % 241 + 128) % 241
               ELSE (g * 31 + (g >> 11)) % 241
             END AS p
           FROM gx),
         dh AS (
           -- bit 63 cannot be built as 1<<63 in signed BIGINT; adding
           -- -2^63 sets it (two's complement), and the HUGEINT sum of
           -- bits 0..62 plus that term lands back in BIGINT range
           SELECT l.doc_id,
             CAST(COALESCE(SUM(
               CASE WHEN l.p < r.p AND l.y * 8 + l.x = 63
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN l.p < r.p
                 THEN CAST(CAST(1 AS BIGINT) << (l.y * 8 + l.x) AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
           FROM px l JOIN px r
             ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
           WHERE l.x < 8
           GROUP BY l.doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         FROM dh a JOIN dh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 4""")),

    // Perceptual audio dedup: the q144 doctrine on the audio
    // modality, through the SAME generalized pairing machinery
    // (Dedup.hammingPairs — exactly what its text-decoupling existed
    // for). Synthesize complete 16-bit mono PCM WAVs whose 520 samples
    // are a declarative integer formula of doc_id (groups of 3
    // consecutive ids share a base signal; the two variants perturb
    // one sample each, moving ONE frame's energy → ≤ 2 fingerprint
    // bits), full PCM decode → 65-frame energy-difference 64-bit
    // fingerprint → Hamming pairing at radius 4. The oracle replays
    // samples → frame energies → fingerprint → brute-force pairs
    // arithmetically; Spark's blocked pair set must equal it exactly.
    Query("q147_audio_neardup", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val base = did - pmod(did, lit(3L))
      val pos = pmod(did * lit(13L), lit(520L))
      val samples = transform(sequence(lit(0), lit(519)), i => {
        val il = i.cast("long")
        // xor/shift diffusion (the q144 lesson: a linear formula
        // collapses the fingerprint space)
        val h = (base + lit(1L)) * lit(2654435761L) + il * lit(7349L)
        val g = h.bitwiseXOR(shiftright(h, 7))
        val raw = pmod(g * lit(31L) + shiftright(g, 11), lit(30000L))
        val rawP = when(pmod(did, lit(3L)) =!= lit(0L) && il === pos,
          pmod(raw + lit(9000L), lit(30000L))).otherwise(raw)
        (rawP - lit(15000L)).cast("int")
      })
      val media = ops.Multimodal.asPcmWavMediaTable(docs, "doc_id", 16000, samples)
      ops.Multimodal.audioNearDupPairs(media, maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    },
      // Replays the q147 pipeline from the sample formula: the same 520
      // PCM values, 65 frame energies (sum |sample| per 8-sample frame),
      // the difference-bit rule (bit j set iff e(j) < e(j+1), bit 63 via
      // the two's-complement HUGEINT trick, see q144), then BRUTE-FORCE
      // pairs at hamming <= 4 — Spark's chunk-blocked set must match
      // exactly (blocking complete by pigeonhole at this radius).
      Some("""WITH s AS (
           SELECT d.doc_id, ix.i AS i,
             ((d.doc_id - d.doc_id % 3) + 1) * 2654435761
               + ix.i * 7349 AS h
           FROM documents d
           CROSS JOIN (SELECT unnest(range(0, 520)) AS i) ix),
         g AS (
           SELECT doc_id, i, xor(h, h >> 7) AS g FROM s),
         p AS (
           SELECT doc_id, i,
             CASE WHEN doc_id % 3 <> 0 AND i = (doc_id * 13) % 520
               THEN ((g * 31 + (g >> 11)) % 30000 + 9000) % 30000 - 15000
               ELSE (g * 31 + (g >> 11)) % 30000 - 15000
             END AS smp
           FROM g),
         e AS (
           SELECT doc_id, i // 8 AS frame, SUM(abs(smp)) AS en
           FROM p GROUP BY doc_id, i // 8),
         fp AS (
           SELECT l.doc_id,
             CAST(COALESCE(SUM(
               CASE WHEN l.en < r.en AND l.frame = 63
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN l.en < r.en
                 THEN CAST(CAST(1 AS BIGINT) << l.frame AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS afp
           FROM e l JOIN e r
             ON r.doc_id = l.doc_id AND r.frame = l.frame + 1
           WHERE l.frame < 64
           GROUP BY l.doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.afp, b.afp)) <= 4""")),

    // MULTIMODAL CURATION PIPELINE — the q189
    // composition on the media side, in production order under ONE
    // oracle: a mixed-payload media table (real PNG bytes for half the
    // corpus via q144's planted pixel formula, real RIFF/PCM WAVs for
    // a quarter via q147's sample formula, real frame-carrying MP4s
    // for an eighth with planted near-dup triples of their own —
    // text payloads for the rest) → MIME sniff ROUTES each payload
    // to its decoder (text routed away entirely) → per-modality
    // container decode → perceptual fingerprint → Hamming pairs → ONE
    // connected-components run over the union pair set → keep-best
    // per cluster by n_chars. The
    // composition is the test: a sniff misroute, codec drift, or
    // fingerprint change moves the kept set exactly as the oracle's
    // arithmetic replay moves it. Payload bytes never shuffle (the
    // media doctrine — only (id, 8-byte fingerprint) enters any
    // exchange); pairing is chunk-blocked, complete by pigeonhole.
    Query("q194_multimodal_curation", (s, dir) => {
      val docs = T(s, dir, "documents")
      val did = col("doc_id")
      val media = multimodalMediaTable(s, dir)
      // SNIFF-ROUTE on payload bytes alone (never the kind column —
      // production media arrives untagged), in ONE decode pass
      // (mediaFingerprints dispatches per row: per-modality unions
      // would each re-evaluate the full synthesis, because a
      // payload-mime filter cannot push into the source),
      // then ONE kind-blocked Hamming join — the pair set is
      // byte-identical to the per-kind imageNearDupPairs ∪
      // audioNearDupPairs ∪ videoNearDupPairs composition (q197's
      // gated equality), fingerprints staged as 3 longs/row
      val fps = ops.Pipeline.stage("q194_fps",
        ops.Multimodal.mediaFingerprints(media).repartition(4))
      val pairs = ops.Multimodal.mediaPairsIncremental(
        fps, emptyFpFrame(s), maxHamming = 4)
      val labels = ops.Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
      // the keep-best pool is every fingerprintable payload — image,
      // audio, and video; only the text eighth is routed away
      val scored = docs.filter(pmod(did, lit(8L)) =!= 7L)
        .select(did, col("n_chars").as("score"))
      ops.Dedup.keepBestByLabelFrame(scored, "doc_id", "score", labels)
        .select(col("doc_id"), col("score"))
    },
      // the q144 + q147 arithmetic replays over their sniff-routed
      // subsets (the routing IS what the mime dispatch computes:
      // PNG magic for %4∈{0,2}, RIFF/WAVE for %4=1, the ISO-BMFF ftyp
      // for %8=3, the "T " text guard for %8=7 — pinned per-doc by
      // q163), the VIDEO fingerprint replays as the dHash of the
      // per-position frame SUM (the temporal fold is exact integer
      // arithmetic), the union pair set closes transitively
      // (recursive CTE), and keep-best replays the (n_chars DESC,
      // doc_id ASC) window with unpaired media passing through
      Some("""WITH RECURSIVE
         img AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 4 IN (0, 2)),
         aud AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 4 = 1),
         vid AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 8 = 3),
         hx AS (
           SELECT d.doc_id, xs.x AS x, ys.y AS y,
             ((d.doc_id - d.doc_id % 3) + 1) * 2654435761
               + xs.x * 97 + ys.y * 1031 AS h
           FROM img d
           CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
           CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
         px AS (
           SELECT doc_id, x, y,
             CASE WHEN doc_id % 3 <> 0
                    AND y * 9 + x = (doc_id * 13) % 72
               THEN ((g * 31 + (g >> 11)) % 241 + 128) % 241
               ELSE (g * 31 + (g >> 11)) % 241
             END AS p
           FROM (SELECT doc_id, x, y, xor(h, h >> 7) AS g FROM hx)),
         dh AS (
           SELECT l.doc_id,
             CAST(COALESCE(SUM(
               CASE WHEN l.p < r.p AND l.y * 8 + l.x = 63
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN l.p < r.p
                 THEN CAST(CAST(1 AS BIGINT) << (l.y * 8 + l.x) AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS dhash
           FROM px l JOIN px r
             ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
           WHERE l.x < 8
           GROUP BY l.doc_id),
         ip AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM dh a JOIN dh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.dhash, b.dhash)) <= 4),
         sa AS (
           SELECT d.doc_id, ix.i AS i,
             ((d.doc_id - d.doc_id % 3) + 1) * 2654435761
               + ix.i * 7349 AS h
           FROM aud d
           CROSS JOIN (SELECT unnest(range(0, 520)) AS i) ix),
         sp AS (
           SELECT doc_id, i,
             CASE WHEN doc_id % 3 <> 0 AND i = (doc_id * 13) % 520
               THEN ((g * 31 + (g >> 11)) % 30000 + 9000) % 30000 - 15000
               ELSE (g * 31 + (g >> 11)) % 30000 - 15000
             END AS smp
           FROM (SELECT doc_id, i, xor(h, h >> 7) AS g FROM sa)),
         en AS (
           SELECT doc_id, i // 8 AS frame, SUM(abs(smp)) AS en
           FROM sp GROUP BY doc_id, i // 8),
         fp AS (
           SELECT l.doc_id,
             CAST(COALESCE(SUM(
               CASE WHEN l.en < r.en AND l.frame = 63
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN l.en < r.en
                 THEN CAST(CAST(1 AS BIGINT) << l.frame AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS afp
           FROM en l JOIN en r
             ON r.doc_id = l.doc_id AND r.frame = l.frame + 1
           WHERE l.frame < 64
           GROUP BY l.doc_id),
         ap AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.afp, b.afp)) <= 4),
         vhx AS (
           SELECT d.doc_id, fs.f AS f, xs.x AS x, ys.y AS y,
             ((((d.doc_id - 3) // 8) - ((d.doc_id - 3) // 8) % 3) + 1)
               * 2654435761 + xs.x * 97 + ys.y * 1031 + fs.f * 761 AS h
           FROM vid d
           CROSS JOIN (SELECT unnest(range(0, 3)) AS f) fs
           CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
           CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys),
         vpx AS (
           SELECT doc_id, x, y,
             CASE WHEN ((doc_id - 3) // 8) % 3 <> 0
                    AND f * 72 + y * 9 + x = (doc_id * 13) % 216
               THEN ((g * 31 + (g >> 11)) % 241 + 128) % 241
               ELSE (g * 31 + (g >> 11)) % 241
             END AS p
           FROM (SELECT doc_id, f, x, y, xor(h, h >> 7) AS g FROM vhx)),
         vsm AS (SELECT doc_id, x, y, SUM(p) AS ps FROM vpx GROUP BY 1, 2, 3),
         vdh AS (
           SELECT l.doc_id,
             CAST(COALESCE(SUM(
               CASE WHEN l.ps < r.ps AND l.y * 8 + l.x = 63
                 THEN CAST(-9223372036854775808 AS HUGEINT)
               WHEN l.ps < r.ps
                 THEN CAST(CAST(1 AS BIGINT) << (l.y * 8 + l.x) AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END), 0) AS BIGINT) AS vfp
           FROM vsm l JOIN vsm r
             ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
           WHERE l.x < 8
           GROUP BY l.doc_id),
         vp AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM vdh a JOIN vdh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.vfp, b.vfp)) <= 4),
         pr AS (SELECT * FROM ip UNION ALL SELECT * FROM ap
                UNION ALL SELECT * FROM vp),
         e AS (SELECT id_a AS src, id_b AS dst FROM pr
               UNION SELECT id_b, id_a FROM pr),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         labels AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         pool AS (SELECT doc_id, n_chars FROM img
                  UNION ALL SELECT doc_id, n_chars FROM aud
                  UNION ALL SELECT doc_id, n_chars FROM vid),
         best AS (
           SELECT p2.doc_id, p2.n_chars FROM pool p2
           JOIN labels l ON p2.doc_id = l.id
           QUALIFY row_number() OVER (PARTITION BY l.rep
             ORDER BY p2.n_chars DESC, p2.doc_id ASC) = 1),
         unpaired AS (
           SELECT doc_id, n_chars FROM pool
           WHERE doc_id NOT IN (SELECT id FROM labels))
         SELECT doc_id, CAST(n_chars AS BIGINT) AS score
         FROM (SELECT * FROM best UNION ALL SELECT * FROM unpaired)""")),

    // STREAMED MULTIMODAL CURATION (the q193 shape for the media
    // family): the SAME mixed-payload corpus q194
    // one-shots is folded in TWO fingerprint slices through the exact
    // per-batch arithmetic StreamingMedia runs (incremental Hamming
    // pair delta vs the standing fingerprints, incremental CC fold of
    // each delta), then the folded labels are compared row-for-row
    // with q194's one-shot labeling. Equality is structural — each
    // pair lands in the slice where its later endpoint arrives and the
    // CC fold is exact — so any batch-dependence smuggled into the
    // delta join or the label fold flips the boolean and fails the
    // hash. Decode runs ONCE (fingerprints staged); payload bytes
    // never shuffle.
    Query("q197_multimodal_streamed_curation", (s, dir) => {
      val media = multimodalMediaTable(s, dir)
      // decode at ScanFanOut parallelism, then SHRINK: the fingerprint
      // frame is 3 longs/row, and every downstream stage (8 incremental
      // pair joins, 4 incremental CC folds, the one-shot CC, the
      // equality join) would otherwise inherit the fan-out's hundreds
      // of near-empty partitions — measured 30,695 tasks / 79 s for
      // this query before the shrink, pure per-task overhead
      val fps = ops.Pipeline.stage("mm_fps",
        ops.Multimodal.mediaFingerprints(media).repartition(4))
      val sliceKey = pmod(xxhash64(col("media_id")), lit(2L))
      val lblSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.LongType)))
      val empty = emptyFpFrame(s)
      var standing = empty
      var folded = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], lblSchema)
      // TWO fold slices: the driver face needs batch-vs-standing
      // pairing and a cross-batch merge to be live — both are — while
      // the any-slicing generality is the spec's job
      // (StreamingMediaSpec runs three slicings through the real sink);
      // each extra slice costs a full incremental-CC fold of pure
      // stage overhead at this scale (measured: the 4-slice form spent
      // 79 s on 30,695 near-empty tasks)
      for (i <- 0L until 2L) {
        val slice = fps.filter(sliceKey === i)
        val delta = ops.Multimodal.mediaPairsIncremental(slice, standing,
          maxHamming = 4)
        // EAGER checkpoint, deliberately (measured A/B): until a lazy local checkpoint
        // materializes, every downstream task closure carries the
        // UNTRUNCATED fold plan, and q197's per-task deserialization
        // went 0.3 s → 4-15 s (wall 5.5-5.9 → 7.4-10.5 measured).
        // Truncating the lineage eagerly is what keeps the per-slice
        // task binaries small; the extra materialization pass is the
        // cheaper side of that trade here (contrast the CC/PageRank
        // round state, whose per-round plans are small, where lazy
        // wins).
        folded = ops.Dedup.connectedComponentsIncremental(folded,
            delta.select(col("id_a"), col("id_b")))
          .coalesce(4).localCheckpoint(true)
        standing = standing.unionByName(slice)
      }
      // one-shot pair set = the incremental join against an EMPTY
      // standing side (all pairs have a new endpoint) — one blocked
      // join, same arithmetic q194's per-kind calls compute. The
      // one-shot labeling is the audit artifact; each rep prices the
      // 2-slice fold + the equality join.
      val oneshot = store(mediaOneshot, s, dir)
      val mism = folded.alias("a")
        .join(oneshot.alias("b"), col("a.id") === col("b.id"), "full")
        .filter(col("a.id").isNull || col("b.id").isNull ||
          col("a.label") =!= col("b.label"))
        .agg(count(lit(1)).as("mism"))
      fps.agg(count(lit(1)).as("n_fingerprinted")).crossJoin(mism)
        .select(col("n_fingerprinted"),
          (col("mism") === 0L).as("fold_equals_oneshot"))
    },
      // sliced-fold labels ≡ one-shot labels is structural (each pair
      // lands in the slice where its later endpoint arrives; the CC fold
      // is exact); the fingerprint census replays as the non-text media
      // count — every PNG, WAV, and MP4 in the fixture decodes
      // (q194's oracle proves the fingerprints themselves, hash-exact)
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_fingerprinted,
           true AS fold_equals_oneshot
         FROM documents WHERE doc_id % 8 <> 7"""), gate = true),
  )
}
