package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The composed C4-style document quality gate, shared by the batch
  * query (q69) and the streaming ingest pipeline: keep/drop with a
  * first-failing-reason label, built from the oracle-replayable scalar
  * signals. The whole policy is literals in one codegen'd CASE — a
  * threshold change is a plan change, not a data change.
  */
object Quality {

  def gateReason(text: Column,
                 minChars: Long = 200, maxChars: Long = 20000,
                 mtlMinE4: Long = 20000, mtlMaxE4: Long = 120000,
                 minStopE4: Long = 100): Column = {
    val charCt = length(text).cast("long")
    val mtl = TextFunctions.meanTokenLen(text)
    val stop = TextFunctions.qualityStopwordRatio(text)
    // null FIRST: every later predicate evaluates NULL on null text and
    // a when-chain skips NULL conditions — without this branch a null
    // document falls through to "keep" (found in the r10 review; the
    // streaming ingest gate must reject them, and a parse-failed row is
    // exactly the doc you least want in a corpus)
    when(text.isNull, "null_text")
      .when(charCt < minChars, "too_short")
      .when(charCt > maxChars, "too_long")
      .when(mtl < mtlMinE4 || mtl > mtlMaxE4, "token_len_out_of_range")
      .when(stop < minStopE4, "low_stopword_density")
      .otherwise("keep")
  }

  /** Per-document REPETITION signals — the Gopher-rule family (Rae et
    * al. 2021 §A1.1, the filters every later pretraining pipeline —
    * RefinedWeb, Dolma, FineWeb — re-implements): duplicated-line
    * fraction, duplicated-line character fraction, the character mass
    * of the single heaviest word n-gram (one per n in `topNs`), and the
    * character mass of all duplicated `dupN`-grams. [[gateReason]]
    * screens degenerate LENGTH/vocabulary shapes; this screens the
    * other axis boilerplate fails on: self-repetition inside one
    * document (templated pages, scraped nav bars, decoding loops).
    *
    * Definitions (each exactly replayable by the DuckDB oracle):
    *  - lines = literal split on `lineDelim`, empties dropped; a line
    *    is "duplicated" when it occurs >1× in ITS document, and the
    *    duplicated mass counts every occurrence (c·len, not (c−1)·len —
    *    pinned convention). `dup_line_frac_e6` is over line COUNTS,
    *    `dup_line_char_frac_e6` over line chars (delimiters excluded
    *    from both numerator and denominator, so the ratio is
    *    delimiter-free).
    *  - word n-grams = overlapping, single-space re-joined over the
    *    `\s+` token stream. `top{n}gram_char_frac_e6` = max over grams
    *    of c·len(gram) / len(text): taking the max of the PRODUCT (not
    *    "chars of the most frequent gram") makes the signal
    *    deterministic without a tie-break contract. Overlapping
    *    occurrences can push c·len past len(text) — clamped to 1e6.
    *  - `dup{dupN}gram_char_frac_e6` = Σ over grams with c>1 of
    *    c·len(gram) / len(text), clamped to 1e6.
    *  - All fractions are exact integer e6 floors (`div`, never a
    *    float divide); empty denominators yield 0.
    *
    * Scale shape: everything is per-document — the only shuffles are
    * (id, xxhash64(line)) and (id, n, xxhash64(gram)) count aggregates
    * (map-side partial combine collapses the Zipf head before the
    * exchange), so line/gram TEXT never shuffles; grouping on the
    * 64-bit fingerprint equals grouping on the value under the same
    * collision-free contract as [[Retrieval.tfidfCosinePairs]] — here
    * per (document, n), where a collision needs two distinct grams of
    * one document agreeing on 64 bits. The final assembly joins three
    * id-keyed aggregates, all AQE-broadcastable against the base.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        topNs: Seq[Int] = Seq(2, 3, 4), dupN: Int = 5,
                        lineDelim: String = "\n"): DataFrame = {
    require(topNs.nonEmpty && topNs.forall(_ >= 1) && dupN >= 1,
      "n-gram sizes must be >= 1")
    val allNs = (topNs :+ dupN).distinct.sorted
    val spark = df.sparkSession
    val basePlan = df.select(col(idCol).as("id"),
      coalesce(col(textCol), lit("")).as("text"))
    // FAN-OUT (r12, measured): both families below are NARROW chains
    // from the scan (explode → map-side partial agg), so the scan's
    // file count caps their parallelism — on a few-file input the whole
    // per-token pass serialized onto ONE core (23.7 s single-task stage
    // at sf0.1; 32-way after the fan-out). [[ScanFanOut]] sizes the
    // width from the plan's byte estimate.
    val base = ScanFanOut(basePlan)

    // ---- line family: shuffle (id, line-hash, len), never the line
    val lines = base.select(col("id"),
      explode(split(col("text"), java.util.regex.Pattern.quote(lineDelim)))
        .as("line"))
      .filter(length(col("line")) > 0)
      .groupBy(col("id"), xxhash64(col("line")).as("lh"))
      .agg(count(lit(1)).as("c"), max(length(col("line"))).as("len"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_lines"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_lines"),
        sum(col("c") * col("len")).as("line_chars"),
        sum(when(col("c") > 1, col("c") * col("len")).otherwise(0L))
          .as("dup_line_chars"))

    // ---- n-gram family, ONE pass for every n: per word position i,
    // emit the n-gram starting at i for each n that still fits (the
    // filter-on-positions form sidesteps sequence()'s descending
    // surprise when size < n).
    //
    // NO GRAM STRING IS EVER BUILT (r12, measured 2.6×): the old form
    // re-joined every overlapping slice (`array_join(slice(words...))`)
    // just to hash it and take its length — per-gram string allocation
    // in an interpreted HOF chain. The fingerprint is now xxhash64 over
    // the gram's n WORD-hashes and the length is the unrolled word-
    // length sum + (n−1) separators — identical grouping + identical
    // len, zero string work. Collision contract unchanged in kind:
    // grouping by the fingerprint equals grouping by the gram value
    // unless two distinct grams of ONE document (same n) collide on 64
    // bits (directly, or via a word-level hash collision inside them).
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val hashed = base.select(col("id"),
      transform(words, w => xxhash64(w)).as("wh"),
      transform(words, w => length(w).cast("long")).as("wl"))
    val nWords = size(col("wh"))
    val gramStructs = flatten(array(allNs.map { n =>
      transform(
        filter(sequence(lit(1), greatest(nWords, lit(1))),
          i => i + lit(n - 1) <= nWords),
        i => struct(lit(n).as("n"),
          xxhash64((0 until n).map(k =>
            element_at(col("wh"), i + lit(k))): _*).as("gh"),
          ((0 until n).map(k => element_at(col("wl"), i + lit(k)))
            .reduce(_ + _) + lit((n - 1).toLong)).as("len")))
    }: _*))
    val gramAgg = hashed.select(col("id"), explode(gramStructs).as("s"))
      .select(col("id"), col("s.n").as("n"),
        col("s.gh").as("gh"), col("s.len").as("len"))
      .groupBy(col("id"), col("n"), col("gh"))
      .agg(count(lit(1)).as("c"), max(col("len")).as("len"))
      .groupBy(col("id"))
      .agg(
        max(when(col("n") === topNs.head, col("c") * col("len")))
          .as(s"top${topNs.head}_mass"),
        (topNs.tail.map(n =>
          max(when(col("n") === n, col("c") * col("len")))
            .as(s"top${n}_mass")) :+
          sum(when(col("n") === dupN && col("c") > 1,
            col("c") * col("len")).otherwise(0L)).as("dup_mass")): _*)

    // exact integer e6 floors: `a div b` (IntegralDivide), never a
    // float divide — a double round-trip can cross the floor boundary
    def fracE6(numName: String, denName: String): Column =
      when(col(denName) > 0,
        expr(s"(1000000L * $numName) div $denName")).otherwise(lit(0L))
        .cast("long")

    base.select(col("id"), length(col("text")).cast("long").as("total_chars"))
      .join(lines, Seq("id"), "left")
      .join(gramAgg, Seq("id"), "left")
      .select((col("id") +: col("total_chars") +:
        coalesce(col("n_lines"), lit(0L)).as("n_lines") +:
        coalesce(col("dup_lines"), lit(0L)).as("dup_lines") +:
        coalesce(col("line_chars"), lit(0L)).as("line_chars") +:
        coalesce(col("dup_line_chars"), lit(0L)).as("dup_line_chars") +:
        coalesce(col("dup_mass"), lit(0L)).as("dup_mass") +:
        topNs.map(n =>
          coalesce(col(s"top${n}_mass"), lit(0L)).as(s"top${n}_mass"))): _*)
      .select((col("id").as(idCol) +:
        col("n_lines") +:
        fracE6("dup_lines", "n_lines").as("dup_line_frac_e6") +:
        fracE6("dup_line_chars", "line_chars").as("dup_line_char_frac_e6") +:
        topNs.map(n =>
          least(fracE6(s"top${n}_mass", "total_chars"), lit(1000000L))
            .as(s"top${n}gram_char_frac_e6"))) :+
        least(fracE6("dup_mass", "total_chars"), lit(1000000L))
          .as(s"dup${dupN}gram_char_frac_e6"): _*)
  }

  /** First-failing-reason gate over [[repetitionSignals]] output — the
    * Gopher §A1.1 thresholds as plan literals, same doctrine as
    * [[gateReason]]. Apply to the signals frame (or any frame carrying
    * the e6 columns); compose with [[gateReason]] by gating text-shape
    * first, repetition second.
    */
  def repetitionGate(maxDupLineFracE6: Long = 300000L,
                     maxDupLineCharFracE6: Long = 200000L,
                     maxTop2CharFracE6: Long = 200000L,
                     maxDupNCharFracE6: Long = 150000L,
                     top2Col: String = "top2gram_char_frac_e6",
                     dupNCol: String = "dup5gram_char_frac_e6"): Column =
    when(col("dup_line_frac_e6") > maxDupLineFracE6, "dup_lines")
      .when(col("dup_line_char_frac_e6") > maxDupLineCharFracE6,
        "dup_line_chars")
      .when(col(top2Col) > maxTop2CharFracE6, "top_ngram_mass")
      .when(col(dupNCol) > maxDupNCharFracE6, "dup_ngram_mass")
      .otherwise("keep")
}
