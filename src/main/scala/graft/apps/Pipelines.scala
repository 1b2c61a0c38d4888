package graft.apps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{DateFunctions, TextFunctions}

/** The reference's ten warehouse pipelines (rt-flink SRC/app/{dwd,dwm,dws})
  * recomposed from this engine's operators as source-agnostic
  * DataFrame → DataFrame transforms. Each takes the output of a Kafka
  * `readStream` (or any batch DataFrame with the same schema) and returns
  * the transform the reference's job applies between its source and sink;
  * wiring to Kafka/JDBC sinks is
  * [[graft.streaming.StreamingPipelines]]'s job. Streaming-specific keyed
  * state (ST1-ST3) lives in [[graft.streaming.StatefulOps]]; the
  * equivalents here are the SQL-expressible batch analogs.
  */
object Pipelines {

  /** Behavior-log envelope (SURVEY §1.2; ref OdsBaseLogApp.scala:86-171):
    * common dims, optional start/page sections, display exposure list,
    * epoch-millis ts.
    */
  val logSchema: StructType = StructType(Seq(
    StructField("common", StructType(Seq(
      StructField("mid", StringType), StructField("vc", StringType),
      StructField("ch", StringType), StructField("ar", StringType),
      StructField("is_new", StringType)))),
    StructField("start", StructType(Seq(
      StructField("entry", StringType),
      StructField("loading_time", LongType)))),
    StructField("page", StructType(Seq(
      StructField("page_id", StringType),
      StructField("last_page_id", StringType),
      StructField("item", StringType),
      StructField("during_time", LongType)))),
    StructField("displays", ArrayType(StructType(Seq(
      StructField("item_type", StringType),
      StructField("item", StringType),
      StructField("order", LongType))))),
    StructField("ts", LongType)))

  /** Maxwell CDC envelope (ref OdsBaseDbApp.scala:69-72). `data` stays a
    * raw JSON string: the row schema is config-driven, resolved per sink
    * by the router.
    */
  val cdcSchema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("data", StringType)))

  /** P1 — parse a Kafka value column of JSON log lines into the typed
    * envelope + event-time timestamp (lenient: malformed rows → nulls,
    * like the reference's ignore-parse-errors).
    */
  def parseLog(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(from_json(col(valueCol), logSchema).as("r"))
      .select(col("r.*"))
      .withColumn("event_ts", timestamp_millis(col("ts")))

  /** OdsBaseLogApp O1 — the three-way log split as filtered projections
    * of one parsed stream (side-output tags → three writes).
    */
  def splitStart(parsed: DataFrame): DataFrame =
    parsed.filter(col("start").isNotNull)
      .select(col("common.*"), col("start.*"), col("ts"))

  def splitPage(parsed: DataFrame): DataFrame =
    parsed.filter(col("start").isNull && col("page").isNotNull)
      .select(col("common.*"), col("page.*"), col("ts"))

  def splitDisplay(parsed: DataFrame): DataFrame =
    parsed.filter(col("displays").isNotNull)
      .select(col("common.mid"), col("page.page_id"),
        explode(col("displays")).as("d"), col("ts"))
      .select(col("mid"), col("page_id"), col("d.item_type"),
        col("d.item"), col("d.order"), col("ts"))

  /** OdsBaseDbApp O2/P4 — config-driven CDC routing. `config` rows:
    * (source_table, operate_type, sink_type, sink_table, sink_columns).
    * Output carries sink routing columns + the pruned data payload;
    * `bootstrap-insert` normalizes to `insert` (P7). Column pruning is
    * data-driven: the payload keeps only the configured keys.
    */
  /** @param ordCol optional per-row ordinal on `cdc` (Kafka offset / CDC
    *   sequence) carried through to the output so downstream upsert sinks
    *   can resolve within-batch ties in STREAM order (the reference's
    *   DimSink applies rows as they arrive). Without it, ties fall back
    *   to the sink's deterministic-but-arbitrary payload ordering.
    */
  def routeCdc(cdc: DataFrame, config: DataFrame,
               ordCol: Option[String] = None): DataFrame = {
    val normalized = cdc
      .withColumn("type",
        when(col("type") === "bootstrap-insert", "insert").otherwise(col("type")))
      .filter(col("table").isNotNull && length(col("data")) > 3)
    normalized.join(broadcast(config),
        normalized("table") === config("source_table") &&
          normalized("type") === config("operate_type"))
      .withColumn("routed_data",
        to_json(map_filter(from_json(col("data"), MapType(StringType, StringType)),
          (k, _) => array_contains(split(col("sink_columns"), ","), k))))
      .select(col("table") +: col("type") +: col("sink_type") +:
        col("sink_table") +: col("routed_data") +:
        ordCol.toSeq.map(col): _*)
  }

  /** UniqueVisitApp ST2 (batch analog) — first session-entry per mid per
    * day. The streaming form with state TTL is
    * [[graft.streaming.StatefulOps.dailyUvFilter]].
    */
  def dailyUv(pages: DataFrame): DataFrame =
    pages.filter(col("last_page_id").isNull || col("last_page_id") === "")
      .withColumn("dt", to_date(timestamp_millis(col("ts"))))
      .groupBy(col("mid"), col("dt"))
      .agg(min(col("ts")).as("first_ts"))

  /** `pages` with its event time: the caller's `event_ts` when it has
    * one (a watermark set on it must reach the window, or a stream
    * cannot run in append mode), otherwise derived from `ts` millis. */
  private def withEventTs(pages: DataFrame): DataFrame =
    if (pages.columns.contains("event_ts")) pages
    else pages.withColumn("event_ts", timestamp_millis(col("ts")))

  /** VisitorStatsApp A1/J5 — the reference's metric streams unioned and
    * window-aggregated: pv (page views), sv (session entries), uv
    * (distinct visitors), dur (dwell time). The reference's fifth
    * metric, uj (bounces), is NOT computed here: bounce detection is
    * stateful CEP ([[graft.streaming.StatefulOps.bounceDetect]], q11)
    * and the reference itself unions the bounce stream in as a separate
    * source — join this output with that stream downstream, exactly as
    * `VisitorStatsApp` does.
    */
  def visitorStats(pages: DataFrame, windowLen: String = "10 seconds"): DataFrame = {
    val keys = Seq(col("vc"), col("ch"), col("ar"), col("is_new"))
    withEventTs(pages)
      .groupBy(window(col("event_ts"), windowLen).as("w") +: keys: _*)
      .agg(
        count(lit(1)).as("pv_ct"),
        sum(when(col("last_page_id").isNull || col("last_page_id") === "", 1L)
          .otherwise(0L)).as("sv_ct"),
        approx_count_distinct(col("mid")).as("uv_ct"),
        sum(col("during_time")).as("dur_sum"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt") +:
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt") +:
          keys :+ col("pv_ct") :+ col("sv_ct") :+ col("uv_ct") :+ col("dur_sum"): _*)
  }

  /** OrderWideAp J1+J3 — order ⋈ order_detail within an event-time bound,
    * then dimension enrichment as broadcast joins (the reference's six
    * async Redis/Phoenix lookups collapse into per-batch broadcasts).
    * `dims` maps dimension name → (table, fact fk column); every dim
    * table must expose `id` plus its payload columns prefixed upstream.
    */
  def orderWide(orders: DataFrame, details: DataFrame,
                dims: Seq[(DataFrame, String)],
                boundSeconds: Long = 5): DataFrame = {
    val joined = orders.alias("oi").join(details.alias("od"),
      col("od.order_id") === col("oi.id") &&
        col("od.event_ts") >= col("oi.event_ts") - expr(s"INTERVAL $boundSeconds SECONDS") &&
        col("od.event_ts") <= col("oi.event_ts") + expr(s"INTERVAL $boundSeconds SECONDS"))
    dims.foldLeft(joined) { case (acc, (dim, fk)) =>
      acc.join(broadcast(dim), col(fk) === dim("id"), "left")
    }
  }

  /** PaymentWideApp J2 — payment ⋈ order_wide, payment within 30 minutes
    * after the order (bound [-1800 s, 0]).
    */
  def paymentWide(payments: DataFrame, orderWide: DataFrame): DataFrame =
    payments.alias("pay").join(orderWide.alias("ow"),
      col("pay.order_id") === col("ow.order_id") &&
        col("pay.event_ts") >= col("ow.event_ts") &&
        col("pay.event_ts") <= col("ow.event_ts") + expr("INTERVAL 30 MINUTES"))

  /** ProvinceStatsSqlApp A3 — per-province windowed order count/amount.
    * Distinct orders as `size(collect_set)`, like [[productStats]]: the
    * same count as `countDistinct`, which a stream rejects.
    */
  def provinceStats(orderWide: DataFrame, windowLen: String = "10 seconds"): DataFrame =
    orderWide
      .groupBy(window(col("event_ts"), windowLen).as("w"),
        col("province_id"), col("province_name"))
      .agg(size(collect_set(col("order_id"))).cast("long").as("order_count"),
        sum(col("split_total_amount")).as("order_amount"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("province_id"), col("province_name"),
        col("order_count"), col("order_amount"))

  /** KeywordStatsApp T1+A4 — tokenize the search keyword, explode, count
    * per window.
    */
  def keywordStats(pages: DataFrame, windowLen: String = "10 seconds"): DataFrame =
    withEventTs(pages)
      .filter(col("page_id") === "good_list" && col("item").isNotNull)
      .select(col("event_ts"), explode(TextFunctions.tokenize(col("item"))).as("keyword"))
      .groupBy(window(col("event_ts"), windowLen).as("w"), col("keyword"))
      .agg(count(lit(1)).as("ct"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("keyword"), col("ct"))

  /** KeywordStats4ProductApp T2 — metric unpivot column→row with zero
    * rows dropped (stack + filter).
    */
  def keywordProductUnpivot(stats: DataFrame): DataFrame =
    stats.select(col("keyword"),
      expr("stack(3, 'CLICK', click_ct, 'CART', cart_ct, 'ORDER', order_ct) AS (source, ct)"))
      .filter(col("ct") > 0)

  /** ProductStatsApp A2/U2 — the seven one-hot fact streams pre-shaped to
    * a common schema and unioned, then window-aggregated per sku with
    * exact distinct order sets (`size(collect_set)`), the intended
    * semantics of the reference's HashSet accumulators.
    */
  def productStats(shaped: Seq[DataFrame], windowLen: String = "10 seconds"): DataFrame =
    shaped.reduce(_ unionByName _)
      .groupBy(window(col("event_ts"), windowLen).as("w"), col("sku_id"))
      .agg(
        sum(col("click_ct")).as("click_ct"),
        sum(col("cart_ct")).as("cart_ct"),
        sum(col("order_amount")).as("order_amount"),
        size(collect_set(when(col("order_id") > 0, col("order_id")))).as("order_ct"),
        sum(col("paid_amount")).as("paid_amount"),
        size(collect_set(when(col("paid_order_id") > 0, col("paid_order_id")))).as("paid_order_ct"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
        col("sku_id"), col("click_ct"), col("cart_ct"), col("order_amount"),
        col("order_ct"), col("paid_amount"), col("paid_order_ct"))
}
