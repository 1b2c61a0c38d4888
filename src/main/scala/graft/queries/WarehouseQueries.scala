package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{DateFunctions => DF, TextFunctions => TF}

import Shared._

/** The warehouse apps of the reference (ODS/DWD/DWM/DWS stats, joins,
  * splits, stateful faces) and the SQL operator battery around them. */
private[graft] object WarehouseQueries {

  val all: Seq[Query] = Seq(

    // A6/A1 — grouped aggregation with exact decimal arithmetic
    // (ref: rt-flink ads/demo/JarSubmit.scala:72-111 batch report agg)
    Query("q01_pricing_summary", (s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }, Some("""SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    // A1 — tumbling-window visitor stats (ref: VisitorStatsApp.scala:167-200)
    Query("q02_visitor_stats", (s, dir) => {
      val w = window(col("ts"), "10 minutes")
      T(s, dir, "events")
        .groupBy(w.as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("pv_ct"),
          countDistinct(col("user_id")).as("uv_ct"),
          dsum(col("value")).as("dur_sum"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("edt"),
          col("event_type"), col("pv_ct"), col("uv_ct"), col("dur_sum"))
    }, Some("""SELECT strftime(time_bucket(INTERVAL 10 MINUTES, ts), '%Y-%m-%d %H:%M:%S') AS stt,
         strftime(time_bucket(INTERVAL 10 MINUTES, ts) + INTERVAL 10 MINUTES, '%Y-%m-%d %H:%M:%S') AS edt,
         event_type,
         count(*) AS pv_ct,
         count(DISTINCT user_id) AS uv_ct,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
         FROM events GROUP BY 1, 2, 3""")),

    // A3 — province stats: star join + windowed distinct agg
    // (ref: ProvinceStatsSqlApp.scala:70-78)
    Query("q03_province_stats", (s, dir) => {
      val o = T(s, dir, "orders")
      val c = broadcast(T(s, dir, "customer"))
      val n = broadcast(T(s, dir, "nation"))
      val r = broadcast(T(s, dir, "region"))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          countDistinct(col("o_orderkey")).as("order_count"),
          dsum(col("o_totalprice")).as("order_amount"))
    }, Some("""SELECT r_name, n_name,
         count(DISTINCT o_orderkey) AS order_count,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""")),

    // A4 + T1 — tokenize → explode → keyword counts
    // (ref: KeywordStatsApp.scala:65-80, KeywordUDTF.scala:17-29)
    Query("q04_keyword_stats", (s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), explode(TF.tokenize(col("text"))).as("keyword"))
        .groupBy(col("keyword"))
        .agg(count(lit(1)).as("ct"), countDistinct(col("doc_id")).as("doc_ct"))
    }, Some("""SELECT keyword, count(*) AS ct, count(DISTINCT doc_id) AS doc_ct
         FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS keyword
               FROM documents)
         GROUP BY keyword""")),

    // T2 — metric unpivot column→row (ref: KeywordProductC2RUDTF.scala:12-34)
    Query("q05_metric_unpivot", (s, dir) => {
      T(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("click_ct"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cart_ct"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("order_ct"))
        .select(col("user_id"),
          expr("stack(3, 'CLICK', click_ct, 'CART', cart_ct, 'ORDER', order_ct) AS (source, ct)"))
        .filter(col("ct") > 0)
    }, Some("""WITH m AS (
           SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_ct,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cart_ct,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS order_ct
           FROM events GROUP BY user_id)
         SELECT user_id, source, ct FROM (
           SELECT user_id, 'CLICK' AS source, click_ct AS ct FROM m
           UNION ALL SELECT user_id, 'CART', cart_ct FROM m
           UNION ALL SELECT user_id, 'ORDER', order_ct FROM m)
         WHERE ct > 0""")),

    // J1 — interval join order ⋈ line within [orderdate, +30d]
    // (ref: OrderWideAp.scala:128-138, bound ±5s scaled to batch data)
    Query("q06_order_line_interval_join", (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      val l = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_quantity"))
      o.join(l,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(col("o_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
          col("l_quantity").as("qty"))
    }, Some("""SELECT o_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
         l_quantity AS qty
         FROM orders JOIN lineitem
           ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate <= o_orderdate + INTERVAL 30 DAYS""")),

    // J2 — interval join: purchase attributed to a click within the
    // preceding 30 min (ref: PaymentWideApp.scala:73-88, [-30min, 0])
    Query("q07_purchase_attribution", (s, dir) => {
      val e = T(s, dir, "events")
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      p.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
            col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"), col("user_id"))
    }, Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 30 MINUTES AND c.ts <= p.ts""")),

    // J3 — dimension enrichment as broadcast joins
    // (ref: OrderWideAp.scala:143-236 six async dim lookups)
    Query("q08_dim_enrich", (s, dir) => {
      val l = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      val p = broadcast(T(s, dir, "part").select(col("p_partkey"), col("p_name"), col("p_brand")))
      val su = broadcast(T(s, dir, "supplier").select(col("s_suppkey"), col("s_name"), col("s_nationkey")))
      val n = broadcast(T(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      val r = broadcast(T(s, dir, "region").select(col("r_regionkey"), col("r_name")))
      l.join(p, col("l_partkey") === col("p_partkey"), "left")
        .join(su, col("l_suppkey") === col("s_suppkey"), "left")
        .join(n, col("s_nationkey") === col("n_nationkey"), "left")
        .join(r, col("n_regionkey") === col("r_regionkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("p_name"), col("p_brand"), col("s_name"), col("n_name"), col("r_name"))
    }, Some("""SELECT l_orderkey, l_linenumber, p_name, p_brand, s_name, n_name, r_name
         FROM lineitem
         LEFT JOIN part ON l_partkey = p_partkey
         LEFT JOIN supplier ON l_suppkey = s_suppkey
         LEFT JOIN nation ON s_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey""")),

    // ST1 — new-visitor flag correction, batch analog
    // (ref: OdsBaseLogApp.scala:86-135 ValueState first-visit date)
    Query("q09_new_visitor_fix", (s, dir) => {
      val e = T(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
      e.withColumn("first_date", min(to_date(col("ts"))).over(w))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
          when(to_date(col("ts")) === col("first_date"), 1L).otherwise(0L).as("is_new"))
    }, Some("""SELECT event_id, user_id,
         strftime(ts, '%Y-%m-%d') AS event_date,
         CASE WHEN CAST(ts AS DATE) = min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_new
         FROM events""")),

    // ST2 — daily UV dedup (ref: UniqueVisitApp.scala:74-116)
    Query("q10_daily_uv", (s, dir) => {
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .agg(countDistinct(col("user_id")).as("uv_ct"))
    }, Some("""SELECT strftime(ts, '%Y-%m-%d') AS dt, count(DISTINCT user_id) AS uv_ct
         FROM events GROUP BY 1""")),

    // ST3 — bounce detection, batch analog: session entry with no
    // follow-up within 30 min (ref: UserJumpDetailApp.scala:94-140,
    // CEP timeout 10s scaled to this data's cadence)
    Query("q11_bounce_detect", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(col("next_ts").isNull ||
          col("next_ts") > col("ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
    }, Some("""SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
         FROM (SELECT event_id, user_id, ts,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
               FROM events)
         WHERE next_ts IS NULL OR next_ts > ts + INTERVAL 30 MINUTES""")),

    // O1 — 3-way log split (ref: OdsBaseLogApp.scala:140-197):
    // start / page / display branches as filtered projections
    Query("q12_log_split_start", (s, dir) => {
      T(s, dir, "events").filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
    }, Some("""SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
         FROM events WHERE event_type = 'signup'""")),

    Query("q13_log_split_page", (s, dir) => {
      T(s, dir, "events").filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }, Some("""SELECT event_id, user_id, event_type, value
         FROM events WHERE event_type IN ('view', 'click')""")),

    // display branch: explode the nested props payload (ref exploded
    // displays[] at OdsBaseLogApp.scala:160-171; props JSON here)
    Query("q14_log_split_display", (s, dir) => {
      T(s, dir, "events").filter(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
    }, Some("""SELECT event_id, user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
         FROM events WHERE event_type IN ('view', 'click')""")),

    // O2/P4 — config-driven routing with column pruning
    // (ref: OdsBaseDbApp.scala:92-119, TableProcessFunction.scala:140-186)
    Query("q15_config_router", (s, dir) => {
      import s.implicits._
      val config = Seq(
        ("signup", "kafka", "dwd_signup"),
        ("purchase", "kafka", "dwd_purchase"),
        ("view", "clickhouse", "dws_view"),
        ("click", "clickhouse", "dws_click"),
        ("error", "hbase", "dim_error")
      ).toDF("source_type", "sink_type", "sink_table")
      T(s, dir, "events")
        .join(broadcast(config), col("event_type") === col("source_type"))
        .groupBy(col("sink_type"), col("sink_table"))
        .agg(count(lit(1)).as("ct"))
    }, Some("""SELECT sink_type, sink_table, count(*) AS ct
         FROM events
         JOIN (VALUES ('signup','kafka','dwd_signup'),
                      ('purchase','kafka','dwd_purchase'),
                      ('view','clickhouse','dws_view'),
                      ('click','clickhouse','dws_click'),
                      ('error','hbase','dim_error'))
              AS config(source_type, sink_type, sink_table)
           ON event_type = source_type
         GROUP BY sink_type, sink_table""")),

    // J5/P3/U1 — "full join by union": one-hot metric streams unioned
    // then summed (ref: VisitorStatsApp.scala:39-41,90-157)
    Query("q16_union_onehot", (s, dir) => {
      val e = T(s, dir, "events")
      val pv = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), lit(1L).as("pv_ct"), lit(0L).as("order_ct"), lit(0L).as("err_ct"))
      val ord = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), lit(0L).as("pv_ct"), lit(1L).as("order_ct"), lit(0L).as("err_ct"))
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), lit(0L).as("pv_ct"), lit(0L).as("order_ct"), lit(1L).as("err_ct"))
      pv.unionByName(ord).unionByName(err)
        .groupBy(col("user_id"))
        .agg(sum(col("pv_ct")).as("pv_ct"), sum(col("order_ct")).as("order_ct"),
          sum(col("err_ct")).as("err_ct"))
    }, Some("""SELECT user_id,
         CAST(sum(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS order_ct,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_ct
         FROM events GROUP BY user_id
         HAVING pv_ct + order_ct + err_ct > 0""")),

    // §2.11 — scalar date function battery (ref: CommonTool.scala:67-150)
    Query("q17_scalar_dates", (s, dir) => {
      T(s, dir, "events").select(
        col("event_id"),
        DF.toYmdHms(col("ts")).as("ymd_hms"),
        DF.tenMinuteInterval(col("ts")).as("ten_min"),
        DF.dayOfWeekName(col("ts")).as("day_name"),
        date_format(DF.monthLastDay(col("ts")), "yyyy-MM-dd").as("month_end"),
        date_format(date_add(to_date(col("ts")), 7), "yyyy-MM-dd").as("plus_7d"),
        DF.midMonthBucket(to_date(col("ts"))).as("mid_month"))
    }, Some("""SELECT event_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ymd_hms,
         substr(strftime(ts, '%H:%M'), 1, 4) || '0:00-' || substr(strftime(ts, '%H:%M'), 1, 4) || '9:59' AS ten_min,
         dayname(ts) AS day_name,
         strftime(last_day(CAST(ts AS DATE)), '%Y-%m-%d') AS month_end,
         strftime(CAST(ts AS DATE) + 7, '%Y-%m-%d') AS plus_7d,
         CASE WHEN day(CAST(ts AS DATE)) <= 15 THEN strftime(ts, '%Y-%m-15')
              ELSE strftime(CAST(ts AS DATE) + INTERVAL 1 MONTH, '%Y-%m-15') END AS mid_month
         FROM events""")),

    // A5 — daily PV/UV (ref: FlinkKafkaSource_02.scala:110-138)
    Query("q26_daily_pvuv", (s, dir) => {
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .agg(count(lit(1)).as("pv"), countDistinct(col("user_id")).as("uv"),
          max(DF.toYmdHms(col("ts"))).as("max_ts"))
    }, Some("""SELECT strftime(ts, '%Y-%m-%d') AS dt,
         count(*) AS pv, count(DISTINCT user_id) AS uv,
         max(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS max_ts
         FROM events GROUP BY 1""")),

    // §2.8 — batch sort + limit with deterministic total order
    // (ref: ads/demo/JarSubmit.scala:110)
    Query("q27_top_orders", (s, dir) => {
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Some("""SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""")),

    // §2.7 generalization — session windows (gap 30 min)
    Query("q28_session_window", (s, dir) => {
      T(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"))
    }, Some("""WITH flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         sessions AS (
           SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
         FROM sessions GROUP BY user_id, session_id""")),

    // beyond-reference completeness — rollup (multi-level agg)
    Query("q29_rollup", (s, dir) => {
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    }, Some("""SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // §2.7 beyond-reference — ranking window function, top-3 orders per
    // customer with deterministic tiebreak
    Query("q37_top_orders_per_cust", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      T(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
    }, Some("""SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders)
         WHERE rk <= 3""")),

    // §2.6 beyond-reference — CUBE multi-level aggregate
    Query("q38_cube", (s, dir) => {
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    }, Some("""SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    // §2.5 beyond-reference — left-semi join: orders having any heavy line
    Query("q39_semi_join", (s, dir) => {
      val heavy = T(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      T(s, dir, "orders")
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Some("""SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)""")),

    // §2.5 beyond-reference — left-anti join: orders with NO heavy line
    Query("q40_anti_join", (s, dir) => {
      val heavy = T(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      T(s, dir, "orders")
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Some("""SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)""")),

    // P1 — schema'd JSON parse with from_json (the reference's
    // String→JSONObject map, OdsBaseLogApp.scala:74-80, with an explicit
    // StructType instead of a dynamic map)
    Query("q41_json_parse", (s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("k", LongType)))
      T(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), schema).getField("k").as("prop_k"))
    }, Some("""SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
         FROM events""")),

    // beyond-reference — pivot (wide one-hot aggregation)
    Query("q42_pivot", (s, dir) => {
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
    }, Some("""SELECT strftime(ts, '%Y-%m-%d') AS dt,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY 1""")),

    // §2.11 — event gaps: seconds between consecutive events per user
    // (ref: CommonTool.getDateBetweenTime, CommonTool.scala:97-109)
    Query("q44_event_gaps", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .select(col("event_id"), col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
            .cast("long").as("gap_s"))
    }, Some("""SELECT event_id, user_id,
         CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s
         FROM events""")),

    // P1+O1 end-to-end — the OdsBaseLogApp head: behavior-log JSON lines
    // (synthesized from events) → lenient envelope parse → page split.
    // Exercises graft.apps.Pipelines under the oracle gate.
    Query("q45_log_pipeline", (s, dir) => {
      // ScanFanOut BEFORE the JSON round-trip (guide §2.5): to_json
      // + from_json over every event is a narrow CPU chain from a 1-file
      // scan (measured: 2 tasks, wall ≈ task CPU). The exchange carries
      // the 5 source columns, not the rendered JSON; the streaming face
      // gets its width from Kafka partitions instead.
      val raw = ops.ScanFanOut(T(s, dir, "events").select(
        col("user_id"), col("event_type"), col("props"), col("value"),
        col("ts"))).select(to_json(struct(
        struct(col("user_id").cast("string").as("mid"), lit("v1").as("vc"),
          lit("web").as("ch"), lit("310000").as("ar"), lit("0").as("is_new"))
          .as("common"),
        struct(col("event_type").as("page_id"),
          lit(null).cast("string").as("last_page_id"),
          get_json_object(col("props"), "$.k").as("item"),
          col("value").cast("long").as("during_time")).as("page"),
        unix_millis(col("ts")).as("ts"))).as("value"))
      apps.Pipelines.splitPage(apps.Pipelines.parseLog(raw))
        .select(col("mid"), col("page_id"), col("item"),
          col("during_time"), col("ts"))
    }, Some("""SELECT CAST(user_id AS VARCHAR) AS mid,
         event_type AS page_id,
         json_extract_string(props, '$.k') AS item,
         CAST(floor(value) AS BIGINT) AS during_time,
         epoch_ms(ts) AS ts
         FROM events""")),

    // O2/P4/P7 end-to-end — the OdsBaseDbApp head: Maxwell envelopes
    // (synthesized from events) → config-driven routing with column
    // pruning → per-sink counts.
    Query("q46_cdc_pipeline", (s, dir) => {
      import s.implicits._
      val cdc = T(s, dir, "events").select(
        col("event_type").as("table"),
        when(col("value") > 50, "bootstrap-insert").otherwise("insert").as("type"),
        to_json(struct(col("event_id").cast("string").as("id"),
          col("user_id").cast("string").as("uid"),
          col("props").as("secret"))).as("data"))
      val config = Seq(
        ("view", "insert", "kafka", "dwd_view", "id,uid"),
        ("click", "insert", "kafka", "dwd_click", "id,uid"),
        ("purchase", "insert", "clickhouse", "dws_purchase", "id")
      ).toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns")
      apps.Pipelines.routeCdc(cdc, config)
        .groupBy(col("sink_type"), col("sink_table"))
        .agg(count(lit(1)).as("ct"))
    }, Some("""SELECT sink_type, sink_table, count(*) AS ct
         FROM events
         JOIN (VALUES ('view','kafka','dwd_view'),
                      ('click','kafka','dwd_click'),
                      ('purchase','clickhouse','dws_purchase'))
              AS config(source_table, sink_type, sink_table)
           ON event_type = source_table
         GROUP BY 1, 2""")),

    // §2.12 — custom typed Aggregator (exact distinct via a merged
    // long-set buffer; the reference's HashSet accumulator as a UDAF)
    Query("q47_custom_aggregator", (s, dir) => {
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .agg(graft.functions.Aggregators.exactDistinct(col("user_id")).as("uv_exact"))
    }, Some("""SELECT strftime(ts, '%Y-%m-%d') AS dt,
         count(DISTINCT user_id) AS uv_exact
         FROM events GROUP BY 1""")),

    // the documented scale switch for distinct counts: HLL sketch
    // (mergeable, fixed memory) — rows-only check: approx values are
    // algorithm-specific, the row set (one per day) is not
    Query("q48_uv_approx", (s, dir) => {
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("uv_approx"))
    }, None),

    // §2.7 generalization — sliding windows (10 min length, 5 min
    // slide: every event lands in exactly two panes)
    Query("q53_sliding_window", (s, dir) => {
      T(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("pv_ct"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("stt"),
          col("event_type"), col("pv_ct"))
    }, Some("""WITH panes AS (
           SELECT strftime(time_bucket(INTERVAL 5 MINUTES, ts), '%Y-%m-%d %H:%M:%S') AS stt,
                  event_type FROM events
           UNION ALL
           SELECT strftime(time_bucket(INTERVAL 5 MINUTES, ts) - INTERVAL 5 MINUTES, '%Y-%m-%d %H:%M:%S') AS stt,
                  event_type FROM events)
         SELECT stt, event_type, count(*) AS pv_ct
         FROM panes GROUP BY 1, 2""")),

    // §2.5 beyond-reference — AS-OF join: each purchase matched to the
    // user's latest click at-or-before it (the unbounded exact form of
    // the reference's [-30 min, 0] payment⋈order interval join,
    // PaymentWideAp). Union+sort+carry-forward shape: one shuffle of
    // |L|+|R| rows, never the join-then-rank candidate blowup.
    Query("q59_asof_join", (s, dir) => {
      val e = T(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("ts").as("click_ts"), col("value").as("click_value"))
      graft.ops.AsOfJoin.asOf(purchases, clicks, Seq("user_id"),
          "ts", "ts", Seq("click_ts", "click_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("cts"),
          col("click_value"))
    },
      // As-of join oracle: the rank formulation (quadratic, fine at oracle
      // scale). Right-side ties at one (user, ts) collapse to max(value)
      // first — the same greatest-payload-tuple tie-break the operator
      // applies.
      Some("""WITH p AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, ts, CAST(max(value) AS DOUBLE) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         j AS (
           SELECT p.event_id, p.user_id, p.ts AS pts, c.ts AS cts, c.click_value,
             row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC) AS rn
           FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
         SELECT event_id, user_id,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS pts,
           strftime(cts, '%Y-%m-%d %H:%M:%S') AS cts,
           click_value
         FROM j WHERE rn = 1""")),

    // §2.11 — derived age-in-years attribute (ref: rt-flink
    // OrderWideAp.scala:151-158 computes user age from a birthday dim
    // column at enrichment time). The test tables carry no birthday
    // column, so the order date stands in as the anchored date; the
    // as-of date is fixed so the oracle is deterministic.
    Query("q55_age_from_birthday", (s, dir) => {
      T(s, dir, "orders").select(
        col("o_orderkey"),
        DF.ageFromBirthday(col("o_orderdate"),
          lit("2026-01-01").cast("date")).as("age_years"))
    },
      // Spark datediff(asOf, d)/365 is double division; DuckDB mirrors with
      // /365.0 and CAST(floor(...)) (DuckDB CAST alone ROUNDS, Spark truncates).
      Some("""SELECT o_orderkey,
         CAST(floor(date_diff('day', o_orderdate, DATE '2026-01-01') / 365.0) AS BIGINT) AS age_years
         FROM orders""")),

    // 100 TB layout lever — the Z-order (Morton) clustering key as a
    // pure BIGINT expression (ops.ZOrder; writeZClustered uses it to
    // range-cluster files into small (a, b) boxes for two-dimension
    // file pruning). Zero shuffles; exact oracle replays the bit math.
    Query("q71_zorder_key", (s, dir) => {
      T(s, dir, "orders").select(
        col("o_orderkey"),
        pmod(col("o_custkey"), lit(1024L)).as("bucket_a"),
        pmod(floor(col("o_totalprice")).cast("long"), lit(1024L)).as("bucket_b"))
        .withColumn("zval", ops.ZOrder.zValue(col("bucket_a"), col("bucket_b"), 10))
    },
      // floor() spelled explicitly in both engines: DuckDB CAST alone
      // ROUNDS decimals where Spark truncates. The interleave sum is
      // generated by ZOrder.zValueSql — identical bit math both sides.
      Some(s"""SELECT o_orderkey,
         (o_custkey % 1024) AS bucket_a,
         (CAST(floor(o_totalprice) AS BIGINT) % 1024) AS bucket_b,
         ${ops.ZOrder.zValueSql("(o_custkey % 1024)",
           "(CAST(floor(o_totalprice) AS BIGINT) % 1024)", 10)} AS zval
         FROM orders""")),

    // Range join (beyond ref — the non-equi join Spark plans as a
    // nested-loop): overlapping price bands resolved via bucketed
    // equi-join + residual (ops.RangeJoin), never a BNLJ/cartesian.
    Query("q72_range_join", (s, dir) => {
      val bands = s.range(0, 40).select(
        col("id").as("band_id"),
        (col("id") * 20000L - 5000L).as("lo"),
        (col("id") * 20000L + 25000L).as("hi"))
      val o = T(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("price"))
      ops.RangeJoin.pointInInterval(o, "price", bands, "lo", "hi", 30000L)
        .select(col("o_orderkey"), col("price"), col("band_id"))
    }, Some("""WITH b AS (
           SELECT CAST(i AS BIGINT) AS band_id,
             CAST(i * 20000 - 5000 AS BIGINT) AS lo,
             CAST(i * 20000 + 25000 AS BIGINT) AS hi
           FROM range(0, 40) t(i)),
         o AS (
           SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS price
           FROM orders)
         SELECT o.o_orderkey, o.price, b.band_id
         FROM o JOIN b ON o.price >= b.lo AND o.price <= b.hi""")),

    // Interval-overlap join (the two-sided range join): shipment
    // transit windows [shipdate, receiptdate] against overlapping
    // 45-day calendar windows — same bucketed equi-join machinery,
    // pair ownership by the overlap's left-edge bucket (no dedup).
    Query("q73_interval_overlap", (s, dir) => {
      val transit = T(s, dir, "lineitem")
        .withColumn("ship_d",
          datediff(col("l_shipdate"), lit("1993-01-01").cast("date")).cast("long"))
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("ship_d"),
          // no receipt date in the test schema: a deterministic 0-29 day
          // transit span derived from the quantity stands in
          (col("ship_d") + pmod(floor(col("l_quantity")).cast("long"), lit(30L)))
            .as("rcpt_d"))
      val windows = s.range(0, 60).select(
        col("id").as("window_id"),
        (col("id") * 30L).as("w_lo"),
        (col("id") * 30L + 44L).as("w_hi"))
      ops.RangeJoin.intervalOverlap(transit, "ship_d", "rcpt_d",
        windows, "w_lo", "w_hi", 32L)
        .select(col("l_orderkey"), col("l_linenumber"), col("window_id"))
    }, Some("""WITH t AS (
           SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             CAST(date_diff('day', DATE '1993-01-01', l_shipdate) AS BIGINT) AS ship_d,
             CAST(date_diff('day', DATE '1993-01-01', l_shipdate) AS BIGINT)
               + (CAST(floor(l_quantity) AS BIGINT) % 30) AS rcpt_d
           FROM lineitem),
         w AS (
           SELECT CAST(i AS BIGINT) AS window_id,
             CAST(i * 30 AS BIGINT) AS w_lo, CAST(i * 30 + 44 AS BIGINT) AS w_hi
           FROM range(0, 60) t(i))
         SELECT t.l_orderkey, t.l_linenumber, w.window_id
         FROM t JOIN w ON t.ship_d <= w.w_hi AND w.w_lo <= t.rcpt_d""")),

    // Training-pipeline utility — corpus snapshot diff (versioning):
    // two deterministic views of the corpus stand in for releases N and
    // N+1; the diff shuffles (id, fingerprint) only. The oracle
    // compares normalized text where the operator compares xxhash64
    // fingerprints — identical output absent 64-bit collisions.
    Query("q74_snapshot_diff", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldSnap = d.filter(pmod(col("doc_id"), lit(10L)) =!= 3L)
      val newSnap = d.filter(pmod(col("doc_id"), lit(10L)) =!= 7L)
        .withColumn("text", when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      ops.Snapshot.diff(oldSnap, newSnap, "doc_id", "text")
    }, Some("""WITH o AS (
           SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS nt
           FROM documents WHERE doc_id % 10 <> 3),
         n AS (
           SELECT doc_id,
             lower(regexp_replace(
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END,
               '\s+', ' ', 'g')) AS nt
           FROM documents WHERE doc_id % 10 <> 7),
         j AS (
           SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.nt <> n.nt THEN 'changed'
                  ELSE 'unchanged' END AS change
           FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT doc_id, change FROM j WHERE change <> 'unchanged'""")),

    // Funnel analysis (beyond ref, same e-commerce domain): per user,
    // the ordered view → click → purchase progression. Three stacked
    // windows over ONE user partitioning (a single exchange): each
    // stage's timestamp is the min event time strictly after the
    // previous stage's. Output: users reaching each stage.
    Query("q76_funnel", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val e = T(s, dir, "events")
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" &&
          col("value") > 90 && col("ts") > col("t1"), col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" &&
          col("value") > 97 && col("ts") > col("t2"), col("ts"))).over(w))
      e.agg(
        count_distinct(when(col("t1").isNotNull, col("user_id"))).as("n_view"),
        count_distinct(when(col("t2").isNotNull, col("user_id"))).as("n_click_after_view"),
        count_distinct(when(col("t3").isNotNull, col("user_id"))).as("n_purchase_after_click"))
    }, Some("""WITH e1 AS (
           SELECT user_id, event_type, ts, value,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
           FROM events),
         e2 AS (
           SELECT *, min(CASE WHEN event_type = 'click' AND value > 90 AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
           FROM e1),
         e3 AS (
           SELECT *, min(CASE WHEN event_type = 'purchase' AND value > 97 AND ts > t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
           FROM e2)
         SELECT
           count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n_view,
           count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n_click_after_view,
           count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n_purchase_after_click
         FROM e3""")),

    // Cohort retention (beyond ref, same domain): users bucketed by
    // first-seen day, activity counted per (cohort, day offset). One
    // window for the cohort + one grouped aggregate — two exchanges on
    // a 100 TB event log, both carrying (user, day)-level partials.
    Query("q77_retention", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      T(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("cohort", min(col("day")).over(w))
        .withColumn("day_offset", datediff(col("day"), col("cohort")).cast("long"))
        .filter(col("day_offset") <= 7)
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"))
        .agg(count_distinct(col("user_id")).as("active_users"))
    }, Some("""WITH d AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort
           FROM events)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
           count(DISTINCT user_id) AS active_users
         FROM d
         WHERE date_diff('day', cohort, day) <= 7
         GROUP BY 1, 2""")),

    // §2.9 — set operations beyond the reference's unions
    Query("q49_intersect", (s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
    }, Some("""SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'""")),

    // 100TB lever — two-phase salted aggregation for hot keys
    // (decomposable sums; exact decimal partials)
    Query("q51_salted_agg", (s, dir) =>
      ops.Skew.saltedSumCount(T(s, dir, "events"), Seq("event_type"), "value",
        salts = 8),
      Some("""SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value,
         count(*) AS row_ct
         FROM events GROUP BY 1""")),

    // (selective predicates keep the difference non-empty at test SFs —
    // with only ~150 users every unfiltered per-type user set is equal)
    Query("q50_except", (s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("event_type") === "purchase" && col("value") > 95)
        .select(col("user_id"))
        .except(e.filter(col("event_type") === "error" && col("value") > 90)
          .select(col("user_id")))
    }, Some("""SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error' AND value > 90""")),

    // q48's gate — per-day HLL relative error vs the exact distinct
    // (measured max 0.8% @ sf0.01, 1.4% @ sf0.1 at rsd 0.02; bound 5%).
    // Fully SQL-expressible day set, so the oracle checks every day.
    Query("q99_uv_approx_error_gate", (s, dir) =>
      T(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dt"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("a"),
          countDistinct(col("user_id")).as("x"))
        .select(col("dt"),
          (abs(col("a") - col("x")) * 10000L <= col("x") * 500L).as("within_bound")),
      // q48's error gate: the day set is exact SQL; the bound check on
      // the Spark side must hold for every day
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS dt, true AS within_bound
         FROM events GROUP BY 1"""), gate = true),

    // Pure-SQL-TEXT lifecycle parity — the reference's SQL apps declare
    // tables, functions, query, and sink entirely as SQL strings
    // (ProvinceStatsSqlApp.scala:54-84: DDL → SELECT → INSERT). The
    // Spark-batch equivalent of each leg: table DDL = temp-view
    // registration of the parquet catalog (Tables.registerAll),
    // function DDL = SqlFunctions.registerAll (the UDAF rides in SQL by
    // its registered name), and the query + sink are SQL text — the
    // result view IS the sink a SQL user INSERTs from. Same grouped
    // star-join semantics as q03, under its own oracle.
    Query("q104_province_stats_sql", (s, dir) => {
      Tables.registerAll(s, dir)
      graft.functions.SqlFunctions.registerAll(s)
      s.sql("""
        CREATE OR REPLACE TEMPORARY VIEW province_stats AS
        SELECT /*+ BROADCAST(customer), BROADCAST(nation), BROADCAST(region) */
          r_name, n_name,
          graft_exact_distinct(o_orderkey) AS order_count,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name""")
      s.sql("SELECT * FROM province_stats")
    },
      // same star join as q03 — the SQL-text lifecycle produces the same
      // table; order_count exercises the registered UDAF name Spark-side
      Some("""SELECT r_name, n_name,
         count(DISTINCT o_orderkey) AS order_count,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""")),

    // One-pass column profiling over orders (counts / nulls / exact
    // distinct / canonical min-max per column). Exact oracle: per-column
    // UNION ALL with the identical DECIMAL(38,6) / strftime renderings.
    Query("q120_profile", (s, dir) =>
      ops.Profile.summarize(T(s, dir, "orders")),
      // the type-canonical renderings (DECIMAL(38,6) for numerics,
      // strftime seconds for timestamps) are what make min/max
      // engine-portable — both sides format identically by construction
      Some("""SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(CAST(min(o_orderkey) AS DECIMAL(38,6)) AS VARCHAR) AS min_value,
           CAST(CAST(max(o_orderkey) AS DECIMAL(38,6)) AS VARCHAR) AS max_value
         FROM orders
         UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(CAST(min(o_custkey) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(max(o_custkey) AS DECIMAL(38,6)) AS VARCHAR) FROM orders
         UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus) FROM orders
         UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(38,6)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(38,6)) AS VARCHAR) FROM orders
         UNION ALL SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') FROM orders
         UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority) FROM orders""")),

    // Equi-width histogram with a fixed range (one pass, stable edges,
    // under/overflow bins, zero-filled spine). Exact oracle: identical
    // IEEE bin arithmetic.
    Query("q121_histogram", (s, dir) =>
      ops.Profile.histogram(T(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 600000.0, nBins = 12),
      // identical IEEE bin arithmetic: floor((v - lo) / width) with
      // width = (hi - lo) / nBins computed in doubles on both engines
      Some("""WITH b AS (
           SELECT CASE WHEN o_totalprice < 0 THEN -1
                       WHEN o_totalprice >= 600000 THEN 12
                       ELSE CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 50000.0) AS INT) END AS bin
           FROM orders WHERE o_totalprice IS NOT NULL),
         c AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
         spine AS (SELECT unnest(range(-1, 13)) AS bin)
         SELECT CAST(spine.bin AS INT) AS bin,
           CASE WHEN spine.bin >= 0 AND spine.bin < 12 THEN 0.0 + spine.bin * 50000.0 END AS lo_edge,
           CASE WHEN spine.bin >= 0 AND spine.bin < 12 THEN 0.0 + (spine.bin + 1) * 50000.0 END AS hi_edge,
           COALESCE(c.n, CAST(0 AS BIGINT)) AS n
         FROM spine LEFT JOIN c USING (bin)""")),

    // Batch sessionization by 30-min inactivity gap — per-user session
    // ordinals every funnel/attribution query joins on. Exact oracle:
    // the classic lag + running-sum-of-breaks replay.
    Query("q122_sessionize", (s, dir) =>
      ops.Sessionize.assignSessions(
        T(s, dir, "events").select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", "event_id", gapSeconds = 1800L)
        .select(col("event_id"), col("user_id"),
          col("session_seq"), col("is_session_start")),
      // lag + running sum of break flags, ordered (ts, event_id) for
      // same-timestamp determinism; gaps in INTEGER MICROSECONDS
      // (epoch_us) — matching the engine's unix_micros exactly
      Some("""WITH g AS (
           SELECT event_id, user_id, ts,
             epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (
           SELECT event_id, user_id, ts,
             CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS st
           FROM g)
         SELECT event_id, user_id,
           CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq,
           st = 1 AS is_session_start
         FROM f""")),

    // Trailing 1-hour RANGE-frame features per user (count + e6 value
    // sum). Exact oracle: RANGE frames are value-based, so no tie
    // column is needed for determinism; integer sums replay exactly.
    Query("q124_trailing_features", (s, dir) =>
      ops.TimeFeatures.trailingStats(
        T(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), col("value")),
        "user_id", "ts", "value", windowSeconds = 3600L)
        .select(col("event_id"), col("user_id"),
          col("trail_n"), col("trail_sum_e6")),
      // value-based RANGE frame on INTEGER MICROSECONDS (epoch_us ==
      // unix_micros) — same-instant rows are in the frame together on
      // both engines at full precision; e6 integer sums replay
      Some("""SELECT event_id, user_id,
           count(*) OVER w AS trail_n,
           CAST(sum(CAST(floor("value" * 1000000.0) AS BIGINT)) OVER w AS BIGINT) AS trail_sum_e6
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""")),

    // Per-event-type z-score outliers over the exponential-ish value
    // column. Exact oracle: moments from exact integer sums (the
    // stddev-aggregate order-dependence doctrine), fixed-order IEEE
    // tail, e4 floors.
    Query("q125_zscore_outliers", (s, dir) =>
      ops.Profile.zscoreOutliers(
        T(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
        "event_id", "value", "event_type"),
      // exact integer moments (HUGEINT sums == the engine's decimal
      // sums), the n*S2 - S1^2 identity evaluated exactly, then the same
      // fixed-order sqrt/divide and e4 floor
      Some("""WITH r AS (
           SELECT event_id, event_type, CAST(round("value" * 100.0) AS BIGINT) AS c
           FROM events WHERE "value" IS NOT NULL),
         m AS (
           SELECT event_type, count(*) AS n, sum(c) AS s1, sum(c * c) AS s2
           FROM r GROUP BY 1 HAVING count(*) >= 2),
         m2 AS (
           SELECT event_type, n, s1,
             CAST(n * s2 - s1 * s1 AS DOUBLE) AS varnum
           FROM m),
         m3 AS (
           SELECT event_type, n, s1,
             sqrt(varnum / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS std
           FROM m2 WHERE varnum > 0)
         SELECT event_id, event_type, z_e4 FROM (
           SELECT r.event_id, r.event_type,
             CAST(floor(10000.0 * (CAST(r.c * m3.n - m3.s1 AS DOUBLE) /
               (CAST(m3.n AS DOUBLE) * m3.std))) AS BIGINT) AS z_e4
           FROM r JOIN m3 USING (event_type))
         WHERE abs(z_e4) >= 30000""")),

    // EXACT distributed quantiles (discrete: value at rank
    // ⌈q·n/10⁶⌉ — an actual element, zero float arithmetic in the
    // selection) via range-exchange + per-partition offset windows —
    // never a global sort to one partition. Exact oracle: row_number
    // rank replay with the same integer ceil and the q120 canonical
    // renderings.
    Query("q132_quantiles", (s, dir) =>
      ops.Profile.quantiles(T(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey", "o_orderdate")),
      // discrete-quantile rank replay: same integer ceil
      // (q·n + 999999) // 1e6, same q120 canonical value renderings;
      // ties can only sit on equal values so the picked value is
      // engine-independent
      Some("""WITH q AS (SELECT * FROM (VALUES (250000), (500000), (750000),
             (900000), (990000)) t(q_e6)),
         tp AS (SELECT o_totalprice AS v FROM orders
                WHERE o_totalprice IS NOT NULL),
         tpr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM tp),
         tpn AS (SELECT count(*) AS n FROM tp),
         ck AS (SELECT o_custkey AS v FROM orders
                WHERE o_custkey IS NOT NULL),
         ckr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ck),
         ckn AS (SELECT count(*) AS n FROM ck),
         od AS (SELECT o_orderdate AS v FROM orders
                WHERE o_orderdate IS NOT NULL),
         odr AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM od),
         odn AS (SELECT count(*) AS n FROM od)
         SELECT 'o_totalprice' AS "column", CAST(q.q_e6 AS BIGINT) AS q_e6,
           CAST(CAST(tpr.v AS DECIMAL(38,6)) AS VARCHAR) AS value
         FROM q CROSS JOIN tpn CROSS JOIN tpr
         WHERE tpr.rn = LEAST(tpn.n, GREATEST(1,
             (q.q_e6 * tpn.n + 999999) // 1000000))
         UNION ALL
         SELECT 'o_custkey', CAST(q.q_e6 AS BIGINT),
           CAST(CAST(ckr.v AS DECIMAL(38,6)) AS VARCHAR)
         FROM q CROSS JOIN ckn CROSS JOIN ckr
         WHERE ckr.rn = LEAST(ckn.n, GREATEST(1,
             (q.q_e6 * ckn.n + 999999) // 1000000))
         UNION ALL
         SELECT 'o_orderdate', CAST(q.q_e6 AS BIGINT),
           strftime(odr.v, '%Y-%m-%d %H:%M:%S')
         FROM q CROSS JOIN odn CROSS JOIN odr
         WHERE odr.rn = LEAST(odn.n, GREATEST(1,
             (q.q_e6 * odn.n + 999999) // 1000000))""")),

    // SCD2 dimension history from a changelog: run-collapse on the
    // tracked attribute, half-open [effective_from, effective_to)
    // intervals, lead-derived end timestamps. Exact oracle: the same
    // lag/lead windows in SQL. Timestamps leave as epoch micros
    // (BIGINT) — the integer-output doctrine.
    Query("q135_scd2_history", (s, dir) =>
      ops.Scd.buildHistory(
        T(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        "user_id", "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("effective_from")).as("ef_us"),
          unix_micros(col("effective_to")).as("et_us"),
          col("is_current")),
      // SCD2 build: identical lag-based run-collapse (IS DISTINCT FROM ==
      // the engine's null-safe struct compare on a non-null attr), then
      // lead for the interval end — epoch-micro BIGINT output
      Some("""WITH m AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         k AS (
           SELECT user_id, ts, event_id, event_type FROM m
           WHERE prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type,
           epoch_us(ts) AS ef_us,
           epoch_us(lead(ts) OVER w) AS et_us,
           lead(ts) OVER w IS NULL AS is_current
         FROM k
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // Point-in-time dimension read over the SCD2 history — one covering
    // version per user mid-fixture. A pure filter on the history (no
    // window, no shuffle beyond the build's own).
    Query("q136_scd2_snapshot", (s, dir) =>
      ops.Scd.snapshotAt(
        ops.Scd.buildHistory(
          T(s, dir, "events")
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
          "user_id", "ts", "event_id", Seq("event_type")),
        lit("2024-01-15 00:00:00").cast("timestamp"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("effective_from")).as("ef_us"),
          unix_micros(col("effective_to")).as("et_us")),
      // the same history filtered to the one version covering the as-of
      // instant (half-open: from <= t < to)
      Some("""WITH m AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         k AS (
           SELECT user_id, ts, event_id, event_type FROM m
           WHERE prev IS DISTINCT FROM event_type),
         h AS (
           SELECT user_id, event_type, ts AS ef,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS et
           FROM k)
         SELECT user_id, event_type, epoch_us(ef) AS ef_us, epoch_us(et) AS et_us
         FROM h
         WHERE ef <= TIMESTAMP '2024-01-15 00:00:00'
           AND (et IS NULL OR et > TIMESTAMP '2024-01-15 00:00:00')""")),

    // Regular-grid resample with LOCF fill: 6-hour cells per user,
    // bucket max as the cell aggregate (picks an input double — both
    // engines agree bit-for-bit), gaps forward-filled. Exact oracle:
    // generate_series + IGNORE NULLS last_value replay.
    Query("q137_resample_locf", (s, dir) =>
      ops.TimeFeatures.resampleLocf(
        T(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", stepSeconds = 21600L),
      // grid resample: integer floor-div bucketing (epoch_us // step),
      // per-cell max + count, generate_series grid between each key's
      // first and last cell, IGNORE NULLS last_value as the LOCF; the
      // carried double hits the same ⌊10⁶·x⌋ floor in both engines
      Some("""WITH b AS (
           SELECT user_id, epoch_us(ts) // 21600000000 AS bucket,
             max(value) AS vmax, count(*) AS n
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
           FROM b GROUP BY 1),
         g AS (
           SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM s),
         j AS (
           SELECT g.user_id, g.bucket, b.vmax, b.n
           FROM g LEFT JOIN b USING (user_id, bucket))
         SELECT user_id, bucket,
           CAST(floor(last_value(vmax IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0)
             AS BIGINT) AS v_e6,
           CAST(coalesce(n, 0) AS BIGINT) AS n_obs,
           n IS NOT NULL AS observed
         FROM j""")),

    // Per-group Pearson correlation + OLS slope on exact integer
    // moments (q125's doctrine, bivariate): decimal moment sums,
    // identities exact, final sqrt/divide float in fixed order. Exact
    // oracle: HUGEINT replay.
    Query("q139_correlation", (s, dir) =>
      ops.Profile.correlation(T(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice"),
      // exact bivariate moments in HUGEINT (DuckDB promotes BIGINT
      // products automatically), identical identity/divide order
      Some("""WITH r AS (
           SELECT l_returnflag,
             CAST(round(l_quantity * 10000.0) AS BIGINT) AS cx,
             CAST(round(l_extendedprice * 10000.0) AS BIGINT) AS cy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
         m AS (
           SELECT l_returnflag, count(*) AS n,
             sum(cx) AS sx, sum(cy) AS sy,
             sum(cx * cx) AS sxx, sum(cy * cy) AS syy,
             sum(cx * cy) AS sxy
           FROM r GROUP BY 1 HAVING count(*) >= 2),
         m2 AS (
           SELECT l_returnflag, n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS covnum,
             CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
             CAST(n * syy - sy * sy AS DOUBLE) AS vary
           FROM m)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(floor(10000.0 * (covnum / (sqrt(varx) * sqrt(vary)))) AS BIGINT) AS corr_e4,
           CAST(floor(1000000.0 * (covnum / varx)) AS BIGINT) AS slope_e6
         FROM m2 WHERE varx > 0 AND vary > 0""")),

    // INCREMENTAL SCD2: the nightly merge path. The oracle is the FULL
    // REBUILD's SQL over the complete changelog — gating the equality
    // incremental ≡ rebuild, the property that makes the incremental
    // path trustworthy at all.
    Query("q143_scd2_apply", (s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val history = ops.Scd.buildHistory(ev.filter(col("ts") < cutoff),
        "user_id", "ts", "event_id", Seq("event_type"))
      ops.Scd.applyChangelog(history, ev.filter(col("ts") >= cutoff),
        "user_id", "ts", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("effective_from")).as("ef_us"),
          unix_micros(col("effective_to")).as("et_us"),
          col("is_current"))
    }, Some("""WITH m AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         k AS (
           SELECT user_id, ts, event_id, event_type FROM m
           WHERE prev IS DISTINCT FROM event_type)
         SELECT user_id, event_type,
           epoch_us(ts) AS ef_us,
           epoch_us(lead(ts) OVER w) AS et_us,
           lead(ts) OVER w IS NULL AS is_current
         FROM k
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""")),

    // Per-group winsorization at exact rank-based quantile bounds —
    // the clip picks one of three INPUT doubles, so w_e6 floors replay
    // exactly (q132's rank contract per group).
    Query("q142_winsorize", (s, dir) =>
      ops.Profile.winsorize(T(s, dir, "events"),
        "event_id", "value", "event_type"),
      // same rank targets (integer ceil via (q*n+999999)//1e6, clamp
      // >= 1), same (value, id) ordering, clip on input doubles
      Some("""WITH r AS (
           SELECT event_id, event_type, "value" AS v,
             row_number() OVER (PARTITION BY event_type
               ORDER BY "value", event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE "value" IS NOT NULL),
         b AS (
           SELECT event_type,
             min(CASE WHEN rn = greatest(1, (50000 * n + 999999) // 1000000)
                 THEN v END) AS lo,
             max(CASE WHEN rn = greatest(1, (950000 * n + 999999) // 1000000)
                 THEN v END) AS hi
           FROM r GROUP BY 1)
         SELECT r.event_id, r.event_type,
           CAST(floor(least(greatest(r.v, b.lo), b.hi) * 1000000.0) AS BIGINT) AS w_e6
         FROM r JOIN b USING (event_type)""")),

    // The general CEP state machine (begin→next→next within t, strict
    // contiguity, skip-till-next-match) run END TO END in batch via
    // the fold the streaming operator shares. Exact oracle: for a
    // strict pattern whose step types are DISJOINT, attempts can never
    // overlap, so the completed-match set is exactly the consecutive
    // (lead,lead²) triples inside the window — provable from the fold:
    // strict kills on any contiguity miss, and a restart can only
    // begin at a head-type event.
    Query("q141_cep_sequence", (s, dir) => {
      import s.implicits._
      val ev = T(s, dir, "events")
        .select(col("user_id").cast("string").as("key"), col("ts"),
          col("event_type").as("etype"))
        .as[graft.streaming.CepEvent]
      graft.streaming.Cep.sequencePatternBatch[graft.streaming.CepEvent](
          ev, _.key, _.ts,
          Seq(_.etype == "view", _.etype == "click", _.etype == "purchase"),
          withinSeconds = 604800L, strict = true)
        .filter(_.completed)
        .map(m => (m.key.toLong, m.events.head.ts, m.events.last.ts))
        .toDF("user_id", "t0", "t2")
        // unix_micros, not Timestamp.getTime*1000 — getTime is millis
        // and would drop the fixture's sub-millisecond digits
        .select(col("user_id"), unix_micros(col("t0")).as("t0_us"),
          unix_micros(col("t2")).as("t2_us"))
    },
      // disjoint-step strict CEP == consecutive lead-triples (see the
      // query comment); the window compare runs on MILLIS (epoch_ms)
      // because the fold's deadline arithmetic is Timestamp.getTime —
      // a micros-based oracle bound could disagree within 1 ms of the
      // window edge
      Some("""WITH o AS (
           SELECT user_id, ts, event_type,
             lead(event_type, 1) OVER w AS e1,
             lead(event_type, 2) OVER w AS e2,
             lead(ts, 2) OVER w AS t2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts))
         SELECT user_id, epoch_us(ts) AS t0_us, epoch_us(t2) AS t2_us
         FROM o
         WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
           AND epoch_ms(t2) - epoch_ms(ts) <= 604800000""")),
  )
}
