package graft.apps

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  // Sample events shaped like the reference's behavior log (SURVEY §1.2)
  private val startLog =
    """{"common":{"mid":"101","vc":"v2.1","ch":"appstore","ar":"310000","is_new":"1"},
       "start":{"entry":"icon","loading_time":1500},"ts":1608196245000}"""
  private val pageLog =
    """{"common":{"mid":"102","vc":"v2.0","ch":"web","ar":"110000","is_new":"0"},
       "page":{"page_id":"good_detail","last_page_id":"home","item":"iPhone 128G","during_time":12000},
       "displays":[{"item_type":"sku_id","item":"9","order":1},{"item_type":"sku_id","item":"7","order":2}],
       "ts":1608196246000}"""
  private val badLog = """not json at all"""

  private def parsed = Pipelines.parseLog(
    Seq(startLog, pageLog, badLog).map(_.replaceAll("\n\\s*", "")).toDF("value"))

  test("parseLog: lenient envelope parse + event-time column") {
    val rows = parsed.collect()
    assert(rows.length == 3)
    assert(parsed.filter($"common.mid" === "101").count() == 1)
    assert(parsed.filter($"ts".isNull).count() == 1) // malformed → nulls
    assert(parsed.schema.fieldNames.contains("event_ts"))
  }

  test("three-way split routes start/page/display correctly") {
    assert(Pipelines.splitStart(parsed).as[(String, String, String, String, String, String, Long, Long)]
      .collect().map(_._1).toSeq == Seq("101"))
    val page = Pipelines.splitPage(parsed)
    assert(page.select("page_id").as[String].collect().toSeq == Seq("good_detail"))
    val disp = Pipelines.splitDisplay(parsed)
    assert(disp.count() == 2)
    assert(disp.select("page_id").distinct().as[String].head() == "good_detail")
    assert(disp.select("item").as[String].collect().toSet == Set("9", "7"))
  }

  test("routeCdc prunes payload to configured columns and routes by type") {
    val cdc = Seq(
      ("order_info", "insert", """{"id":"1","amount":"9.5","secret":"x"}"""),
      ("order_info", "bootstrap-insert", """{"id":"2","amount":"1.0"}"""),
      ("user_info", "update", """{"id":"7","name":"n"}"""),
      (null, "insert", """{"id":"9"}"""),            // dropped: null table
      ("order_info", "delete", """{}""")              // dropped: empty data
    ).toDF("table", "type", "data")
    val config = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,amount"),
      ("user_info", "update", "hbase", "dim_user_info", "id,name")
    ).toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns")
    val out = Pipelines.routeCdc(cdc, config)
      .select("sink_table", "routed_data").as[(String, String)].collect().toSet
    assert(out == Set(
      ("dwd_order_info", """{"id":"1","amount":"9.5"}"""),
      ("dwd_order_info", """{"id":"2","amount":"1.0"}"""), // bootstrap normalized
      ("dim_user_info", """{"id":"7","name":"n"}""")))
  }

  test("dailyUv keeps one session entry per mid per day") {
    val pages = Seq(
      ("m1", null.asInstanceOf[String], 1000L),
      ("m1", "", 5000L),                  // same day second entry → collapsed
      ("m1", "home", 6000L),              // not an entry
      ("m1", null.asInstanceOf[String], 90000000L) // next day
    ).toDF("mid", "last_page_id", "ts")
    val uv = Pipelines.dailyUv(pages).orderBy("dt")
    assert(uv.count() == 2)
    assert(uv.select("first_ts").as[Long].collect().toSeq == Seq(1000L, 90000000L))
  }

  test("visitorStats aggregates one-hot metrics per window and dims") {
    val pages = Seq(
      ("m1", "v1", "ch1", "ar1", "1", null.asInstanceOf[String], 2000L, 1000L),
      ("m2", "v1", "ch1", "ar1", "1", "home", 8000L, 3000L),
      ("m1", "v1", "ch1", "ar1", "1", "detail", 12000L, 11000L)
    ).toDF("mid", "vc", "ch", "ar", "is_new", "last_page_id", "during_time", "ts")
    val out = Pipelines.visitorStats(pages, "10 seconds")
      .orderBy("stt").collect()
    assert(out.length == 2)
    val first = out.head
    assert(first.getAs[Long]("pv_ct") == 2L)
    assert(first.getAs[Long]("sv_ct") == 1L)
    assert(first.getAs[Long]("dur_sum") == 10000L)
  }

  test("visitorStats keeps the caller's watermark: append mode on a stream equals batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cols = Seq("mid", "vc", "ch", "ar", "is_new", "last_page_id", "during_time", "ts")
    val first = Seq(
      ("m1", "v1", "ch1", "ar1", "1", null.asInstanceOf[String], 2000L, 1000L),
      ("m2", "v1", "ch1", "ar1", "1", "home", 8000L, 3000L),
      ("m1", "v1", "ch1", "ar1", "1", "detail", 12000L, 11000L),
      ("m3", "v2", "ch2", "ar1", "0", null.asInstanceOf[String], 500L, 15000L))
    val input = MemoryStream[(String, String, String, String, String, String, Long, Long)]
    val stats = Pipelines.visitorStats(input.toDF().toDF(cols: _*)
      .withColumn("event_ts", timestamp_millis($"ts"))
      .withWatermark("event_ts", "1 second"))
    val q = stats.writeStream.format("memory").queryName("visitor_stats")
      .outputMode("append").start()
    try {
      input.addData(first)
      q.processAllAvailable()
      input.addData(("m4", "v1", "ch1", "ar1", "1", "home", 100L, 40000L)) // closes both windows
      q.processAllAvailable()
      val streamed = spark.table("visitor_stats").collect().toSet
      assert(streamed.size === 3)
      assert(streamed === Pipelines.visitorStats(first.toDF(cols: _*)).collect().toSet)
    } finally q.stop()
  }

  test("orderWide interval-joins details and enriches dims") {
    val orders = Seq((1L, 100L, 1000L), (2L, 200L, 50000L))
      .toDF("id", "user_id", "ts")
      .withColumn("event_ts", timestamp_millis($"ts")).drop("ts")
    val details = Seq((10L, 1L, 9.5, 2000L), (11L, 2L, 3.0, 900000L))
      .toDF("detail_id", "order_id", "amount", "ts")
      .withColumn("event_ts", timestamp_millis($"ts")).drop("ts")
    val users = Seq((100L, "alice")).toDF("id", "user_name")
    val out = Pipelines.orderWide(orders, details,
      Seq((users, "oi.user_id")), boundSeconds = 5)
    val rows = out.select($"detail_id", $"user_name").as[(Long, Option[String])].collect()
    // order 2's detail is 850 s later — outside the ±5 s bound
    assert(rows.toSeq == Seq((10L, Some("alice"))))
  }

  test("keywordStats tokenizes search terms within windows") {
    val pages = Seq(
      ("good_list", "apple phone case", 1000L),
      ("good_list", "apple watch", 2000L),
      ("good_detail", "ignored", 3000L)
    ).toDF("page_id", "item", "ts")
    val out = Pipelines.keywordStats(pages, "10 seconds")
    val counts = out.select("keyword", "ct").as[(String, Long)].collect().toMap
    assert(counts == Map("apple" -> 2L, "phone" -> 1L, "case" -> 1L, "watch" -> 1L))
  }

  test("keywordProductUnpivot emits one row per nonzero metric") {
    val stats = Seq(("k1", 2L, 0L, 1L)).toDF("keyword", "click_ct", "cart_ct", "order_ct")
    val out = Pipelines.keywordProductUnpivot(stats)
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("k1", "CLICK", 2L), ("k1", "ORDER", 1L)))
  }

  test("productStats unions shaped streams and counts distinct orders exactly") {
    def shaped(sku: Long, click: Long, cart: Long, amt: Double, oid: Long,
               paidAmt: Double, paidOid: Long, ts: Long) =
      Seq((sku, click, cart, amt, oid, paidAmt, paidOid, ts))
        .toDF("sku_id", "click_ct", "cart_ct", "order_amount", "order_id",
          "paid_amount", "paid_order_id", "ts")
        .withColumn("event_ts", timestamp_millis($"ts")).drop("ts")
    val streams = Seq(
      shaped(9L, 1L, 0L, 0.0, 0L, 0.0, 0L, 1000L),
      shaped(9L, 0L, 0L, 25.0, 77L, 0.0, 0L, 2000L),
      shaped(9L, 0L, 0L, 30.0, 77L, 0.0, 0L, 3000L), // same order id
      shaped(9L, 0L, 0L, 0.0, 0L, 25.0, 77L, 4000L))
    val out = Pipelines.productStats(streams, "10 seconds").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("click_ct") == 1L)
    assert(r.getAs[Int]("order_ct") == 1)      // distinct order ids
    assert(r.getAs[Double]("order_amount") == 55.0)
    assert(r.getAs[Int]("paid_order_ct") == 1)
  }

  test("provinceStats runs on a stream in append mode and counts like batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def row(sec: Long, province: Long, orderId: Long, amount: Double) =
      (new Timestamp(sec * 1000), province, s"p$province", orderId, amount)
    val first = Seq(row(1, 1, 10, 5.0), row(2, 1, 10, 7.0), // two details, one order
      row(3, 1, 11, 1.5), row(4, 2, 12, 2.0))
    val input = MemoryStream[(Timestamp, Long, String, Long, Double)]
    val stats = Pipelines.provinceStats(input.toDF()
      .toDF("event_ts", "province_id", "province_name", "order_id", "split_total_amount")
      .withWatermark("event_ts", "1 second"))
    val q = stats.writeStream.format("memory").queryName("province_stats")
      .outputMode("append").start()
    try {
      input.addData(first)
      q.processAllAvailable()
      input.addData(row(30, 1, 13, 9.0)) // watermark past the first window
      q.processAllAvailable()
      val streamed = spark.table("province_stats")
      assert(streamed.schema("order_count").dataType.typeName === "long")
      val got = streamed.select("province_id", "order_count", "order_amount")
        .as[(Long, Long, Double)].collect().toSet
      assert(got === Set((1L, 2L, 13.5), (2L, 1L, 2.0)))
      val batch = Pipelines.provinceStats(first.toDF("event_ts", "province_id",
          "province_name", "order_id", "split_total_amount"))
        .select("province_id", "order_count", "order_amount").as[(Long, Long, Double)]
      assert(batch.collect().toSet === got)
    } finally q.stop()
  }
}
