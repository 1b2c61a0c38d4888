package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.apps.Pipelines
import graft.streaming.StatefulOps

/** The output check of `stream_warehouse`: every DWD count and every
  * DWM/DWS sink must equal a batch recomputation, through the same
  * `Pipelines`/`StatefulOps` functions, of the ODS rows the generator
  * released into the chain. Returns one line per mismatch.
  */
final class Check(chain: StreamWarehouse.Chain, progress: Map[String, Seq[StreamingQueryProgress]]) {
  private val spark = chain.spark
  import spark.implicits._
  import StreamWarehouse._

  def run(): Seq[String] = {
    def stream(name: String): DataFrame = spark.read.parquet(chain.sink(name))

    // ODS → DWD, in batch
    val parsed = Pipelines.parseLog(chain.odsLog.released.toSeq.toDF("value")).persist()
    val pageRows = Pipelines.splitPage(parsed).as[PageRow].collect().toSeq
    val pages = pageRows.toDF()
    val routed = Pipelines.routeCdc(chain.odsDb.released.toSeq.toDF(), chain.routing)
    val routedRows = routed.select(col("sink_table"), col("routed_data")).collect()
      .toSeq.map(r => (r.getString(0), r.getString(1)))
    val (o, d, p) = facts(routedRows)
    val owBatch = chain.orderWideRows(Pipelines.orderWide(o.toDF(), d.toDF(), chain.dims))
    val owRows = owBatch.as[OrderWideRow].collect().toSeq
    val pwBatch = chain.paymentWideRows(Pipelines.paymentWide(p.toDF(), owRows.toDF()))

    def counts(n: String, want: => Long): Option[String] = {
      val (got, w) = (stream(n).count(), want)
      if (got != w) Some(s"$n: $got rows streamed, $w in batch") else None
    }
    // DWS in update mode: each key's last emitted version is its final value
    def latest(name: String, keys: Seq[String]): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
      stream(name).withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn", "batch_id")
    }
    // DWS in append mode: the windows the final watermark has closed
    def product: Option[String] = {
      val wm = progress.getOrElse("dws_product", Nil).lastOption
        .flatMap(pr => Option(pr.eventTime.get("watermark"))).map(java.time.Instant.parse(_).toEpochMilli)
      val pay = pwBatch.select(col("event_ts"), col("sku_id"), col("split_total_amount"), col("order_id"))
        .collect().toSeq.map(r => ProductFact(r.getTimestamp(0), r.getLong(1), 0L, 0L, 0.0, 0L,
          r.getDouble(2), r.getLong(3)))
      val want = Pipelines.productStats(Seq(clicks(pageRows).toDF(), orderFacts(owRows).toDF(),
        pay.toDF())).filter(to_timestamp(col("edt")) <= lit(new java.sql.Timestamp(wm.getOrElse(0L))))
      same("dws_product_stats", stream("dws_product_stats").drop("batch_id"), want)
    }

    val checks: Seq[() => Option[String]] = Seq(
      () => counts("dwd_start_log", Pipelines.splitStart(parsed).count()),
      () => counts("dwd_display_log", Pipelines.splitDisplay(parsed).count()),
      () => counts("dwd_page_log", pageRows.size.toLong),
      () => counts("dwd_db_routed", routedRows.size.toLong),
      // the daily UV filter keeps the first entry per (mid, day) it sees,
      // which in a stream is the first to arrive; compare the visitors
      () => same("dwm_unique_visit",
        stream("dwm_unique_visit").select(col("mid"), to_date(col("ts")).as("dt")),
        StatefulOps.dailyUvFilter(pageRows.map(pageEvent).toDS(), ttl = None)(spark)
          .select(col("mid"), to_date(col("ts")).as("dt"))),
      () => same("dwm_order_wide", stream("dwm_order_wide").drop("batch_id"), owBatch),
      () => same("dwm_payment_wide", stream("dwm_payment_wide").drop("batch_id"), pwBatch),
      () => same("dws_visitor_stats", latest("dws_visitor_stats", Seq("stt", "edt", "vc", "ch", "ar", "is_new")),
        Pipelines.visitorStats(pages)),
      () => same("dws_keyword_stats", latest("dws_keyword_stats", Seq("stt", "edt", "keyword")),
        Pipelines.keywordStats(pages)),
      () => product)
    // independent jobs: run them side by side
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val bad = Await.result(Future.sequence(checks.map(c => Future(c()))), scala.concurrent.duration.Duration.Inf)
      .flatten
    parsed.unpersist()
    bad
  }

  /** Equal as multisets (row count and sum of row hashes), columns by
    * name, doubles to 1e-4.
    */
  private def same(name: String, got: DataFrame, want: DataFrame): Option[String] = {
    def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
      val cols = df.columns.sorted.map { c =>
        df.schema(c).dataType match {
          case DoubleType | FloatType => round(col(c), 4)
          case _ => col(c)
        }
      }
      val r = df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    val (g, w) = (fingerprint(got), fingerprint(want))
    if (g == w) None else Some(s"$name: ${g._1} rows streamed, ${w._1} in batch, contents differ")
  }
}
