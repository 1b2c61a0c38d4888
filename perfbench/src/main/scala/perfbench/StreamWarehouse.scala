package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.apps.Pipelines
import graft.core.GraftSession
import graft.streaming.{DimStore, PageEvent, StatefulOps}

// hop payloads: the rows one layer publishes to the next layer's topics
case class PageRow(mid: String, vc: String, ch: String, ar: String, is_new: String,
                   page_id: String, last_page_id: String, item: String,
                   during_time: Option[Long], ts: Long)
case class CdcRow(table: String, `type`: String, data: String)
case class OrderRow(id: Long, user_id: Long, province_id: Long, total_amount: Double,
                    event_ts: Timestamp)
case class DetailRow(id: Long, order_id: Long, sku_id: Long, sku_num: Long,
                     split_total_amount: Double, event_ts: Timestamp)
case class PaymentRow(id: Long, order_id: Long, total_amount: Double, event_ts: Timestamp)
case class OrderWideRow(order_id: Long, detail_id: Long, user_id: Long, province_id: Long,
                        sku_id: Long, split_total_amount: Double, sku_name: String,
                        province_name: String, user_gender: String, event_ts: Timestamp)
case class ProductFact(event_ts: Timestamp, sku_id: Long, click_ct: Long, cart_ct: Long,
                       order_amount: Double, order_id: Long, paid_amount: Double,
                       paid_order_id: Long)

/** `stream_warehouse`: the paper's ODS → DWD → DWM → DWS chain as eight
  * Structured Streaming queries on one session, composed from
  * `graft.apps.Pipelines`, `graft.streaming.{StatefulOps, DimStore}`.
  *
  * Each query reads its own `MemoryStream` (a topic per consumer). The
  * generator feeds the two ODS topics open loop at a fixed rate; each
  * upstream sink republishes its rows to the downstream topics
  * (foreachBatch → MemoryStream, like the reference's Kafka hops). A
  * topic block remembers when its oldest ODS input was released, so a
  * micro-batch's freshness is its commit time minus that release time.
  */
object StreamWarehouse {
  val rate = 2000            // offered log events per second; orders are 1/20 of it
  val warmSeconds = 8        // steady phase before the timed window, from a cold chain
  val backlogSeconds = 10    // the drained backlog, in seconds of offered load
  val watermark = "3 seconds"
  val watermarkMs = 3000L
  val rounds = 3
  val db = "perfbench_dim"
  val topicPartitions = 1    // one partition per topic; the eight queries run side by side

  def pageEvent(p: PageRow): PageEvent = PageEvent(p.mid, p.page_id,
    Option(p.last_page_id), p.is_new, new Timestamp(p.ts))

  /** Typed order, detail and payment rows from routed CDC payloads. */
  def facts(routed: Seq[(String, String)]): (Seq[OrderRow], Seq[DetailRow], Seq[PaymentRow]) = {
    val by = routed.groupBy(_._1).map { case (t, rs) => t -> rs.map(r => Flat.parse(r._2)) }
    def ts(ms: String) = new Timestamp(ms.toLong)
    (by.getOrElse("dwd_order_info", Nil).map(m => OrderRow(m("id").toLong, m("user_id").toLong,
      m("province_id").toLong, m("total_amount").toDouble, ts(m("create_time")))),
     by.getOrElse("dwd_order_detail", Nil).map(m => DetailRow(m("id").toLong, m("order_id").toLong,
      m("sku_id").toLong, m("sku_num").toLong, m("split_total_amount").toDouble, ts(m("create_time")))),
     by.getOrElse("dwd_payment_info", Nil).map(m => PaymentRow(m("id").toLong, m("order_id").toLong,
      m("total_amount").toDouble, ts(m("create_time")))))
  }

  def clicks(pages: Seq[PageRow]): Seq[ProductFact] =
    pages.filter(p => p.page_id == "good_detail" && p.item != null).map(p =>
      ProductFact(new Timestamp(p.ts), p.item.toLong, 1L, 0L, 0.0, 0L, 0.0, 0L))

  def orderFacts(rows: Seq[OrderWideRow]): Seq[ProductFact] = rows.map(r =>
    ProductFact(r.event_ts, r.sku_id, 0L, 0L, r.split_total_amount, r.order_id, 0.0, 0L))

  /** One topic: a MemoryStream plus, per block, its row count and where
    * its oldest input came from.
    */
  final class Topic[T](val stream: MemoryStream[T], keep: Boolean) {
    val rows = mutable.ArrayBuffer.empty[Int]
    // Left(release time ms) for ODS blocks, Right((query, batch id)) for hops
    val origin = mutable.ArrayBuffer.empty[Either[Long, (String, Long)]]
    val released = mutable.ArrayBuffer.empty[T]
    def add(xs: Seq[T], from: Either[Long, (String, Long)]): Unit = synchronized {
      if (xs.nonEmpty) {
        stream.addData(xs)
        rows += xs.size
        origin += from
        if (keep) released ++= xs
      }
    }
    def blocks: Int = synchronized(rows.size)
  }

  /** Everything one set-up round builds. */
  final class Chain(val spark: SparkSession, val work: java.io.File, val keepsInput: Boolean) {
    import spark.implicits._
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private def topic[T: Encoder](keep: Boolean = false) =
      new Topic[T](MemoryStream[T](topicPartitions), keep)

    // the ODS topics keep what they were sent, for the batch recomputation
    val odsLog = topic[String](keepsInput)
    val odsDb = topic[CdcRow](keepsInput)
    val pageUv = topic[PageRow]()
    val pageVisitor = topic[PageRow]()
    val pageKeyword = topic[PageRow]()
    val orders = topic[OrderRow]()
    val details = topic[DetailRow]()
    val payments = topic[PaymentRow]()
    val orderWide = topic[OrderWideRow]()
    val productClick = topic[ProductFact]()
    val productOrder = topic[ProductFact]()
    val productPay = topic[ProductFact]()

    /** dwd_db's routing config (source_table, operate_type, sink_type,
      * sink_table, sink_columns), as the reference's table_process rows.
      */
    val routing: DataFrame = Seq(
      ("order_info", "insert", "kafka", "dwd_order_info", "id,user_id,province_id,total_amount,create_time"),
      ("order_detail", "insert", "kafka", "dwd_order_detail", "id,order_id,sku_id,sku_num,split_total_amount,create_time"),
      ("payment_info", "insert", "kafka", "dwd_payment_info", "id,order_id,total_amount,create_time"))
      .toDF("source_table", "operate_type", "sink_type", "sink_table", "sink_columns")

    def sink(name: String): String = new java.io.File(work, s"sink/$name").getAbsolutePath
    private def ckpt(name: String): String = new java.io.File(work, s"ckpt/$name").getAbsolutePath
    private def write(df: DataFrame, name: String, batchId: Long): Unit =
      df.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(sink(name))


    // ---- DWD ----------------------------------------------------------
    private val dwdLog: (DataFrame, Long) => Unit = (raw, id) => {
      val parsed = Pipelines.parseLog(raw).persist()
      try {
        write(Pipelines.splitStart(parsed), "dwd_start_log", id)
        write(Pipelines.splitDisplay(parsed), "dwd_display_log", id)
        val pages = Pipelines.splitPage(parsed)
        write(pages, "dwd_page_log", id)
        val rows = pages.as[PageRow].collect().toSeq
        val from = Right(("dwd_log", id))
        pageUv.add(rows, from)
        pageVisitor.add(rows, from)
        pageKeyword.add(rows, from)
        productClick.add(clicks(rows), from)
      } finally { parsed.unpersist(); () }
    }

    private val dwdDb: (DataFrame, Long) => Unit = (cdc, id) => {
      val routed = Pipelines.routeCdc(cdc, routing).persist()
      try {
        write(routed, "dwd_db_routed", id)
        val (o, d, p) = facts(routed.select(col("sink_table"), col("routed_data")).collect()
          .toSeq.map(r => (r.getString(0), r.getString(1))))
        val from = Right(("dwd_db", id))
        orders.add(o, from)
        details.add(d, from)
        payments.add(p, from)
      } finally { routed.unpersist(); () }
    }

    // ---- DWM ----------------------------------------------------------
    def dims: Seq[(DataFrame, String)] = Seq(
      (DimStore.dimTable(spark, db, "dim_sku_info"), "od.sku_id"),
      (DimStore.dimTable(spark, db, "dim_user_info").withColumnRenamed("gender", "user_gender"), "oi.user_id"),
      (DimStore.dimTable(spark, db, "dim_base_province"), "oi.province_id"))

    /** The order-wide projection, over a streaming or a batch join. */
    def orderWideRows(joined: DataFrame): DataFrame = joined.select(
      col("oi.id").as("order_id"), col("od.id").as("detail_id"), col("oi.user_id"),
      col("oi.province_id"), col("od.sku_id"), col("od.split_total_amount"),
      col("sku_name"), col("province_name"), col("user_gender"), col("oi.event_ts"))

    def paymentWideRows(joined: DataFrame): DataFrame = joined.select(
      col("pay.id").as("payment_id"), col("pay.order_id"), col("ow.detail_id"),
      col("ow.sku_id"), col("ow.split_total_amount"), col("pay.total_amount").as("paid_total"),
      col("pay.event_ts"))

    private val dwmOrderWide: (DataFrame, Long) => Unit = (ow, id) => {
      val rows = ow.as[OrderWideRow].collect().toSeq
      write(rows.toDF(), "dwm_order_wide", id)
      val from = Right(("dwm_order_wide", id))
      orderWide.add(rows, from)
      productOrder.add(orderFacts(rows), from)
    }

    private val dwmPaymentWide: (DataFrame, Long) => Unit = (pw, id) => {
      val p = pw.persist()
      try {
        write(p, "dwm_payment_wide", id)
        productPay.add(p.select(col("event_ts"), col("sku_id"), col("split_total_amount"),
          col("order_id")).collect().toSeq.map(r => ProductFact(r.getTimestamp(0), r.getLong(1),
          0L, 0L, 0.0, 0L, r.getDouble(2), r.getLong(3))), Right(("dwm_payment_wide", id)))
      } finally { p.unpersist(); () }
    }

    /** dws_product's append sink also notes the earliest window end it emitted. */
    val windowEnds = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    private val dwsProduct: (DataFrame, Long) => Unit = (stats, id) => {
      val s = stats.persist()
      try {
        write(s, "dws_product_stats", id)
        val first = s.agg(min(col("edt"))).head()
        if (!first.isNullAt(0))
          windowEnds.put(id, Timestamp.valueOf(first.getString(0)).getTime)
      } finally { s.unpersist(); () }
    }

    private def sinkTo(name: String): (DataFrame, Long) => Unit = (df, id) => write(df, name, id)

    private def start(name: String, df: DataFrame, mode: String,
                      f: (DataFrame, Long) => Unit): (String, StreamingQuery) =
      name -> df.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", ckpt(name)).foreachBatch(f).start()

    private def wm[T](t: Topic[T]): DataFrame = t.stream.toDF().withWatermark("event_ts", watermark)

    val queries: Seq[(String, StreamingQuery)] = Seq(
      start("dwd_log", odsLog.stream.toDF(), "append", dwdLog),
      start("dwd_db", odsDb.stream.toDF(), "append", dwdDb),
      start("dwm_uv", StatefulOps.dailyUvFilter(pageUv.stream.toDS().map(pageEvent), ttl = None)(spark)
        .toDF(), "append", sinkTo("dwm_unique_visit")),
      start("dwm_order_wide", orderWideRows(Pipelines.orderWide(wm(orders), wm(details), dims)),
        "append", dwmOrderWide),
      start("dwm_payment_wide", paymentWideRows(Pipelines.paymentWide(wm(payments), wm(orderWide))),
        "append", dwmPaymentWide),
      start("dws_visitor", Pipelines.visitorStats(pageVisitor.stream.toDF()), "update",
        sinkTo("dws_visitor_stats")),
      start("dws_keyword", Pipelines.keywordStats(pageKeyword.stream.toDF()), "update",
        sinkTo("dws_keyword_stats")),
      start("dws_product", Pipelines.productStats(Seq(wm(productClick), wm(productOrder),
        wm(productPay))), "append", dwsProduct))

    val inputs: Map[String, Seq[Topic[_]]] = Map(
      "dwd_log" -> Seq(odsLog), "dwd_db" -> Seq(odsDb), "dwm_uv" -> Seq(pageUv),
      "dwm_order_wide" -> Seq(orders, details), "dwm_payment_wide" -> Seq(payments, orderWide),
      "dws_visitor" -> Seq(pageVisitor), "dws_keyword" -> Seq(pageKeyword),
      "dws_product" -> Seq(productClick, productOrder, productPay))

    def failure: Option[String] = queries.collectFirst {
      case (n, q) if q.exception.isDefined => s"$n: ${q.exception.get.getMessage}"
    }

    /** Committed end offset of `t` in query `q`, -1 before its first batch. */
    def committed(q: StreamingQuery, t: Topic[_]): Long = Option(q.lastProgress).toSeq
      .flatMap(_.sources).find(_.description == t.stream.toString)
      .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)

    /** Every query has consumed every block of its topics and is between triggers. */
    def idle: Boolean = queries.forall { case (n, q) =>
      !q.status.isTriggerActive && inputs(n).forall(t => committed(q, t) == t.blocks - 1)
    }

    /** Wait until [[idle]] holds twice in a row (a hop may add a block in between). */
    def awaitIdle(limitMs: Long): Boolean = {
      val end = System.currentTimeMillis() + limitMs
      var streak = 0
      while (streak < 3 && System.currentTimeMillis() < end && failure.isEmpty) {
        streak = if (idle) streak + 1 else 0
        Thread.sleep(20)
      }
      streak >= 3
    }

    /** Rows sent to `q`'s topics but not yet committed by it. */
    def backlogRows(n: String, q: StreamingQuery): Long = inputs(n).map { t =>
      val c = committed(q, t)
      t.synchronized(t.rows.drop((c + 1).toInt).map(_.toLong).sum)
    }.sum

    def stop(): Unit = queries.foreach { case (_, q) => q.stop() }
  }

  def run(o: Opts): Result = {
    val notes = mutable.ArrayBuffer.empty[String]
    val totalSeconds = warmSeconds + o.seconds
    val gen = new Generator(o.seed, rate, totalSeconds, backlogSeconds)

    // set-up rounds: fresh session, dims bootstrapped through DimStore,
    // the eight queries started; the last round's chain is the timed one
    val phase = mutable.ArrayBuffer.empty[(String, Long)]
    def mark(name: String): Unit = phase += ((name, System.nanoTime()))
    mark("start")
    val setup = mutable.ArrayBuffer.empty[Double]
    val dimS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var chain: Chain = null
    var failed = 0L
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      if (chain != null) chain.stop()
      if (spark != null) spark.stop()
      val inputDir = o.dir(s"round$r")
      // a fresh session forgets the catalog, so each round gets its own warehouse
      System.setProperty("spark.sql.warehouse.dir", o.dir(s"round$r-warehouse").getAbsolutePath)
      spark = GraftSession.local(o.cores, Some(gen.writeDims(inputDir)))
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
      val d0 = System.nanoTime()
      gen.bootstrapDims(spark, db, inputDir)
      dimS += (System.nanoTime() - d0) / 1e9
      chain = new Chain(spark, o.dir(s"round$r-chain"), keepsInput = r == rounds)
      setup += (System.nanoTime() - t0) / 1e9
    }
    mark("setup")

    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toDouble
    val census = new Census
    if (o.trace) spark.sparkContext.addSparkListener(census)

    // steady phase: open loop at `rate`, warm-up then the timed window
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val steady = gen.runSteady(chain)
    val measureFrom = steady.startMs + warmSeconds * 1000L
    val measureTo = steady.endMs
    val gcMs = Jvm.gcMs - gc0
    val jitMs = Jvm.jitMs - jit0
    mark("steady")

    // drain: once the steady phase has cleared, a fixed backlog at once
    val backlogEnd = chain.queries.collect { case (n, q) if n.startsWith("dwd_") => chain.backlogRows(n, q) }.sum
    chain.awaitIdle(60000)
    val cpu0 = Jvm.cpuS
    val (backlogAt, backlogRows) = gen.releaseBacklog(chain)
    val drained = chain.awaitIdle(120000)
    val drainCpuS = Jvm.cpuS - cpu0
    val heapMb = Jvm.heapRetainedMb
    mark("drain")
    if (!drained) { failed += 1; notes += s"backlog did not drain: ${chain.failure.getOrElse("timeout")}" }
    chain.failure.foreach { f => failed += 1; notes += s"query failed: $f" }

    // stop first: a trigger after the idle check could still close windows
    chain.stop()
    val progress: Map[String, Seq[StreamingQueryProgress]] =
      chain.queries.map { case (n, q) => n -> q.recentProgress.toSeq }.toMap
    val lat = new Freshness(chain, progress)
    // the backlog clears through every query at the pace of the query
    // that spends longest on it (trigger waits between hops excluded)
    val drainBusyMs = progress.values.map(_.filter(p => p.numInputRows > 0 && Freshness.endMs(p) >= backlogAt)
      .map(p => p.durationMs.get("triggerExecution").doubleValue).sum).max
    val drainRate = backlogRows / (drainBusyMs / 1000.0)
    // warm-up: from the first release until every query has finished a batch with input
    val warmupS = progress.values.map(_.filter(_.numInputRows > 0).map(Freshness.endMs)
      .minOption.getOrElse(Double.NaN)).max / 1000.0 - steady.startMs / 1000.0
    val samples = lat.samples(measureFrom, measureTo)
    def layer(prefix: String) = samples.filter(_._1.startsWith(prefix)).map(_._2)
    // end to end: ODS → DWS staleness of the update-mode DWS sinks,
    // sampled every 50 ms of the timed window
    val e2e = Seq("dws_visitor", "dws_keyword").flatMap(lat.staleness(_, measureFrom, measureTo))

    // checks: DWM/DWS sinks equal a batch recomputation of the same input
    val check = new Check(chain, progress)
    val mismatches = if (failed == 0) check.run() else Seq("skipped: the chain failed")
    notes ++= mismatches
    spark.stop()
    mark("check")
    notes += phase.zip(phase.drop(1)).map { case ((_, a), (n, b)) => f"$n ${(b - a) / 1e9}%.1fs" }
      .mkString("phases: ", ", ", "")

    val attempted = gen.released.toLong
    notes += f"rounds=${setup.map(s => f"$s%.2f").mkString(",")} batches=${samples.size} dws=${e2e.size} " +
      f"lag_max=${steady.lagMaxMs}%.1fms backlog=$backlogRows rows, bottleneck busy ${drainBusyMs / 1000}%.2fs, cpu $drainCpuS%.2fs"
    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", Stats.median(setup.toSeq), "s"),
        Metric("latency_p50_ms", Stats.median(e2e), "ms"),
        Metric("rows_per_cpu_s", backlogRows / drainCpuS, "rows/cpu-s"),
        Metric("heap_retained_mb", heapMb, "MB"))
      else {
        val timed = progress.map { case (n, ps) => n -> ps.filter(p => {
          val e = Freshness.endMs(p); e >= measureFrom && e <= measureTo }) }
        def med(ps: Seq[StreamingQueryProgress], f: StreamingQueryProgress => Double) =
          if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
        def dur(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val perQuery = Layers.streamQueries.flatMap { n =>
          val ps = timed.getOrElse(n, Nil)
          val last = progress.getOrElse(n, Nil).filter(p => Freshness.endMs(p) <= measureTo).lastOption
          val rows = ps.map(_.numInputRows).sum
          val busy = ps.map(p => dur(p, "triggerExecution")).sum
          Seq(
            s"$n.planning_ms" -> med(ps, dur(_, "queryPlanning")),
            s"$n.wal_ms" -> med(ps, p => dur(p, "walCommit") + dur(p, "commitOffsets")),
            s"$n.add_batch_ms" -> med(ps, dur(_, "addBatch")),
            s"$n.rows_per_s" -> (if (busy > 0) rows / (busy / 1000) else 0.0),
            s"$n.state_commit_ms" -> med(ps, _.stateOperators.map(_.commitTimeMs).sum.toDouble),
            s"$n.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
            s"$n.state_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0))
        }
        val nBatches = timed.values.map(_.size).sum.toDouble
        val byQuery = chain.queries.map { case (_, q) => q.id.toString -> census.take(spark.sparkContext, q.id.toString) }.toMap
        val totals = byQuery.values.toSeq
        def tot(f: Census#Totals => Double) = if (nBatches == 0) 0.0 else totals.map(f).sum / nBatches
        val spans = new Spans
        batchSpans(spans, timed, byQuery.map { case (id, t) => id -> t.stageSpans.toSeq })
        spans.writeJsonLines(new java.io.File(o.work.getParentFile, s"trace-${o.workload}-${o.seed}.jsonl"))
        // driver time inside the phases: what no running stage covers
        val driverMs = spans.selfMsByLayer.collect { case (l, ms) if l.startsWith("stream.") &&
          l != "stream.query" && l != "stream.batch" => ms }.sum
        Layers.fill(perQuery ++ Seq(
          "warmup_s" -> warmupS,
          "artifact_build_s" -> Stats.median(dimS.toSeq),
          "gc_ms" -> gcMs.toDouble, "jit_ms" -> jitMs.toDouble,
          "shuffle_partitions" -> shufflePartitions,
          "failed_share" -> (failed + mismatches.size).toDouble / attempted,
          "traced.latency_p50_ms" -> Stats.median(e2e),
          "spark.stages" -> tot(_.stages.toDouble),
          "spark.tasks" -> tot(_.tasks.toDouble),
          "spark.task_cpu_ms" -> tot(_.cpuNs / 1e6),
          "spark.deser_ms" -> tot(_.deserMs.toDouble),
          "spark.shuffle_read_mb" -> tot(_.shuffleRead / 1048576.0),
          "spark.shuffle_write_mb" -> tot(_.shuffleWrite / 1048576.0),
          "spark.spill_mb" -> tot(_.spill / 1048576.0),
          "spark.driver_gap_ms" -> (if (nBatches == 0) 0.0 else driverMs / nBatches),
          "stream.latency_p90_ms" -> Stats.quantile(e2e, 0.9),
          "stream.latency_samples" -> e2e.size.toDouble,
          "stream.dwd_latency_p50_ms" -> Stats.median(layer("dwd_")),
          "stream.dwm_latency_p50_ms" -> Stats.median(layer("dwm_")),
          "stream.window_latency_p50_ms" -> Stats.median(layer("dws_product")),
          "stream.drain_rows_per_s" -> drainRate,
          "stream.batches" -> nBatches,
          "gen.offered_rows_per_s" -> steady.offeredPerS,
          "gen.lag_ms_max" -> steady.lagMaxMs,
          "stream.backlog_rows_end" -> backlogEnd.toDouble))
      }
    Result(failed == 0 && mismatches.isEmpty, attempted, failed + mismatches.size, metrics, notes.toSeq)
  }

  /** The phases of a micro-batch in the order a trigger runs them. */
  private val phases = Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch",
    "commitOffsets")

  /** Spans of the timed micro-batches: query → batch → its progress phases,
    * laid end to end from the trigger start, → the stages the listener saw
    * for that query, under the phase they started in.
    */
  private def batchSpans(spans: Spans, timed: Map[String, Seq[StreamingQueryProgress]],
                         stages: Map[String, Seq[(Double, Double, Int)]]): Unit =
    timed.foreach { case (n, ps) if ps.nonEmpty =>
      val root = spans.add(0, n, "stream.query", Freshness.endMs(ps.head) - trigger(ps.head),
        Freshness.endMs(ps.last))
      ps.foreach { p =>
        val end = Freshness.endMs(p)
        val batch = spans.add(root, s"batch ${p.batchId}", "stream.batch", end - trigger(p), end)
        var t = end - trigger(p)
        val laid = phases.flatMap { ph =>
          Option(p.durationMs.get(ph)).map(_.doubleValue).filter(_ > 0).map { d =>
            val id = spans.add(batch, ph, s"stream.$ph", t, t + d)
            t += d; (id, t - d, t)
          }
        }
        stages.getOrElse(p.id.toString, Nil).filter(st => st._1 >= end - trigger(p) && st._1 < end)
          .foreach { case (s, e, id) =>
            val parent = laid.find(l => s >= l._2 && s < l._3).map(_._1).getOrElse(batch)
            spans.add(parent, s"stage $id", "spark.stage", s, e)
          }
      }
    case _ =>
    }

  private def trigger(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
}

/** Per-micro-batch freshness from the queries' progress reports. */
final class Freshness(chain: StreamWarehouse.Chain,
                      progress: Map[String, Seq[StreamingQueryProgress]]) {
  private val byBatch = progress.map { case (n, ps) => n -> ps.map(p => p.batchId -> p).toMap }
  private val memo = mutable.Map.empty[(String, Long, Boolean), Double]

  /** Release time of the oldest (or newest) ODS input behind batch `id` of query `n`. */
  def origin(n: String, id: Long, newest: Boolean = false): Double = memo.getOrElseUpdate((n, id, newest), {
    val times = byBatch(n).get(id).toSeq.flatMap { pr =>
      chain.inputs(n).flatMap { t =>
        pr.sources.find(_.description == t.stream.toString).toSeq.flatMap { s =>
          val from = Option(s.startOffset).map(_.trim.toLong).getOrElse(-1L) + 1
          val to = Option(s.endOffset).map(_.trim.toLong).getOrElse(-1L)
          (from to to).filter(_ < t.origin.size).map(b => t.origin(b.toInt) match {
            case Left(ms) => ms.toDouble
            case Right((up, upId)) => origin(up, upId, newest)
          })
        }
      }
    }
    (if (newest) times.maxOption else times.minOption).getOrElse(Double.NaN)
  })

  /** Staleness of sink `n` every `stepMs` in [from, to]: the age of the
    * newest ODS input its committed batches reflect.
    */
  def staleness(n: String, from: Double, to: Double, stepMs: Double = 50): Seq[Double] = {
    val commits = progress.getOrElse(n, Nil).filter(_.numInputRows > 0)
      .map(p => (Freshness.endMs(p), origin(n, p.batchId, newest = true)))
      .filterNot(_._2.isNaN).sortBy(_._1)
    var i = -1
    var visible = Double.NaN
    Iterator.iterate(from)(_ + stepMs).takeWhile(_ <= to).flatMap { t =>
      while (i + 1 < commits.size && commits(i + 1)._1 <= t) {
        i += 1; visible = if (visible.isNaN) commits(i)._2 else math.max(visible, commits(i)._2)
      }
      if (visible.isNaN) None else Some(t - visible)
    }.toSeq
  }

  /** (query, ms) per micro-batch that committed input in [from, to]: commit
    * time minus its oldest input's release, or for dws_product's window
    * rows minus the earliest emitted window's end plus the watermark delay.
    */
  def samples(from: Double, to: Double): Seq[(String, Double)] = progress.toSeq.flatMap {
    case (n, ps) => ps.filter { p => val e = Freshness.endMs(p); e >= from && e <= to }
      .flatMap { p =>
        val computable =
          if (n == "dws_product") Option(chain.windowEnds.get(p.batchId))
            .map(_.toDouble + StreamWarehouse.watermarkMs).getOrElse(Double.NaN)
          else if (p.numInputRows > 0) origin(n, p.batchId) else Double.NaN
        if (computable.isNaN) None else Some(n -> (Freshness.endMs(p) - computable))
      }
  }
}

object Freshness {
  /** When a micro-batch finished: trigger start plus its whole duration. */
  def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
}

/** A flat JSON object of string values, as `routeCdc` emits them. */
object Flat {
  def parse(s: String): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    val re = "\"([^\"]*)\"\\s*:\\s*(\"([^\"]*)\"|(-?[0-9.eE+]+)|null)".r
    re.findAllMatchIn(s).foreach { x =>
      m(x.group(1)) = Option(x.group(3)).orElse(Option(x.group(4))).orNull
    }
    m.toMap
  }
}
