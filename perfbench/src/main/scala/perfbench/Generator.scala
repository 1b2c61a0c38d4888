package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.streaming.DimStore

/** Seeded open-loop source for `stream_warehouse`. Payloads are built
  * up front; releasing one only stamps its event time (release time
  * minus a seeded lateness, less than the watermark delay) and appends
  * it to the ODS topics.
  *
  * Behaviour log: skewed device ids (`mid`), start/page/display events
  * in the reference's envelope. Facts: one order per 20 log events, with
  * 1-3 details released with it and, for four in five orders, a payment
  * released 1-3 s later, all as Maxwell-style CDC rows.
  */
final class Generator(seed: Long, rate: Int, seconds: Int, backlogSeconds: Int) {
  import Generator._

  val nMids = 2000
  val nSkus = 500
  val nUsers = 3000
  val nProvinces = 34
  private val rnd = new scala.util.Random(seed)
  private val words = Seq("phone", "case", "red", "blue", "xiaomi", "apple", "cotton",
    "shirt", "lamp", "desk", "usb", "cable", "tea", "green", "book", "kids")

  /** ODS rows released into the last set-up round's chain and after. */
  var released = 0L

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def logItem(due: Long): Item = {
    val mid = (nMids * math.pow(rnd.nextDouble(), 2.5)).toInt
    val common = s""""common":{"mid":"mid_$mid","vc":"${pick(Seq("v2.1.1", "v2.1.3", "v2.2.0", "v2.0.9"))}",""" +
      s""""ch":"${pick(Seq("xiaomi", "huawei", "oppo", "web", "appstore"))}","ar":"${rnd.nextInt(10) + 1}",""" +
      s""""is_new":"${if (rnd.nextInt(5) == 0) "1" else "0"}"}"""
    val body =
      if (rnd.nextInt(100) < 8)
        s""""start":{"entry":"${pick(Seq("icon", "notice", "install"))}","loading_time":${rnd.nextInt(5000) + 500}}"""
      else {
        val r = rnd.nextInt(100)
        val (page, item) =
          if (r < 20) ("home", "")
          else if (r < 45) ("good_list", s""","item":"${(1 to rnd.nextInt(3) + 1).map(_ => pick(words)).mkString(" ")}"""")
          else if (r < 80) ("good_detail", s""","item":"${rnd.nextInt(nSkus) + 1}"""")
          else (pick(Seq("cart", "trade")), "")
        val last = if (rnd.nextInt(4) == 0) "" else s""","last_page_id":"${pick(Seq("home", "good_list", "good_detail"))}""""
        val displays =
          if (rnd.nextInt(10) < 4) (1 to rnd.nextInt(3) + 1).map(i =>
            s"""{"item_type":"sku_id","item":"${rnd.nextInt(nSkus) + 1}","order":$i}""").mkString(""","displays":[""", ",", "]")
          else ""
        s""""page":{"page_id":"$page"$last$item,"during_time":${rnd.nextInt(20000) + 100}}$displays"""
      }
    Log(due, s"{$common,$body,\"ts\":", rnd.nextInt(2000))
  }

  private var nextOrder = 0L
  private var nextDetail = 0L
  private var nextPayment = 0L

  /** An order, its details at once and maybe a payment `delay` ms later. */
  private def orderItems(due: Long, idBase: Long): Seq[Item] = {
    val id = idBase + nextOrder; nextOrder += 1
    val late = rnd.nextInt(1000)
    val details = (1 to rnd.nextInt(3) + 1).map { _ =>
      val d = idBase + nextDetail; nextDetail += 1
      val amount = (rnd.nextInt(50000) + 100) / 100.0
      Db(due, "order_detail", s""""id":"$d","order_id":"$id","sku_id":"${rnd.nextInt(nSkus) + 1}",""" +
        s""""sku_num":"${rnd.nextInt(3) + 1}","split_total_amount":"$amount"""", late, 0L)
    }
    val order = Db(due, "order_info", s""""id":"$id","user_id":"${rnd.nextInt(nUsers) + 1}",""" +
      s""""province_id":"${rnd.nextInt(nProvinces) + 1}","total_amount":"${(rnd.nextInt(100000) + 100) / 100.0}"""",
      late, 0L)
    val payment =
      if (rnd.nextInt(5) == 0) Nil
      else {
        val p = idBase + nextPayment; nextPayment += 1
        val delay = 1000L + rnd.nextInt(2000)
        Seq(Db(due + delay, "payment_info", s""""id":"$p","order_id":"$id",""" +
          s""""total_amount":"${(rnd.nextInt(100000) + 100) / 100.0}"""", rnd.nextInt(1000), delay))
      }
    order +: details ++: payment
  }

  /** `n` log events spread over `spanMs` from `start`, with their orders. */
  private def schedule(n: Int, start: Long, spanMs: Long, idBase: Long): Array[Item] = {
    val out = mutable.ArrayBuffer.empty[Item]
    for (i <- 0 until n) {
      val due = start + i * spanMs / math.max(n, 1)
      out += logItem(due)
      if (i % 20 == 0) out ++= orderItems(due, idBase)
    }
    // a payment due after the span would stretch the phase; drop it
    out.filter(i => spanMs == 0 || i.due < spanMs).sortBy(_.due).toArray
  }

  private val steady = schedule(rate * seconds, 0, seconds * 1000L, 0L)
  private val backlog = schedule(rate * backlogSeconds, 0, 0, 2000000000L)

  /** Write the dimension tables under `dir` (the session's input dir). */
  def writeDims(dir: java.io.File): String = {
    def csv(name: String, header: String, rows: Seq[String]): Unit = {
      val f = new java.io.File(dir, s"$name.csv")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try { w.println(header); rows.foreach(w.println) } finally w.close()
    }
    val r = new scala.util.Random(seed + 1)
    csv("dim_sku_info", "id,sku_name,tm_id,category3_id",
      (1 to nSkus).map(i => s"$i,sku ${words(r.nextInt(words.size))} $i,${r.nextInt(20) + 1},${r.nextInt(60) + 1}"))
    csv("dim_user_info", "id,gender", (1 to nUsers).map(i => s"$i,${if (r.nextBoolean()) "M" else "F"}"))
    csv("dim_base_province", "id,province_name,area_code",
      (1 to nProvinces).map(i => s"$i,province $i,${100000 + i * 1000}"))
    dir.getAbsolutePath
  }

  /** Create and fill the dims through DimStore, as the CDC router's hbase leg would. */
  def bootstrapDims(spark: SparkSession, db: String, dir: java.io.File): Unit =
    Seq("dim_sku_info", "dim_user_info", "dim_base_province").foreach { t =>
      val df = spark.read.option("header", "true").csv(new java.io.File(dir, s"$t.csv").getAbsolutePath)
      DimStore.ensureDimTable(spark, db, t, df.columns.toSeq)
      DimStore.upsert(spark, db, t, df, "id", seq = 0L)
    }

  /** Release `items` now, each topic as one block. */
  private def release(chain: StreamWarehouse.Chain, items: Iterator[Item], shift: Boolean,
                      now: Long): Int = {
    val logs = mutable.ArrayBuffer.empty[String]
    val dbs = mutable.ArrayBuffer.empty[CdcRow]
    items.foreach {
      case Log(_, prefix, late) => logs += prefix + (now - late) + "}"
      case Db(_, table, fields, late, delay) =>
        val ts = now - late + (if (shift) delay else 0L)
        dbs += CdcRow(table, "insert", s"{$fields,\"create_time\":\"$ts\"}")
    }
    chain.odsLog.add(logs.toSeq, Left(now))
    chain.odsDb.add(dbs.toSeq, Left(now))
    if (chain.keepsInput) released += logs.size + dbs.size
    logs.size + dbs.size
  }

  /** Open loop: every tick, release whatever is due. */
  def runSteady(chain: StreamWarehouse.Chain): Steady = {
    val tickMs = 50L
    val t0 = System.currentTimeMillis()
    var next = 0
    var lagMax = 0.0
    var ticks = 0L
    while (next < steady.length && chain.failure.isEmpty) {
      val now = System.currentTimeMillis()
      val elapsed = now - t0
      val from = next
      while (next < steady.length && steady(next).due <= elapsed) next += 1
      if (next > from) {
        lagMax = math.max(lagMax, (elapsed - steady(from).due).toDouble)
        release(chain, steady.iterator.slice(from, next), shift = false, now)
      }
      ticks += 1
      val sleep = t0 + ticks * tickMs - System.currentTimeMillis()
      if (sleep > 0) Thread.sleep(sleep)
    }
    val t1 = System.currentTimeMillis()
    Steady(t0.toDouble, t1.toDouble, lagMax, steady.length * 1000.0 / (t1 - t0))
  }

  /** The whole backlog at once; returns (release time, rows). */
  def releaseBacklog(chain: StreamWarehouse.Chain): (Double, Long) = {
    val now = System.currentTimeMillis()
    (now.toDouble, release(chain, backlog.iterator, shift = true, now).toLong)
  }
}

object Generator {
  sealed trait Item { def due: Long }
  final case class Log(due: Long, prefix: String, late: Int) extends Item
  final case class Db(due: Long, table: String, fields: String, late: Int, delay: Long) extends Item
  final case class Steady(startMs: Double, endMs: Double, lagMaxMs: Double, offeredPerS: Double)
}
