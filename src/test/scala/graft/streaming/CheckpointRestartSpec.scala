package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.apps.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A stateful chain stopped mid-stream and restarted from its checkpoint
  * leaves the same sink rows as an uninterrupted run, whichever of
  * Spark's default checkpoint manager and the engine's wrote each half.
  */
class CheckpointRestartSpec extends SparkSpec {
  implicit lazy val s2: org.apache.spark.sql.SparkSession = spark
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  // mid, vc, ch, ar, is_new, page_id, last_page_id, during_time, ts (ms)
  private type Event = (String, String, String, String, String, String, String, Long, Long)
  private def ev(mid: String, lastPage: String, sec: Long): Event =
    (mid, "v1", "ch1", "ar1", "1", "home", lastPage, 1000L, sec * 1000L)

  // The stop falls after the second batch: m1 and m2 re-enter the same
  // day after it (the UV state must survive), and the 10 s window
  // [10 s, 20 s) takes events from both sides of it (so must the
  // window's partial aggregate and the watermark). The last event
  // closes every earlier window.
  private val batches: Seq[Seq[Event]] = Seq(
    Seq(ev("m1", null, 1), ev("m2", null, 3), ev("m1", "home", 5)),
    Seq(ev("m3", null, 11), ev("m1", "home", 12), ev("m2", null, 16)),
    Seq(ev("m1", null, 18), ev("m4", null, 19), ev("m3", "home", 21)),
    Seq(ev("m5", null, 40)))

  private val (managerKey, engineManager) = NioCheckpointFileManager.conf
  private val sparkManager = classOf[FileContextBasedCheckpointFileManager].getName

  private def pages(in: MemoryStream[Event]): DataFrame =
    in.toDF().toDF("mid", "vc", "ch", "ar", "is_new", "page_id", "last_page_id",
      "during_time", "ts").withColumn("event_ts", timestamp_millis($"ts"))

  private def uv(in: MemoryStream[Event]): DataFrame =
    StatefulOps.dailyUvFilter(pages(in).select($"mid", $"page_id".as("pageId"),
      $"last_page_id".as("lastPageId"), $"is_new".as("isNew"), $"event_ts".as("ts"))
      .as[PageEvent], ttl = None).toDF()

  private def visitors(in: MemoryStream[Event]): DataFrame =
    Pipelines.visitorStats(pages(in).withWatermark("event_ts", "1 second"))

  /** Runs both queries over `batches`, one part per manager class: with
    * two managers the queries stop after the second batch and restart
    * from `ckpt` under the second. Returns each sink's rows, sorted. */
  private def run(ckpt: JPath, managers: String*): Seq[Seq[String]] = {
    val inputs = Seq.fill(2)(MemoryStream[Event])
    val sinks = Seq.fill(2)(new ConcurrentHashMap[Long, Seq[String]]())
    val plans = Seq(uv(inputs(0)), visitors(inputs(1)))
    try managers.zip(batches.grouped(batches.size / managers.size).toSeq).foreach {
      case (manager, part) =>
        spark.conf.set(managerKey, manager)
        val queries = plans.zip(sinks).zipWithIndex.map { case ((plan, sink), i) =>
          val collect: (DataFrame, Long) => Unit =
            (df, id) => sink.put(id, df.collect().map(_.mkString("|")).toSeq)
          plan.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt.resolve(s"q$i").toString)
            .foreachBatch(collect).start()
        }
        try part.foreach { b =>
          inputs.foreach(_.addData(b))
          queries.foreach(_.processAllAvailable())
        } finally queries.foreach(_.stop())
    } finally spark.conf.set(managerKey, engineManager)
    sinks.map(_.values.asScala.flatten.toSeq.sorted)
  }

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("ckpt-restart")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private lazy val uninterrupted = withDir(run(_, engineManager))

  test("the uninterrupted chain: one UV per mid and day, three closed windows") {
    val Seq(uvRows, visitorRows) = uninterrupted
    assert(uvRows.map(_.split('|').head) === Seq("m1", "m2", "m3", "m4", "m5"))
    assert(visitorRows.map(_.split('|')(6).toLong).sorted === Seq(1L, 3L, 5L))
  }

  test("stopped mid-stream and restarted from its checkpoint, the chain equals an uninterrupted run") {
    assert(withDir(run(_, engineManager, engineManager)) === uninterrupted)
  }

  test("a checkpoint moves between Spark's default manager and the engine's, both ways") {
    // Hadoop's local file system writes a .crc file next to each
    // checkpoint file; the engine's manager writes none
    def crcs(ckpt: JPath): Seq[Boolean] = {
      val offsets = ckpt.resolve("q0/offsets")
      Files.list(offsets).iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(_.isDigit)).toSeq.sortBy(_.toLong)
        .map(n => Files.exists(offsets.resolve(s".$n.crc")))
    }
    withDir { dir =>
      assert(run(dir, sparkManager, engineManager) === uninterrupted)
      val written = crcs(dir)
      assert(written.head && !written.last, written)
    }
    withDir { dir =>
      assert(run(dir, engineManager, sparkManager) === uninterrupted)
      val written = crcs(dir)
      assert(!written.head && written.last, written)
    }
  }
}
