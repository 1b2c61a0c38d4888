package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming tests for the three keyed-state operators, driven through
  * MemoryStream → flatMapGroupsWithState → memory sink, i.e. the real
  * incremental execution path (state store, watermarks, timeouts) — not
  * a batch shortcut.
  */
class StatefulOpsSpec extends SparkSpec {
  implicit lazy val s2: org.apache.spark.sql.SparkSession = spark
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  private def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable(); q.stop()
  }

  test("ST1 new-visitor fix: is_new=1 on a later day is rewritten to 0") {
    val input = MemoryStream[PageEvent]
    val out = StatefulOps.newVisitorFix(input.toDS())
    val q = out.writeStream.format("memory").queryName("st1")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // day 1: first visit claims new → stays 1; same day repeat claims new → stays 1
    input.addData(
      PageEvent("m1", "home", None, "1", ts(0)),
      PageEvent("m1", "list", None, "1", ts(10)))
    q.processAllAvailable()
    // day 2: still claims new → must be corrected to 0
    input.addData(PageEvent("m1", "home", None, "1", ts(86400 + 5)))
    // fresh mid claiming not-new: passes through as 0
    input.addData(PageEvent("m2", "home", None, "0", ts(20)))
    runToCompletion(q)
    val rows = spark.table("st1").as[VisitRecord].collect()
      .map(r => (r.mid, r.ts.getTime / 1000, r.isNew)).toSet
    assert(rows == Set(
      ("m1", 0L, "1"), ("m1", 10L, "1"), ("m1", 86405L, "0"), ("m2", 20L, "0")))
  }

  test("ST2 daily UV dedup: one session-entry per mid per day") {
    val input = MemoryStream[PageEvent]
    val out = StatefulOps.dailyUvFilter(input.toDS(), ttl = None)
    val q = out.writeStream.format("memory").queryName("st2")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(
      PageEvent("m1", "home", None, "1", ts(100)),        // counted
      PageEvent("m1", "detail", Some("home"), "1", ts(200)), // not an entry
      PageEvent("m1", "home", None, "1", ts(300)),        // same-day dup
      PageEvent("m2", "home", Some(""), "0", ts(100)))    // empty last page = entry
    q.processAllAvailable()
    input.addData(PageEvent("m1", "home", None, "1", ts(86400 + 100))) // next day
    runToCompletion(q)
    val rows = spark.table("st2").as[VisitRecord].collect()
      .map(r => (r.mid, r.ts.getTime / 1000)).toSet
    assert(rows == Set(("m1", 100L), ("m2", 100L), ("m1", 86500L)))
  }

  test("ST2 runs on the RocksDB state store provider (reference state backend)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[PageEvent]
      val out = StatefulOps.dailyUvFilter(input.toDS(), ttl = None)
      val q = out.writeStream.format("memory").queryName("st2_rocks")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      input.addData(
        PageEvent("r1", "home", None, "1", ts(100)),
        PageEvent("r1", "home", None, "1", ts(200)), // same-day dup
        PageEvent("r2", "home", None, "0", ts(150)))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("st2_rocks").as[VisitRecord].collect()
        .map(r => (r.mid, r.ts.getTime / 1000)).toSet
      assert(rows == Set(("r1", 100L), ("r2", 150L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ST3 bounce detect: entry with no follow-up within gap bounces (ref fixture)") {
    val input = MemoryStream[PageEvent]
    val events = input.toDS().withWatermark("ts", "0 seconds")
    val out = StatefulOps.bounceDetect(events, gapSeconds = 10)
    val q = out.writeStream.format("memory").queryName("st3")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // The reference's inline fixture (UserJumpDetailApp.scala:74-78):
    // mid 101 enters once and never follows up → bounce.
    // mid 102 enters, follows up 3 s later (no bounce), then a second
    // entry 15 s after that with no follow-up → bounce.
    input.addData(
      PageEvent("101", "home", None, "1", ts(10)),
      PageEvent("102", "home", None, "1", ts(15)),
      PageEvent("102", "good_list", Some("home"), "1", ts(18)),
      PageEvent("102", "good_list", None, "1", ts(33)))
    q.processAllAvailable()
    // push the event-time watermark far past every pending timeout
    input.addData(PageEvent("999", "home", None, "1", ts(1000)))
    q.processAllAvailable()
    input.addData(PageEvent("999", "end", Some("home"), "1", ts(2000)))
    runToCompletion(q)
    val rows = spark.table("st3").as[BounceRecord].collect()
      .map(r => (r.mid, r.ts.getTime / 1000)).toSet
    assert(rows.contains(("101", 10L)), s"mid 101 must bounce; got $rows")
    assert(rows.contains(("102", 33L)), s"mid 102's second entry must bounce; got $rows")
    assert(!rows.contains(("102", 15L)), s"followed-up entry must not bounce; got $rows")
  }

  test("ST3: a LATE event preceding the pending entry does not cancel its bounce") {
    val input = MemoryStream[PageEvent]
    // 1-hour watermark delay so an out-of-order event is still admitted
    val events = input.toDS().withWatermark("ts", "1 hour")
    val out = StatefulOps.bounceDetect(events, gapSeconds = 10)
    val q = out.writeStream.format("memory").queryName("st3late")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: entry at t=100 (never followed up → must bounce)
    input.addData(PageEvent("201", "home", None, "1", ts(100)))
    q.processAllAvailable()
    // batch 2: LATE non-entry event at t=50 — BEFORE the pending entry;
    // treating it as a follow-up would silently cancel the real bounce
    input.addData(PageEvent("201", "stray", Some("elsewhere"), "1", ts(50)))
    q.processAllAvailable()
    // advance the watermark far past entry+gap so the timeout fires
    input.addData(PageEvent("999", "home", None, "1", ts(10000)))
    q.processAllAvailable()
    input.addData(PageEvent("999", "end", Some("home"), "1", ts(20000)))
    runToCompletion(q)
    val rows = spark.table("st3late").as[BounceRecord].collect()
      .map(r => (r.mid, r.ts.getTime / 1000)).toSet
    assert(rows.contains(("201", 100L)),
      s"late pre-entry event must not cancel the bounce; got $rows")
  }

  test("ST3: a late entry with its follow-up in the SAME batch is not a bounce (r10)") {
    val input = MemoryStream[PageEvent]
    val events = input.toDS().withWatermark("ts", "1 hour")
    val out = StatefulOps.bounceDetect(events, gapSeconds = 10)
    val q = out.writeStream.format("memory").queryName("st3pair")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // batch 1: entry at t=100 armed as pending
    input.addData(PageEvent("301", "home", None, "1", ts(100)))
    q.processAllAvailable()
    // batch 2: a LATE session (entry t=0 + follow-up t=5, within gap)
    // delivered together — judging the entry only against the pending
    // t=100 would emit a false bounce for t=0
    input.addData(
      PageEvent("301", "early", None, "1", ts(0)),
      PageEvent("301", "next", Some("early"), "1", ts(5)))
    q.processAllAvailable()
    // flush: watermark past everything so the t=100 pending times out
    input.addData(PageEvent("999", "home", None, "1", ts(10000)))
    q.processAllAvailable()
    input.addData(PageEvent("999", "end", Some("home"), "1", ts(20000)))
    runToCompletion(q)
    val rows = spark.table("st3pair").as[BounceRecord].collect()
      .map(r => (r.mid, r.ts.getTime / 1000)).toSet
    assert(!rows.contains(("301", 0L)),
      s"followed-up late entry must not bounce: $rows")
    assert(rows.contains(("301", 100L)),
      s"the pending entry's real bounce must survive: $rows")
  }

  test("ST3: an entry followed up in its own batch leaves no armed timeout to crash on") {
    val input = MemoryStream[PageEvent]
    val events = input.toDS().withWatermark("ts", "0 seconds")
    val out = StatefulOps.bounceDetect(events, gapSeconds = 10)
    val q = out.writeStream.format("memory").queryName("st3same")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // m1 enters and follows up within the gap, in one batch
      input.addData(
        PageEvent("m1", "home", None, "1", ts(10)),
        PageEvent("m1", "good_list", Some("home"), "1", ts(12)))
      q.processAllAvailable()
      // moves the watermark past m1's entry + gap (20 s)
      input.addData(PageEvent("m2", "home", None, "1", ts(40)))
      q.processAllAvailable()
      // the next batch is where m1's stale timeout fires
      input.addData(PageEvent("m3", "home", None, "1", ts(41)))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty, s"query died: ${q.exception}")
      val rows = spark.table("st3same").as[BounceRecord].collect().map(_.mid).toSet
      assert(!rows.contains("m1"), s"a followed-up entry must not bounce: $rows")
    } finally q.stop()
  }

  test("ST2: a late previous-day entry emits but does not regress the state date (r10)") {
    val input = MemoryStream[PageEvent]
    val out = StatefulOps.dailyUvFilter(input.toDS(), ttl = None)
    val q = out.writeStream.format("memory").queryName("st2late")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // day 2 entry emits and sets state to day 2
    input.addData(PageEvent("401", "home", None, "1", ts(86400 + 100)))
    q.processAllAvailable()
    // LATE day-1 entry: emits (day 1 was never emitted) ...
    input.addData(PageEvent("401", "home", None, "1", ts(500)))
    q.processAllAvailable()
    // ... but must NOT reset the state: a second day-2 entry would then
    // double-count the visitor
    input.addData(PageEvent("401", "other", None, "1", ts(86400 + 200)))
    runToCompletion(q)
    val days = spark.table("st2late").as[VisitRecord].collect()
      .map(_.ts.getTime / 1000).sorted.toSeq
    assert(days == Seq(500L, 86500L),
      s"one emission per day, no day-2 duplicate: $days")
  }

  test("streaming sessionize: gap closes, timeout closes, late event merges") {
    val input = MemoryStream[SessionEvent]
    val events = input.toDS().withWatermark("ts", "1 hour")
    val out = StatefulOps.sessionize(events, gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // k1: events at 10, 40 (one session), then 200 (> 60s gap: closes
    // the first, opens a second). k2: a single event at 20.
    input.addData(
      SessionEvent("k1", ts(10)), SessionEvent("k1", ts(40)),
      SessionEvent("k2", ts(20)))
    q.processAllAvailable()
    input.addData(SessionEvent("k1", ts(200)))
    q.processAllAvailable()
    // LATE event at 30 (watermark still far behind): merges into the
    // OPEN k2 session, not a new one
    input.addData(SessionEvent("k2", ts(30)))
    q.processAllAvailable()
    // advance the watermark far past every open session + gap so the
    // event-time timeouts close k1's second session and k2's
    input.addData(SessionEvent("k9", ts(100000)))
    q.processAllAvailable()
    input.addData(SessionEvent("k9", ts(400000)))
    runToCompletion(q)
    val rows = spark.table("sess").as[SessionSummary].collect()
      .map(s => (s.key, s.sessionStart.getTime / 1000,
        s.sessionEnd.getTime / 1000, s.nEvents)).toSet
    assert(rows.contains(("k1", 10L, 40L, 2L)), s"gap-closed session: $rows")
    assert(rows.contains(("k1", 200L, 200L, 1L)), s"timeout-closed session: $rows")
    assert(rows.contains(("k2", 20L, 30L, 2L)), s"late event must merge: $rows")
    assert(!rows.exists(r => r._1 == "k2" && r._4 == 1L),
      s"no singleton k2 session — the late event belongs to it: $rows")
  }

  test("streaming sessionize: sub-millisecond gaps obey the batch mirror's microsecond rule") {
    // events at 100.000000 s and 160.000500 s: the gap is 60.0005 s >
    // 60 — the batch mirror (unix_micros, Sessionize.scala:32) SPLITS;
    // millisecond truncation reads exactly 60 000 ms and would merge
    // (the r17 review catch: this operator compared truncated ms)
    def tsUs(sec: Long, us: Long): Timestamp = {
      val t = new Timestamp(sec * 1000)
      t.setNanos((us * 1000).toInt)
      t
    }
    val input = MemoryStream[SessionEvent]
    val events = input.toDS().withWatermark("ts", "1 hour")
    val out = StatefulOps.sessionize(events, gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sessus")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    input.addData(SessionEvent("u1", tsUs(100, 0)),
      SessionEvent("u1", tsUs(160, 500)))
    q.processAllAvailable()
    input.addData(SessionEvent("u9", ts(100000)))
    q.processAllAvailable()
    input.addData(SessionEvent("u9", ts(400000)))
    runToCompletion(q)
    val rows = spark.table("sessus").as[SessionSummary].collect()
      .filter(_.key == "u1")
    assert(rows.length == 2,
      s"60.0005 s gap must split at gapSeconds=60: ${rows.toSeq}")
    // the emitted timestamps carry the sub-ms part back out intact
    assert(rows.exists(_.sessionStart.getNanos == 500000),
      s"microsecond part must survive the round trip: ${rows.toSeq}")
    // and the batch mirror agrees on the same two points
    val nBatch = graft.ops.Sessionize.assignSessions(
        Seq(("u1", tsUs(100, 0), 1L), ("u1", tsUs(160, 500), 2L))
          .toDF("k", "ts", "tie"), "k", "ts", "tie", gapSeconds = 60)
      .agg(org.apache.spark.sql.functions.max("session_seq")).head().getLong(0)
    assert(nBatch == 2L)
  }

  test("streaming sessionize: a backward-late event beyond the gap is its OWN session") {
    val input = MemoryStream[SessionEvent]
    val events = input.toDS().withWatermark("ts", "1 hour")
    val out = StatefulOps.sessionize(events, gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sessback")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // open session at t=300; then a late event at t=50 — 250s earlier,
    // far beyond the 60s gap. The naive merge arm glued these into one
    // [50,300] session (r11 review); the sweep must emit [50,50] closed
    // and keep [300,300] open.
    input.addData(SessionEvent("b1", ts(300)))
    q.processAllAvailable()
    input.addData(SessionEvent("b1", ts(50)))
    q.processAllAvailable()
    // close the open session via watermark
    input.addData(SessionEvent("b9", ts(100000)))
    q.processAllAvailable()
    input.addData(SessionEvent("b9", ts(400000)))
    runToCompletion(q)
    val rows = spark.table("sessback").as[SessionSummary].collect()
      .filter(_.key == "b1")
      .map(s => (s.sessionStart.getTime / 1000, s.sessionEnd.getTime / 1000, s.nEvents))
      .toSet
    assert(rows == Set((50L, 50L, 1L), (300L, 300L, 1L)), rows.toString)
  }

  test("streaming sessionize: checkpoint RESUME mid-session under RocksDB (r11 verdict ask #7)") {
    // an OPEN session must survive a query restart: its interval and
    // event count restore from the RocksDB state store via the
    // checkpoint, and post-restart events merge into it by the same
    // gap rule — the production kill/redeploy path for ST-family ops
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("sessresume").toString
      val input = MemoryStream[SessionEvent]
      val events = input.toDS().withWatermark("ts", "1 hour")
      val out = StatefulOps.sessionize(events, gapSeconds = 60)
      // the memory sink refuses checkpoint recovery by design, so the
      // collector is a foreachBatch sink (recovery-capable) draining
      // into a concurrent buffer — the state store is what's under test
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[SessionSummary]()
      def start() = out.writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[SessionSummary], _: Long) =>
          b.collect().foreach(emitted.add); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()

      val q1 = start()
      input.addData(SessionEvent("r1", ts(10)), SessionEvent("r1", ts(40)))
      q1.processAllAvailable(); q1.stop() // [10,40] n=2 left OPEN in state

      // restart from the SAME checkpoint
      val q2 = start()
      input.addData(SessionEvent("r1", ts(70))) // within gap of restored end=40 → merge
      q2.processAllAvailable()
      input.addData(SessionEvent("r1", ts(300))) // beyond gap → closes [10,70]
      q2.processAllAvailable()
      // watermark far forward: timeout-close the trailing session too
      input.addData(SessionEvent("r9", ts(100000)))
      q2.processAllAvailable()
      input.addData(SessionEvent("r9", ts(400000)))
      runToCompletion(q2)

      import scala.jdk.CollectionConverters._
      val rows = emitted.asScala
        .filter(_.key == "r1")
        .map(s => (s.sessionStart.getTime / 1000, s.sessionEnd.getTime / 1000, s.nEvents))
        .toSet
      // n=3 is the resume proof: it requires the pre-restart events
      // (10, 40) to have been restored from RocksDB state, not replayed
      assert(rows.contains((10L, 70L, 3L)),
        s"restored open session must absorb the post-restart event: $rows")
      assert(rows.contains((300L, 300L, 1L)), rows.toString)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
