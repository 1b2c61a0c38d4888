package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event record for the stateful streaming operators — the analog
  * of the reference's behavior-log rows keyed by device id
  * (rt-flink bean/package.scala, OdsBaseLogApp.scala:86).
  */
case class PageEvent(
    mid: String,
    pageId: String,
    lastPageId: Option[String],
    isNew: String,
    ts: Timestamp)

case class VisitRecord(mid: String, pageId: String, isNew: String, ts: Timestamp)
case class BounceRecord(mid: String, pageId: String, ts: Timestamp)
case class SessionEvent(key: String, ts: Timestamp)
case class SessionSummary(key: String, sessionStart: Timestamp,
    sessionEnd: Timestamp, nEvents: Long)
// start/end in integer MICROSECONDS (the batch mirror's unix_micros
// doctrine — Sessionize.scala:32: ms truncation makes an 1800.0005 s
// gap read as exactly 1800 and silently disagree with the exact form;
// r17 review caught this operator still comparing truncated ms)
private[streaming] case class SessionWindowState(startUs: Long, endUs: Long, n: Long)

/** The reference's three keyed-state streaming operators, rebuilt on
  * `mapGroupsWithState` / `flatMapGroupsWithState` (SURVEY §2.4):
  *
  *  - ST1 new-visitor flag correction (OdsBaseLogApp.scala:86-135)
  *  - ST2 daily UV dedup with 1-day TTL (UniqueVisitApp.scala:74-116)
  *  - ST3 bounce detection via event-time timeout — the Flink-CEP
  *    `within(10s)` pattern re-expressed without a CEP library
  *    (UserJumpDetailApp.scala:94-140)
  *
  * All three shuffle once on `mid` (hash partition) and keep per-key
  * state in the state store (RocksDB-backed on a real cluster) — the
  * same shape Flink gives `keyBy().process()`, so the 100 TB story is
  * unchanged: state is partitioned with the keys and never collected.
  */
object StatefulOps {

  /** Integer microseconds from a Timestamp — getTime alone truncates
    * sub-ms; getNanos carries the full sub-second.
    */
  @inline private[streaming] def tsToUs(ts: Timestamp): Long =
    // floorDiv, not /: getNanos is always non-negative, so for
    // pre-1970 timestamps truncation-toward-zero would pair the wrong
    // second with the sub-second part (up to ~1 s off) and diverge
    // from the batch mirror's unix_micros
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  @inline private[streaming] def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def day(ts: Timestamp): String =
    java.time.Instant.ofEpochMilli(ts.getTime)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** ST1: if a record claims is_new=1 but the key has an earlier visit
    * on a *different* date, rewrite is_new=0; first sighting records the
    * date. State: first-visit date string per mid.
    */
  def newVisitorFix(events: Dataset[PageEvent])(implicit spark: SparkSession): Dataset[VisitRecord] = {
    import spark.implicits._
    events.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (mid: String, it: Iterator[PageEvent], state: GroupState[String]) => {
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.pageId))
        sorted.iterator.map { e =>
          val d = day(e.ts)
          val fixed = if (e.isNew == "1") {
            state.getOption match {
              case Some(first) if first != d => "0" // seen on an earlier day
              case Some(_) => "1"
              case None => state.update(d); "1"
            }
          } else {
            // returning visitor with no state: backfill yesterday so a
            // later is_new=1 replay is still corrected (ref :118-126)
            if (!state.exists) state.update("1970-01-01")
            "0"
          }
          VisitRecord(mid, e.pageId, fixed, e.ts)
        }
      })
  }

  /** ST2: daily unique-visit filter — emit only each mid's first
    * session-entry event per day. State: last emitted date, with an
    * optional processing-time TTL standing in for the reference's 1-day
    * state TTL (UniqueVisitApp.scala:87-92). The TTL only bounds state
    * size (semantics are carried by the date comparison); pass
    * `ttl = None` to disable it — with a pending processing-time timeout
    * the micro-batch loop never goes idle, so `processAllAvailable()`
    * blocks and even `Trigger.AvailableNow` queries do not
    * self-terminate (observed: correct rows emitted, query stays alive).
    */
  def dailyUvFilter(events: Dataset[PageEvent], ttl: Option[String] = Some("1 day"))(
      implicit spark: SparkSession): Dataset[VisitRecord] = {
    import spark.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, timeoutConf)(
      (mid: String, it: Iterator[PageEvent], state: GroupState[String]) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[VisitRecord]
          it.toSeq.sortBy(_.ts.getTime).foreach { e =>
            // only session entries count toward UV (ref :96-99)
            if (e.lastPageId.forall(_.isEmpty)) {
              val d = day(e.ts)
              if (!state.getOption.contains(d)) {
                // MONOTONE state (r10 review): a late previous-day event
                // still emits, but must not regress the stored date —
                // unconditional update let it overwrite "today", and the
                // next today-entry re-emitted as a duplicate UV. Single-
                // date state is the reference's own shape (one value +
                // TTL); ISO dates compare lexicographically.
                if (state.getOption.forall(_ < d)) state.update(d)
                out += VisitRecord(mid, e.pageId, e.isNew, e.ts)
              }
            }
          }
          // re-arm OUTSIDE the emit branch (r10 review): Spark clears a
          // group's timeout on EVERY invocation that carries data, so a
          // repeat same-day event (or any non-entry event) would cancel
          // the TTL permanently and the state would never expire
          if (state.exists) ttl.foreach(state.setTimeoutDuration)
          out.iterator
        }
      })
  }

  /** ST3: bounce detection. A session entry (empty last_page_id) with no
    * follow-up page from the same mid within `gapSeconds` is a bounce.
    * Event-time timeout on the watermark replaces Flink CEP's
    * `.within()` timeout side-output.
    *
    * Requires `events` to carry a watermark on `ts`.
    */
  def bounceDetect(events: Dataset[PageEvent], gapSeconds: Long = 10)(
      implicit spark: SparkSession): Dataset[BounceRecord] = {
    import spark.implicits._
    events.groupByKey(_.mid).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (mid: String, it: Iterator[PageEvent], state: GroupState[PageEvent]) => {
        if (state.hasTimedOut) {
          // watermark passed entry+gap with no follow-up: emit bounce.
          // An entry followed up in its own batch leaves the timeout
          // armed after remove() (Spark keeps it): nothing pending, no bounce
          val pending = state.getOption
          state.remove()
          pending.iterator.map(e => BounceRecord(mid, e.pageId, e.ts))
        } else {
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          val out = scala.collection.mutable.ArrayBuffer.empty[BounceRecord]
          // a timeout at-or-before the watermark throws; clamping to
          // watermark+1 fires it on the next trigger instead — same
          // bounce, one trigger later (late entries whose gap already
          // passed)
          def arm(e: PageEvent): Unit = {
            state.update(e)
            state.setTimeoutTimestamp(math.max(
              e.ts.getTime + gapSeconds * 1000,
              state.getCurrentWatermarkMs() + 1))
          }
          sorted.zipWithIndex.foreach { case (e, i) =>
            val isEntry = e.lastPageId.forall(_.isEmpty)
            state.getOption match {
              case Some(pending) if e.ts.getTime < pending.ts.getTime =>
                // LATE arrival that PRECEDES the pending entry: not a
                // follow-up to it — counting it as one silently cancels
                // a real bounce. The pending entry stays armed — and must
                // be RE-armed: Spark clears a group's timeout on every
                // invocation that carries data, so skipping the re-arm
                // here would silently drop the pending bounce too. If the
                // late event is itself an entry, its follow-up candidate
                // is the NEXT event in this sorted batch when one exists
                // (r10 review: judging only against the armed pending
                // emitted a false bounce when the late entry's real
                // follow-up sat beside it in the same batch), else the
                // pending entry (beyond the gap → it bounced).
                if (isEntry) {
                  // earliest follow-up candidate = whichever comes first
                  // of the next in-batch event and the pending entry
                  val followUpTs = math.min(
                    sorted.lift(i + 1).map(_.ts.getTime).getOrElse(Long.MaxValue),
                    pending.ts.getTime)
                  if (followUpTs > e.ts.getTime + gapSeconds * 1000)
                    out += BounceRecord(mid, e.pageId, e.ts)
                }
                arm(pending)
              case Some(pending) =>
                if (e.ts.getTime > pending.ts.getTime + gapSeconds * 1000) {
                  // follow-up too late: the pending entry bounced
                  out += BounceRecord(mid, pending.pageId, pending.ts)
                } // any event within the gap is a follow-up page (the
                  // reference's `next` step only requires page_id != null,
                  // UserJumpDetailApp.scala:103-110) — no bounce either way
                state.remove()
                if (isEntry) arm(e)
              case None =>
                if (isEntry) arm(e)
            }
          }
          out.iterator
        }
      })
  }

  /** Streaming sessionization — the stateful mirror of
    * [[graft.ops.Sessionize.assignSessions]]: per-key sessions close
    * when the event-time gap exceeds `gapSeconds`, and a CLOSED session
    * summary (start, end, event count) is emitted — either because a
    * later event arrived beyond the gap, or because the WATERMARK
    * passed `end + gap` with nothing following (event-time timeout, the
    * ST3 machinery). Same one-shuffle-on-key, state-partitioned 100 TB
    * shape as the other keyed-state operators.
    *
    * Each trigger runs the standard interval sweep over {the open
    * session} ∪ {this batch's events} sorted by start time, so late
    * events admitted by the watermark obey the SAME gap rule in both
    * directions: within gap of the open interval → merge (extending it
    * backwards if needed); more than a gap BEFORE it → a separate,
    * already-superseded session emitted closed this trigger (the r11
    * review caught the naive merge arm gluing such an event into the
    * open session across an arbitrary internal gap). Residual streaming
    * approximation, documented: a straggler arriving AFTER the session
    * it belongs to was emitted starts a fresh session — bounded state
    * cannot reopen emitted output; the batch mirror is the exact form.
    */
  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long = 1800)(
      implicit spark: SparkSession): Dataset[SessionSummary] = {
    import spark.implicits._
    events.groupByKey(_.key).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (key: String, it: Iterator[SessionEvent], state: GroupState[SessionWindowState]) => {
        def summary(s: SessionWindowState) = SessionSummary(
          key, StatefulOps.usToTs(s.startUs), StatefulOps.usToTs(s.endUs), s.n)
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(summary(s))
        } else {
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
          // interval sweep: the open session participates as one
          // interval among the batch's points, ordered by START — the
          // textbook merge, correct for backward-late events too
          val intervals =
            (state.getOption.toSeq ++
              it.toSeq.map { e =>
                val us = StatefulOps.tsToUs(e.ts)
                SessionWindowState(us, us, 1)
              }).sortBy(s => (s.startUs, s.endUs))
          var cur: Option[SessionWindowState] = None
          for (s <- intervals) {
            cur match {
              case Some(c) if s.startUs > c.endUs + gapSeconds * 1000000L =>
                out += summary(c)
                cur = Some(s)
              case Some(c) =>
                cur = Some(SessionWindowState(
                  math.min(c.startUs, s.startUs),
                  math.max(c.endUs, s.endUs), c.n + s.n))
              case None =>
                cur = Some(s)
            }
          }
          cur.foreach { s =>
            state.update(s)
            // a timeout at-or-before the watermark throws; clamp to
            // watermark+1 (fires next trigger — the bounceDetect rule)
            // timeout wants ms; ceil the us->ms conversion so the
            // timer never fires BEFORE end + gap
            state.setTimeoutTimestamp(math.max(
              (s.endUs + gapSeconds * 1000000L + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
        }
      })
  }
}
