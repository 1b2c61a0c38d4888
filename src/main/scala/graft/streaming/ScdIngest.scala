package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.ops.{CacheScope, Scd}

/** Streaming SCD2 dimension-history ingest — the micro-batch twin of
  * the q143 batch operator, closing the loop between the CDC router
  * (O2/K5: latest-version dim tables) and the SCD2 family (q135/q143:
  * full version HISTORY). A warehouse wants both: the dim store
  * answers "what is key k now", the history table answers "what was k
  * at time t" (q136 `snapshotAt`) — and production builds the history
  * INCREMENTALLY from the same CDC stream that feeds the dim store,
  * not by nightly rebuilds over the full changelog.
  *
  * Contract (inherited from [[Scd.applyChangelogWithRejects]] and
  * spec-gated here as the streaming q148-style property):
  *  - after any number of micro-batches, the standing table is
  *    byte-equal to ONE batch `Scd.buildHistory` over every ACCEPTED
  *    row — micro-batch boundaries are invisible in the result;
  *  - the append-only guard rejects retro-edits (ts ≤ the key's
  *    current effective_from) into a quarantine side table instead of
  *    silently splicing corruption; a non-empty quarantine means that
  *    key needs the rebuild path;
  *  - within one batch, same-ts rows for a key order by the tie column
  *    (the q122 doctrine) — ACROSS batches, append-only ts is the
  *    ordering, exactly-once by Structured Streaming's batchId replay
  *    (an overwrite re-run with the same batch is idempotent: the
  *    guard drops the already-applied rows as non-later).
  *
  * Scale shape: per batch, only AFFECTED keys do any work
  * (batch-sized + one-current-row-per-affected-key fold; untouched
  * keys pass through the anti join). The table rewrite itself is the
  * dim-store disposition — dimension histories are small relative to
  * facts; a 100 TB fact history wants the same operator over an
  * ACID table format's MERGE instead of the overwrite, with identical
  * fold semantics.
  */
object ScdIngest {

  /** foreachBatch sink maintaining `db.table` as the SCD2 history and
    * `db.table_rejects` as the retro-edit quarantine (append-only,
    * with a `__batch_id` provenance column). `onBatch(batchId,
    * nRejected)` reports the quarantine count per batch — the
    * observability hook (alerting on non-zero is the production
    * posture).
    *
    * REPLAY SAFETY (Structured Streaming re-runs the most recent
    * batchId after a failure between this sink and the checkpoint
    * commit): the history overwrite is naturally idempotent, but a
    * naive quarantine is not — on a replay against the ALREADY-updated
    * history, every applied version-boundary row has ts ≤ its key's
    * new effective_from and would re-classify as a retro-edit. Two
    * guards make the quarantine replay-safe:
    *  1. a "rejected" row CONSISTENT with the recorded history — its
    *     ts covered by a version's [from, to) window for its key and
    *     its attrs null-safe-equal that version's — is a redelivery,
    *     not a retro-edit: anti-joined away. Covering-interval rather
    *     than exact (key, ts = effective_from, attrs) equality: a row
    *     the original apply COLLAPSED mid-batch is not any version's
    *     boundary, and the exact form re-quarantined it on every
    *     replay. This also absorbs upstream at-least-once
    *     duplicate delivery of old rows;
    *  2. if the rejects table already holds rows for this `batchId`,
    *     the append is skipped (the failure fell between the reject
    *     append and the history overwrite, so genuine rejects were
    *     recorded already).
    * Rows a replay re-accepts re-apply through the idempotent fold
    * and change nothing.
    */
  def scd2Sink(spark: SparkSession, db: String, table: String,
               keyCol: String, tsCol: String, tieCol: String,
               attrCols: Seq[String])
              (onBatch: (Long, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val rejTable = s"${table}_rejects"
    // both tables are created by their first write: the history from
    // the fold's own schema, the quarantine from the batch's
    val sync = new TableSync(spark, db, table, rejTable)
    (batch: DataFrame, batchId: Long) => sync.batch {
      val persisted = CacheScope.persist(batch)
      if (persisted.isEmpty) onBatch(batchId, 0L)
      else {
        // an empty buildHistory carries the exact history schema —
        // the first batch bootstraps the table through the same fold
        // every later batch uses (no hand-written DDL to drift)
        val history =
          if (sync.exists(table)) spark.table(sync.name(table))
          else Scd.buildHistory(persisted.limit(0),
            keyCol, tsCol, tieCol, attrCols)
        val (applied, rejected0) = Scd.applyChangelogWithRejects(
          history, persisted, keyCol, tsCol, tieCol, attrCols)
        // guard 1: absorb redeliveries — a "reject" CONSISTENT with
        // the recorded history is a replay, not a retro-edit: its ts
        // falls inside a recorded version's [from, to) validity
        // window for its key AND its attrs null-safe-equal (<=>)
        // that version's. Covering-interval, not ts == from: a row
        // the original apply COLLAPSED mid-batch
        // ((k,t1,A),(k,t2,A) → one version at t1) is not any
        // version's boundary, and the exact-match form re-appended
        // it to the quarantine on every replay — duplicate rejects
        // and false alerts. Absorption is sound by the collapse rule
        // itself: a covered same-attr row applied to the history is
        // a no-op, so dropping it loses nothing. The anti join is
        // batch-sized vs history versions, equi on key with a
        // range+attr residual.
        val recorded = history.select(
          col(keyCol).as("__r_key") +:
            col("effective_from").as("__r_from") +:
            col("effective_to").as("__r_to") +:
            attrCols.zipWithIndex.map { case (c, i) =>
              col(c).as(s"__r_a$i") }: _*)
        val coverCond = (rejected0(keyCol) <=> recorded("__r_key")) &&
          rejected0(tsCol) >= recorded("__r_from") &&
          (recorded("__r_to").isNull ||
            rejected0(tsCol) < recorded("__r_to")) &&
          attrCols.zipWithIndex
            .map { case (c, i) => rejected0(c) <=> recorded(s"__r_a$i") }
            .reduce(_ && _)
        val rejected = rejected0.join(recorded, coverCond, "left_anti")
        // truncate lineage: the overwrite must not read the files it
        // replaces
        val out = sync.checkpoint(applied)
        val rej = sync.checkpoint(rejected)
        val nRej = rej.count()
        // guard 2: this batchId's rejects were already appended on a
        // prior attempt — appending again would duplicate them
        if (nRej > 0 && !sync.applied(rejTable, batchId))
          sync.append(rejTable, rej.withColumn("__batch_id", lit(batchId)))
        val nOut = out.count()
        out.write.mode(SaveMode.Overwrite).saveAsTable(sync.name(table))
        // the next batch READS this table to build its merge and then
        // OVERWRITES it — a stale snapshot here doesn't weaken the
        // result, it permanently deletes the missed versions
        sync.overwritten(table, nOut)
        sync.visible()
        onBatch(batchId, nRej)
      }
    }
  }
}
