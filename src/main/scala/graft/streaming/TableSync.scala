package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.CacheScope

/** The single-writer table protocol every table-writing sink in this
  * package commits through: one writer per sink, owning the sink's
  * tables for the sink's lifetime.
  *
  * Why a visibility barrier: an `insertInto` issued from foreachBatch's
  * cloned session lands on disk, but the outer session can keep serving
  * a STALE relation snapshot (~1% of batches, measured by
  * `graft.tools.IngestStress`) or a zombie cached plan (~2%). A sink
  * whose replay probe reads a table before appending to it would see
  * the pre-append listing on most batches, because the probe resolved
  * it in this session; [[append]] refreshes this session's entry after
  * its write, so the barrier's first count normally passes. A sink
  * that reads its own table next batch would then fold against old
  * state. For append-only tables that under-counts; for the
  * read-modify-OVERWRITE loops (DimStore, SCD2 history, CC labels) it
  * permanently DELETES the missed rows. The writer knows the exact row
  * count it just made true, so [[visible]] re-reads until the catalog
  * serves it (refresh + bounded retries) and fails loud if freshness
  * can't be established — never silently proceeding against an old
  * snapshot.
  *
  * What the writer owns, so no sink hand-copies it:
  *  - the expected row count of each table, counted once, the first
  *    time the writer needs it and before the writer writes the table
  *    (0 for a table a sink creates on its first write), then kept by
  *    [[append]] and [[overwritten]]. An overwrite sets it without a
  *    count, so a sink that only overwrites never counts. Atomic, so
  *    concurrent appends to different tables stay exact;
  *  - the per-batch scope ([[batch]]): operator persists and
  *    [[checkpoint]]s register on the calling thread and drain when the
  *    batch ends, and every cache entry referencing the tables is
  *    dropped so the next batch resolves them from disk;
  *  - the `__batch_id` replay probe ([[applied]]).
  * What stays in each sink is its domain logic and its commit order:
  * the commit-marker table is appended LAST, so its presence certifies
  * the batch.
  *
  * Single writer per table is the contract: a row this writer did not
  * append makes [[visible]] fail loud.
  */
private[streaming] final class TableSync(spark: SparkSession, db: String,
                                         tables: String*) {

  private val expected = new ConcurrentHashMap[String, AtomicLong]()

  private def counter(table: String): AtomicLong =
    expected.computeIfAbsent(table, t =>
      new AtomicLong(if (exists(t)) spark.table(name(t)).count() else 0L))

  /** The quoted `db`.`table` identifier. */
  def name(table: String): String = s"`$db`.`$table`"

  /** False until a sink that creates `table` on its first write has
    * written it. */
  def exists(table: String): Boolean = spark.catalog.tableExists(name(table))

  /** Run one batch's body: whatever it persists through CacheScope or
    * checkpoints through [[checkpoint]] is released when it ends, and
    * every cache entry referencing the tables is dropped — the zombie
    * entries `insertInto`'s recache walk re-registers would otherwise
    * serve the next batch this batch's table state.
    */
  def batch[A](body: => A): A = {
    val mark = CacheScope.mark(spark)
    try body
    finally {
      CacheScope.releaseSince(spark, mark)
      tables.filter(exists).foreach { t =>
        org.apache.spark.sql.graft.CatalogCache.uncacheReferencing(spark, name(t))
      }
    }
  }

  /** Eager localCheckpoint released with the enclosing [[batch]]: a
    * frame that must not be recomputed (its write reads it again, or
    * an overwrite must not read the files it replaces).
    */
  def checkpoint(df: DataFrame): DataFrame = CacheScope.localCheckpointScoped(df)

  /** True when `table` already holds rows of `batchId` — a replay. */
  def applied(table: String, batchId: Long): Boolean =
    exists(table) &&
      !spark.table(name(table)).filter(col("__batch_id") === batchId).isEmpty

  /** Count `df` and append it to `table` in ⌈rows/rowsPerFile⌉ files
    * (floor 1): at trigger cadence a small batch writes one file — file
    * count, not file size, is what degrades every later scan — while a
    * large batch is not serialized through one write task (`coalesce`
    * caps parallelism without a shuffle). An empty frame writes
    * nothing. A table that does not exist yet is created from `df`'s
    * schema. Returns the row count.
    */
  def append(table: String, df: DataFrame, rowsPerFile: Long = 1L << 20): Long = {
    val rows = counter(table)
    val n = df.count()
    if (n > 0L) {
      val files = math.max(1L, math.min(Int.MaxValue.toLong,
        (n + rowsPerFile - 1) / rowsPerFile)).toInt
      val w = df.coalesce(files).write.mode(SaveMode.Append)
      if (exists(table)) w.insertInto(name(table)) else w.saveAsTable(name(table))
      // the write went through `df`'s session (foreachBatch's clone),
      // which leaves this session's relation entry listing the files from
      // before it: refresh it, so [[visible]]'s first count reads the
      // append instead of taking its retry path
      spark.catalog.refreshTable(name(table))
      rows.addAndGet(n)
    }
    n
  }

  /** Record that `table` now holds exactly `rows` rows (after an
    * overwrite). */
  def overwritten(table: String, rows: Long): Unit =
    expected.put(table, new AtomicLong(rows))

  /** The row count `table` holds by this writer's account. The first
    * call may count the table, so read it before writing the table. */
  def rows(table: String): Long = counter(table).get

  /** Block until every table reads back its expected row count,
    * refreshing the catalog entries between attempts.
    */
  def visible(): Unit = {
    val maxAttempts = 5
    // a table a sink creates on its first write may not exist yet
    def counts() = tables.map(t => (name(t),
      if (exists(t)) spark.table(name(t)).count() else 0L, counter(t).get))
    var attempts = 0
    var c = counts()
    while (c.exists(x => x._2 != x._3) && attempts < maxAttempts) {
      c.filter(x => x._2 != x._3).foreach { case (n, got, want) =>
        System.err.println(
          s"[TableSync] stale snapshot of $n after write ($got/$want) — refreshing")
      }
      tables.filter(exists).foreach(t => spark.catalog.refreshTable(name(t)))
      attempts += 1
      // linear backoff: a zero-delay retry loop burns all attempts
      // inside the same staleness window; 50ms × attempt gives the
      // filesystem listing ~750ms total to converge before the loud
      // failure
      Thread.sleep(50L * attempts)
      c = counts()
    }
    val bad = c.filter(x => x._2 != x._3)
    if (bad.nonEmpty) {
      // got < want is a genuinely stale snapshot; got > want means an
      // out-of-band writer appended rows this writer never counted —
      // a single-writer-contract violation no amount of refreshing
      // fixes. Both fail loud: proceeding against either state would
      // let the next read-modify-OVERWRITE loop silently delete rows.
      val msg = bad.map { case (n, got, want) =>
        val kind = if (got > want) "out-of-band writer? (got > expected)"
                   else "stale snapshot"
        s"$n $got/$want [$kind]"
      }.mkString(", ")
      throw new IllegalStateException(
        "table(s) failed to become visible after " + attempts +
          " refreshes: " + msg)
    }
  }
}
