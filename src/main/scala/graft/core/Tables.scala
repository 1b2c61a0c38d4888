package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import graft.streaming.NioCheckpointFileManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Central table loader for the driver-generated parquet fixtures.
  *
  * Every query receives `(spark, sfDir)`; all reads go through here so
  * that column pruning / predicate pushdown stay visible in one place and
  * so a future move to a real catalog (Hive metastore, Delta) is a
  * one-file change. Mirrors the reference's layer of source utilities
  * (rt-flink KafkaUtil.scala:18-23 / MySQLUtil.scala:14-61) as a single
  * batch-parquet catalog.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Generator versions differ on timestamp columns: some write parquet
    // TIMESTAMP(NANOS) (which Spark reads as a long under `nanosAsLong`),
    // newer ones write TIMESTAMP(MICROS) with isAdjustedToUTC=false,
    // which Spark 4 infers as TIMESTAMP_NTZ. Normalize BOTH flavors to
    // the session-local TimestampType every query was written against —
    // strict-LTZ functions (`unix_millis`) reject NTZ, and a regenerated
    // fixture must never change query semantics. Under the UTC session
    // timezone the NTZ→LTZ cast is value-identical, matching how the
    // DuckDB oracle reads the same naive parquet values.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$sfDir/$name.parquet")
    val fixed = df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.LongType if name == "events" && f.name == "ts" =>
          d.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, d(f.name).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }
    fixed
  }

  /** The schema each table path was last inferred with, keyed by the
    * path's file listing and the session's parquet settings. */
  private val schemas =
    new ConcurrentHashMap[String, (Seq[(String, Long, Long)], Map[String, String], StructType)]()

  /** `spark.read.parquet(path)` without its schema-inference job when
    * the path's files (name, length, modification time) and the parquet
    * settings are the same as at the last inference: a rewrite of the
    * table changes its listing, so it is never read with a stale schema. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path) // Spark's own not-found error
    else {
      val files = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val settings = spark.conf.getAll.filter(_._1.contains("parquet"))
      schemas.get(path) match {
        case (`files`, `settings`, schema) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(path, (files.toSeq, settings, df.schema))
          df
      }
    }
  }

  /** Register every table as a temp view so `spark.sql` queries match the
    * DuckDB oracle's table names 1:1.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

/** SparkSession factory with the scale-aware defaults used across the
  * engine. `local(cores)` runs `local[cores]`: Bench, Verify and
  * PlanDump pass `SPARK_GRAFT_CPUS` (default 4), and the test suites
  * build their own `local[4]` session with the same streaming checkpoint
  * manager. On a real cluster the same code runs unchanged — AQE handles
  * partition coalescing and skew joins.
  */
object GraftSession {

  /** SIZE-derived initial shuffle width (r21, guide §2.2 "fewer, larger
    * partitions"; the r20 verdict's next-#1): partitions =
    * ceil(input bytes / target-bytes-per-partition), NOT the core count.
    *
    * Why: a shuffle width pinned to `defaultParallelism` makes every
    * tiny exchange in a composed pipeline pay `cores` tasks of fixed
    * per-task cost (~0.25 s of fresh-plan interpreted execution each,
    * the r20 measured number) regardless of how few bytes move. The
    * driver's own 8-core run proved it: q145/q191/q196/q198/q57 all ran
    * FASTER on 8 cores than 32 because each stage carried a quarter of
    * the tasks. Deriving the width from the data gives small inputs
    * narrow plans and large inputs wide ones — the same rule, measured
    * here (sf0.1, 17.5 MB input → 5 partitions), converges to
    * full-cluster width at production scale (bytes/target ≫ cores long
    * before 100 TB; the cap below is the operator's dial).
    *
    * Parameterised, local defaults: `SPARK_GRAFT_SHUFFLE_TARGET_MB`
    * (default 4 — measured optimum at sf0.1 against 2/8/32-partition
    * A/Bs, see OPTIMIZATION_r21.md) and `SPARK_GRAFT_SHUFFLE_MAX`
    * (default 10000) — a production deployment sets the target to the
    * guide's 128 MB–1 GB band and the cap to its cluster's task budget.
    * AQE coalescing stays on top of this INITIAL width, so skew/byte
    * imbalance is still handled at runtime. Callers that know no data
    * directory (unit tests, ad-hoc sessions) keep the old
    * width = cores behavior; a directory whose size cannot be measured
    * falls back to width = cores too, with one stderr line saying why.
    */
  def shufflePartitionsFor(sfDir: String, cores: Int): Int = {
    val targetBytes =
      positiveEnv("SPARK_GRAFT_SHUFFLE_TARGET_MB", 4L) * 1024L * 1024L
    val cap = positiveEnv("SPARK_GRAFT_SHUFFLE_MAX", 10000L)
    inputBytes(sfDir) match {
      case Right(bytes) =>
        math.min(cap, math.max(1L, (bytes + targetBytes - 1L) / targetBytes)).toInt
      case Left(reason) =>
        System.err.println(
          s"[graft] shuffle width falls back to cores=$cores: $sfDir $reason")
        cores
    }
  }

  private def positiveEnv(name: String, default: Long): Long =
    sys.env.get(name).fold(default) { v =>
      v.trim.toLongOption.filter(_ > 0L).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'"))
    }

  /** Total file bytes under a local dir or `file:` URI, following
    * symlinks and skipping link cycles; Left(reason) when there is
    * nothing to measure. Unreadable subtrees count as zero bytes.
    */
  private[core] def inputBytes(sfDir: String): Either[String, Long] = {
    import java.nio.file._
    import java.nio.file.attribute.BasicFileAttributes
    val scheme = "^([A-Za-z][A-Za-z0-9+.-]*):/".r
      .findFirstMatchIn(sfDir).map(_.group(1).toLowerCase)
    if (scheme.exists(_ != "file"))
      return Left(s"is a '${scheme.get}' URI; only local paths are measured")
    try {
      val root =
        if (scheme.isDefined) Paths.get(new java.net.URI(sfDir))
        else Paths.get(sfDir)
      if (!Files.exists(root)) return Left("does not exist")
      var bytes = 0L
      var failure: Option[String] = None
      def skip(e: java.io.IOException): FileVisitResult = {
        if (e != null && !e.isInstanceOf[FileSystemLoopException] &&
            failure.isEmpty) failure = Some(s"is unreadable ($e)")
        FileVisitResult.CONTINUE
      }
      Files.walkFileTree(root,
        java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS), Int.MaxValue,
        new SimpleFileVisitor[Path] {
          override def visitFile(f: Path, a: BasicFileAttributes) = {
            // a dangling link reports its own attributes: zero bytes
            if (!a.isSymbolicLink) bytes += a.size
            FileVisitResult.CONTINUE
          }
          override def visitFileFailed(f: Path, e: java.io.IOException) =
            skip(e)
          override def postVisitDirectory(d: Path, e: java.io.IOException) =
            skip(e)
        })
      if (bytes > 0L) Right(bytes) else Left(failure.getOrElse("holds no bytes"))
    } catch { case scala.util.control.NonFatal(e) => Left(s"is unreadable ($e)") }
  }

  def local(cores: Int, sfDir: Option[String]): SparkSession = {
    val shuffleParts =
      sfDir.map(shufflePartitionsFor(_, cores)).getOrElse(cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Status-store retention caps (r15 bench-instrument fix): even
      // with the UI off, AppStatusListener + SQLAppStatusListener
      // retain per-job/stage/task rows and per-execution PLAN GRAPHS
      // in driver heap — defaults keep 1000 jobs/stages, 100k tasks
      // and 1000 SQL executions. A 160-query × 3-rep bench in ONE
      // session accumulates thousands of executions whose retained
      // plan strings/metrics grow the old gen until GC pressure
      // contaminates later queries' timed windows (r14: q145 90.6 s
      // in-suite vs 13.3 s isolated on identical code). Nothing in
      // this repo reads the status APIs; cap them near zero. Same
      // knobs, same reason, on a real cluster driver.
      // Codegen class cache (r15): the default 100 entries is smaller
      // than ONE big pipeline's stage count (q145 generates 107
      // whole-stage classes), so every re-build of an identical plan
      // Janino-recompiles and re-JITs fresh classes — the class churn
      // behind the code-cache/deopt storms that inflated in-suite
      // medians (see build.sbt ReservedCodeCacheSize). At 10k entries
      // identical generated source reuses the SAME loaded class:
      // no recompile, no re-JIT, call sites stay monomorphic. Static
      // conf — must be set at session build.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.retainedDeadExecutors", "0")
      .config("spark.sql.ui.retainedExecutions", "5")
      // streaming checkpoints on local paths are written without forking
      .config(Map(NioCheckpointFileManager.conf))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
