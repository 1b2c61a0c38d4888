package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.IngestPipeline

/** Flake hunter for the IngestPipelineSpec cross-batch-dedup case
  * (r11/r12 full-suite flake: phase-2 near-dup pair (1,3) occasionally
  * missing). Replays the exact spec scenario N times in ONE JVM with a
  * fresh db/checkpoint per iteration, and on failure dumps enough state
  * to tell the candidate mechanisms apart:
  *  - doc 3 absent from the corpus table  -> its micro-batch never ran
  *    the non-empty path (trigger race / spurious isEmpty);
  *  - doc 3 present AND a post-hoc re-read finds the pair -> the batch
  *    read a STALE table snapshot (catalog relation/file-listing cache
  *    vs the concurrent insertInto futures);
  *  - doc 3 present and post-hoc read still finds nothing -> signature
  *    or verify logic (would contradict determinism).
  *
  * Run: sbt -batch "Test/runMain graft.tools.IngestStress 200"
  */
object IngestStress {

  private def goodDoc(tail: String): String =
    ("the data pipeline is a set of stages that move and transform " +
      "records from a source to a sink and it is built to keep the " +
      "results of each stage correct and fast for all of the users " +
      "that depend on it every day ") + tail

  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("ingest-stress")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Map(graft.streaming.NioCheckpointFileManager.conf))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // a killed prior run leaves ing_stress_*.db dirs the fresh
    // InMemoryCatalog knows nothing about; CREATE TABLE then fails on
    // LOCATION_ALREADY_EXISTS — sweep them before starting
    val wh = new java.io.File("spark-warehouse")
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("ing_stress_"))
      .foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(d)
      }

    var failures = 0
    (1 to iters).foreach { i =>
      val db = s"ing_stress_$i"
      val events = scala.collection.mutable.ArrayBuffer[(Long, Long, Set[(Long, Long)])]()
      @volatile var phase2 = false
      val phase1Pairs = scala.collection.mutable.Set[(Long, Long)]()
      val allPairs = scala.collection.mutable.Set[(Long, Long)]()
      val dropped = new java.util.concurrent.atomic.AtomicLong(0L)
      val sink = IngestPipeline.trainingIngestSink(spark, db,
          "ing_corpus", "ing_index", "doc_id", "text",
          shingleN = 5, k = 32, bands = 16, threshold = 0.5) {
        (pairs, droppedCt, batchId) =>
          val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
          events.synchronized { events += ((batchId, droppedCt, got)) }
          if (phase2 && got.isEmpty) {
            // LIVE probe inside the failing batch, BEFORE its appends:
            // distinguishes (a) zombie cached-plan substitution (the
            // pairs plan shows InMemoryTableScan), (b) stale catalog
            // file listing (catalog count < direct-parquet count),
            // (c) uncommitted files (both counts low)
            val plan = pairs.queryExecution.executedPlan.toString
            println(s"--- PROBE batch=$batchId empty pairs in phase 2")
            println("  plan has InMemoryTableScan=" +
              plan.contains("InMemoryTableScan"))
            val catCt = spark.table(s"`$db`.`ing_index`").count()
            val dirCt = spark.read.parquet(
              s"spark-warehouse/$db.db/ing_index").count()
            println(s"  index counts: catalog=$catCt directParquet=$dirCt")
            val catCo = spark.table(s"`$db`.`ing_corpus`").count()
            val dirCo = spark.read.parquet(
              s"spark-warehouse/$db.db/ing_corpus").count()
            println(s"  corpus counts: catalog=$catCo directParquet=$dirCo")
            val scanLines = plan.linesIterator
              .filter(l => l.contains("FileScan") || l.contains("InMemoryTableScan"))
              .map(_.trim.take(200)).mkString("\n  ")
            println(s"  scans:\n  $scanLines")
          }
          if (!phase2) phase1Pairs ++= got
          allPairs ++= got
          dropped.addAndGet(droppedCt); ()
      }
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch(sink)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"ingstress$i").toString)
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        input.addData(
          (1L, goodDoc("reach us at ops@example.com for help")),
          (2L, "tiny"))
        q.processAllAvailable()
        phase2 = true
        input.addData(
          (3L, goodDoc("reach us at other.person@elsewhere.org for help")))
        q.processAllAvailable()
      } finally q.stop()

      val ok = dropped.get() == 1L && phase1Pairs.isEmpty &&
        allPairs.toSet == Set((1L, 3L))
      if (!ok) {
        failures += 1
        println(s"=== ITER $i FAILED dropped=${dropped.get()} " +
          s"phase1=$phase1Pairs all=$allPairs")
        println(s"  batch events (batchId, dropped, pairs): " +
          events.synchronized(events.toList).mkString("; "))
        val corpusIds = spark.table(s"`$db`.`ing_corpus`")
          .select("id").as[Long].collect().toSet
        val indexIds = spark.table(s"`$db`.`ing_index`")
          .select("id").as[Long].collect().toSet
        println(s"  corpus ids=$corpusIds index ids=$indexIds")
        // post-hoc replay: does a FRESH read find the pair doc1 vs doc3?
        if (corpusIds.contains(3L)) {
          val corpus = spark.table(s"`$db`.`ing_corpus`")
            .filter($"id" =!= 3L).select($"id".as("doc_id"), $"text")
          val index = spark.table(s"`$db`.`ing_index`").filter($"id" =!= 3L)
          val batch3 = spark.table(s"`$db`.`ing_corpus`")
            .filter($"id" === 3L).select($"id".as("doc_id"), $"text")
          val (pairs, _) = graft.ops.Dedup.minhashLshIncrementalWithIndex(
            batch3, corpus, index, "doc_id", "text", 5, 32, 16, 0.5,
            smallBatch = true)
          val replay = pairs.select("id_a", "id_b").as[(Long, Long)]
            .collect().toSet
          println(s"  post-hoc replay pairs=$replay  " +
            (if (replay.nonEmpty) "-> STALE TABLE READ during the batch"
             else "-> logic/no-repro on fresh read"))
        } else {
          println("  -> doc 3 never reached the corpus: its batch ran the" +
            " empty path or never ran")
        }
      } else if (i % 20 == 0) println(s"iter $i ok")
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    }
    println(s"DONE failures=$failures/$iters")
    spark.stop()
  }
}
