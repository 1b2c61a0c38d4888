package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.SparkSpec

/** Fixture-drift guard for the central table loader.
  *
  * The driver regenerates /root/testdata between rounds, and the
  * generator has shipped `events.ts` both as parquet TIMESTAMP(NANOS)
  * (which Spark reads as a long under `nanosAsLong`) and as
  * TIMESTAMP(MICROS) (Spark-native). Round 10's loader assumed the nanos
  * flavor unconditionally and the micros regeneration broke every
  * events-table query at the driver's gate. These tests pin the contract:
  * `Tables.load` yields a proper TimestampType `ts` from EITHER flavor.
  */
class TablesSpec extends SparkSpec {

  private def writeAndLoad(writeTs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("tables-spec").toFile
    dir.deleteOnExit()
    writeTs.write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    Tables.load(spark, dir.getAbsolutePath, "events")
  }

  test("events.ts as native micros timestamp passes through unchanged") {
    import spark.implicits._
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), 7L))
      .toDF("event_id", "ts", "user_id")
    val loaded = writeAndLoad(df)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(date_format($"ts", "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(got == "2024-03-01 12:00:00")
  }

  test("events.ts as TIMESTAMP_NTZ (isAdjustedToUTC=false, the r10+ fixture flavor) normalizes to LTZ") {
    import spark.implicits._
    val df = Seq((1L, "2024-03-01 12:00:00", 7L)).toDF("event_id", "ts", "user_id")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    val loaded = writeAndLoad(df)
    assert(loaded.schema("ts").dataType == TimestampType)
    // strict-LTZ functions must accept it (q45's unix_millis was the r10 casualty)
    val millis = loaded.select(expr("unix_millis(ts)")).as[Long].head()
    assert(millis == 1709294400000L)
  }

  test("events.ts as long nanos (the nanosAsLong read shape) converts to micros") {
    import spark.implicits._
    // 2024-03-01 12:00:00 UTC in nanoseconds since epoch — exactly what a
    // TIMESTAMP(NANOS) column reads as under the nanosAsLong flag.
    val nanos = 1709294400L * 1000000000L
    val df = Seq((1L, nanos, 7L)).toDF("event_id", "ts", "user_id")
    assert(df.schema("ts").dataType == LongType)
    val loaded = writeAndLoad(df)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(date_format($"ts", "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(got == "2024-03-01 12:00:00")
  }

  test("driver fixture column names match the contract every query is written against") {
    // drift alarm: the generator regenerates /root/testdata between
    // rounds — a renamed/added/dropped column should fail HERE, loudly,
    // not as dozens of AnalysisExceptions at the driver's gate
    val expected = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    for ((t, cols) <- expected) {
      val got = Tables.load(spark, "/root/testdata/sf0.001", t).schema.fieldNames.toSeq
      assert(got == cols, s"fixture drift in table $t: got $got, queries expect $cols")
    }
  }

  private def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  test("a second load of an unchanged table submits no job") {
    import spark.implicits._
    val dir = tempDir("tables-memo")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(jobsIn(Tables.load(spark, dir, "documents")) >= 1) // the inference job
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { again = Tables.load(spark, dir, "documents") } === 0)
    assert(again.as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("a table rewritten at the same path loads with its new schema") {
    import spark.implicits._
    val dir = tempDir("tables-rewrite")
    val path = s"$dir/documents.parquet"
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(path)
    assert(Tables.load(spark, dir, "documents").columns.toSeq === Seq("doc_id", "text"))
    Seq((2L, "en", 7)).toDF("doc_id", "lang", "n_chars").write.mode("overwrite").parquet(path)
    val reloaded = Tables.load(spark, dir, "documents")
    assert(reloaded.columns.toSeq === Seq("doc_id", "lang", "n_chars"))
    assert(reloaded.as[(Long, String, Int)].collect().toSeq === Seq((2L, "en", 7)))
  }

  test("a gate twin's read submits no job") {
    import spark.implicits._
    val dir = tempDir("tables-twin")
    val built = graft.SparkEntry.twinArtifact(spark, dir, "tables-spec")(
      Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"))
    assert(built.count() === 2L)
    var twin: org.apache.spark.sql.DataFrame = null
    assert(jobsIn {
      twin = graft.SparkEntry.twinArtifact(spark, dir, "tables-spec")(
        sys.error("a memoized twin is never rebuilt"))
    } === 0)
    assert(twin.as[(Long, Long)].collect().toSet === Set((1L, 2L), (3L, 4L)))
  }

  test("a memoized artifact of every kind reads back without a job") {
    import graft.queries.Artifacts._
    val dir = "/root/testdata/sf0.001"
    val reads: Seq[(String, () => Any)] = Seq(
      "minhash index" -> (() => store(minhashIndex, spark, dir)),
      "dedup-report labels" -> (() => store(dedupLabels, spark, dir).labels),
      "LR model" -> (() => store(lrModel, spark, dir).w),
      "PQ centroids, codebooks and index" -> (() => pq(spark, dir)),
      "PageRank twin" -> (() => store(prCold, spark, dir).scores))
    reads.foreach { case (_, read) => read() } // builds what is not built yet
    for ((kind, read) <- reads)
      assert(jobsIn(read()) === 0, s"a read of the $kind ran a job")
    val model = store(lrModel, spark, dir)
    assert(model.w.count() > 0L)
    val pr = store(prCold, spark, dir)
    assert(pr.converged && pr.rounds > 0 && pr.scores.count() > 0L)
  }

  // the size-derived shuffle width (default 4 MB per partition)
  private val MB = 1024 * 1024
  private def withDir(sizes: Int*)(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("width-probe")
    try {
      sizes.zipWithIndex.foreach { case (n, i) =>
        // sparse: the probe reads sizes, so no bytes need hit the disk
        val f = new java.io.RandomAccessFile(dir.resolve(s"part-$i.bin").toFile, "rw")
        try f.setLength(n.toLong) finally f.close()
      }
      body(dir)
    } finally {
      // Files.walk does not follow links, so a cycle deletes as a plain link
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("shuffle width is ceil(input bytes / 4 MB) over the dir's files") {
    withDir(6 * MB, 3 * MB + 1) { dir =>
      assert(GraftSession.shufflePartitionsFor(dir.toString, 7) === 3)
      assert(GraftSession.shufflePartitionsFor(dir.toUri.toString, 7) === 3)
    }
  }

  test("shuffle width walk terminates on a symlink cycle with the same width") {
    withDir(6 * MB, 3 * MB + 1) { dir =>
      Files.createDirectory(dir.resolve("sub"))
      Files.createSymbolicLink(dir.resolve("sub").resolve("loop"), dir)
      assert(GraftSession.inputBytes(dir.toString) === Right(9L * MB + 1))
      assert(GraftSession.shufflePartitionsFor(dir.toString, 7) === 3)
    }
  }

  test("shuffle width falls back to cores for a missing, empty or non-local dir") {
    withDir() { dir =>
      assert(GraftSession.shufflePartitionsFor(dir.resolve("absent").toString, 7) === 7)
      assert(GraftSession.shufflePartitionsFor(dir.toString, 7) === 7)
    }
    assert(GraftSession.shufflePartitionsFor("hdfs://nn:8020/sf0.1", 7) === 7)
    assert(GraftSession.inputBytes("hdfs://nn:8020/sf0.1").isLeft)
  }

  test("the driver fixture itself loads with a TimestampType ts in a sane range") {
    val loaded = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    val years = loaded.select(min(year(col("ts"))), max(year(col("ts")))).head()
    assert(years.getInt(0) >= 2000 && years.getInt(1) <= 2100,
      s"events.ts out of sane range: $years — fixture schema drifted?")
  }
}
