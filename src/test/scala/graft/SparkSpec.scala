package graft

import scala.jdk.CollectionConverters._

import graft.streaming.NioCheckpointFileManager
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suites: small core count and
  * shuffle partitions (test data is tiny; 32 partitions would just add
  * scheduling overhead), UTC to match the oracle contract, and the
  * streaming checkpoint manager that `GraftSession.local` sets.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def beforeAll(): Unit = {
    // cascade-breaker (r12 deflake): a streaming query leaked by an
    // EARLIER suite (e.g. an assert fired between processAllAvailable
    // and q.stop) would keep its ProcessingTime(0) trigger loop running
    // concurrently with THIS suite on the shared session — the one
    // source of cross-suite concurrency in the otherwise-sequential
    // forked test JVM. Stop them before any test runs.
    spark.streams.active.foreach { q =>
      System.err.println(s"[SparkSpec] stopping leaked streaming query ${q.name}")
      q.stop()
    }
  }

  override def afterAll(): Unit = { /* shared session: leave running */ }

  /** Jobs submitted by `body` on this thread. A fence job in a second
    * job group follows it; the listener bus delivers in order, so once
    * the fence is seen every job of `body` has been counted. */
  protected def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spec-body", "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("spec-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("spec-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("spec-fence"), "listener never saw the fence job")
    } finally sc.removeSparkListener(listener)
    groups.asScala.count(_ == "spec-body")
  }
}

object SparkSpec {
  // Rebuilt on demand if a suite (HiveCatalogSpec) stopped the shared
  // context to test cross-session catalog persistence. Suites run
  // sequentially in the forked test JVM, so no synchronization races.
  private var current: SparkSession = _

  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the engine's checkpoint manager, as GraftSession.local sets it
      .config(Map(NioCheckpointFileManager.conf))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
