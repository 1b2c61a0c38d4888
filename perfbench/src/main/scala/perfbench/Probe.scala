package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one timed call at a layer boundary, parented to the span
  * that caused it. Times are epoch milliseconds so Spark's own stage
  * timestamps line up with the benchmark's.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span store of a traced run, written as JSON lines at the end. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0L

  def nowMs: Double = System.currentTimeMillis().toDouble

  def add(parent: Long, name: String, layer: String, startMs: Double, endMs: Double): Long =
    synchronized { next += 1; buf += Span(next, parent, name, layer, startMs, endMs); next }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Self time per layer: each span's duration minus the part of it its
    * children cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - Spans.covered(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))))).sum
    }
  }

  def writeJsonLines(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)}}""")
    } finally w.close()
  }

}

object Spans {
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Task and stage totals per tag, from a SparkListener. The tag is the
  * `perfbench.tag` local property of the job (batch queries) or the
  * streaming query id (micro-batches).
  */
final class Census extends SparkListener {
  final class Totals {
    var stages = 0L; var tasks = 0L; var cpuNs = 0L; var deserMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Double, Double, Int)] // start, end, stage id
  }
  private val totals = new ConcurrentHashMap[String, Totals]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty(Census.TagKey))
      .orElse(Option(pp.getProperty("sql.streaming.queryId")))).getOrElse("untagged")

  private def of(tag: String): Totals = totals.computeIfAbsent(tag, _ => new Totals)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag.put(e.stageInfo.stageId, tagOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val t = of(stageTag.getOrDefault(i.stageId, "untagged"))
    t.synchronized {
      t.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime)
        t.stageSpans += ((s.toDouble, c.toDouble, i.stageId))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(stageTag.getOrDefault(e.stageId, "untagged"))
    Option(e.taskMetrics).foreach { m =>
      t.synchronized {
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.deserMs += m.executorDeserializeTime
        t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Take (and forget) the totals of `tag`, after every event is delivered. */
  def take(sc: SparkContext, tag: String): Totals = {
    org.apache.spark.graft.ShuffleDrain.flushListeners(sc)
    Option(totals.remove(tag)).getOrElse(new Totals)
  }
}

object Census {
  val TagKey = "perfbench.tag"
}

/** JVM-wide counters: CPU, collector and JIT time, heap after a full GC. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** CPU time of every thread of the process, in seconds. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Used heap after forced full collections, in MB. */
  def heapRetainedMb: Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
