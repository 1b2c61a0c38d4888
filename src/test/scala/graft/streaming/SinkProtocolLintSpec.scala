package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The single-writer table protocol has one home: only `TableSync.scala`
  * may checkpoint per batch, drop cache entries or keep expected row
  * counts. A sink that hand-copies any of it again fails here. The one
  * allowed exception is `LrIngest.retrain`'s model pin, a point-in-time
  * artifact its caller owns rather than per-batch state.
  */
class SinkProtocolLintSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/streaming")

  private val forbidden = Seq(
    "\\.localCheckpoint\\(".r, "uncacheReferencing".r,
    "var expected".r, "def awaitVisible".r)

  private val allowed = Set(
    ("LrIngest.scala", "m.copy(w = m.w.localCheckpoint(true))"))

  /** Code lines of a Scala file: line comments stripped, scaladoc and
    * block-comment lines dropped. */
  private def codeLines(text: String): Seq[String] =
    text.split("\n").toSeq.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*"))
      .map(l => l.replaceAll("//.*$", "").trim)

  test("no sink outside TableSync checkpoints, uncaches or counts on its own") {
    val files = Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "TableSync.scala")
    assert(files.size > 10, s"expected the streaming sources under $dir")
    val hits = for {
      f <- files
      name = f.getFileName.toString
      line <- codeLines(new String(Files.readAllBytes(f), "UTF-8"))
      if forbidden.exists(_.findFirstIn(line).isDefined)
      if !allowed.contains((name, line))
    } yield s"$name: $line"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
