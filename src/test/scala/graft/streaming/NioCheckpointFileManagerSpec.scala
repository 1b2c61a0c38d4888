package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The contract `HDFSMetadataLog` and the state store rely on, checked
  * on a temp dir: atomic create with and without overwrite, cancel,
  * list/open round trips, idempotent directory creation, and no process
  * started for any of it.
  */
class NioCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("nio-ckpt")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def manager(dir: JPath) =
    new NioCheckpointFileManager(new Path(dir.toString), conf)

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("createAtomic without overwrite fails on an existing file and keeps its bytes") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toString, "0")
      write(fm, p, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
      assert(read(fm, p) === "old")
    }
  }

  test("createAtomic with overwrite replaces the file") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toString, "1.delta")
      write(fm, p, "v1", overwrite = true)
      write(fm, p, "v2", overwrite = true)
      assert(read(fm, p) === "v2")
      assert(names(dir) === Set("1.delta"))
    }
  }

  test("cancel leaves neither the target nor a temp file") {
    withDir { dir =>
      val fm = manager(dir)
      Seq(false, true).foreach { overwrite =>
        val out = fm.createAtomic(new Path(dir.toString, "2"), overwrite)
        out.write("partial".getBytes(UTF_8))
        out.cancel()
      }
      assert(names(dir).isEmpty)
    }
  }

  test("written files come back through list and open") {
    withDir { dir =>
      val fm = manager(dir)
      (0 until 3).foreach(i => write(fm, new Path(dir.toString, s"$i"), s"batch $i", i % 2 == 0))
      val listed = fm.list(new Path(dir.toString)).map(_.getPath.getName).toSet
      assert(listed === Set("0", "1", "2"))
      (0 until 3).foreach(i => assert(read(fm, new Path(dir.toString, s"$i")) === s"batch $i"))
    }
  }

  test("mkdirs and createCheckpointDirectory are idempotent") {
    withDir { dir =>
      val root = dir.resolve("ckpt")
      val fm = new NioCheckpointFileManager(new Path(root.toString), conf)
      val first = fm.createCheckpointDirectory()
      assert(fm.createCheckpointDirectory() === first)
      assert(first.toUri.getScheme === "file")
      val state = new Path(root.toString, "state/0/3")
      fm.mkdirs(state)
      fm.mkdirs(state)
      assert(Files.isDirectory(root.resolve("state/0/3")))
      assert(fm.exists(state))
    }
  }

  test("a file: URI and a bare path both count as local") {
    withDir { dir =>
      assert(new NioCheckpointFileManager(new Path(dir.toUri.toString), conf).isLocal)
      assert(new NioCheckpointFileManager(new Path(dir.toString), conf).isLocal)
      val p = new Path(dir.toUri.toString + "/3")
      write(new NioCheckpointFileManager(p.getParent, conf), p, "uri", overwrite = false)
      assert(read(manager(dir), new Path(dir.toString, "3")) === "uri")
    }
  }

  test("replacing a file Spark's manager wrote drops its stale checksum") {
    withDir { dir =>
      val default = new FileContextBasedCheckpointFileManager(new Path(dir.toString), conf)
      val fm = manager(dir)
      val delta = new Path(dir.toString, "4.delta")
      write(default, delta, "written by Spark", overwrite = true)
      write(fm, delta, "rewritten", overwrite = true)
      assert(read(fm, delta) === "rewritten")
      assert(read(default, delta) === "rewritten")
      // a checksum left behind by a deleted file does not outlive a new one
      val offset = new Path(dir.toString, "5")
      write(default, offset, "first", overwrite = false)
      Files.delete(dir.resolve("5"))
      write(fm, offset, "second", overwrite = false)
      assert(read(default, offset) === "second")
      assert(names(dir) === Set("4.delta", "5"))
    }
  }

  test("local checkpoint writes start no process") {
    withDir { dir =>
      val started = ProcessStarts.during {
        new ProcessBuilder("true").start().waitFor() // the recording sees forks
        val root = dir.resolve("ckpt")
        val fm = new NioCheckpointFileManager(new Path(root.toString), conf)
        fm.createCheckpointDirectory()
        fm.mkdirs(new Path(root.toString, "offsets"))
        write(fm, new Path(root.toString, "offsets/0"), "v1", overwrite = false)
        write(fm, new Path(root.toString, "state.delta"), "s", overwrite = true)
        write(fm, new Path(root.toString, "state.delta"), "t", overwrite = true)
        val out = fm.createAtomic(new Path(root.toString, "offsets/1"), false)
        out.cancel()
      }
      assert(started.exists(_.startsWith("true")), started)
      assert(!started.exists(_.contains(dir.toString)), started)
    }
  }
}

/** Command lines of the processes this JVM starts while `body` runs, read
  * from a JFR recording of `jdk.ProcessStart` events. */
object ProcessStarts {
  def during(body: => Unit): Seq[String] = {
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      recording.start()
      try body finally recording.stop()
      recording.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally {
      recording.close()
      Files.deleteIfExists(dump)
    }
  }
}
