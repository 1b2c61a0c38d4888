package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Structured Streaming's checkpoint file manager with a fork-free write
  * path for local checkpoints: the offset and commit logs, stream
  * metadata and the HDFS-backed state store's delta and snapshot files.
  *
  * Without the native `libhadoop`, Hadoop's local file system runs
  * `chmod` for every create and mkdir and `readlink` for every path a
  * rename touches, each as a child process; at one offset write, one
  * commit and one state-store version per micro-batch, those forks were
  * most of a batch's fixed cost. On a local path this class writes with
  * `java.nio` instead:
  *
  *  - a temp file is opened CREATE_NEW;
  *  - an overwriting rename is `Files.move(ATOMIC_MOVE)`, i.e. rename(2);
  *  - a non-overwriting rename is `Files.createLink` (link(2), atomic and
  *    failing on an existing target) and then deletes the temp file; an
  *    existing target throws Hadoop's [[FileAlreadyExistsException]],
  *    which `HDFSMetadataLog` relies on to detect a concurrent writer;
  *  - `mkdirs` and `createCheckpointDirectory` call
  *    `Files.createDirectories`.
  *
  * Reads, listing, `exists`, `delete` and every non-local path stay on
  * Spark's `FileContextBasedCheckpointFileManager`, as do the
  * `RenameBasedFSDataOutputStream` close/cancel contract and the file
  * layout. A `.crc` file that Hadoop wrote for an older version of a
  * target is removed when the target is replaced, so a read never checks
  * new bytes against an old checksum.
  *
  * [[NioCheckpointFileManager.conf]] selects it for a session.
  */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def nio(p: Path): java.nio.file.Path = Paths.get(fc.makeQualified(p).toUri)

  private def crc(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else new FSDataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(nio(p), StandardOpenOption.CREATE_NEW)), null)

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!isLocal) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (from, to) = (nio(src), nio(dst))
      if (overwriteIfPossible) {
        Files.deleteIfExists(crc(to))
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(to, from)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            val fe = new FileAlreadyExistsException(s"$dst already exists")
            fe.initCause(e)
            throw fe
        }
        Files.deleteIfExists(crc(to))
        Files.delete(from)
      }
    }

  override def mkdirs(p: Path): Unit =
    if (isLocal) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (!isLocal) super.createCheckpointDirectory()
    else {
      val qualified = fc.makeQualified(path)
      Files.createDirectories(nio(qualified))
      qualified
    }
}

object NioCheckpointFileManager {

  /** The session setting that makes Structured Streaming write its
    * checkpoints through this class. */
  val conf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[NioCheckpointFileManager].getName
}
