package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.Tables

/** A Spark `CheckpointFileManager` for `file:` paths, built on java.nio.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` shells out for
  * permissions and links: every checkpoint file's create starts a `chmod`
  * process, every mkdirs another, and the rename that publishes it a
  * `readlink`. That is ~450 process starts in one stream-stream join run,
  * each costing milliseconds in a large JVM, against microseconds for the
  * same operation through java.nio. This manager writes the offset and
  * commit logs, state-store deltas with their checksum sidecars, and the
  * schema and operator-metadata files with plain file writes. It keeps
  * Spark's layout: `createAtomic` writes `.<name>.<uuid>.tmp` beside the
  * target, the name Spark's own rename-based stream uses, and publishes
  * it on close by an `ATOMIC_MOVE`, or, when the caller must not
  * clobber, by a hard link that fails on an existing target with
  * Hadoop's `FileAlreadyExistsException` (the type `HDFSMetadataLog`
  * catches to detect a second writer), leaving that target untouched and
  * removing the temp file. `cancel` deletes the temp file and publishes
  * nothing. `open` and `list` go through `RawLocalFileSystem`, which
  * starts no process for either.
  *
  * Local paths only: the constructor refuses any other scheme, because an
  * atomic rename or link is a property of the local file system here, and
  * every checkpoint the engine writes is a local scratch directory
  * (`Streams.freshCheckpoint`, `<stateRoot>/ckpt`). Spark builds one per
  * checkpoint path from `spark.sql.streaming.checkpointFileManagerClass`;
  * the engine pins it for its own runs through
  * [[LocalCheckpointFileManager.runAvailableNow]].
  */
private[graft] class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  require(
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file",
    s"LocalCheckpointFileManager takes file: paths only, got $path")

  private val raw = FileSystem.getLocal(conf).getRaw

  private def local(p: Path): java.nio.file.Path =
    Paths.get(raw.makeQualified(p).toUri)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    val temp = target.resolveSibling(
      s".${target.getFileName}.${UUID.randomUUID}.tmp")
    // Hadoop's creates make missing parents; callers may rely on it
    Files.createDirectories(target.getParent)
    new CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW))) {
      private var done = false

      override def close(): Unit = synchronized {
        if (!done) {
          done = true
          super.close()
          publish(temp, target, overwriteIfPossible)
        }
      }

      override def cancel(): Unit = synchronized {
        if (!done) {
          done = true
          try super.close()
          catch { case NonFatal(_) => () } // the bytes are discarded
          finally Files.deleteIfExists(temp)
        }
      }
    }
  }

  /** Move a closed temp file onto its target, atomically either way. */
  private def publish(temp: java.nio.file.Path, target: java.nio.file.Path,
      overwrite: Boolean): Unit =
    if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
    else
      try Files.createLink(target, temp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target already exists")
      } finally Files.deleteIfExists(temp)

  override def open(p: Path): FSDataInputStream = raw.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    raw.listStatus(p, filter)

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  override def delete(p: Path): Unit = Tables.rmTree(local(p).toFile)

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val qualified = raw.makeQualified(path)
    mkdirs(qualified)
    qualified
  }
}

private[graft] object LocalCheckpointFileManager {

  /** Start `w` as a `Trigger.AvailableNow` query and wait for it to end,
    * with [[LocalCheckpointFileManager]] and `confs` set on the session
    * for the run; each key gets its previous value back afterwards, or is
    * unset if it had none. Every AvailableNow run the engine starts goes
    * through here (`Streams.materialize`, `stream_foreachbatch_upsert`,
    * `PostingsIngest.run`), so their checkpoint I/O starts no process.
    * The pins hold until the query has terminated. */
  def runAvailableNow(s: SparkSession, w: DataStreamWriter[_],
      confs: (String, String)*): Unit = {
    val pins = ("spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName) +: confs
    val prev = pins.map { case (k, _) => k -> s.conf.getOption(k) }
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    try w.trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
