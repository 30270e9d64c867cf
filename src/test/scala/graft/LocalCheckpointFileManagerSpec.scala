package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import graft.streaming.LocalCheckpointFileManager

/** The checkpoint file manager every engine AvailableNow run uses: the
  * contract Spark's callers rely on (atomic publish, no clobber, cancel),
  * recovery from a checkpoint it wrote, and no process start from
  * checkpoint I/O in the engine's stream runs.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private val root = Paths.get(s"${Tables.scratchRoot}/lcfm_spec")

  private def fresh(name: String): (LocalCheckpointFileManager, Path) = {
    val dir = root.resolve(name)
    Tables.rmTree(dir.toFile)
    Files.createDirectories(dir)
    val p = new Path(dir.toUri)
    (new LocalCheckpointFileManager(p, new Configuration()), p)
  }

  private def names(dir: Path): Set[String] =
    Paths.get(dir.toUri).toFile.list().toSet

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: Path): String =
    Files.readString(Paths.get(p.toUri))

  test("createAtomic publishes on close, never clobbers unless asked, and" +
      " cancel leaves nothing") {
    val (fm, dir) = fresh("atomic")
    val f = new Path(dir, "0")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("first".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(f), "visible before close")
    val temp = names(dir).toSeq
    assert(temp.size == 1 && temp.head.startsWith(".0.") &&
      temp.head.endsWith(".tmp"), s"temp file $temp")
    out.close()
    assert(names(dir) == Set("0") && read(f) == "first")

    val e = intercept[FileAlreadyExistsException] {
      write(fm, f, "second", overwrite = false)
    }
    assert(e.getMessage.contains("0"))
    assert(names(dir) == Set("0") && read(f) == "first",
      "no-clobber write changed the target or left a temp file")

    write(fm, f, "third", overwrite = true)
    assert(names(dir) == Set("0") && read(f) == "third")

    val c = fm.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    c.write("never".getBytes(UTF_8))
    c.cancel()
    c.close() // a cancelled stream publishes nothing on close either
    assert(names(dir) == Set("0"))
  }

  test("list, open, exists, mkdirs and recursive delete; other schemes" +
      " refused") {
    val (fm, dir) = fresh("ops")
    val sub = new Path(dir, "state/0/1")
    fm.mkdirs(sub)
    for (n <- Seq("1.delta", "2.delta", "2.snapshot"))
      write(fm, new Path(sub, n), n, overwrite = false)
    assert(fm.list(sub, _.getName.endsWith(".delta")).map(_.getPath.getName)
      .toSet == Set("1.delta", "2.delta"))
    assert(fm.list(sub).length == 3)
    assert(fm.open(new Path(sub, "2.snapshot")).readAllBytes().toSeq ==
      "2.snapshot".getBytes(UTF_8).toSeq)
    assert(fm.exists(sub) && !fm.exists(new Path(sub, "3.delta")))
    // like Hadoop's creates, createAtomic makes missing parents
    val nested = new Path(dir, "state/1/0/1.delta")
    write(fm, nested, "nested", overwrite = false)
    assert(read(nested) == "nested")
    fm.delete(new Path(dir, "state"))
    assert(!fm.exists(new Path(dir, "state")) && names(dir).isEmpty)
    fm.delete(new Path(dir, "missing")) // deleting a missing path is fine
    assert(fm.isLocal)
    assert(fm.createCheckpointDirectory().toUri.getScheme == "file")

    val conf = new Configuration()
    for (p <- Seq("s3a://bucket/ckpt", "hdfs://namenode:8020/ckpt"))
      intercept[IllegalArgumentException] {
        new LocalCheckpointFileManager(new Path(p), conf)
      }
    // a scheme-less path takes the default file system's scheme
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    intercept[IllegalArgumentException] {
      new LocalCheckpointFileManager(new Path("/ckpt"), conf)
    }
  }

  test("checkpointed restart recovers from a checkpoint this manager wrote") {
    val ckpt = StreamsSpec.restartScenario(spark, "restart_resume_local") {
      w => LocalCheckpointFileManager.runAvailableNow(spark, w)
    }
    // Hadoop's checksummed local file system writes a `.<name>.crc`
    // beside every file it creates; this manager writes none, so their
    // absence shows the pinned manager wrote the checkpoint
    val files = Files.walk(ckpt).iterator().asScala.toSeq
      .map(_.getFileName.toString)
    assert(files.exists(_ == "1"), s"no second offset/commit in $files")
    assert(!files.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"Hadoop checksum files in a pinned checkpoint: $files")
    assert(!spark.conf.getOption(
      "spark.sql.streaming.checkpointFileManagerClass").isDefined,
      "the pin outlived the run")
  }

  test("engine stream runs start no process from checkpoint I/O") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val dump = Files.createTempFile("process-start", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      // one known start, so an empty recording cannot pass vacuously
      new ProcessBuilder("true").start().waitFor()
      for (q <- Seq("stream_stream_join", "stream_foreachbatch_upsert"))
        SparkEntry.queries(q)(spark, sf).collect()
      rec.stop()
      rec.dump(dump)
      val events = RecordingFile.readAllEvents(dump).asScala.toSeq
      def types(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(_.getMethod.getType.getName)
      // Spark's managers and their inner streams, and this engine's
      def isManager(t: String): Boolean =
        t.split('.').last.takeWhile(_ != '$')
          .endsWith("CheckpointFileManager")
      assert(events.exists(_.getString("command") == "true"),
        s"the recording missed the known process start: ${events.size}")
      val viaCkpt = events.filter(types(_).exists(isManager))
      assert(viaCkpt.size == 0, "process starts from checkpoint I/O;" +
        viaCkpt.headOption.fold("")(e =>
          s" first: ${e.getString("command")} via ${types(e).take(12)}"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
