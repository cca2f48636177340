package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.sinks.{BronzeSink, ParquetTweetSink}
import graft.sources.TweetSource
import graft.streaming.TweetStream

/** The local file path of a GraftSession forks no process: streaming
  * checkpoint logs go through the FileSystem-based manager (no forked
  * `readlink`) and the `file:` scheme resolves to GraftLocalFileSystem
  * (permissions set in-process, no forked `chmod`), with the same modes
  * Hadoop's own path gives under its default 022 umask. */
class LocalFileSystemSpec extends SparkSpec {
  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def localFs: FileSystem = new HPath("file:///").getFileSystem(hadoopConf)

  private def perms(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** `n` one-tweet-per-line bronze chunks with distinct mtimes. */
  private def writeChunks(bronze: Path, n: Int, tag: String): Unit =
    (0 until n).foreach { k =>
      val f = bronze.resolve(f"stream_20191023_12$k%02d00.json")
      Files.writeString(f, (0 until 20).map(i =>
        s"""{"created_at":"Wed Oct 23 03:15:02 +0000 2019","screen_name":"u$k-$i","text":"$tag chunk $k tweet numero $i","source":"s","location":null,"quoted_screen_name":null,"quoted_text":null,"is_retweet":false,"lang":"es"}"""
      ).mkString("", "\n", "\n"))
      f.toFile.setLastModified(1000000L * (k + 1))
    }

  /** Streams `chunks` bronze chunks into a new sink and writes one more
    * chunk through BronzeSink; returns the run's root dir. */
  private def streamAndWriteChunk(chunks: Int, tag: String): Path = {
    val root = tmpDir(s"fork-$tag")
    val bronze = Files.createDirectory(root.resolve("bronze"))
    writeChunks(bronze, chunks, tag)
    TweetStream.runAvailableNow(spark, bronze.toString,
      new ParquetTweetSink(spark, root.resolve("t.db").toString), keys = None,
      checkpointDir = root.resolve("ckpt").toString)
    BronzeSink.writeChunk(TweetSource.read(spark, bronze.toString).drop("_corrupt_record"),
      root.resolve("raw_data").toString)
    root
  }

  /** Command lines of the processes the JVM started while `body` ran. */
  private def processesStartedDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("process-start", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the file: scheme, FileSystem.getLocal and the checkpoint manager resolve to " +
      "the in-process classes") {
    assert(localFs.getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(hadoopConf).getClass == classOf[GraftLocalFileSystem])
    val ckpt = new HPath(tmpDir("ckpt-manager").toUri)
    assert(CheckpointFileManager.create(ckpt, spark.sessionState.newHadoopConf())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("streaming micro-batches and a bronze chunk write fork no process") {
    // one-off JVM initialisation stays outside: class loading, and the
    // heartbeat's first metrics poll, which forks `getconf PAGESIZE` once
    streamAndWriteChunk(1, "warm")
    org.apache.spark.HeartbeatMetrics.poll(spark.sparkContext)
    val started = processesStartedDuring(streamAndWriteChunk(3, "timed"))
    assert(started.size == 0, s"forked: ${started.take(5).mkString("; ")}")
  }

  test("setPermission sets modes within 0777 exactly, in-process") {
    val dir = tmpDir("perm")
    for ((octal, expected) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x",
        "600" -> "rw-------", "700" -> "rwx------")) {
      val mode = Integer.parseInt(octal, 8)
      val f = dir.resolve(s"f$octal")
      localFs.create(new HPath(f.toUri)).close()
      localFs.setPermission(new HPath(f.toUri), new FsPermission(mode.toShort))
      assert(perms(f) == expected, s"mode $octal")
    }
  }

  test("a mode with the sticky bit takes Hadoop's own path") {
    val d = Files.createDirectory(tmpDir("sticky").resolve("d"))
    val sticky = Integer.parseInt("1755", 8)
    localFs.setPermission(new HPath(d.toUri), new FsPermission(sticky.toShort))
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0xfff) == sticky)
  }

  test("sink part files and checkpoint files are 0644, their dirs and _temporary 0755") {
    val root = streamAndWriteChunk(2, "perm")
    def walk(p: Path): Seq[Path] = scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
    // the part files and their checksums; the sink's own high-water record
    // is written outside Hadoop
    val parts = walk(root.resolve("t.db")).filter(p => Files.isDirectory(p) ||
      p.getFileName.toString.matches("""\.?part-.*"""))
    assert(parts.exists(_.getFileName.toString.endsWith(".parquet")))
    for (p <- parts ++ walk(root.resolve("ckpt"))) {
      val want = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
      assert(perms(p) == want, s"$p")
    }
    // FileOutputCommitter's job attempt dir, as its setupJob makes it
    val temporary = new HPath(root.resolve("t.db").resolve("_temporary").resolve("0").toUri)
    assert(localFs.mkdirs(temporary))
    assert(perms(Paths.get(temporary.toUri)) == "rwxr-xr-x")
    assert(perms(Paths.get(temporary.getParent.toUri)) == "rwxr-xr-x")
  }
}
