package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions.{lit, raise_error}

import graft.sinks.BronzeSink

/** S2's chunk writer releases what it opens: no directory handle outlives
  * a `writeChunk`, and a failed write leaves no `.chunk_` temp dir in the
  * bronze dir. */
class BronzeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def bronzeDir(): Path = {
    val p = Files.createTempDirectory("bronze-sink")
    p.toFile.deleteOnExit()
    p.resolve("raw_data")
  }

  private def openFds(): Long = Using.resource(Files.list(Paths.get("/proc/self/fd")))(_.count())

  private def entries(dir: Path): Seq[String] =
    Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toList)

  private def raw = Seq("""{"text":"hola"}""").toDF("value")

  /** A distinct name per call: writeChunk's names are per-second stamps. */
  private def stamps = Iterator.from(0).map(i =>
    java.time.LocalDateTime.of(2019, 10, 23, 3, 15, 0).plusSeconds(i.toLong))

  test("20 chunk writes leave no file handle open") {
    val dir = bronzeDir()
    val at = stamps
    BronzeSink.writeChunk(raw, dir.toString, () => at.next()) // one-off opens stay outside
    val before = openFds()
    (1 to 20).foreach(_ => BronzeSink.writeChunk(raw, dir.toString, () => at.next()))
    val grown = openFds() - before
    assert(grown <= 5, s"$grown more open file descriptors after 20 writes")
    assert(entries(dir).size == 21)
  }

  test("a failed chunk write leaves no temp dir behind") {
    val dir = bronzeDir()
    val failing = raw.withColumn("boom", raise_error(lit("chunk write fails")))
    intercept[Exception](BronzeSink.writeChunk(failing, dir.toString))
    assert(!entries(dir).exists(_.startsWith(".chunk_")), entries(dir).toString)
  }
}
