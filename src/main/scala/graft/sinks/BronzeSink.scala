package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.slf4j.LoggerFactory

/** S2 — the raw-data (bronze) zone file sink: one timestamp-named NDJSON
  * file per ingested chunk, directory created on demand. Mirrors the
  * reference's `get_tweets` file layout (/root/reference/main.R:50-58:
  * `raw_data/stream_YYYYMMDD_HHMMSS.json`), which the streaming source
  * ([[graft.sources.TweetSource.readStream]]) then treats as a replayable
  * micro-batch per file.
  *
  * Scale shape: a chunk is written by the executors (`coalesce(1)` text
  * write — one file per chunk is the layout contract, so one writer task
  * per chunk by design) and atomically moved to its final name; raw
  * payloads are kept verbatim and forever — the replayable source of
  * truth, exactly the reference's bronze discipline.
  */
object BronzeSink {
  private val log = LoggerFactory.getLogger(getClass)

  private val stampFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")

  /** `stream_YYYYMMDD_HHMMSS.json` (main.R:55-58). */
  def chunkFileName(now: LocalDateTime): String =
    s"stream_${now.format(stampFmt)}.json"

  /** Write one chunk of raw records (any schema — serialized via toJSON,
    * i.e. NDJSON verbatim) to the bronze dir under a timestamped name.
    * Creates the dir on demand (with the reference's log line, main.R:51).
    * Returns the file path, like get_tweets returns `filename`. */
  def writeChunk(raw: DataFrame, rawDataDir: String,
      now: () => LocalDateTime = () => LocalDateTime.now()): Path = {
    val dir = Paths.get(rawDataDir)
    if (!Files.exists(dir)) {
      log.info(s"Creating folder '$rawDataDir' to store the raw data streams")
      Files.createDirectories(dir)
    }
    val target = dir.resolve(chunkFileName(now()))
    log.debug(s"Writing raw chunk into $target")
    // Single-file NDJSON: write via a temp dir, then move the part file to
    // the timestamped name (Spark writers emit part-files + _SUCCESS). The
    // temp dir goes whether or not the write succeeds.
    val tmp = Files.createTempDirectory(dir, ".chunk_")
    try {
      val tmpOut = tmp.resolve("out")
      raw.toJSON.coalesce(1).write.text(tmpOut.toString)
      val part = Using.resource(Files.list(tmpOut))(_.filter(p =>
        p.getFileName.toString.startsWith("part-")).findFirst().get())
      Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Using.resource(Files.walk(tmp))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p)))
    log.debug("Chunk write completed")
    target
  }
}
