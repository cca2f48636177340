package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

import graft.operators.{Checkpoints, GlobalRank}

/** The `tweet_data` sink contract (SURVEY.md §2.1 S5-S8):
  * declared 8-column schema, sink-assigned surrogate `tweet_id`,
  * append-only loads, existence-rename guard.
  *
  * Reference: CREATE TABLE /root/reference/main.R:26-39; rename guard
  * main.R:20-24; append main.R:117-119; empty-input no-op main.R:114.
  */
trait TweetSink {
  /** S5 + S6: create the table, renaming to a timestamped name if the
    * target already exists. Returns the resolved table location. */
  def ensureTable(): String
  /** S7: append one batch; assigns tweet_id sink-side. */
  def append(df: DataFrame): Unit
}

object TweetSink {
  /** The declared sink schema (main.R:29-38). date_created is kept as a
    * TimestampType end-to-end (SQLite would degrade it to epoch INTEGER;
    * parquet keeps the type). */
  val schema: StructType = StructType(Seq(
    StructField("tweet_id", LongType),
    StructField("date_created", TimestampType),
    StructField("user", StringType),
    StructField("content", StringType),
    StructField("source", StringType),
    StructField("location", StringType),
    StructField("quoted_user", StringType),
    StructField("quoted_content", StringType),
  ))

  /** S6: reference renames the NEW database to `YYYYMMDD_HHMMSS_<name>`
    * when the target exists (main.R:20-24). */
  def collisionSafeName(path: String, exists: String => Boolean,
      now: () => LocalDateTime = () => LocalDateTime.now()): String = {
    if (!exists(path)) path
    else {
      val p = Paths.get(path)
      val stamped = now().format(DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")) +
        "_" + p.getFileName.toString
      Option(p.getParent).map(_.resolve(stamped).toString).getOrElse(stamped)
    }
  }
}

/** Parquet-table implementation. No SQLite JDBC driver ships in the
  * offline environment, so the contract runs against a parquet directory
  * table — append-only, schema-checked, surrogate ids.
  *
  * tweet_id: dense like SQLite's INTEGER PRIMARY KEY rowids — each batch
  * takes `highWater + 1 .. highWater + n`, one id per row, assigned in
  * parallel: a partition's ids start after the rows of the partitions
  * before it ([[GlobalRank.numbered]], the engine's one partition-offset
  * numbering, from the high-water mark; the write stays in codegen).
  *
  * S8: the high-water mark lives in this instance and is advanced after
  * each committed write; any failure drops it. Beside the data, the table
  * keeps one small record, `_graft_high_water` (the `_` prefix hides it
  * from Spark's readers), holding the mark and the number of data files
  * the table then has. [[ensureTable]] writes it with mark 0, and every
  * non-empty write replaces it atomically (a temp file, then an atomic
  * move) — one tiny local write per batch, no job, no listing, since the
  * write adds a known number of files. An instance without a mark (its
  * first append, or the first after a failure) lists the table directory
  * by name, with no Spark job, and takes the record's mark when the
  * record's file count equals the data files listed. A missing,
  * unreadable or stale record — a crash between a write and its record,
  * or files written outside the sink — falls back to a `max(tweet_id)`
  * scan of the table, which rewrites the record. A restart therefore
  * costs a names-only listing, not a scan that grows with the table.
  * One writing sink instance per table: the record trusts that no one
  * else both adds and removes files, and re-reading the max before every
  * write would not make concurrent writers safe either, since
  * read-max-then-write is not atomic. Delivery stays at-least-once: a
  * batch replayed after a failure takes fresh ids.
  *
  * The batch is held by [[Checkpoints.materialize]], not `persist`. By
  * default that is a lazy local checkpoint, and a loaded batch runs three
  * jobs: the transform's exchange (run while the checkpoint is built), the
  * per-partition count (which stores the blocks) and the write. A
  * persisted plan would add AQE's separate cache-stage job, and AQE may
  * not coalesce a cached plan's output partitions, so a small batch would
  * land as one file per shuffle partition; from a checkpoint it lands as
  * one file. Both passes read the same stored rows or fail — a checkpoint
  * is never recomputed, so the counts cannot drift from the write. Local
  * blocks are lost with their executor, which fails the batch (the S8
  * reset above makes the next append re-check the table); with a
  * checkpoint directory set on the session the batch is a reliable
  * checkpoint instead, one more job, and survives executor loss. */
final class ParquetTweetSink(spark: SparkSession, path: String) extends TweetSink {
  import ParquetTweetSink._

  private val log = LoggerFactory.getLogger(getClass)
  private var resolved: Option[String] = None
  /** The table's largest tweet_id and data-file count; None until seeded
    * or after a failure. */
  private var mark: Option[Mark] = None

  def tablePath: String = resolved.getOrElse(path)

  override def ensureTable(): String = {
    val target = TweetSink.collisionSafeName(path,
      p => Files.exists(Paths.get(p)))
    if (target != path)
      log.info(s"database $path exists; using $target instead")
    resolved = Some(target)
    // S5: materialize the declared schema as an empty parquet table.
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      TweetSink.schema).write.mode(SaveMode.ErrorIfExists).parquet(target)
    val dir = Paths.get(target)
    val created = Mark(0L, dataFiles(dir))
    mark = Some(created)
    writeRecord(dir, created)
    log.info(s"created table tweet_data at $target")
    target
  }

  private def tableMax(dir: Path): Long =
    if (Files.exists(dir))
      spark.read.parquet(dir.toString).agg(coalesce(max(col("tweet_id")), lit(0L)))
        .head().getLong(0)
    else 0L

  /** The mark of a table this instance holds none for: the record's when
    * its file count matches the listing, else the table's max (recorded). */
  private def seed(dir: Path): Mark = {
    val files = dataFiles(dir)
    readRecord(dir).filter(_.files == files).getOrElse {
      val scanned = Mark(tableMax(dir), files)
      if (Files.isDirectory(dir)) writeRecord(dir, scanned)
      scanned
    }
  }

  /** Replaces the record; the mark in memory stays right if this fails,
    * and the record left behind no longer matches the table's files. */
  private def writeRecord(dir: Path, m: Mark): Unit =
    try {
      val tmp = Files.createTempFile(dir, RecordName + ".", ".tmp")
      try {
        Files.write(tmp, m.render.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, dir.resolve(RecordName), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
    } catch {
      case NonFatal(e) => log.warn(s"could not record the high-water mark in $dir: $e")
    }

  /** One evaluation of `df`, held by [[Checkpoints.materialize]]: a
    * per-partition count, then the write. The count computes the batch and
    * stores it; the write reads what was stored, so the counts taken by the
    * first pass hold for the second. S4: an empty batch warns and writes
    * nothing (main.R:75-78, 114). */
  override def append(df: DataFrame): Unit = {
    val target = tablePath
    val dir = Paths.get(target)
    try {
      val seeded = mark.getOrElse(seed(dir))
      mark = Some(seeded)
      val base = seeded.highWater
      val batch = Checkpoints.materialize(df)(GlobalRank.partitionCounts)
      try {
        val counts = batch.result
        val total = counts.values.sum
        if (total == 0L) log.warn(s"no tweets after transform; nothing appended to $target")
        else {
          GlobalRank.numbered(batch.df, counts, base, "tweet_id")
            .select(TweetSink.schema.fieldNames.map(col).toIndexedSeq: _*)
            .write.mode(SaveMode.Append).parquet(target)
          // Spark's writer leaves one file per non-empty partition, and
          // partition 0's file even when it is empty (it carries the schema).
          val written = counts.size + (if (counts.contains(0)) 0 else 1)
          val next = Mark(base + total, seeded.files + written)
          mark = Some(next)
          writeRecord(dir, next)
          log.info(s"appended $total rows to tweet_data at $target")
        }
      } finally batch.release()
    } catch {
      case e: Throwable => mark = None; throw e
    }
  }
}

object ParquetTweetSink {
  /** The high-water record's file name under the table directory. */
  val RecordName = "_graft_high_water"

  /** A table's largest tweet_id and the number of data files it has. */
  private[sinks] final case class Mark(highWater: Long, files: Long) {
    def render: String = s"high_water=$highWater\ndata_files=$files\n"
  }

  private val RecordFormat = """high_water=(\d+)\ndata_files=(\d+)\n""".r

  /** The record under `dir`; None when it is missing, unreadable or not a
    * whole record (a truncated one lacks its final newline). */
  private[sinks] def readRecord(dir: Path): Option[Mark] =
    try new String(Files.readAllBytes(dir.resolve(RecordName)), StandardCharsets.UTF_8) match {
      case RecordFormat(h, f) => for (hw <- h.toLongOption; n <- f.toLongOption) yield Mark(hw, n)
      case _ => None
    } catch { case NonFatal(_) => None }

  /** Spark's file index skips names starting with `_` (unless they hold
    * `=`, a partition directory) or `.`, and in-flight `._COPYING_` copies. */
  private def hiddenFromReaders(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Entries of `dir` that Spark's reader would take as data, by name
    * alone (0 when there is no table yet). */
  private[sinks] def dataFiles(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Using.resource(Files.list(dir))(_.iterator().asScala
      .count(p => !hiddenFromReaders(p.getFileName.toString)).toLong)
}
