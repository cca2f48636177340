package graft.sinks

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

/** The `tweet_data` sink contract (SURVEY.md §2.1 S5-S8):
  * declared 8-column schema, sink-assigned surrogate `tweet_id`,
  * append-only loads, existence-rename guard, connection-per-operation
  * lifecycle.
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
  * offline environment, so the same contract runs against a parquet
  * directory table — append-only, schema-checked, surrogate ids. (The
  * JDBC formulation is [[JdbcTweetSink]]; swap via the CLI `--database`
  * URL scheme.)
  *
  * tweet_id: dense like SQLite's INTEGER PRIMARY KEY rowids — each batch
  * takes `highWater + 1 .. highWater + n`, one id per row, assigned in
  * parallel: a partition's ids start after the rows of the partitions
  * before it (the partition-offset scheme of [[graft.operators.GlobalRank]],
  * here as DataFrame expressions so the write stays in codegen).
  *
  * S8: the high-water mark lives in this instance. It is seeded once — 0
  * when [[ensureTable]] has just created the table, else the table's
  * max(tweet_id) read at the first append (which also covers a restart) —
  * and advanced after each committed write; any failure drops it, so the
  * next append re-reads the table. The sink therefore never scans its
  * table per batch. One writing sink instance per table: re-reading the
  * max before every write would not make concurrent writers safe either,
  * since read-max-then-write is not atomic.
  *
  * The batch is held by a lazy local checkpoint, not `persist`. A loaded
  * batch then runs three jobs: the transform's exchange (run while the
  * checkpoint is built), the per-partition count (which stores the blocks)
  * and the write. A persisted plan would add AQE's separate cache-stage job,
  * and AQE may not coalesce a cached plan's output partitions, so a small
  * batch would land as one file per shuffle partition; from a checkpoint it
  * lands as one file. Both passes read the same stored blocks or fail — a
  * checkpoint is never recomputed, so the counts cannot drift from the
  * write. The blocks are executor-local: a lost executor fails the batch,
  * and the S8 reset above makes the next append re-read the table. */
final class ParquetTweetSink(spark: SparkSession, path: String) extends TweetSink {
  private val log = LoggerFactory.getLogger(getClass)
  private var resolved: Option[String] = None
  /** Largest tweet_id in the table; None until seeded or after a failure. */
  private var highWater: Option[Long] = None

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
    highWater = Some(0L)
    log.info(s"created table tweet_data at $target")
    target
  }

  private def tableMax(target: String): Long =
    if (Files.exists(Paths.get(target)))
      spark.read.parquet(target).agg(coalesce(max(col("tweet_id")), lit(0L)))
        .head().getLong(0)
    else 0L

  /** One evaluation of `df`, held by a lazy local checkpoint: a per-partition
    * count, then the write. The count computes the batch and stores its
    * blocks; the write reads those blocks, so the counts taken by the first
    * pass hold for the second. S4: an empty batch warns and writes nothing
    * (main.R:75-78, 114). */
  override def append(df: DataFrame): Unit = {
    import spark.implicits._
    val target = tablePath
    var batch: DataFrame = null
    try {
      val base = highWater.getOrElse(tableMax(target))
      highWater = Some(base)
      batch = df.localCheckpoint(eager = false)
      // (partition id, rows) for each non-empty partition, without a shuffle
      val counts = batch.select(spark_partition_id()).as[Int]
        .mapPartitions(pids => pids.nextOption().map(p => p -> (1L + pids.size)).iterator)
        .collect().toMap
      val total = counts.values.sum
      if (total == 0L) log.warn(s"no tweets after transform; nothing appended to $target")
      else {
        // starts(p): the id before partition p's first row. base is folded
        // in so that only this array literal changes between batches.
        val starts = (0 to counts.keys.max).scanLeft(base)((o, p) => o + counts.getOrElse(p, 0L))
        val pid = spark_partition_id()
        val indexInPartition = monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)
        batch.withColumn("tweet_id",
            element_at(typedLit(starts.init.toArray), pid + 1) + indexInPartition + 1L)
          .select(TweetSink.schema.fieldNames.map(col).toIndexedSeq: _*)
          .write.mode(SaveMode.Append).parquet(target)
        highWater = Some(base + total)
        log.info(s"appended $total rows to tweet_data at $target")
      }
    } catch {
      case e: Throwable => highWater = None; throw e
    } finally Option(batch).foreach(_.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false) // the checkpoint's blocks
    })
  }
}

/** JDBC formulation of the same contract (S5-S8) for environments that do
  * ship a driver (e.g. sqlite-jdbc, postgres). Not exercisable offline —
  * no JDBC driver jar is present — but the code path is the documented
  * production shape: DDL pass-through + df.write.jdbc append per batch. */
final class JdbcTweetSink(spark: SparkSession, url: String,
    table: String = "tweet_data") extends TweetSink {
  private val log = LoggerFactory.getLogger(getClass)

  val createTableSql: String =
    s"""CREATE TABLE IF NOT EXISTS $table(
       |  tweet_id INTEGER PRIMARY KEY,
       |  date_created INTEGER,
       |  "user" TEXT,
       |  content TEXT,
       |  source TEXT,
       |  location TEXT,
       |  quoted_user TEXT,
       |  quoted_content TEXT)""".stripMargin

  override def ensureTable(): String = {
    val conn = java.sql.DriverManager.getConnection(url)
    try { conn.createStatement().execute(createTableSql); url }
    finally conn.close()
  }

  override def append(df: DataFrame): Unit = {
    // Sink assigns tweet_id (rowid) — write only the 7 transform columns,
    // exactly like dbWriteTable(append=TRUE) (main.R:117-119). An empty
    // batch inserts no rows.
    df.write.mode(SaveMode.Append)
      .jdbc(url, table, new java.util.Properties())
    log.info(s"appended batch to $table via $url")
  }
}
