package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.ParquetTweetSink
import graft.streaming.TweetStream

/** ParquetTweetSink's per-batch cost and failure path (S7/S8): ids come
  * from an in-memory high-water mark, so after the first append the sink
  * never reads its table again; a failed append leaves no cached batch
  * behind and makes the next append re-check the table. A new instance
  * seeds its mark from the table's `_graft_high_water` record when the
  * record's data-file count matches the directory listing, and scans the
  * table otherwise. */
class TweetSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** A transform-shaped frame (the 7 sink columns, no tweet_id), spread
    * over three partitions so the per-partition id offsets are exercised. */
  private def batch(users: String*): DataFrame = users.toSeq.map(u =>
    (Timestamp.valueOf("2019-10-23 03:15:09"), u, s"content $u", "s",
      null: String, null: String, null: String))
    .toDF("date_created", "user", "content", "source", "location",
      "quoted_user", "quoted_content")
    .repartition(3)

  /** Writes rows with ids `ids` (a `spark.range`) in the sink schema
    * straight to `table`, bypassing the sink; users are `prefix<id>`. */
  private def writeOutsideSink(table: String, ids: Dataset[_], prefix: String): Unit =
    ids.select($"id".as("tweet_id"),
        lit(Timestamp.valueOf("2019-10-22 00:00:00")).as("date_created"),
        concat(lit(prefix), $"id").as("user"), lit("old tweet").as("content"),
        lit("s").as("source"), lit(null).cast("string").as("location"),
        lit(null).cast("string").as("quoted_user"),
        lit(null).cast("string").as("quoted_content"))
      .write.mode("append").parquet(table)

  private def idsOf(table: String, users: Seq[String]): Seq[Long] =
    spark.read.parquet(table).filter($"user".isin(users: _*))
      .select("tweet_id").as[Long].collect().toSeq.sorted

  private def listing(table: String): Set[String] =
    Files.list(Paths.get(table)).iterator().asScala
      .map(_.getFileName.toString).toSet

  /** Files Spark's reader takes as data: names not starting with _ or . */
  private def dataFileCount(table: String): Long =
    listing(table).count(n => !n.startsWith("_") && !n.startsWith(".")).toLong

  private def record(table: String): Path = Paths.get(table, "_graft_high_water")

  /** Runs `body` with a TableScans listener on `table`; returns, per query
    * it ran, whether that query scanned the table. */
  private def scansDuring(table: String)(body: => Unit): Seq[Boolean] = {
    val scans = new TableScans(table)
    spark.listenerManager.register(scans)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
      scans.seen.asScala.toSeq
    } finally spark.listenerManager.unregister(scans)
  }

  /** Ids of the RDDs persisted right now. The test JVM shares one session
    * across suites, so assertions compare against a snapshot taken first. */
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Records, per finished query, whether its plan scans `root`. */
  private final class TableScans(root: String) extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    private val canonical = Paths.get(root).toRealPath().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    private def record(qe: QueryExecution): Unit =
      seen.add(collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s
      }.exists(_.relation.location.rootPaths.exists(p =>
        Paths.get(p.toUri).toRealPath().toString == canonical)))
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  test("sink cost does not grow with the table: after the first append no " +
      "query scans it, ids continue densely, an empty batch writes nothing, " +
      "a fresh sink instance resumes after the last id") {
    val table = tmpDir("db-hw").resolve("tweet_data.db").toString
    // Pre-grow the table outside the sink: 120 parquet files, ids 1..M.
    val m = 600L
    writeOutsideSink(table, spark.range(1, m + 1).repartition(120), "old")
    assert(listing(table).count(_.endsWith(".parquet")) >= 100)

    val scans = new TableScans(table)
    spark.listenerManager.register(scans)
    val sink = new ParquetTweetSink(spark, table)
    val (files, later) =
      try {
        sink.append(batch("a1", "a2", "a3", "a4"))
        ListenerBusDrain(spark.sparkContext)
        // positive control: the first append seeds its high-water mark
        // from the table, and the listener sees that scan
        assert(scans.seen.asScala.exists(identity),
          "the first append must read the table's max once")
        scans.seen.clear()
        val before = listing(table)
        sink.append(batch())
        val afterEmpty = listing(table)
        sink.append(batch("b1", "b2", "b3"))
        ListenerBusDrain(spark.sparkContext)
        ((before, afterEmpty), scans.seen.asScala.toSeq)
      } finally spark.listenerManager.unregister(scans)
    assert(later.nonEmpty, "the later appends ran no query at all")
    assert(!later.exists(identity),
      "an append after the first scanned the sink table")
    assert(files._1 == files._2, "the empty batch changed the table directory")

    val n = 7L
    assert(idsOf(table, Seq("a1", "a2", "a3", "a4", "b1", "b2", "b3")) ==
      (m + 1 to m + n))
    assert(idsOf(table, Seq("a1", "a2", "a3", "a4")) == (m + 1 to m + 4),
      "batch ids must follow the batch order")

    // restart: a new sink instance over the same table reads its max once
    new ParquetTweetSink(spark, table).append(batch("c1", "c2"))
    assert(idsOf(table, Seq("c1", "c2")) == Seq(m + n + 1, m + n + 2))
    val all = spark.read.parquet(table).filter($"tweet_id" > m)
    assert(all.count() == n + 2 && all.select("tweet_id").distinct().count() == n + 2)
  }

  test("a failed append caches nothing and the next append continues above " +
      "the table's real max; a multi-batch drain leaves no cached batch") {
    val table = tmpDir("db-fail").resolve("tweet_data.db").toString
    val sink = new ParquetTweetSink(spark, table)
    sink.ensureTable()
    val cached0 = persisted()
    sink.append(batch("ana", "eva"))
    val bad = batch("x", "y").withColumn("content",
      when($"user" === "y", raise_error(lit("boom")).cast("string"))
        .otherwise($"content"))
    intercept[Exception](sink.append(bad))
    assert(spark.read.parquet(table).count() == 2L, "the failed batch wrote rows")
    assert(persisted() -- cached0 == Set.empty,
      "a batch that failed in its count stayed cached")
    // raise_error below the exchange: the append fails while its local
    // checkpoint is being built, before any count
    val early = spark.range(2).select(
        lit(Timestamp.valueOf("2019-10-23 03:15:09")).as("date_created"),
        concat(lit("early"), $"id").as("user"),
        when($"id" === 1L, raise_error(lit("early boom")).cast("string"))
          .otherwise(lit("content early")).as("content"),
        lit("s").as("source"), lit(null).cast("string").as("location"),
        lit(null).cast("string").as("quoted_user"),
        lit(null).cast("string").as("quoted_content"))
      .repartition(3)
    intercept[Exception](sink.append(early))
    assert(spark.read.parquet(table).count() == 2L, "the early-failing batch wrote rows")
    assert(persisted() -- cached0 == Set.empty,
      "a batch that failed before its checkpoint stayed cached")
    // A failure can leave files behind (a write that failed after some of
    // its output landed); stand-in rows written outside the sink raise the
    // table's max, which the next append must read instead of trusting
    // its in-memory mark.
    writeOutsideSink(table, spark.range(3, 6), "partial")
    val realMax = spark.read.parquet(table).agg(max("tweet_id")).as[Long].head()
    sink.append(batch("hugo", "ines"))
    assert(idsOf(table, Seq("hugo", "ines")) == Seq(realMax + 1, realMax + 2))
    assert(persisted() -- cached0 == Set.empty,
      "a batch stayed cached after its append")

    // a long-running stream's memory stays bounded: every batch's cache is
    // released once its append returns
    val bronze = tmpDir("bronze-cache")
    (0 until 3).foreach { k =>
      val f = bronze.resolve(f"stream_20191023_10$k%02d.json")
      val body = if (k == 1) "" else
        s"""{"created_at":"Wed Oct 23 03:15:02 +0000 2019","screen_name":"u$k","text":"texto numero $k","source":"s","location":null,"quoted_screen_name":null,"quoted_text":null,"is_retweet":false,"lang":"es"}""" + "\n"
      Files.writeString(f, body)
      f.toFile.setLastModified(1000000L * (k + 1))
    }
    val db = tmpDir("db-cache")
    TweetStream.runAvailableNow(spark, bronze.toString,
      new ParquetTweetSink(spark, db.resolve("t.db").toString), keys = None,
      checkpointDir = db.resolve("ckpt").toString)
    assert(spark.read.parquet(db.resolve("t.db").toString).count() == 2L)
    assert(persisted() -- cached0 == Set.empty,
      "a micro-batch stayed cached after the drain")
  }

  test("a new sink instance over a table the sink wrote reads its high-water " +
      "record: no query scans the table before the write, ids continue densely") {
    val table = tmpDir("db-record").resolve("tweet_data.db").toString
    val m = 300L
    writeOutsideSink(table, spark.range(1, m + 1).repartition(30), "old")
    val first = new ParquetTweetSink(spark, table)
    first.append(batch("a1", "a2", "a3"))
    first.append(batch("b1", "b2"))

    val seen = scansDuring(table)(new ParquetTweetSink(spark, table).append(batch("c1", "c2")))
    assert(seen.nonEmpty, "the append ran no query at all")
    assert(!seen.exists(identity), "a fresh instance scanned a table the sink wrote")
    assert(idsOf(table, Seq("a1", "a2", "a3", "b1", "b2", "c1", "c2")) == (m + 1 to m + 7))
    assert(Files.readString(record(table)) ==
      s"high_water=${m + 7}\ndata_files=${dataFileCount(table)}\n")
    // the same holds for a table the sink created
    val created = tmpDir("db-record-created").resolve("t.db").toString
    new ParquetTweetSink(spark, created).ensureTable()
    val seenCreated = scansDuring(created)(new ParquetTweetSink(spark, created).append(batch("d1", "d2")))
    assert(seenCreated.nonEmpty && !seenCreated.exists(identity),
      "a fresh instance scanned a table the sink created")
    assert(idsOf(created, Seq("d1", "d2")) == Seq(1L, 2L))
  }

  test("a file written outside the sink after the last record makes the next " +
      "instance scan the table and continue at its real max + 1") {
    val table = tmpDir("db-stale").resolve("tweet_data.db").toString
    val sink = new ParquetTweetSink(spark, table)
    sink.ensureTable()
    sink.append(batch("a1", "a2"))
    writeOutsideSink(table, spark.range(40, 43).coalesce(1), "outside")
    val realMax = spark.read.parquet(table).agg(max("tweet_id")).as[Long].head()
    assert(realMax == 42L)
    val seen = scansDuring(table)(new ParquetTweetSink(spark, table).append(batch("b1", "b2")))
    assert(seen.exists(identity), "a stale record was trusted without a scan")
    assert(idsOf(table, Seq("b1", "b2")) == Seq(realMax + 1, realMax + 2))
    assert(Files.readString(record(table)) ==
      s"high_water=${realMax + 2}\ndata_files=${dataFileCount(table)}\n")
  }

  test("a missing, truncated or garbage high-water record falls back to the " +
      "scan without an exception, and the scan rewrites the record") {
    val damage: Seq[(String, Path => Unit)] = Seq(
      "missing" -> (p => Files.delete(p)),
      "truncated" -> (p => Files.write(p, Files.readAllBytes(p).dropRight(1))),
      "truncated to its first line" -> (p =>
        Files.writeString(p, Files.readString(p).linesIterator.next())),
      "garbage" -> (p => Files.write(p, Array[Byte](0, -1, 42, 10, 7))),
      "a directory" -> (p => { Files.delete(p); Files.createDirectory(p) }))
    damage.foreach { case (what, hurt) =>
      val table = tmpDir("db-damaged").resolve("tweet_data.db").toString
      val sink = new ParquetTweetSink(spark, table)
      sink.ensureTable()
      sink.append(batch("a1", "a2", "a3"))
      hurt(record(table))
      val seen = scansDuring(table)(new ParquetTweetSink(spark, table).append(batch("b1")))
      assert(seen.exists(identity), s"$what record: the next instance did not scan")
      assert(idsOf(table, Seq("a1", "a2", "a3", "b1")) == (1L to 4L), s"$what record")
      if (Files.isRegularFile(record(table)))
        assert(Files.readString(record(table)) ==
          s"high_water=4\ndata_files=${dataFileCount(table)}\n", s"$what record")
    }
  }

  test("the record's file count equals the directory listing after a drain " +
      "with an empty batch and after a batch whose first partition is empty") {
    val bronze = tmpDir("bronze-record")
    (0 until 4).foreach { k =>
      val f = bronze.resolve(f"stream_20191023_11$k%02d.json")
      val body = if (k == 2) "" else (0 until 5).map(i =>
        s"""{"created_at":"Wed Oct 23 03:15:02 +0000 2019","screen_name":"u$k$i","text":"texto $k numero $i","source":"s","location":null,"quoted_screen_name":null,"quoted_text":null,"is_retweet":false,"lang":"es"}""")
        .mkString("", "\n", "\n")
      Files.writeString(f, body)
      f.toFile.setLastModified(1000000L * (k + 1))
    }
    val db = tmpDir("db-record-drain")
    val table = db.resolve("t.db").toString
    val sink = new ParquetTweetSink(spark, table)
    sink.ensureTable()
    TweetStream.runAvailableNow(spark, bronze.toString, sink, keys = None,
      checkpointDir = db.resolve("ckpt").toString)
    assert(spark.read.parquet(table).count() == 15L)
    assert(Files.readString(record(table)) ==
      s"high_water=15\ndata_files=${dataFileCount(table)}\n")

    // rows only in partitions 1 and 2: Spark still writes partition 0's file
    val gap = spark.range(0, 3, 1, 3).filter($"id" > 0).select(
        lit(Timestamp.valueOf("2019-10-23 03:15:09")).as("date_created"),
        concat(lit("gap"), $"id").as("user"), lit("gap content").as("content"),
        lit("s").as("source"), lit(null).cast("string").as("location"),
        lit(null).cast("string").as("quoted_user"),
        lit(null).cast("string").as("quoted_content"))
    sink.append(gap)
    assert(Files.readString(record(table)) ==
      s"high_water=17\ndata_files=${dataFileCount(table)}\n")
    val seen = scansDuring(table)(new ParquetTweetSink(spark, table).append(batch("z")))
    assert(!seen.exists(identity), "the record went stale after a batch with an empty partition 0")
    assert(idsOf(table, Seq("gap1", "gap2", "z")) == Seq(16L, 17L, 18L))
  }
}
