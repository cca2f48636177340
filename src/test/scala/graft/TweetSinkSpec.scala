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
  * behind and makes the next append re-read the table. */
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
}
