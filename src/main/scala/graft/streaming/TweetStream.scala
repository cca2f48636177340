package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.slf4j.LoggerFactory

import graft.operators.TweetPipeline
import graft.sinks.TweetSink
import graft.sources.TweetSource

/** C1 — the reference's micro-batch loop (/root/reference/main.R:202-212)
  * as a Structured Streaming query: file source over the bronze dir, one
  * file per trigger, `foreachBatch` transform + sink append, bounded
  * chunk count.
  *
  * Per-batch dedup scope is the semantics of record: the reference dedups
  * within each chunk only (main.R:105), never against the database —
  * running TweetPipeline.transform inside foreachBatch reproduces exactly
  * that (and resolves the round-3 S1/D1 incompatibility: the window-based
  * dedup runs in batch mode per micro-batch).
  */
object TweetStream {
  private val log = LoggerFactory.getLogger(getClass)

  /** F2 — the `--keys` server-side keyword predicate
    * (main.R:61, 133-137), emulated as a case-insensitive any-of-keys
    * match on the raw text, applied before the transform so the filter
    * sits directly above the scan. */
  /** None when no usable token survives trimming (e.g. keys = "," or
    * ", ") — compiling those into an empty alternation "(?i)()" would
    * silently match every row instead of filtering. */
  def keysPattern(keys: String): Option[String] = {
    val toks = keys.split(",").map(_.trim).filter(_.nonEmpty)
    if (toks.isEmpty) None
    else Some(toks.map(Pattern.quote).mkString("(?i)(", "|", ")"))
  }

  def withKeysFilter(raw: DataFrame, keys: Option[String]): DataFrame =
    keys.flatMap(keysPattern) match {
      case Some(p) => raw.filter(col("text").rlike(p))
      case None => raw
    }

  /** One micro-batch: transform, then append. The S4 empty-batch guard
    * lives in the sink (main.R:114), so the transform is evaluated once:
    * ParquetTweetSink counts and writes the same checkpointed batch. */
  def processBatch(sink: TweetSink)(batch: DataFrame, batchId: Long): Unit =
    sink.append(TweetPipeline.transform(batch))

  /** Bounded streaming run: process `chunks` micro-batches (one bronze
    * file each, trigger interval = streamTimeout), then stop — the
    * `for (i in 1:stream_chunks)` loop (main.R:202-212). */
  def run(spark: SparkSession, rawDataDir: String, sink: TweetSink,
      chunks: Int, streamTimeoutSec: Long, keys: Option[String],
      checkpointDir: String): Unit = {
    val raw = TweetSource.readStream(spark, rawDataDir)
    val filtered = withKeysFilter(raw, keys)
    val seen = new AtomicInteger(0)
    val query = filtered.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(streamTimeoutSec * 1000L))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // Gate HERE, not only in the polling loop below: the stream can
        // start chunk N+1 before the async stop() lands, and the reference
        // runs exactly stream_chunks chunks (main.R:202) — so a batch that
        // arrives after the quota is dropped without touching the sink.
        if (seen.get >= chunks) log.info(s"batch $id: chunk quota reached; skipping")
        else {
          log.info(s"streaming chunk ${seen.get + 1}/$chunks (batch $id)")
          processBatch(sink)(batch, id)
          seen.incrementAndGet()
        }
        ()
      }
      .start()
    while (query.isActive && seen.get < chunks) query.awaitTermination(250L)
    query.stop()
    log.info(s"stream finished after ${seen.get} chunks")
  }

  /** Drain-everything variant (Trigger.AvailableNow): processes each
    * existing bronze file as its own micro-batch, then stops. Used by
    * tests and backfills. */
  def runAvailableNow(spark: SparkSession, rawDataDir: String, sink: TweetSink,
      keys: Option[String], checkpointDir: String): Unit = {
    val raw = TweetSource.readStream(spark, rawDataDir)
    val query = withKeysFilter(raw, keys).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(sink)(batch, id)
      }
      .start()
    query.awaitTermination()
  }
}
