package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Raw tweet NDJSON source (bronze zone).
  *
  * The reference persists each micro-batch of Twitter's filtered stream as a
  * newline-delimited JSON file (/root/reference/main.R:60-66) and later
  * parses it into a ~90-column frame (main.R:81). We instead *declare* the
  * read schema as exactly the fields the pipeline consumes — Jackson then
  * skips every other field at parse time (scan-level column pruning; at
  * 100 TB of raw JSON this is the difference between parsing 9 fields and
  * parsing 90).
  */
object TweetSource {

  /** Twitter classic timestamp format, e.g. "Wed Oct 23 03:15:02 +0000 2019".
    * Kept as a plain string column at scan time; TweetPipeline parses it
    * (Spark's parser can't consume the 'EEE' weekday token directly). */
  val twitterTimestampFormat = "MMM dd HH:mm:ss Z yyyy"

  /** Declared subset schema — see FIXTURES.md §A1. `_corrupt_record` captures
    * the keep-alive blank lines / limit notices Twitter interleaves. */
  val rawSchema: StructType = StructType(Seq(
    StructField("created_at", StringType),
    StructField("screen_name", StringType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("location", StringType),
    StructField("quoted_screen_name", StringType),
    StructField("quoted_text", StringType),
    StructField("is_retweet", BooleanType),
    StructField("lang", StringType),
    StructField("_corrupt_record", StringType),
  ))

  /** Batch read of one or more bronze NDJSON files. */
  def read(spark: SparkSession, path: String*): DataFrame =
    spark.read
      .schema(rawSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path: _*)

  /** Streaming read over the bronze directory (micro-batch source for the
    * Structured Streaming pipeline, SURVEY.md §2.6 C1). */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", "1") // one bronze file == one reference chunk
      .json(dir)
}
