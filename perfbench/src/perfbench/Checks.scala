package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's correctness checks. The verdicts are pure functions of
  * what was measured and what was expected, so the self-test can feed them
  * wrong expectations. */
object Checks {

  /** The sink table before the timed run: row count and highest tweet_id. */
  final case class SinkBefore(rows: Long, maxId: Long)

  /** What the timed run added: rows gained overall, and over the rows with
    * a tweet_id above the previous maximum — their count, distinct ids and
    * NULL contents. */
  final case class SinkGain(gained: Long, newRows: Long, distinctNewIds: Long,
      nullContent: Long)

  /** None when the sink gained exactly `expected` rows, every one of them
    * with a fresh, unique tweet_id above the previous maximum and a
    * non-NULL content; otherwise the reason. */
  def sinkVerdict(expected: Long, g: SinkGain): Option[String] =
    if (g.gained != expected) Some(s"sink gained ${g.gained} rows, expected $expected")
    else if (g.newRows != g.gained) Some(s"${g.gained - g.newRows} new rows have a tweet_id at or below the previous maximum")
    else if (g.distinctNewIds != g.newRows) Some(s"${g.newRows - g.distinctNewIds} duplicate tweet_ids among new rows")
    else if (g.nullContent != 0) Some(s"${g.nullContent} new rows with NULL content")
    else None

  def sinkState(spark: SparkSession, path: String): SinkBefore =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) SinkBefore(0, 0)
    else {
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), coalesce(max(col("tweet_id")), lit(0L))).head()
      SinkBefore(r.getLong(0), r.getLong(1))
    }

  def sinkGain(spark: SparkSession, path: String, before: SinkBefore): SinkGain =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) SinkGain(0, 0, 0, 0)
    else {
      val isNew = col("tweet_id") > before.maxId
      val r = spark.read.parquet(path).agg(
        count(lit(1)),
        count(when(isNew, lit(1))),
        countDistinct(when(isNew, col("tweet_id"))),
        count(when(isNew && col("content").isNull, lit(1))))
        .head()
      SinkGain(r.getLong(0) - before.rows, r.getLong(1), r.getLong(2), r.getLong(3))
    }

  /** None when the fingerprint matches the stored one; otherwise the reason. */
  def fingerprintVerdict(expected: Option[Fingerprint], got: Fingerprint): Option[String] =
    expected match {
      case None => Some("no stored fingerprint")
      case Some(e) if e == got => None
      case Some(e) => Some(s"fingerprint ${got.rows} rows ${got.md5}, expected ${e.rows} rows ${e.md5}")
    }

  final case class Fingerprint(rows: Long, md5: String)

  /** The GOLDEN.json canonicalisation: columns sorted by name, every value
    * rendered to a stable string, rows sorted, md5 over the joined lines. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.columns.sorted
    val rows = df.select(cols.head, cols.tail.toIndexedSeq: _*).collect()
      .map(r => r.toSeq.map(fmt).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    Fingerprint(rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def fmt(v: Any): String = v match {
    case null => "␀"
    case d: java.lang.Double => if (d.isNaN) "NaN" else d.toString
    case f: java.lang.Float => if (f.isNaN) "NaN" else f.toString
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + ":" + fmt(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case x => x.toString
  }
}
