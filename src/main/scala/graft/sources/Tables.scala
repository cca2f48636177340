package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the benchmark star schema (see TESTDATA.md).
  *
  * Every reader goes through `spark.read.parquet`, so Catalyst gets scan-level
  * column pruning and predicate pushdown for free. At cluster scale these
  * tables would be partitioned/bucketed; the loaders are the single seam where
  * that layout knowledge would live.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Where table `name` of the corpus at `dir` lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     =
    normalizeEventTs(load(s, d, "events"))

  /** The engine-wide contract for `events.ts`: int64 nanos-since-epoch.
    *
    * The physical parquet type is a deployment detail that has already
    * changed once under us (timestamp[ns] → timestamp[us] between dataset
    * snapshots), so the loader — not every query — owns the mapping:
    *   - LongType: already nanos (timestamp[ns] via
    *     spark.sql.legacy.parquet.nanosAsLong, or a raw int64 column).
    *   - TimestampType (isAdjustedToUTC µs): exact instant → nanos.
    *   - TimestampNTZType (naive µs, the pyarrow no-tz default): the same
    *     wall-clock-as-UTC reading DuckDB's epoch_ns applies — the session
    *     timezone is pinned to UTC in GraftSession, so the cast to
    *     TimestampType is the identity on the underlying micros.
    * unix_micros(_) * 1000 is exact int64 arithmetic (no double round-trip)
    * and keeps downstream bucket/gap math (q15/q18/q24/q25) and the µs
    * as-of/range domains (q19/q20) unchanged. The multiply is a narrow
    * per-row projection — nothing here adds a shuffle, and column pruning
    * still reaches the scan (ts maps 1:1 onto the physical column).
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType         => df
      case TimestampType    =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected int64 nanos, " +
          "timestamp, or timestamp_ntz")
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The corpus's declared embedding dimensionality (TESTDATA.md). A real
    * deployment would read this from dataset metadata; it is the contract
    * every vector operator assumes. */
  val EmbeddingDim = 64

  /** Embeddings restricted to rows honoring the dimension contract. At
    * 100 TB null/empty/ragged vectors are a statistical certainty, and
    * under Spark 4's default ANSI mode they turn into task-killing
    * element_at/NPE failures inside vector ops (DegenerateCorpusSpec
    * pins this). Dropping them at the loader seam is the one policy every
    * vector query and every DuckDB oracle (len(embedding) = dim) shares;
    * size() is null-safe (null vector → null → filtered). */
  def validEmbeddings(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")) === EmbeddingDim)

  /** Register all tables as temp views so `spark.sql` works against them.
    * events goes through the ts-normalizing loader so SQL users see the
    * same int64-nanos contract as the DataFrame surface. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
