package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact global row numbering over a total order — WITHOUT the
  * single-partition window that `row_number().over(Window.orderBy(...))`
  * plans (Spark moves every row to one task when the window has no
  * partitionBy; a non-starter past a few million rows).
  *
  * Shape: the classic two-pass distributed ranking. `orderBy` produces a
  * RANGE-partitioned total sort (each partition holds a contiguous key
  * range, sorted), held by [[Checkpoints.materialize]] while one
  * shuffle-free job counts each partition's rows; each row then takes
  * its partition-prefix offset + local index ([[numbered]], the engine's
  * one partition-offset numbering — the tweet sink's dense ids too).
  * Exact, deterministic given a total order (the caller must include a
  * unique tie-break key), never concentrates rows, and stays in codegen.
  * Cost: one extra count job, which also stores the sorted rows.
  */
object GlobalRank {

  /** `df` plus a 1-based `rankCol` long column following `sort`'s total
    * order. `sort` MUST be a total order (include a unique key last).
    *
    * EAGER: the count job runs at *call* time, so constructing the
    * returned DataFrame already runs the full sort — this is not a
    * lazily-planned operator like the rest of the API. The ContextCleaner
    * frees the sorted rows once the returned frame is unreachable. */
  def withRowNumber(df: DataFrame, sort: Seq[Column],
      rankCol: String = "rn"): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"rank column '$rankCol' collides with an existing column")
    val sorted = Checkpoints.materialize(df.orderBy(sort: _*))(partitionCounts)
    numbered(sorted.df, sorted.result, base = 0L, rankCol)
  }

  /** Rows per non-empty partition of `df`, by partition id: one job, no
    * shuffle. */
  def partitionCounts(df: DataFrame): Map[Int, Long] = {
    import df.sparkSession.implicits._
    df.select(spark_partition_id()).as[Int]
      .mapPartitions(pids => pids.nextOption().map(p => p -> (1L + pids.size)).iterator)
      .collect().toMap
  }

  /** `df` plus `idCol` numbering its rows `base + 1 .. base + n` in
    * partition, then row order. `df` must be held (its partitions and
    * row order fixed) and `counts` its [[partitionCounts]]. `base` is
    * folded into the starts literal, so calls differ only in it. */
  def numbered(df: DataFrame, counts: Map[Int, Long], base: Long,
      idCol: String): DataFrame = {
    val last = counts.keys.maxOption.getOrElse(0)
    val starts = (0 until last).scanLeft(base)((o, p) => o + counts.getOrElse(p, 0L))
    val pid = spark_partition_id()
    val indexInPartition = monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)
    df.withColumn(idCol,
      element_at(typedLit(starts.toArray), pid + 1) + indexInPartition + 1L)
  }

  /** `df` plus a 1-based `rankCol` AND an exact running total `cumCol`
    * of a LongType `valueCol` (integer units — cents, tokens, bytes —
    * so the prefix sums stay exact) following `sort`'s total order: the
    * distributed CUMULATIVE SUM the Pareto/ABC family needs, which a
    * bare `sum().over(Window.orderBy(...))` plans as a single-partition
    * window. Same two-pass scheme as [[withRowNumber]]: range-sort,
    * then ONE light stats job collecting each partition's (row count,
    * value sum), whose scan-left prefixes seed a per-partition
    * imperative pass. That pass stays on the RDD: a row number is an
    * offset plus the row's position, which [[numbered]] reads off
    * `monotonically_increasing_id`, but a running SUM within a partition
    * has no shuffle-free DataFrame expression — any window that carries
    * it adds an exchange and a sort over the sorted rows. The sorted rows
    * are held by [[Checkpoints.materialize]], whose action is the stats
    * job: without the hold the output pass re-runs the range sort, and
    * correctness would rest on the recomputed range partitioning being
    * bitwise-identical across jobs, which a nondeterministically ordered
    * upstream source breaks. The ContextCleaner frees the held rows once
    * the returned frame is unreachable, as for [[withRowNumber]]. NULL
    * values count as 0. EAGER like [[withRowNumber]] (the stats job runs
    * at call time). */
  def withRunningTotal(df: DataFrame, sort: Seq[Column], valueCol: String,
      rankCol: String = "rn", cumCol: String = "cum"): DataFrame = {
    require(!df.columns.contains(rankCol) && !df.columns.contains(cumCol),
      s"'$rankCol'/'$cumCol' collides with an existing column")
    val vIdx = df.schema.fieldIndex(valueCol)
    require(df.schema(vIdx).dataType == LongType,
      s"'$valueCol' must be LongType (exact integer units)")
    val sorted = Checkpoints.materialize(df.orderBy(sort: _*)) { held =>
      held.rdd.mapPartitionsWithIndex { (i, it) =>
        var n = 0L; var s = 0L
        it.foreach { r =>
          n += 1L; if (!r.isNullAt(vIdx)) s += r.getLong(vIdx)
        }
        Iterator((i, n, s))
      }.collect().sortBy(_._1)
    }
    val stats = sorted.result
    val nOff = stats.scanLeft(0L)(_ + _._2).init
    val sOff = stats.scanLeft(0L)(_ + _._3).init
    val schema = df.schema
      .add(rankCol, LongType, nullable = false)
      .add(cumCol, LongType, nullable = false)
    val out = sorted.df.rdd.mapPartitionsWithIndex { (i, it) =>
      var rn = nOff(i); var cum = sOff(i)
      it.map { r =>
        rn += 1L
        if (!r.isNullAt(vIdx)) cum += r.getLong(vIdx)
        Row.fromSeq(r.toSeq :+ rn :+ cum)
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }
}
