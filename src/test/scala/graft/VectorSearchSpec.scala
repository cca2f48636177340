package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorExprs
import graft.functions.VectorExprs.norm
import graft.functions.VectorFunctions._
import graft.operators.VectorSearch
import graft.sources.Tables

/** The vector-search operator's (VectorSearch) shared eval helpers,
  * pinned against the forms they replaced and the native assignment they
  * mirror on the sf0.001 fixtures. */
class VectorSearchSpec extends SparkSpec {

  /** The hand-written normalise every PQ-family query carried before
    * VectorSearch.normalized, kept verbatim as the parity pin. */
  private def historicalNormalized(df: DataFrame): DataFrame = {
    val raw = df.select(col("vec_id"), asDouble(col("embedding")).as("e"))
    raw.withColumn("nrm", norm(col("e")))
      .withColumn("emb", when(col("nrm") === lit(0.0), col("e"))
        .otherwise(transform(col("e"), x => x / col("nrm"))))
      .select(col("vec_id"), col("emb"))
  }

  /** vec_id → emb with each element's raw bits (NULL stays None). */
  private def bits(df: DataFrame): Map[Long, Option[Seq[Option[Long]]]] =
    df.collect().map { r =>
      r.getLong(0) -> Option(r.getSeq[java.lang.Double](1)).map(_.map(x =>
        Option(x).map(v => java.lang.Double.doubleToRawLongBits(v))))
    }.toMap

  /** The fixture embeddings plus constructed rows (same schema). */
  private def withRows(rows: (Long, Seq[java.lang.Float])*): DataFrame = {
    val fx = Tables.validEmbeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = true)))))
    fx.unionByName(extra)
  }

  private val dim = Tables.EmbeddingDim
  private val zero: Seq[java.lang.Float] =
    Seq.fill(dim)(java.lang.Float.valueOf(0.0f))

  test("normalized passes a zero vector through unchanged") {
    val got = VectorSearch.normalized(withRows(-1L -> zero), "vec_id",
        "embedding")
      .filter(col("vec_id") === -1L).collect()
    assert(got.length === 1)
    assert(got.head.getSeq[Double](1) === Seq.fill(dim)(0.0))
  }

  test("normalized equals the historical normalise expression bit for " +
      "bit on the fixture plus a NULL-element vector") {
    val nullElem: Seq[java.lang.Float] =
      (0 until dim).map(i => if (i == 3) null else java.lang.Float.valueOf(0.5f))
    val df = withRows(-1L -> zero, -2L -> nullElem)
    val got = bits(VectorSearch.normalized(df, "vec_id", "embedding"))
    val want = bits(historicalNormalized(df))
    assert(got.size === df.count())
    assert(got === want)
  }

  /** The historical normalise tree in full, its `transform` widening
    * included: `when(nrm = 0, e).otherwise(transform(e, x -> x / nrm))`. */
  private def historicalTree(df: DataFrame): DataFrame = {
    val e = transform(col("embedding"), x => x.cast("double"))
    df.select(col("vec_id"), e.as("e"))
      .withColumn("nrm", norm(col("e")))
      .select(col("vec_id"), when(col("nrm") === lit(0.0), col("e"))
        .otherwise(transform(col("e"), x => x / col("nrm"))).as("emb"))
  }

  private def f(x: Float): java.lang.Float = java.lang.Float.valueOf(x)

  test("native normalize equals the historical tree bit for bit under " +
      "NO_CODEGEN and CODEGEN_ONLY") {
    val negZero = Seq.fill(dim)(f(-0.0f))
    val signedZeros = (0 until dim).map(i => f(if (i % 2 == 0) -0.0f else 0.0f))
    val withNegZero = (0 until dim).map(i => f(if (i == 1) -0.0f else 0.25f * i))
    val withNaN = (0 until dim).map(i => f(if (i == 5) Float.NaN else 1.0f))
    val nullElem = (0 until dim).map(i => if (i == 7) null else f(0.5f))
    val df = withRows(-1L -> zero, -2L -> negZero, -3L -> signedZeros,
      -4L -> withNegZero, -5L -> withNaN, -6L -> nullElem, -7L -> null)
    val want = bits(historicalTree(df))
    assert(want(-6L) === Some(Seq.fill(dim)(None)),
      "a NULL element gives an all-NULL array")
    assert(want(-7L) === None, "a NULL array stays NULL")
    assert(want(-2L) === Some(negZero.map(x =>
      Some(java.lang.Double.doubleToRawLongBits(x.toDouble)))),
      "an all -0.0 vector passes through with its signs")
    underEachFactory { mode =>
      val got = bits(VectorSearch.normalized(df, "vec_id", "embedding"))
      assert(got.size === want.size, mode)
      want.foreach { case (id, w) =>
        assert(got(id) === w, s"$mode: vec $id diverges")
      }
    }
  }

  private lazy val refCentroid = udaf(new VectorSearchSpec.RefCentroidAggregator,
    ExpressionEncoder[Seq[Double]]())

  /** (cell, emb: array<double>) rows over 3 partitions, in this order. */
  private def cells(rows: Seq[(Int, Seq[java.lang.Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (c, v) => Row(c, v) }, 3),
      StructType(Seq(StructField("cell", IntegerType),
        StructField("emb", ArrayType(DoubleType, containsNull = true)))))

  private def rawBits(v: Seq[Double]): Seq[Long] =
    v.map(java.lang.Double.doubleToRawLongBits)

  /** cell → the reference Aggregator's mean, each element's raw bits. */
  private def refMeans(df: DataFrame): Map[Int, Seq[Long]] =
    df.groupBy(col("cell")).agg(refCentroid(col("emb")).as("m")).collect()
      .map(r => r.getInt(0) -> rawBits(r.getSeq[Double](1))).toMap

  /** cell → the Lloyd step's mean (VectorSearch.cellMeans), raw bits. */
  private def lloydMeans(df: DataFrame, dim: Int): Map[Int, Seq[Long]] =
    VectorSearch.cellMeans(df, dim).map { case (c, v) => c -> rawBits(v) }

  private def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)

  test("Lloyd aggregate: a NULL element folds as 0.0 in the typed " +
      "Aggregator, and the Lloyd step keeps it") {
    val df = cells(Seq(
      0 -> Seq(d(1.0), null), 0 -> Seq(d(2.0), d(3.0)),
      1 -> Seq(d(-0.0), null)))
    val pinned = Map(0 -> rawBits(Seq(1.5, 1.5)), 1 -> rawBits(Seq(-0.0, 0.0)))
    assert(refMeans(df) === pinned)
    assert(lloydMeans(df, 2) === pinned)
  }

  test("Lloyd aggregate: the Lloyd step's means equal the typed " +
      "Aggregator's bit for bit over 3 partitions, an all -0.0 cell " +
      "included") {
    val fx = Tables.validEmbeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0) % 5).toInt -> r.getSeq[java.lang.Double](1))
    val negZero = Seq.fill(dim)(d(-0.0))
    // the -0.0 cell's rows land in every partition (fixture rows between)
    val rows = (fx.toSeq :+ (7 -> negZero)).patch(fx.length / 3, Seq(7 -> negZero), 0)
      .patch(2 * fx.length / 3, Seq(7 -> negZero), 0)
    val df = cells(rows)
    val want = refMeans(df)
    assert(want(7) === rawBits(Seq.fill(dim)(-0.0)))
    assert(want.keySet === Set(0, 1, 2, 3, 4, 7))
    assert(lloydMeans(df, dim) === want)
  }

  test("CentroidMean plans as a codegen'd hash aggregate") {
    val plan = spark.range(10).groupBy(col("id") % 3)
      .agg(VectorExprs.centroidMean(col("id").cast("double")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), plan)
  }

  test("rankCells elects the native cellOf cell for every fixture vector " +
      "and a zero vector") {
    val emb = Tables.validEmbeddings(spark, sfDir)
    val n = emb.count()
    val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val quantizers = Seq(
      VectorSearch.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 0)._1,
      VectorSearch.ivfIndex(emb, "vec_id", "embedding", k = cells,
        iters = 1)._1)
    val vecs = emb.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .unionByName(spark.range(1).select(lit(-1L).as("vec_id"),
        typedlit(Seq.fill(dim)(0.0)).as("emb")))
    quantizers.foreach { centroids =>
      val rows = vecs
        .withColumn("cell", VectorSearch.cellOf(col("emb"), centroids))
        .collect()
      assert(rows.length === n + 1)
      rows.foreach { r =>
        val ranked = VectorSearch.rankCells(r.getSeq[Double](1), centroids)
        assert(ranked.sorted === centroids.indices)
        assert(ranked.head === r.getInt(2),
          s"vec ${r.getLong(0)}: rankCells head ${ranked.head} vs cellOf " +
            s"${r.getInt(2)} (${centroids.length} cells)")
      }
    }
  }

  test("probeVector returns the row's vector, None when absent") {
    val base = VectorSearch.normalized(Tables.validEmbeddings(spark, sfDir),
      "vec_id", "embedding")
    val want = base.filter(col("vec_id") === 0L).select(col("emb"))
      .head().getSeq[Double](0)
    assert(VectorSearch.probeVector(base, "vec_id", 0L) === Some(want))
    assert(VectorSearch.probeVector(base, "vec_id", -1L) === None)
  }

  test("probeVectorFrom reads the probe from collected rows and runs a " +
      "job only when they cannot tell") {
    val base = VectorSearch.normalized(Tables.validEmbeddings(spark, sfDir),
      "vec_id", "embedding")
    val lowest = base.orderBy(col("vec_id")).limit(4).collect().toSeq
    val want = VectorSearch.probeVector(base, "vec_id", 0L)
    assert(want.nonEmpty)
    def probe(id: Long, rows: Seq[Row]): (Option[Seq[Double]], Int) = {
      var got: Option[Seq[Double]] = None
      val jobs = jobsDuring { got = VectorSearch.probeVectorFrom(base, "vec_id", id, rows) }
      (got, jobs)
    }
    assert(probe(0L, lowest) === (want, 0))
    assert(probe(-1L, lowest) === (None, 0), "a higher id was collected")
    assert(probe(0L, Seq.empty)._1 === want, "nothing collected: the head job")
    assert(probe(0L, Seq.empty)._2 >= 1)
  }
}

object VectorSearchSpec {
  /** The typed Aggregator the Lloyd step ran before CentroidMean, kept
    * verbatim as the parity reference. */
  final case class RefBuf(var sum: Array[Double], var n: Long)

  class RefCentroidAggregator
      extends Aggregator[Seq[Double], RefBuf, Seq[Double]] {
    override def zero: RefBuf = RefBuf(Array.emptyDoubleArray, 0L)
    override def reduce(b: RefBuf, a: Seq[Double]): RefBuf = {
      if (b.n == 0L) RefBuf(a.toArray, 1L)
      else {
        var i = 0
        while (i < b.sum.length) { b.sum(i) += a(i); i += 1 }
        b.n += 1; b
      }
    }
    override def merge(x: RefBuf, y: RefBuf): RefBuf = {
      if (x.n == 0L) y
      else if (y.n == 0L) x
      else {
        var i = 0
        while (i < x.sum.length) { x.sum(i) += y.sum(i); i += 1 }
        x.n += y.n; x
      }
    }
    override def finish(b: RefBuf): Seq[Double] =
      if (b.n == 0L) Seq.empty else b.sum.map(_ / b.n).toSeq
    override def bufferEncoder: Encoder[RefBuf] = Encoders.product[RefBuf]
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }
}
