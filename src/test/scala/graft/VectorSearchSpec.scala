package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
}
