package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.sources.Tables

/** KernelCall, the one binding of the native scalar expressions to their
  * static kernels: every expression's interpreted `eval` and generated
  * code agree with the rows the default (whole-stage codegen) settings
  * produce, on the sf0.001 fixtures plus constructed edge rows. */
class KernelCallSpec extends SparkSpec {

  private val n = 40

  /** Fixture text and vectors, zipped by position, plus edge rows: a NULL
    * input, a NULL element, empty values, a NaN element, all -0.0 and
    * mixed ±0.0 vectors, and a NULL token (row -7, the only `words` row
    * that holds one; `grams` holds them elsewhere too). */
  private lazy val input: DataFrame = {
    val texts = Tables.documents(spark, sfDir).orderBy("doc_id").limit(n)
      .select("text").collect().map(_.getString(0))
    val vecs = Tables.validEmbeddings(spark, sfDir).orderBy("vec_id").limit(n)
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    val dim = Tables.EmbeddingDim
    def boxed(v: Seq[Double]): Seq[java.lang.Double] = v.map(Double.box)
    def toks(t: String): Seq[String] = t.split("\\s+").toSeq.filter(_.nonEmpty)
    def hashes(ws: Seq[String]): Seq[Long] = ws.map(_.hashCode.toLong).distinct.sorted
    def codes(i: Int): Seq[Integer] = (0 until 8).map(j => Int.box((i + j) % 4))
    val fixture = texts.indices.map { i =>
      val ws = toks(texts(i))
      Row(i.toLong, boxed(vecs(i)), boxed(vecs((i + 1) % vecs.length)),
        i % 4, codes(i), texts(i), ws, ws, hashes(ws),
        hashes(toks(texts((i + 1) % texts.length))))
    }
    val nullElem: Seq[java.lang.Double] =
      (0 until dim).map(i => if (i == 3) null else Double.box(0.5))
    val nanElem = (0 until dim).map(i => if (i == 5) Double.NaN else 1.0)
    val negZero = Seq.fill(dim)(-0.0)
    val signedZeros = (0 until dim).map(i => if (i % 2 == 0) -0.0 else 0.0)
    val edges = Seq(
      Row(-1L, null, null, null, null, null, null, null, null, null),
      Row(-2L, nullElem, boxed(vecs(0)), 1, Seq[Integer](0, null, 1, 2, 3, 0, 1, 2),
        "a", Seq("a", "b", "c"), Seq("to", null, "be", "or", "not"),
        Seq(1L, 5L), Seq(5L, 9L)),
      Row(-3L, Seq.empty[java.lang.Double], Seq.empty[java.lang.Double], 2,
        codes(3), "", Seq.empty[String], Seq.empty[String],
        Seq.empty[Long], Seq.empty[Long]),
      Row(-4L, boxed(nanElem), boxed(negZero), 3, codes(4),
        "the the the \tété 😀😀 end",
        Seq("x", "y"), Seq("x", "y"), Seq(3L), Seq.empty[Long]),
      Row(-5L, boxed(negZero), boxed(signedZeros), 0, codes(5), " \n ",
        Seq("one", "two", "three", "four"), Seq(null, null, null),
        Seq(-7L, 0L, 7L), Seq(-7L, 0L, 7L)),
      Row(-6L, boxed(signedZeros), boxed(vecs(1)), 1, codes(6), "x",
        Seq("p", "q", "p", "q", "p"), Seq("p", "q", "p", "q", "p"),
        Seq(2L), Seq(2L)),
      Row(-7L, boxed(vecs(2)), boxed(vecs(3)), 2, codes(7), "a b c",
        Seq("a", null, "b", "c"), Seq("a", null, "b", "c"),
        Seq(1L), Seq(1L)))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType)),
      StructField("vec2", ArrayType(DoubleType)),
      StructField("cell", IntegerType),
      StructField("codes", ArrayType(IntegerType)),
      StructField("text", StringType),
      StructField("words", ArrayType(StringType)),
      StructField("grams", ArrayType(StringType)),
      StructField("hs", ArrayType(LongType)),
      StructField("hs2", ArrayType(LongType))))
    // an RDD-backed frame, so the projection is not folded into a local
    // relation at optimization time and each factory really runs it
    spark.createDataFrame(spark.sparkContext.parallelize(fixture ++ edges, 3),
      schema)
  }

  private lazy val constants = {
    val vecs = Tables.validEmbeddings(spark, sfDir).orderBy("vec_id").limit(16)
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    val centroids = vecs.take(4).toSeq
    // 8 subspaces of 8 dims, 4 codewords each, sliced from fixture vectors
    val books = (0 until 8).map(j => (0 until 4).map(c =>
      vecs(4 + c).slice(8 * j, 8 * j + 8)))
    val signs = (0 until 6).map(r => (0 until Tables.EmbeddingDim)
      .map(i => if ((i * 7 + r * 3) % 5 < 2) -1.0 else 1.0))
    (centroids, books, signs)
  }

  private def e(name: String): Expression = GraftSqlBridge.expression(col(name))

  /** Every native scalar expression, each over the columns its kernel
    * takes. */
  private def cases: Seq[(String, Expression)] = {
    val (centroids, books, signs) = constants
    val stop = Seq("the", "a", "and", "of", "to", "is", "in")
    Seq(
      "CosineSim" -> CosineSim(e("vec"), e("vec2")),
      "DotProduct" -> DotProduct(e("vec"), e("vec2")),
      "ArrayNorm" -> ArrayNorm(e("vec")),
      "L2Normalize" -> L2Normalize(e("vec")),
      "NearestCentroidCos" -> NearestCentroidCos(e("vec"), centroids),
      "PqEncodeCodes" -> PqEncodeCodes(e("vec"), books),
      "PqReconstruct" -> PqReconstruct(e("codes"), books),
      "AddCentroid" -> AddCentroid(e("vec"), e("cell"), centroids),
      "SubCentroid" -> SubCentroid(e("vec"), e("cell"), centroids),
      "SignProject" -> SignProject(e("vec"), signs),
      "ScrubWords" -> ScrubWords(e("text"), stop),
      "SimHash64" -> SimHash64(e("text")),
      "CountWordsIn" -> CountWordsIn(e("text"), stop),
      "BpeEncode" -> BpeEncode(e("text"), Seq("t" -> "h", "th" -> "e", "e" -> "n")),
      "CharBigramStats" -> CharBigramStats(e("text")),
      "WordNgrams" -> WordNgrams(e("grams"), 2),
      "TaggedNgrams" -> TaggedNgrams(e("grams"), Seq(1, 3)),
      "BandMd5Sigs" -> BandMd5Sigs(e("grams"), 4),
      "SimHashMd5Bits" -> SimHashMd5Bits(e("words")),
      "ShingleHashes" -> ShingleHashes(e("words")),
      "MinHashSigs" -> MinHashSigs(e("words"), 4),
      "MinMd5Shingle" -> MinMd5Shingle(e("words")),
      "KMinMd5Sigs" -> KMinMd5Sigs(e("words"), 3),
      "JaccardSorted" -> JaccardSorted(e("hs"), e("hs2")),
      "WinnowFingerprints" -> WinnowFingerprints(e("text"), 3, 4))
  }

  /** A value with every double as its raw bits, so NaN and -0.0 compare
    * exactly. */
  private def exact(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(exact)
    case r: Row => r.toSeq.map(exact)
    case x => x
  }

  private def rows(x: Expression): Map[Long, Any] =
    input.select(col("id"), GraftSqlBridge.column(x)).collect()
      .map(r => r.getLong(0) -> exact(r.get(1))).toMap

  test("every kernel expression: eval and generated code agree with the " +
      "default settings on fixture and edge rows") {
    assert(cases.map(_._2.getClass).distinct.size === 25)
    val want = cases.map { case (name, x) => name -> rows(x) }
    want.foreach { case (name, w) => assert(w.size === n + 7, name) }
    val tokenKernels = Set("ShingleHashes", "MinHashSigs", "MinMd5Shingle",
      "KMinMd5Sigs", "SimHashMd5Bits")
    val onNullToken = want.collect {
      case (name, w) if tokenKernels(name) => name -> w(-7L)
    }
    assert(onNullToken.size === 5 && onNullToken.forall(_._2 == null),
      s"a NULL token must give NULL: $onNullToken")
    underEachFactory { mode =>
      cases.zip(want).foreach { case ((name, x), (_, w)) =>
        val got = rows(x)
        w.foreach { case (id, v) =>
          assert(got(id) == v, s"$mode: $name diverges on row $id")
        }
      }
    }
  }
}
