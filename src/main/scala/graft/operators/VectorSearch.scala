package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Index tiers:
  *   - `bruteTopK`: exact cosine top-k against one probe vector — the
  *     correctness baseline. One narrow pass + TakeOrdered; fine at any
  *     scale for single probes.
  *   - IVF (inverted-file) index: k-means-lite coarse quantizer (seeded
  *     deterministically, `iters` Lloyd steps), vectors assigned to their
  *     nearest centroid's cell; a query probes only the `nprobe` nearest
  *     cells. At 100 TB the cell assignment is one narrow pass (centroids
  *     ride inside one native expression), the index is cell-partitioned,
  *     and a probe touches nprobe/k of the data instead of all of it.
  *   - PQ (product quantization): per-subspace codebooks, codes, and
  *     asymmetric-distance scoring without decoding the corpus.
  *   - IVF-PQ: the composed index (cells + residual PQ codes) with its
  *     exact-refine tier.
  *   - sign-bit LSH clustering (`signLshRepresentatives`).
  *
  * The evaluation helpers the e-queries share live here too:
  * [[normalized]] (the zero-guarded L2 normalise), [[probeVector]] (one
  * probe row's vector) and [[rankCells]] (the driver-side probe-to-cell
  * ranking).
  *
  * The quantizers (k centroids, m × k codewords) are driver-side by
  * design — real quantizers are tiny (k ≤ 2^16) next to the vector set;
  * only the assignment, encoding and per-cell scans distribute.
  */
object VectorSearch {

  /** Typed UDAF: elementwise mean of double arrays (the Lloyd-step
    * centroid update). Buffer is (running sum, count); merge is
    * elementwise — associative and commutative, so Spark's partial
    * aggregation applies map-side. */
  final case class CentroidBuf(var sum: Array[Double], var n: Long)

  class CentroidAggregator extends Aggregator[Seq[Double], CentroidBuf, Seq[Double]] {
    override def zero: CentroidBuf = CentroidBuf(Array.emptyDoubleArray, 0L)
    override def reduce(b: CentroidBuf, a: Seq[Double]): CentroidBuf = {
      if (b.n == 0L) CentroidBuf(a.toArray, 1L)
      else {
        var i = 0
        while (i < b.sum.length) { b.sum(i) += a(i); i += 1 }
        b.n += 1; b
      }
    }
    override def merge(x: CentroidBuf, y: CentroidBuf): CentroidBuf = {
      if (x.n == 0L) y
      else if (y.n == 0L) x
      else {
        var i = 0
        while (i < x.sum.length) { x.sum(i) += y.sum(i); i += 1 }
        x.n += y.n; x
      }
    }
    override def finish(b: CentroidBuf): Seq[Double] =
      if (b.n == 0L) Seq.empty else b.sum.map(_ / b.n).toSeq
    override def bufferEncoder: Encoder[CentroidBuf] = Encoders.product[CentroidBuf]
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  val centroidUdaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new CentroidAggregator, ExpressionEncoder[Seq[Double]]())

  /** Exact cosine top-k of `emb` (array<float/double>) vs the probe row
    * `probeId`. */
  def bruteTopK(emb: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int): DataFrame = {
    val probe = emb.filter(col(idCol) === probeId)
      .select(asDouble(col(vecCol)).as("q_emb"))
    emb.filter(col(idCol) =!= probeId)
      .select(col(idCol), asDouble(col(vecCol)).as("emb"))
      .crossJoin(broadcast(probe))
      .select(col(idCol), cosine(col("emb"), col("q_emb")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Nearest-centroid cell id for a vector column, centroids embedded in
    * ONE native expression (constructor constants — no join, one codegen
    * call; see [[graft.functions.NearestCentroidCos]] for the exact
    * replication contract vs the historical per-centroid literal
    * struct/array_max tree, whose k cosine subtrees + k×dim literals made
    * e19's plan ~200 KB and were re-analyzed at every Lloyd/encode/query
    * job). Ties break to the lower cell index; distance is cosine
    * similarity (argmax). */
  def cellOf(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    // Empty quantizer (empty corpus): no cell.
    if (centroids.isEmpty) return lit(-1)
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.NearestCentroidCos(
        org.apache.spark.sql.GraftSqlBridge.expression(vec), centroids))
  }

  /** Build the IVF index: deterministic seeds (the k lowest-id vectors),
    * `iters` Lloyd steps, returns (centroids, assigned) where assigned =
    * input + `cell` column. */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 1): (Seq[Seq[Double]], DataFrame) = {
    val base = emb.select(col(idCol), asDouble(col(vecCol)).as("emb"))
    var centroids: Seq[Seq[Double]] =
      base.orderBy(col(idCol).asc).limit(k)
        .select(col("emb")).collect().map(_.getSeq[Double](0)).toSeq
    var it = 0
    while (it < iters) {
      val assigned = base.withColumn("cell", cellOf(col("emb"), centroids))
      val updated = assigned.groupBy(col("cell"))
        .agg(centroidUdaf(col("emb")).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i)))
      it += 1
    }
    (centroids, base.withColumn("cell", cellOf(col("emb"), centroids)))
  }

  /** ANN top-k: probe the `nprobe` cells whose centroids are nearest the
    * query vector; exact cosine within those cells only. */
  def ivfTopK(assigned: DataFrame, centroids: Seq[Seq[Double]],
      idCol: String, probeId: Long, k: Int, nprobe: Int): DataFrame = {
    probeVector(assigned, idCol, probeId) match {
      case None => // probe absent (e.g. empty corpus): zero rows, correct
        assigned   // schema — never a driver-side crash
          .select(col(idCol), lit(0.0).as("cos_sim"), col("cell"))
          .filter(lit(false))
      case Some(probeVec) =>
        val probeCells = rankCells(probeVec, centroids).take(nprobe)
        assigned
          .filter(col("cell").isin(probeCells: _*) && col(idCol) =!= probeId)
          .select(col(idCol), cosine(col("emb"), typedlit(probeVec)).as("cos_sim"),
            col("cell"))
          .orderBy(col("cos_sim").desc, col(idCol).asc)
          .limit(k)
    }
  }

  /** L2-normalised vectors: (idCol, emb) with emb = vecCol widened to
    * double and divided elementwise by its norm. A zero vector passes
    * through un-normalised — 0/0 would be a NaN score everywhere
    * downstream (the e01 cosine guard). The input the PQ-family queries
    * (e13/e15/e19/e20/e21/e40) train and score on. */
  def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("e"))
      .withColumn("nrm", norm(col("e")))
      .withColumn("emb", when(col("nrm") === lit(0.0), col("e"))
        .otherwise(transform(col("e"), x => x / col("nrm"))))
      .select(col(idCol), col("emb"))

  /** The `emb` vector of the row whose `idCol` is `id` — one bounded
    * head(1) job at plan-build time; None when the row is absent (e.g. an
    * empty corpus). */
  def probeVector(df: DataFrame, idCol: String, id: Long): Option[Seq[Double]] =
    df.filter(col(idCol) === id).select(col("emb")).head(1)
      .headOption.map(_.getSeq[Double](0))

  /** Every cell index, nearest first: descending driver-side cosine of
    * `probe` to each centroid, ties to the lower cell — the order the
    * native [[cellOf]] assignment elects its argmax by. The nprobe cells
    * a query scans are a prefix of it. */
  def rankCells(probe: Seq[Double], centroids: Seq[Seq[Double]]): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (cosineLocal(probe, c), i) }
      .sortBy { case (s, i) => (-s, i) }.map(_._2)

  /** Embedding near-dup CLUSTERING: every vector maps to the minimum id
    * sharing its sign-bit LSH bucket over the leading `bits` dimensions —
    * the linear-output dedup shape (see NearDup.minhashLshRepresentatives
    * for the pairs-vs-clusters scale argument: a duplicate group of size g
    * is g rows here, g² rows as pairs). `bits` picks the bucket
    * granularity: use ~log2(n/targetBucketSize) so bucket sizes stay
    * bounded as the corpus grows (the e-queries derive it from the corpus
    * count; see SimQueries.bitsFor).
    *
    * Input contract: vectors must have ≥ `bits` dimensions and be non-null
    * — under Spark 4's default ANSI mode, element_at past the end of a
    * ragged vector throws. Feed it through a dimension guard
    * (Tables.validEmbeddings) as the e-queries do. */
  def signLshRepresentatives(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int): DataFrame = {
    val bucket = (0 until bits).map { i =>
      when(element_at(col(vecCol), i + 1) > lit(0.0f), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val bucketed = emb.select(col(idCol), bucket.as("bucket"))
    val w = Window.partitionBy(col("bucket"))
    bucketed
      .withColumn("rep_id", min(col(idCol)).over(w))
      .select(col(idCol), col("rep_id"))
  }

  /** Driver-side cosine for the tiny quantizer math. */
  def cosineLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Driver-side dot for the per-query ADC table math. */
  def dotLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the code-compression tier between scalar
  // quantization (e08, 1 B/dim) and binary signs (e11, 1 bit/dim): split
  // the vector into `m` subspaces, learn `k` codewords per subspace, and
  // store only the m codeword indices (m bytes at k ≤ 256 — a 64-dim
  // float32 vector compresses 256 B → 8 B at m=8). Search never decodes
  // the corpus: the asymmetric-distance (ADC) score of a probe against a
  // code is q · reconstruct(code), which decomposes per subspace — here
  // expressed as dot(q, reconstruction) with the codebooks inlined as
  // literals, so the scan stays a narrow codegen-friendly pass and the
  // ranking reuses the same WindowGroupLimit shape as every other tier.
  // ---------------------------------------------------------------------

  /** Train PQ codebooks: `m` subspaces × ≤`k` codewords each, learned
    * DRIVER-SIDE on the `sample` lowest-id vectors (bounded by contract —
    * faiss trains PQ on a fixed sample too; the cluster never shuffles
    * for training). Deterministic end to end: sample = lowest ids,
    * seeds = first k sample subvectors, `iters` local Lloyd steps under
    * L2, empty cells keep their previous codeword, ties to the lower
    * codeword index. Returns m × (≤k) × (dim/m) codebooks (empty inner
    * seqs on an empty corpus — [[pqEncode]] guards that). */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String, m: Int,
      k: Int, sample: Int = 256, iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    val rows = emb.select(col(idCol), asDouble(col(vecCol)).as("e"))
      .orderBy(col(idCol).asc).limit(sample)
      .select(col("e")).collect().map(_.getSeq[Double](0).toArray)
    if (rows.isEmpty) return Seq.fill(m)(Seq.empty)
    val dim = rows.head.length
    // A non-divisible split would silently drop the trailing dims and make
    // pqReconstruct emit m*(dim/m)-length arrays, so every downstream ADC
    // dot() would null out (length mismatch) and the ranking would quietly
    // degenerate to the id tie-break. Fail loudly instead.
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      val xs = rows.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      var cents: Array[Array[Double]] = xs.take(k).map(_.clone)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val cnts = new Array[Long](cents.length)
        xs.foreach { x =>
          val c = nearestL2Local(x, cents)
          var i = 0
          while (i < sub) { sums(c)(i) += x(i); i += 1 }
          cnts(c) += 1
        }
        cents = Array.tabulate(cents.length)(ci =>
          if (cnts(ci) == 0L) cents(ci)
          else sums(ci).map(_ / cnts(ci)))
        it += 1
      }
      cents.map(_.toSeq).toSeq
    }
  }

  private def nearestL2Local(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < x.length) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c } // strict < keeps the lower index on ties
      c += 1
    }
    best
  }

  /** PQ code column (array<int>, length m): per subspace, the index of
    * the nearest codeword under L2, ties to the lower index (array_min on
    * (dist, idx) structs is lexicographic). Codebooks ride as literals —
    * no join, the encode pass stays narrow.
    *
    * The assignment score is the expanded form ‖c‖² − 2·x·c (the ‖x‖²
    * term is constant per subspace and cannot change the argmin), with
    * ‖c‖² folded to a Scala constant at plan-build time and x·c the
    * NATIVE one-pass dot (VectorExprs) — the interpreted
    * `aggregate(zip_with((x−y)²))` fold this replaces was the dominant
    * cost of the encode pass (measured ~1.4 s for 5k rows × 128
    * codewords at sf0.1; the native form is a fraction of that). Empty
    * codebooks (empty corpus) encode as an empty code array so the
    * expression still analyzes. */
  def pqEncode(vec: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    if (books.isEmpty || books.exists(_.isEmpty))
      return typedlit(Seq.empty[Int])
    // One native expression with the codebooks as constructor constants
    // (see graft.functions.PqEncodeCodes for the exact replication
    // contract vs the historical m × k literal struct/array_min tree,
    // which put ~1k dot subtrees in e13/e20's plans).
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqEncodeCodes(
        org.apache.spark.sql.GraftSqlBridge.expression(vec), books))
  }

  /** Reconstruction of a PQ code (the ADC identity: q · recon(code) is
    * exactly the per-subspace distance-table sum). Static concat of one
    * literal-codebook lookup per subspace — no lambda, no sequence, so
    * the per-row work is m array indexings and one concat. */
  def pqReconstruct(codes: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    if (books.isEmpty || books.exists(_.isEmpty))
      return typedlit(Seq.empty[Double])
    // One native expression with the codebooks as constructor constants
    // (see graft.functions.PqReconstruct for the exact replication
    // contract vs the historical concat-of-m-literal-lookups tree, which
    // kept ~25-36 KB of codeword literals in the PQ-family plans).
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqReconstruct(
        org.apache.spark.sql.GraftSqlBridge.expression(codes), books))
  }

  /** IVF-PQ approximate vector: centroids[cell] + pqReconstruct(codes),
    * elementwise — the ADC scoring input of the composed index (e20/e21).
    * Native AddCentroid replicates the historical
    * `zip_with(element_at(typedlit(centroids), cell + 1), recon,
    * (c, r) -> c + r)` exactly (see graft.functions.AddCentroid) without
    * the centroid literal or the per-element lambda. */
  def pqReconstructInCell(codes: Column, cell: Column,
      centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Column = {
    val recon = pqReconstruct(codes, books)
    if (centroids.isEmpty) recon
    else org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AddCentroid(
        org.apache.spark.sql.GraftSqlBridge.expression(recon),
        org.apache.spark.sql.GraftSqlBridge.expression(cell),
        centroids))
  }

  // ---------------------------------------------------------------------
  // IVF-PQ — the COMPOSED index (faiss IndexIVFPQ; Jégou, Douze, Schmid,
  // "Product Quantization for Nearest Neighbor Search", PAMI 2011 §V).
  // Neither tier alone deploys at 100 TB: IVF with raw vectors still
  // stores 256 B/vector (e05), and flat PQ still scans every code for
  // every query (e13). Composed, the index stores cell + m code bytes
  // per vector and a query scans only nprobe cells' codes. PQ trains on
  // RESIDUALS (vector − cell centroid): residuals concentrate near the
  // origin with most inter-vector variance removed, so the same k
  // codewords quantize them far more precisely than raw vectors — the
  // paper's measured reason IVFADC beats IVF+flat-PQ at equal bytes.
  // ---------------------------------------------------------------------

  /** Build the composed index: coarse quantizer ([[ivfIndex]]) → residual
    * per vector (one narrow zip_with against the centroid literal — no
    * join) → PQ codebooks trained on the `sample` lowest-id RESIDUALS
    * (driver-side, bounded by contract like [[pqTrain]]) → per-vector
    * codes. Returns (centroids, books, index) where index =
    * (idCol, cell, codes) — the complete 100 TB layout: ~1+m bytes of
    * index state per vector, raw vectors never needed again at query
    * time. Deterministic end to end (lowest-id seeds everywhere). */
  def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      kCells: Int, m: Int, k: Int, iters: Int = 1, sample: Int = 256,
      pqIters: Int = 2)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) = {
    val (centroids, assigned) = ivfIndex(emb, idCol, vecCol, kCells, iters)
    // Empty quantizer (empty corpus): cellOf is the LITERAL -1, so an
    // element_at(..., cell+1) would constant-fold to index 0 and throw at
    // plan time even over zero rows — skip the (row-free) subtraction.
    // Native residual (see graft.functions.SubCentroid): the zip_with
    // form carried the centroid matrix as an inline literal — the last
    // large constant in the IVF-PQ plans after the round-21 quantizer
    // expressions — and dispatched its lambda per element.
    val resCol =
      if (centroids.isEmpty) col("emb")
      else org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SubCentroid(
          org.apache.spark.sql.GraftSqlBridge.expression(col("emb")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("cell")),
          centroids))
    val withRes = assigned.withColumn("res", resCol)
    val books = pqTrain(withRes, idCol, "res", m, k, sample, pqIters)
    val index = withRes
      .withColumn("codes", pqEncode(col("res"), books))
      .select(col(idCol), col("cell"), col("codes"))
    (centroids, books, index)
  }

  /** Per-subspace table-lookup ADC score of one probe against a `codes`
    * column — the PQ paper's actual query-time kernel: the m lookup
    * tables T_j[c] = q_j · codebook_j[c] are computed DRIVER-SIDE once
    * per query (m·k dots on constants) and inlined as literals, so the
    * per-row work is m array indexings and m−1 adds — no reconstruction,
    * no 64-wide dot, nothing decoded. Equals q·recon(code) up to
    * summation order. */
  def adcScore(codes: Column, books: Seq[Seq[Seq[Double]]],
      probe: Seq[Double]): Column = {
    if (books.isEmpty || books.exists(_.isEmpty)) return lit(0.0)
    val sub = books.head.head.length
    books.zipWithIndex.map { case (cws, j) =>
      val qj = probe.slice(j * sub, (j + 1) * sub)
      val table = cws.map(cw => dotLocal(qj, cw))
      element_at(typedlit(table), element_at(codes, j + 1) + 1)
    }.reduce(_ + _)
  }

  /** IVF-PQ ANN top-k: probe the `nprobe` cells nearest the query, score
    * each candidate as q·centroid[cell] (a k-entry literal lookup — constant
    * per cell, also driver-computed) plus the residual table-ADC score.
    * The scan touches ONLY (cell, codes) — never a raw vector — and the
    * cell filter prunes to nprobe/kCells of the index before any scoring
    * (at scale the index is cell-partitioned, so this is partition
    * pruning, not a filter). */
  def ivfPqTopK(index: DataFrame, centroids: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], probe: Seq[Double], idCol: String,
      k: Int, nprobe: Int, excludeId: Long): DataFrame = {
    val probeCells = rankCells(probe, centroids).take(nprobe)
    val qDotCell =
      if (centroids.isEmpty) lit(0.0)
      else element_at(typedlit(centroids.map(c => dotLocal(probe, c))),
        col("cell") + 1)
    index
      .filter(col("cell").isin(probeCells: _*) && col(idCol) =!= excludeId)
      .select(col(idCol), col("cell").cast("bigint").as("cell"),
        (qDotCell + adcScore(col("codes"), books, probe)).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Refine tier over [[ivfPqTopK]] (faiss IndexRefineFlat): exact-cosine
    * rerank of the ADC top-`candidates`. Quantization noise mostly
    * PERMUTES near neighbors rather than dropping them, so an exact pass
    * over a bounded candidate set recovers most of the recall the codes
    * lose — at the cost of fetching `candidates` raw vectors per query:
    * the candidate id list is tiny, AQE broadcasts it, and the vector
    * store side never shuffles (the d35/d47 join-back rule). This is the
    * three-tier layout a deployed 100 TB ANN service runs: cell prune →
    * code scan → exact refine, each stage touching orders of magnitude
    * fewer rows than the last. */
  def ivfPqRerankTopK(index: DataFrame, emb: DataFrame,
      centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      probe: Seq[Double], idCol: String, vecCol: String, k: Int,
      nprobe: Int, candidates: Int, excludeId: Long): DataFrame = {
    val adcTop = ivfPqTopK(index, centroids, books, probe, idCol,
        candidates, nprobe, excludeId)
      .select(col(idCol), col("adc_score"))
    emb.select(col(idCol), col(vecCol))
      .join(adcTop, idCol)
      .select(col(idCol),
        graft.functions.VectorFunctions.cosine(col(vecCol), typedlit(probe))
          .as("cos_sim"),
        col("adc_score"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }
}
