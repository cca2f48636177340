package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import KernelCall.const

/** Native codegen expression for cosine similarity over two array<double>
  * columns.
  *
  * The `functions._` formulation (three `aggregate`/`zip_with`/`transform`
  * folds) evaluates interpreted lambdas per element — ~6 closure dispatches
  * and several array allocations per 64-dim pair, which dominates the
  * bucketed-ANN queries (the per-pair cosine is the inner loop of every
  * candidate join). This expression is one fused primitive loop.
  *
  * Value parity with the fold form (and with the DuckDB oracle's
  * `list_sum(list_transform(...))`): all three accumulations (dot, |a|²,
  * |b|²) run strictly left-to-right in element order, so the doubles are
  * bit-identical to the previous formulation — each accumulator's sequence
  * of additions is unchanged. Verified by VectorSearchSpec and the e01-e04
  * oracle rows.
  *
  * Null semantics match the fold form: null array, mismatched lengths, or
  * any null element → null; zero denominator → null (Spark's `Divide`
  * yields null on zero divisor in non-ANSI mode).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "cosine"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native codegen dot product over two array<double> columns — the same
  * fused-loop upgrade as [[CosineSim]] for the folds that DON'T normalize
  * (PQ's ADC score is the hot caller: probes × corpus interpreted
  * `aggregate(zip_with(...))` folds dominated e13's scan). Accumulation is
  * strictly left-to-right in element order, so values are bit-identical to
  * the `aggregate`/`zip_with` formulation and to DuckDB's
  * `list_sum(list_transform(list_zip(...)))`. Null semantics match the
  * fold form: null array, length mismatch, or any null element → null. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "dot"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native codegen L2 norm of one array<double> column — the one-pass form
  * of the interpreted fold
  * `sqrt(aggregate(transform(a, x -> x*x), 0.0, (acc, x) -> acc + x))`
  * (VectorFunctions.norm's historical tree, kept verbatim in NearDupSpec
  * as the parity pin). Value parity: the accumulation is the same strict
  * left-to-right `s += x·x` IEEE sequence, and Math.sqrt is correctly
  * rounded in both forms, so doubles are bit-identical — including to the
  * DuckDB oracle's `sqrt(list_sum(list_transform(x, x -> x*x)))`. Null
  * semantics match the fold form: null array → null (KernelCall); a
  * null element nulls the whole accumulation; empty array → sqrt(0) = 0. */
case class ArrayNorm(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_norm"

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "norm"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): ArrayNorm = copy(child = newChild)
}

/** Native codegen L2 normalise of one array<double> column — the one-call
  * form of VectorSearch.normalized's historical tree
  * `when(nrm = 0, e).otherwise(transform(e, x -> x / nrm))` with
  * `nrm = array_norm(e)`, whose interpreted lambda ran once per element
  * and, pushed into a filter (e19's `cell IN (…)`), once more per
  * reference. Replicates the tree exactly: nrm is [[VectorOps.norm]]'s
  * strict left-to-right fold, each element is divided by it (`x / nrm`,
  * the IEEE division Spark's Divide performs for a non-zero divisor), a
  * zero norm (all ±0.0 elements, or an empty array) passes the array
  * through unchanged — signed zeros included — and a NULL element makes
  * the norm NULL, so every element of the result is NULL (`x / NULL`). A
  * NaN or infinite element divides like any other (NaN ≠ 0). A NULL
  * array stays NULL. Parity under both expression factories is pinned by
  * VectorSearchSpec. */
case class L2Normalize(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "l2_normalize"

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "l2Normalize"

  override protected def withNewChildInternal(
      newChild: Expression): L2Normalize = copy(child = newChild)
}

/** Mean of one double column — one coordinate of a Lloyd-step centroid
  * update (VectorSearch folds each (cell, coordinate) group with it). A
  * declarative aggregate of two buffer slots, so Spark plans it as a
  * codegen'd hash aggregate with map-side partial aggregation.
  *
  * The fold is the one the typed Aggregator it replaced ran per
  * coordinate (that Aggregator's copy is the parity reference in
  * VectorSearchSpec): the FIRST value of a partial buffer is copied, not
  * added to 0.0 — Spark's Sum starts at 0.0, and 0.0 + -0.0 = +0.0 would
  * flip the sign of an all -0.0 coordinate — and every later value is
  * added in arrival order; merge keeps a side whose count is 0 untouched
  * and otherwise adds the right sum into the left; the result divides
  * the sum by the count. A NULL value is skipped, as `avg` skips it; a
  * group with no value yields NULL. */
case class CentroidMean(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_mean"

  private lazy val sum = AttributeReference("sum", DoubleType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(sum, n)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0.0), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    Seq(
      If(IsNull(x), sum, If(EqualTo(n, Literal(0L)), x, Add(sum, x))),
      If(IsNull(x), n, Add(n, Literal(1L))))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    If(EqualTo(n.left, Literal(0L)), sum.right,
      If(EqualTo(n.right, Literal(0L)), sum.left, Add(sum.left, sum.right))),
    Add(n.left, n.right))

  override lazy val evaluateExpression: Expression =
    If(EqualTo(n, Literal(0L)), Literal(null, DoubleType),
      Divide(sum, Cast(n, DoubleType)))

  override protected def withNewChildInternal(
      newChild: Expression): CentroidMean = copy(child = newChild)
}

/** Nearest-centroid cell id (cosine argmax, ties to the LOWER index) with
  * the centroid matrix embedded as a constructor CONSTANT — the native
  * form of VectorSearch.cellOf's literal tree
  * `(-array_max(array(struct(cosine(vec, typedlit(c_i)), -i))).negCell)`.
  * The tree form inlined k centroids × dim doubles as plan literals plus
  * k cosine subtrees: at e19's k≈45 that is ~200 KB of plan text, paid
  * again at every Lloyd/encode/query job as analysis + codegen time.
  * This node is ONE expression whose codegen is a single static call.
  *
  * Decision procedure replicates the tree EXACTLY: per-centroid cosine
  * with [[VectorOps.cosine]]'s arithmetic (strict left-to-right dot/norm
  * folds; null on length mismatch, null element, or zero denominator);
  * the argmax compares scores with Spark's SQL double ordering
  * (SQLOrderingUtil: NaN largest, -0.0 == 0.0) and the struct ordering's
  * null-first rule (a null score never beats a non-null one; all-null →
  * cell 0) with ties to the lower index. A NULL vector scores null
  * against every centroid, so it too is cell 0. Parity with the literal
  * tree is pinned by NearDupSpec. */
case class NearestCentroidCos(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid_cos"
  // keep the k x dim constant out of plan text (one node, not k literals)
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"<${centroids.length} centroids>")

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "nearestCentroidCos"
  override protected def kernelTakesNull: Boolean = true
  override protected def constants: Seq[Expression] =
    Seq(const(VectorOps.matrix(centroids)))

  override protected def withNewChildInternal(
      newChild: Expression): NearestCentroidCos = copy(child = newChild)
}

/** PQ code assignment (per-subspace L2 argmin, ties to the LOWER index)
  * with the codebooks embedded as constructor CONSTANTS — the native form
  * of VectorSearch.pqEncode's literal tree
  * `array(array_min(array(struct(‖c‖² − 2·dot(slice(vec), typedlit(c)),
  * ci))).c, ...)`. The tree form inlined m × k codeword literals and m × k
  * dot subtrees (m=8, k=128 → ~1k struct nodes, the 70-90 KB plans of
  * e13/e20); this is ONE node, one static call.
  *
  * Replicates the tree exactly: d_ci = ‖c_ci‖² − 2.0 · dot(slice, c_ci)
  * with ‖c‖² the same Scala left-fold constant the tree inlined and dot
  * the strict left-to-right fold; an invalid slice (vector too short /
  * null element — every d null together since all codewords share the
  * subspace width) yields code 0, the tree's array_min-of-null-first
  * result; comparisons use Spark's SQL double ordering. Parity pinned by
  * NearDupSpec. */
case class PqEncodeCodes(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode_codes"
  // keep the m x k x sub constant out of plan text
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"<${books.length}x${books.headOption.map(_.length).getOrElse(0)} codebooks>")

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "pqEncodeCodes"
  // ‖c‖² per codeword, the SAME Seq.sum left fold the literal tree
  // computed at plan-build time — precomputed once per expression.
  override protected def constants: Seq[Expression] = Seq(
    const(books.map(VectorOps.matrix).toArray),
    const(VectorOps.matrix(books.map(_.map(cw => cw.map(x => x * x).sum)))))

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeCodes = copy(child = newChild)
}

/** PQ reconstruction: one codebook lookup per subspace, concatenated —
  * the native form of VectorSearch.pqReconstruct's literal tree
  * `concat(element_at(typedlit(cws_j), element_at(codes, j+1) + 1), ...)`.
  * The tree form inlined the m × k × sub codeword matrix as m typedlit
  * literals (the last ~25-36 KB of plan text in the PQ family after the
  * round-21 encode expression) and paid m element_at dispatches plus a
  * concat allocation per row; this is ONE node, one static call.
  *
  * Replicates the tree exactly: a NULL codes array → null (KernelCall);
  * a NULL code element → null result (the tree's concat-of-null rule); a
  * codes array shorter than m, or a code outside [0, k), throws — as the
  * ANSI element_at did (both unreachable for pqEncode output). Output
  * element type matches the tree (non-null doubles). Parity pinned by
  * NearDupSpec. */
case class PqReconstruct(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_reconstruct"
  // keep the m x k x sub constant out of plan text
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"<${books.length}x${books.headOption.map(_.length).getOrElse(0)} codebooks>")

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "pqReconstruct"
  override protected def kernelNullable: Boolean = true
  override protected def constants: Seq[Expression] =
    Seq(const(books.map(VectorOps.matrix).toArray))

  override protected def withNewChildInternal(
      newChild: Expression): PqReconstruct = copy(child = newChild)
}

/** Approximate vector from an IVF-PQ entry: recon + centroids[cell],
  * elementwise — the native form of `zip_with(element_at(typedlit(
  * centroids), cell + 1), recon, (c, r) -> c + r)` (the e20/e21 ADC
  * scoring input), whose centroid-matrix literal and per-element lambda
  * this removes, exactly as [[SubCentroid]] did for the residual.
  * Replicates zip_with: output length = max(|vec|, |centroid|), the
  * shorter side padded with nulls; a null vec element yields a null
  * element (IEEE + commutes bitwise, so the zip_with's c + r order is
  * preserved). `cell` is cellOf's output — always a valid index here.
  * Parity pinned by NearDupSpec. */
case class AddCentroid(left: Expression, right: Expression,
    centroids: Seq[Seq[Double]]) extends BinaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "add_centroid"
  // keep the centroid matrix out of plan text
  override def stringArgs: Iterator[Any] =
    Iterator(left, right, s"<${centroids.length} centroids>")

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "addCentroid"
  override protected def constants: Seq[Expression] =
    Seq(const(VectorOps.matrix(centroids)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AddCentroid =
    copy(left = newLeft, right = newRight)
}

/** Residual vs an assigned centroid: vec − centroids[cell], elementwise —
  * the native form of `zip_with(vec, element_at(typedlit(centroids),
  * cell + 1), (x, c) -> x - c)`, whose centroid-matrix literal was the
  * last large inline constant in the IVF-PQ plans (~80 KB of plan text
  * re-printed per Project node) and whose lambda dispatched per element.
  * Replicates zip_with exactly: output length = max(|vec|, |centroid|),
  * the shorter side padded with nulls (null - c = x - null = null); a
  * null vec element yields a null residual element. `cell` is cellOf's
  * output — always a valid index here (the empty-quantizer case never
  * constructs this node). Parity pinned by NearDupSpec. */
case class SubCentroid(left: Expression, right: Expression,
    centroids: Seq[Seq[Double]]) extends BinaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "sub_centroid"
  // keep the centroid matrix out of plan text
  override def stringArgs: Iterator[Any] =
    Iterator(left, right, s"<${centroids.length} centroids>")

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "subCentroid"
  override protected def constants: Seq[Expression] =
    Seq(const(VectorOps.matrix(centroids)))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubCentroid =
    copy(left = newLeft, right = newRight)
}

/** Dense ±1 sign projection (e16's JL reduction): one native node for the
  * `array(dot(e, typedlit(row_0)), …, dot(e, typedlit(row_k)))` tree, whose
  * k sign-row literals were the last large inline constants in e16's plan
  * (~22 KB of text) and whose k dot dispatches each re-read the child
  * array. One expression, one static call, one child read per row.
  *
  * Replicates the tree exactly: element r is [[VectorOps.dot]] of the
  * vector against sign row r — the same strict left-to-right
  * `d += e(i) * s(i)` accumulation, null on length mismatch or any null
  * element — and the output array itself is never null (CreateArray
  * semantics). A NULL child returns null (the tree returned an array of k
  * nulls) — unreachable at the only call site, e16, whose input is
  * [[graft.sources.Tables.validEmbeddings]] (size-filtered, so never
  * null); the reachable domain is pinned by NearDupSpec. */
case class SignProject(child: Expression, signs: Seq[Seq[Double]])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_project"
  // keep the k x dim sign matrix out of plan text
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"<${signs.length}x${signs.headOption.map(_.length).getOrElse(0)} signs>")

  override protected def kernels: AnyRef = VectorOps
  override protected def kernel: String = "signProject"
  override protected def constants: Seq[Expression] =
    Seq(const(VectorOps.matrix(signs)))

  override protected def withNewChildInternal(
      newChild: Expression): SignProject = copy(child = newChild)
}

object VectorOps {
  import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}

  /** A row-major matrix constant as the kernels take it. */
  def matrix(rows: Seq[Seq[Double]]): Array[Array[Double]] =
    rows.map(_.toArray).toArray

  /** See [[SignProject]]: element r = dot(vec, signs(r)), each the strict
    * left-to-right fold of [[dot]] (null on length mismatch / null
    * element); the array itself is never null. */
  def signProject(vec: ArrayData, signs: Array[Array[Double]]): ArrayData = {
    val k = signs.length
    val out = new Array[Any](k)
    val n = vec.numElements()
    var r = 0
    while (r < k) {
      val row = signs(r)
      var res: java.lang.Double = null
      if (n == row.length) {
        var d = 0.0; var i = 0; var ok = true
        while (i < n && ok) {
          if (vec.isNullAt(i)) ok = false
          else { d += vec.getDouble(i) * row(i); i += 1 }
        }
        if (ok) res = java.lang.Double.valueOf(d)
      }
      out(r) = res
      r += 1
    }
    new GenericArrayData(out)
  }

  /** See [[PqReconstruct]]. Returns null iff a code element is null. */
  def pqReconstruct(codes: ArrayData,
      books: Array[Array[Array[Double]]]): ArrayData = {
    val m = books.length
    if (codes.numElements() < m)
      throw new ArrayIndexOutOfBoundsException(
        s"codes has ${codes.numElements()} elements, expected $m")
    var dim = 0
    var j = 0
    while (j < m) { dim += books(j)(0).length; j += 1 }
    val out = new Array[Double](dim)
    var off = 0
    j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val cw = books(j)(codes.getInt(j)) // out-of-range code throws (ANSI element_at parity)
      System.arraycopy(cw, 0, out, off, cw.length)
      off += cw.length
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** See [[AddCentroid]]. */
  def addCentroid(vec: ArrayData, cell: Int,
      cents: Array[Array[Double]]): ArrayData = {
    val c = cents(cell)
    val nv = vec.numElements()
    val n = math.max(nv, c.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= nv || i >= c.length || vec.isNullAt(i)) null
        else java.lang.Double.valueOf(vec.getDouble(i) + c(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[SubCentroid]]. */
  def subCentroid(vec: ArrayData, cell: Int,
      cents: Array[Array[Double]]): ArrayData = {
    val c = cents(cell)
    val nv = vec.numElements()
    val n = math.max(nv, c.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= nv || i >= c.length || vec.isNullAt(i)) null
        else java.lang.Double.valueOf(vec.getDouble(i) - c(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[NearestCentroidCos]]: cosine argmax over the centroid rows,
    * SQL double ordering, null scores lose, ties (and all-null, a NULL
    * vector's) to the lower index. */
  def nearestCentroidCos(vec: ArrayData, cents: Array[Array[Double]]): Int = {
    if (vec == null) return 0
    var bestIdx = 0
    var bestS: java.lang.Double = null
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var s: java.lang.Double = null
      if (vec.numElements() == c.length) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var k = 0; var ok = true
        while (k < c.length && ok) {
          if (vec.isNullAt(k)) ok = false
          else {
            val x = vec.getDouble(k); val y = c(k)
            dot += x * y; na += x * x; nb += y * y
          }
          k += 1
        }
        if (ok) {
          val denom = math.sqrt(na) * math.sqrt(nb)
          if (denom != 0.0) s = java.lang.Double.valueOf(dot / denom)
        }
      }
      if (i > 0 && s != null && (bestS == null ||
          SQLOrderingUtil.compareDoubles(s.doubleValue(), bestS.doubleValue()) > 0)) {
        bestIdx = i; bestS = s
      } else if (i == 0) bestS = s
      i += 1
    }
    bestIdx
  }

  /** See [[PqEncodeCodes]]: per-subspace argmin of ‖c‖² − 2·x·c, ties to
    * the lower codeword; invalid slice → code 0. */
  def pqEncodeCodes(vec: ArrayData, books: Array[Array[Array[Double]]],
      c2: Array[Array[Double]]): ArrayData = {
    val m = books.length
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val cws = books(j)
      val sub = if (cws.length > 0) cws(0).length else 0
      val off = j * sub
      var valid = sub > 0 && vec.numElements() >= off + sub
      if (valid) {
        var i = 0
        while (i < sub && valid) { if (vec.isNullAt(off + i)) valid = false; i += 1 }
      }
      if (!valid) out(j) = 0
      else {
        var bestC = 0; var bestD = 0.0; var first = true
        var ci = 0
        while (ci < cws.length) {
          val cw = cws(ci)
          var dot = 0.0; var i = 0
          while (i < sub) { dot += vec.getDouble(off + i) * cw(i); i += 1 }
          val d = c2(j)(ci) - 2.0 * dot
          if (first || SQLOrderingUtil.compareDoubles(d, bestD) < 0) {
            bestD = d; bestC = ci; first = false
          }
          ci += 1
        }
        out(j) = bestC
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** See [[L2Normalize]]: x / norm per element; a zero norm returns the
    * input itself, a NULL norm (a NULL element) an all-NULL array. */
  def l2Normalize(a: ArrayData): ArrayData = {
    val nrm = norm(a)
    val n = a.numElements()
    if (nrm == null) new GenericArrayData(new Array[Any](n))
    else {
      val d = nrm.doubleValue()
      if (d == 0.0) a
      else {
        val out = new Array[Double](n)
        var i = 0
        while (i < n) { out(i) = a.getDouble(i) / d; i += 1 }
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(out)
      }
    }
  }

  /** One-pass L2 norm; see [[ArrayNorm]] for the exact-parity contract. */
  def norm(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      s += x * x
      i += 1
    }
    java.lang.Double.valueOf(math.sqrt(s))
  }

  /** One-pass dot; see [[DotProduct]] for the exact-parity contract. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var d = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      d += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(d)
  }

  /** One-pass cosine; see [[CosineSim]] for the exact-parity contract.
    * Returns a boxed Double or null. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }
}

object VectorExprs {
  /** Cosine similarity of two array<double> columns (native expression). */
  def cosine(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      CosineSim(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Dot product of two array<double> columns (native expression). */
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** L2 norm of one array<double> column (native expression). */
  def norm(a: Column): Column =
    GraftSqlBridge.column(ArrayNorm(GraftSqlBridge.expression(a)))

  /** L2-normalised array<double> column, zero vectors passed through
    * (native expression; see [[L2Normalize]]). */
  def l2Normalize(a: Column): Column =
    GraftSqlBridge.column(L2Normalize(GraftSqlBridge.expression(a)))

  /** Mean of a double column, its first value copied rather than added
    * to 0.0 (native aggregate; see [[CentroidMean]]). */
  def centroidMean(x: Column): Column =
    GraftSqlBridge.column(
      CentroidMean(GraftSqlBridge.expression(x)).toAggregateExpression())

  /** Dense ±1 sign projection of an array<double> column (native
    * expression; see [[SignProject]]). */
  def signProject(a: Column, signs: Seq[Seq[Double]]): Column =
    GraftSqlBridge.column(
      SignProject(GraftSqlBridge.expression(a), signs))
}
