package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Dense-vector column math over ArrayType columns.
  *
  * dot, norm, cosine and l2Normalize are native Catalyst expressions
  * (VectorExprs), codegen'd one-pass loops; asDouble is a `Cast` to
  * array<double>. Every fold accumulates strictly left to right, so
  * double results are deterministic under any partitioning AND
  * bit-identical to DuckDB's list_sum in the oracle (verified empirically
  * at sf0.01). No UDFs, no lambdas.
  */
object VectorFunctions {

  /** Widen a float array to double (float→double is exact): one `Cast`,
    * the same per-element conversion the historical
    * `transform(a, x -> cast(x as double))` ran, without the lambda. On an
    * array that is already array<double> the optimizer drops it. */
  def asDouble(a: Column): Column = a.cast(ArrayType(DoubleType, containsNull = true))

  /** Dot product of two equal-length double arrays — the native one-pass
    * expression (VectorExprs.DotProduct); bit-identical to the fold form
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (strict left-to-right
    * accumulation) but fused into one codegen'd loop — the interpreted
    * fold dominated e13's ADC scan (probes × corpus dots). */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  /** L2 norm — the native one-pass expression (VectorExprs.ArrayNorm);
    * bit-identical to the historical interpreted fold
    * `sqrt(aggregate(transform(a, x => x*x), 0.0, _+_))` (same strict
    * left-to-right accumulation — parity pinned in NearDupSpec) without
    * the two per-row lambda sweeps and the squared-array allocation. */
  def norm(a: Column): Column = VectorExprs.norm(a)

  /** L2-normalised vector, a zero vector passed through unchanged — the
    * native one-call expression (VectorExprs.L2Normalize); bit-identical
    * to `when(norm(a) = 0, a).otherwise(transform(a, x => x / norm(a)))`
    * (parity pinned in VectorSearchSpec). */
  def l2Normalize(a: Column): Column = VectorExprs.l2Normalize(a)

  /** Cosine similarity — the native one-pass expression (VectorExprs);
    * bit-identical to `dot(a,b)/(norm(a)*norm(b))` (strict left-to-right
    * accumulation, see CosineSim's scaladoc) but ~an order of magnitude
    * faster in the candidate-pair hot loops. */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosine(a, b)

  /** DuckDB mirrors of the above, for oracle SQL generation. */
  def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"
  def sqlNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> x * x)))"
  def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)})"
}
