package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Dense-vector column helpers over ArrayType columns: the array<double>
  * widening and the DuckDB mirrors of the native vector expressions
  * (VectorExprs' dot, norm and cosine, whose strict left-to-right folds
  * are bit-identical to DuckDB's list_sum in the oracle — verified
  * empirically at sf0.01). No UDFs, no lambdas.
  */
object VectorFunctions {

  /** Widen a float array to double (float→double is exact): one `Cast`,
    * the same per-element conversion the historical
    * `transform(a, x -> cast(x as double))` ran, without the lambda. On an
    * array that is already array<double> the optimizer drops it. */
  def asDouble(a: Column): Column = a.cast(ArrayType(DoubleType, containsNull = true))

  /** DuckDB mirrors of VectorExprs.{dot, norm, cosine}, for oracle SQL
    * generation. */
  def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"
  def sqlNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> x * x)))"
  def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)})"
}
