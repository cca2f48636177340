package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import MainEnv.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // One session config for engine/verify/bench (GraftSession carries the
    // nanosAsLong + timezone configs the events queries depend on).
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_VERIFY_ONLY=e02,e03 dumps just those queries
    // (same knob shape as Bench's SPARK_GRAFT_BENCH_ONLY).
    val only = MainEnv.only("SPARK_GRAFT_VERIFY_ONLY")
    // Failures are collected into errors.json (name → message) next to
    // oracle_sql.json: a query that throws writes no parquet, so without
    // the artifact the driver's CORRECTNESS file silently OMITS it and
    // breakage looks like a missing entry instead of a loud red (round-14
    // verdict: six analysis errors were invisible from artifacts alone).
    //
    // Each query runs under a per-query TIMEOUT (SPARK_GRAFT_VERIFY_TIMEOUT
    // seconds, default 300): one hung/runaway query must cost one entry,
    // not the whole round's correctness gate. On timeout the query's job
    // group is cancelled (interruptOnCancel frees its executor threads)
    // and the failure lands in errors.json like any other.
    val timeoutSec = MainEnv.positiveInt("SPARK_GRAFT_VERIFY_TIMEOUT", 300)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      QueryBudget.run(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case None => ()
        case Some(msg) =>
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg
      }
    }
    def json(kv: Iterable[(String, String)]) = kv
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), json(errors))
    spark.stop()
  }
}
