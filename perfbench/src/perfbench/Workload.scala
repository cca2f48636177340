package perfbench

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload's timed phase measured and checked. `endToEnd` holds the
  * benchmark's end-to-end metrics (timed with tracing off), `report` the
  * same figures under the workload's own names for the human-readable
  * lines, `perLayer` the traced run's layer metrics (empty when untraced). */
final case class Measured(
    attempted: Int,
    failures: Seq[String],
    failedOps: Int,
    endToEnd: Seq[Metric],
    report: Seq[Metric],
    perLayer: Map[String, Double],
    spans: Seq[Span],
    detail: Seq[(String, Any)])

/** One benchmark workload. The harness calls `prepare` once (load
  * generation: untimed and not part of set-up), `setUp` once per repeated
  * set-up (warm-up and sink creation: part of setup_s), `beforeTiming` once
  * on the final session (untimed preparation that needs Spark), then
  * `measure`. */
trait Workload {
  def prepare(): Unit
  def setUp(spark: SparkSession, k: Int): Unit
  def beforeTiming(spark: SparkSession): Unit
  def measure(spark: SparkSession, trace: Option[Trace]): Measured
}

/** The per-layer metrics every traced run reports, in print order. Layers
  * are named after the engine's modules; a layer a workload does not
  * exercise reads 0 (for example the sink layer on the query workloads). */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "session.create_ms" -> "ms",
    "streaming.offsets_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "streaming.input_evals" -> "ratio",
    "operators.transform_ms" -> "ms",
    "sinks.append_ms" -> "ms",
    "sinks.id_base_ms" -> "ms",
    "sinks.write_ms" -> "ms",
    "sinks.rows_scanned_per_row_loaded" -> "ratio",
    "sources.bytes_read" -> "bytes",
    "sources.records_read" -> "count",
    "queries.build_ms" -> "ms",
    "queries.analysis_ms" -> "ms",
    "queries.optimization_ms" -> "ms",
    "queries.planning_ms" -> "ms",
    "codegen.compiles" -> "count",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.exchanges" -> "count",
    "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.busy_share" -> "ratio",
    "host.calib_ms" -> "ms")

  /** The layer metrics every workload derives the same way from the
    * events of its timed window [from, to]. */
  def common(w: Trace.Window, from: Double, to: Double, codegenCompiles: Long): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    Map(
      "sources.bytes_read" -> w.bytesRead,
      "sources.records_read" -> w.recordsRead,
      "queries.analysis_ms" -> w.analysisMs,
      "queries.optimization_ms" -> w.optimizationMs,
      "queries.planning_ms" -> w.planningMs,
      "codegen.compiles" -> codegenCompiles.toDouble,
      "queries.jobs" -> w.jobs.toDouble,
      "queries.stages" -> w.stages.toDouble,
      "queries.tasks" -> w.tasks.size.toDouble,
      "queries.exchanges" -> w.exchanges,
      "exec.run_ms" -> w.runMs,
      "exec.cpu_ms" -> w.cpuMs,
      "exec.gc_ms" -> w.gcMs,
      "exec.shuffle_write_bytes" -> w.shuffleWrite,
      "exec.shuffle_read_bytes" -> w.shuffleRead,
      "exec.spill_bytes" -> w.spill,
      "exec.busy_share" -> w.runMs / ((to - from) * cores))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
