package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two engine internals the benchmark's trace needs that Spark keeps
  * package-private: waiting for the listener bus to deliver every event
  * already posted, and the process-wide whole-stage-codegen compile count.
  * Read-only; nothing here changes how a query runs. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
