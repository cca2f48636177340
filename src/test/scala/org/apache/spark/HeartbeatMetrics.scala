package org.apache.spark

import org.apache.spark.executor.ExecutorMetrics

/** Test-side access to the metrics poll that every heartbeat makes. Its
  * first call initialises the JVM-wide process-tree metrics getter, which
  * forks `getconf PAGESIZE` once; the driver's heartbeater otherwise makes
  * that first call 10-20 s after the context starts. */
object HeartbeatMetrics {
  def poll(sc: SparkContext): Unit = ExecutorMetrics.getCurrentMetrics(sc.env.memoryManager)
}
