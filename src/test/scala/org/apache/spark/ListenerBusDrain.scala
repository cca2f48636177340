package org.apache.spark

/** Test-side access to the package-private wait on the listener bus: once
  * it returns, every listener event posted so far (query executions,
  * streaming progress) has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
