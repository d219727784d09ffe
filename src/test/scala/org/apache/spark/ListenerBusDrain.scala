package org.apache.spark

/** Test-only access to the context's listener bus: `QueryExecutionListener`
  * callbacks arrive asynchronously on it, so a spec that counts actions
  * must drain it before reading its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
