package org.apache.spark

/** Listener delivery is asynchronous; tracing drains the bus before it
  * reads what its listener accumulated.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
