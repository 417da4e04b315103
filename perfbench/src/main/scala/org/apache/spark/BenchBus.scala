package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait until
  * every event posted so far has reached its listeners. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
