package org.apache.spark

/** Test access to the `private[spark]` listener bus: specs that count
  * jobs with a SparkListener drain the bus before reading the count. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
