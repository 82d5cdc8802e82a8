package org.apache.spark

/** The listener bus is package-private; a traced run must wait for it to
  * deliver every event before it reads its counters. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
