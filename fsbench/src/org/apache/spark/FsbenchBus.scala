package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark's tracer drains
  * it before reading listener totals, so it reaches it from here. */
object FsbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
