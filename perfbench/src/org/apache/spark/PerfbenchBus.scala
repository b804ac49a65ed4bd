package org.apache.spark

/** Drains Spark's listener bus, so a listener has seen every event of the
  * work done so far before the benchmark reads its counters. Lives in
  * Spark's package because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
