package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so a
  * traced window holds every event its work caused.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
