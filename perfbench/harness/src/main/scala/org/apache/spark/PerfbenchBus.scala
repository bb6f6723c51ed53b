package org.apache.spark

/** The listener bus is private to Spark; the benchmark's trace needs
  * to wait until every event of a finished action has been delivered
  * before it reads its counts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
