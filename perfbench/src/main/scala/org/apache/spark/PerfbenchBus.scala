package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is Spark-internal; this is the one place the
  * benchmark touches it, so counts read after a drain are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
