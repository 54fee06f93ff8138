package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced operation's counts are complete before they are read. Lives in
  * Spark's package because the listener bus is private to it.
  */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
