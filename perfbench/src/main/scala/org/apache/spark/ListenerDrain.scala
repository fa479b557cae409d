package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the harness reads complete counters after the last request. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
