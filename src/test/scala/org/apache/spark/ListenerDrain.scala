package org.apache.spark

/** Test hook: block until every event already posted to the listener
  * bus has been delivered, so a listener's counts are final. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
