package org.apache.spark

/** Test access to the package-private listener bus: `drain` returns once
  * every event posted so far has reached its listeners, so a listener's
  * counts are complete when a spec reads them.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
