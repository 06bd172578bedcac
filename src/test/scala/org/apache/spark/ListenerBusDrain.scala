package org.apache.spark

/** Test access to the package-private listener bus: returns once every event
  * posted so far has reached every listener, so a listener's counts are
  * complete when a spec reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
