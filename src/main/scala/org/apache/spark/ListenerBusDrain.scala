package org.apache.spark

/** Access to the package-private listener bus: returns once every event
  * posted so far has reached every listener, so a listener's counts (or
  * captured plans) are complete when the caller reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
