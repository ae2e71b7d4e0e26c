package org.apache.spark

/** Test access to the listener bus: a listener's counts are complete only
  * once every event posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
