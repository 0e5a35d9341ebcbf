package org.apache.spark

/** Test access to the listener bus, whose drain is private[spark]:
  * a listener's counts are complete only after the bus is empty.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
