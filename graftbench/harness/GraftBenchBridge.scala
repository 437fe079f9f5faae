package org.apache.spark

/** Access to the driver's listener bus, which is `private[spark]`: the
  * traced run reads listener counters only after every event posted
  * so far has been delivered. */
object GraftBenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
