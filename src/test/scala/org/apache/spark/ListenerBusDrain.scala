package org.apache.spark

/** Test access to the driver's listener bus: returns once every event
  * posted so far was delivered, so the status tracker has seen every job
  * that already started. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
