package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered before it reads its tracer, so no job is missed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
