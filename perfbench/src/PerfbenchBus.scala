package org.apache.spark

/** Bridge to the `private[spark]` listener bus, so the tracer can wait until
  * every posted event has been delivered before it reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
