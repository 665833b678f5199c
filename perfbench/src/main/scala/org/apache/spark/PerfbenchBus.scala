package org.apache.spark

/** The listener bus is `private[spark]`; the traced run needs to wait for
  * it to deliver every event posted during the timed phase before it
  * summarises the records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
