package org.apache.spark

/** The listener bus is `private[spark]`; specs that count jobs through a
  * listener wait on it so every event posted so far has been delivered. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
