package org.apache.spark

/** The listener bus is `private[spark]`; tests that count jobs wait on
  * it so every event of the measured code has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
