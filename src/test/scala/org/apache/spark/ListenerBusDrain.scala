package org.apache.spark

/** The listener bus is `private[spark]`; specs that count jobs or
  * query executions drain it before reading their counters, so every
  * event of the actions run so far has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
