package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it after
  * every op so that op's job, stage, task and SQL events are all
  * delivered before its counts are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
