package org.apache.spark

/** The listener bus is `private[spark]`; a traced pass drains it before its
  * listeners are removed so no event of the pass is dropped.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
