package org.apache.spark

/** The listener bus is package-private; the traced run needs to wait
  * until every posted event reached its listener before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
