package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark's per-op ledger
  * must see every event of an op before the next op starts, so it drains
  * the bus at each op boundary through this shim. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
