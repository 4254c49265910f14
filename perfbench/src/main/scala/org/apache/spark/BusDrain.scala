package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far.
  * Lives in Spark's package because the bus is `private[spark]`; a
  * query's counters are read only after this returns, so its tail events
  * are never charged to the next query. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
