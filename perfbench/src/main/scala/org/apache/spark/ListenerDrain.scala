package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * counters read after a workload include its last tasks and batches.
  * Lives in Spark's package because the bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
