package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark drains it so that
  * every event of a measured region has reached its listeners before the
  * region's counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
