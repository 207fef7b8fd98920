package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; draining it lets the benchmark
  * read task counters that belong to work which has already returned.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
