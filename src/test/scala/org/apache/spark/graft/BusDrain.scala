package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; draining it lets a test count
  * the jobs of work that has already returned.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
