package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BlockId

/** What a session keeps cached, read through members Spark keeps
  * private: the plans in its shared cache (`persist`), and the RDD
  * blocks its block manager holds (`persist`, `localCheckpoint`).
  * A cached plan stays until it is uncached. Blocks of an RDD nothing
  * references any more are also dropped by Spark's context cleaner
  * after a garbage collection, so a leaked block shows here only until
  * the next collection.
  */
object Cached {
  def plans(s: SparkSession): Int = s.sharedState.cacheManager.numCachedEntries

  def rddBlocks(s: SparkSession): Set[BlockId] =
    s.sparkContext.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).toSet
}
