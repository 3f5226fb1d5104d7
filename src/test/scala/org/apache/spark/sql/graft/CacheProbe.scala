package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's `CacheManager`, whose entry count is
  * `private[sql]`: it counts every cached plan, including one whose blocks
  * were never computed, which `getPersistentRDDs` cannot see.
  */
object CacheProbe {
  def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
