package org.apache.spark.sql

/** Test access to the number of frames the session's CacheManager
  * holds, which is private to Spark SQL: a call that releases what it
  * persisted leaves this number as it found it. */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
