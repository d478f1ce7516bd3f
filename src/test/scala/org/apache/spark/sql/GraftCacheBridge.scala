package org.apache.spark.sql

/** Test access to the `private[sql]` size of the session's cache manager. */
object GraftCacheBridge {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
