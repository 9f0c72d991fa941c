package org.apache.spark.sql

/** Test access to the CacheManager's entry count, which is `private[sql]`. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
