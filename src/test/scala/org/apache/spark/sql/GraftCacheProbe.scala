package org.apache.spark.sql

/** The CacheManager's entry count, which Spark keeps `private[sql]`. */
object GraftCacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
