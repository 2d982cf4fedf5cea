package org.apache.spark.sql

/** Test access to the session cache's size, which Spark keeps
  * package-private. */
object CacheProbe {
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
