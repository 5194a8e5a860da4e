package org.apache.spark.sql

/** Test bridge to the `private[sql]` CacheManager entry count: a call
  * that returns a frame must not leave cached Datasets behind, and the
  * count is the only public-to-Spark view of that.
  */
object GraftCacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
