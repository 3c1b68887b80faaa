package org.apache.spark.sql

/** Test access to the session's cache registry (sql-private): the number
  * of Datasets currently persisted through `Dataset.persist`. */
object CacheProbe {
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
