package org.apache.spark.sql

/** Test-only access to one Spark-private call: how many entries the
  * session's CacheManager holds (every persisted Dataset not yet
  * unpersisted). */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
