package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the number of entries in a session's cache manager,
  * which Spark keeps package-private. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
