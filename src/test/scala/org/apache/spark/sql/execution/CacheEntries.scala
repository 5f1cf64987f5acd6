package org.apache.spark.sql.execution

import org.apache.spark.sql.SparkSession

/** Test access to the session's CacheManager entry count, which Spark
  * keeps package-private. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
