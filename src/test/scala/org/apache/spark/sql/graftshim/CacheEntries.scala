package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** The number of plans in the session's shared cache; the count is
  * `private[sql]`, so the bridge lives in this package. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
