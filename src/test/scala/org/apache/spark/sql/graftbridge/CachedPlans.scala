package org.apache.spark.sql.graftbridge

/** The number of plans a session's cache manager holds — Spark 4
  * keeps the count `private[sql]`; specs read it here to check that
  * an operator leaves nothing cached behind. */
object CachedPlans {
  def count(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
