package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark-internal reads the benchmark needs, kept in one place:
  * a listener-bus barrier (events are delivered asynchronously, so a
  * phase's job/stage/task events are only complete once the bus has
  * drained) and the CacheManager's entry count.
  */
object BenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cacheEntries(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries.toLong
}
