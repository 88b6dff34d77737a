package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Spark internals the specs read that are package-private. */
object SpecInternals {

  /** Waits until every posted listener event was delivered: a spec that
    * counts stages or tasks drains the bus before reading its counters. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Datasets the session's cache manager holds. */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
