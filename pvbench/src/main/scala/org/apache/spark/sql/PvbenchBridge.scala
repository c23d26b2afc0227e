package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The package-private Spark hooks the tracer needs. */
object PvbenchBridge {
  /** Block until the listener bus has delivered every posted event, so
    * span counters are complete before they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's CacheManager (cached relations). */
  def cachedRelations(spark: SparkSession): Int = spark match {
    case c: classic.SparkSession => c.sharedState.cacheManager.numCachedEntries
    case _ => 0
  }
}
