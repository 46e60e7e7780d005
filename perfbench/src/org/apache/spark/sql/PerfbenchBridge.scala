package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Package-private Spark state the benchmark reads. */
object PerfbenchBridge {
  /** The listener bus delivers events asynchronously; drain it before
    * reading what a listener collected. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Relations in the session's cache manager. */
  def cachedRelations(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
