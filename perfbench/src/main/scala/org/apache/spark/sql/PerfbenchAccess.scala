package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark-internal handles the traced run needs: draining the
  * listener bus (so every job, task, plan and streaming event of an
  * operation is delivered before the next operation starts) and the shared
  * cache registry (cached-plan residue). */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
