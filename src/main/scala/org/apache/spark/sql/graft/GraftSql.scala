package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one bridge to `private[spark]`/`private[sql]` members the project
  * needs. Living under `org.apache.spark.sql` grants access to them — the
  * standard technique Spark extension libraries (Delta, Sedona, Iceberg)
  * use, since Spark exposes no public equivalent. Nothing else in the
  * project reaches into Spark internals through package location.
  *
  *  - [[ofRows]]: wrap a hand-built [[LogicalPlan]] (e.g.
  *    [[graft.plans.AsofJoinNode]]) into a DataFrame (`Dataset.ofRows`);
  *  - [[drainListenerBus]]: wait for the listener bus to deliver every
  *    posted event (`LiveListenerBus.waitUntilEmpty`), for the harness's
  *    task/job ledger ([[graft.Harness.Ledger]]).
  */
object GraftSql {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Block until every listener event posted so far has been delivered;
    * throws `TimeoutException` after `timeoutMs`. An action's last task-end
    * and job-end events are posted before the action returns, so a drain
    * after it makes listener counts exact. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
