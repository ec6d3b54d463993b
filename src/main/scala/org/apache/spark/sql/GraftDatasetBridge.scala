package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` door a library-level custom operator needs:
  * turning a hand-built [[LogicalPlan]] node back into a DataFrame.
  * Spark exposes plan CONSUMPTION extension points publicly
  * (`SparkSessionExtensions.injectPlannerStrategy` & co.) but plan
  * CONSTRUCTION only via `Dataset.ofRows`, which is `private[sql]` —
  * so this bridge lives in `org.apache.spark.sql` (the standard
  * technique for Spark-native libraries). It holds one more door:
  * draining the `private[spark]` listener bus for [[graft.QueryCounters]]. */
object GraftDatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every queued listener event is delivered, so a
    * listener's counters are complete when read (`listenerBus` is
    * `private[spark]`). */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
