/*
 * Lives in org.apache.spark.sql to reach two private[sql] seams that
 * library-side extension code needs — the same factory technique used by
 * published Spark extensions (cf. SNIPPETS.md[3], Qbeast's
 * DatasetFactory pattern). Only thin pass-throughs live here; all engine
 * logic stays in the graft packages.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftShims {

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A child session with a copy of `spark`'s runtime SQLConf, temp
    * views and functions over the same SparkContext and shared state
    * (SparkSession.cloneSession). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Unregister the listener bus that `clone`'s StreamingQueryManager
    * added to the shared SparkContext when it was created. Spark never
    * removes it, so every session that ran a streaming query would keep
    * one listener (and itself) on the context for the JVM's life. Call
    * once the clone's queries have stopped. `parent`'s own manager is
    * created first, so the context's streams queue keeps a listener and
    * is not stopped and restarted per clone. The bus is a private field
    * of the manager, hence the reflection. */
  def releaseStreams(clone: SparkSession, parent: SparkSession): Unit = {
    parent.streams
    val m = clone.asInstanceOf[classic.SparkSession].streams
    val f = m.getClass.getDeclaredField("listenerBus")
    f.setAccessible(true)
    clone.sparkContext.listenerBus.removeListener(
      f.get(m).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
  }

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
}
