/*
 * Lives in org.apache.spark.sql to reach the private[sql] and
 * private[spark] seams that library-side extension code needs — the
 * same factory technique used by published Spark extensions (cf.
 * SNIPPETS.md[3], Qbeast's DatasetFactory pattern). Only thin
 * pass-throughs live here; all engine logic stays in the graft packages.
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

  /** Add `parent`'s streaming-query listeners to `clone`'s manager, so
    * a listener on the caller's `spark.streams` sees the progress of the
    * queries a clone runs (each clone has its own manager and bus).
    * True when there was any listener to add. */
  def forwardListeners(clone: SparkSession, parent: SparkSession): Boolean = {
    val ls = parent.streams.listListeners()
    ls.foreach(clone.streams.addListener)
    ls.nonEmpty
  }

  /** Unregister the listener bus that `clone`'s StreamingQueryManager
    * added to the shared SparkContext when it was created. Spark never
    * removes it, so every session that ran a streaming query would keep
    * one listener (and itself) on the context for the JVM's life. Call
    * once the clone's queries have stopped. `parent`'s own manager is
    * created first, so the context's streams queue keeps a listener and
    * is not stopped and restarted per clone. With `drain` (listeners
    * were forwarded), the context's bus is emptied first, so the
    * clone's last progress events reach them before its bus goes. The
    * bus is a private field of the manager, hence the reflection. */
  def releaseStreams(clone: SparkSession, parent: SparkSession,
      drain: Boolean): Unit = {
    parent.streams
    if (drain) clone.sparkContext.listenerBus.waitUntilEmpty()
    val m = clone.asInstanceOf[classic.SparkSession].streams
    val f = m.getClass.getDeclaredField("listenerBus")
    f.setAccessible(true)
    clone.sparkContext.listenerBus.removeListener(
      f.get(m).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
  }

  /** `st` with every field, element and value nullable — the schema
    * Spark reads back from parquet it wrote. */
  def asNullable(st: types.StructType): types.StructType = st.asNullable

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
}
