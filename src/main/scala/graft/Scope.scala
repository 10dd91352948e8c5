package graft

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Per-row conf on a CLONED session. A row whose plans need conf the
  * caller must not see (AQE off for a fixpoint loop or a replay's small
  * per-batch jobs, a replay's shuffle sizing, the bloom thresholds)
  * runs on frames bound to a clone of the caller's session carrying
  * that conf. The caller's conf is never written, so there is nothing
  * to restore and nothing concurrent work on the caller's session can
  * observe (the r10 leak: two overlapping set/restore pairs on a shared
  * session leave one override applied for good).
  *
  * A clone (not `newSession()`) copies the caller's RUNTIME conf, so a
  * knob the row does not pin keeps the caller's value — DeterminismSpec
  * sets shuffle partitions 4 and 7 at runtime and every scoped row must
  * follow. The clone's SQLConf decides planning and execution of every
  * frame bound to it, actions and streaming queries alike.
  *
  * Session-keyed [[Memo]] lookups stay on the caller's session: a clone
  * key misses on every call and pins a fresh entry for the JVM's life.
  * Bind only the frames the scoped work runs. A temp view registered on
  * a clone is invisible to the caller. A clone that ran a streaming
  * query goes to `GraftShims.releaseStreams` once the query stops. */
object Scope {
  val aqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  /** A clone of `s` with `confs` set on it. */
  def apply(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = GraftShims.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** `df`'s plan as a frame of `s`, planned and run under `s`'s conf. */
  def bind(df: DataFrame, s: SparkSession): DataFrame =
    GraftShims.ofRows(s, df.queryExecution.logical)
}
