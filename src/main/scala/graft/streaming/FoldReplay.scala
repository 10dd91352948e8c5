package graft.streaming

import graft.Scope
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The shared foreachBatch replay runner (r12 review: this ~20-line
  * shape existed as EIGHT verbatim copies across the streaming rows):
  * run the replay on a [[graft.Scope]] clone that sizes its shuffles to
  * state (state-table shuffles carry state-sized rows, not corpus-sized
  * — the 32-partition bench default would pay 32 tiny tasks per tiny
  * shuffle), drive the streaming source through `fold` under
  * AvailableNow, bound the wait. The folds plan on `batch.sparkSession`,
  * a child of the clone, so they inherit its conf. Rows whose per-batch
  * work includes a corpus-scale aggregate (the banding rows) pass a
  * larger `shufflePartitions`. Each micro-batch is one
  * [[Snapshot.batch]] on the row's state `root`: `fold` writes every
  * table of the batch into its transaction, committed once. Every run
  * starts without a checkpoint, so batch 0 resets the root; specs
  * inject crashes through [[Snapshot.crashAt]]. */
private[graft] object FoldReplay {
  def run(src: DataFrame, name: String, root: String,
      shufflePartitions: String = "4")(
      fold: (Snapshot.Txn, DataFrame, Long) => Unit): Unit = {
    val s = src.sparkSession
    // AQE off for the fold's micro-batch jobs (r15): each per-batch
    // state write is a SMALL bounded job, and AQE turns every one into
    // a stage-by-stage sequence of jobs with a driver re-optimization
    // between them — measured ~3 jobs per AppendLog write at fixture
    // scale, with the inter-job driver gaps rivaling the task time
    // (Tool probe: job-time 2.9 s vs 4+ s of gaps per corpus-dedup
    // rep). The replay already pins shuffle partitions to state size by
    // hand, which is the decision AQE would be making.
    val scoped = Scope(s,
      "spark.sql.shuffle.partitions" ->
        s.conf.get("spark.graft.replay.shufflePartitions", shufflePartitions),
      Scope.aqeOff)
    val w = Scope.bind(src, scoped).writeStream.queryName(name)
      .trigger(Trigger.AvailableNow())
    drive(s, scoped, name)(
      w.foreachBatch((b: DataFrame, id: Long) =>
        Snapshot.batch(root, id)(fold(_, b, id))).start())
  }

  /** Run one replay query that `start` starts on `scoped`, a clone of
    * `s`, to completion (bounded wait), then release the clone's
    * streams. `s`'s streaming listeners see the query's progress: they
    * are forwarded to the clone's manager first. The query is named
    * `name`, so every job a micro-batch starts carries
    * `<name>\nid = …\nrunId = …\nbatch = N` as its description. */
  private[streaming] def drive(s: SparkSession, scoped: SparkSession,
      name: String)(start: => StreamingQuery): Unit = {
    val forwarded = GraftShims.forwardListeners(scoped, s)
    try {
      val q = start
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          s"$name replay did not finish within 300 s")
      }
    } finally GraftShims.releaseStreams(scoped, s, forwarded)
  }
}
