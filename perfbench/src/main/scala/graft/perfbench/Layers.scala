package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of each traced pass, from the trace's listener
  * records. Layers are named after the engine's modules; see
  * `perfbench/workloads.json` for the end-to-end metric each should move. */
object Layers {
  private def isStream(row: String) = row.startsWith("q_stream_")

  def batchesIn(t: Trace, p: Pass): Seq[BatchRec] =
    t.batches.asScala.toSeq.filter(b =>
      b.startMs >= p.startMs && b.startMs <= p.startMs + p.wallS * 1000)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def apply(t: Trace, passes: Seq[Pass], calls: Seq[Call]): Map[Int, String] =
    passes.filter(_.traced).map { p =>
      val hi = p.startMs + p.wallS * 1000
      val jobs = t.jobs.values.asScala.toSeq.filter(_.pass == p.idx)
      val qes = t.queries.asScala.toSeq.filter(q =>
        q.startMs >= p.startMs && q.startMs <= hi)
      val bs = batchesIn(t, p)
      val pc = calls.filter(_.pass == p.idx)
      val replayS = pc.filter(c => isStream(c.row)).map(_.buildS).sum
      val triggerS = bs.map(_.triggerMs).sum / 1000.0
      val inBytes = jobs.map(_.inBytes).sum
      val jobUnionS = unionMs(jobs.map(j => (j.startMs,
        if (j.endMs.isNaN) hi else j.endMs)), p.startMs, hi) / 1000.0
      def s(ms: Long) = ms / 1000.0
      def mb(b: Long) = b / 1e6
      p.idx -> Json.obj(
        "catalog.build_s" -> pc.filterNot(c => isStream(c.row)).map(_.buildS).sum,
        "planner.analysis_s" -> s(qes.map(_.analysisMs).sum),
        "planner.optimizer_s" -> s(qes.map(_.optimizationMs).sum),
        "planner.planning_s" -> s(qes.map(_.planningMs).sum),
        "exec.jobs" -> jobs.size,
        "exec.tasks" -> jobs.map(_.tasks).sum,
        "exec.task_s" -> s(jobs.map(_.runMs).sum),
        "exec.sched_delay_s" -> s(jobs.map(_.schedDelayMs).sum),
        "exec.gc_s" -> s(jobs.map(_.gcMs).sum),
        "exec.driver_gap_s" -> (p.wallS - jobUnionS),
        "tables.scan_mb" -> mb(inBytes),
        "tables.scan_rows" -> jobs.map(_.inRows).sum,
        "tables.scan_s" -> s(qes.map(_.scanMs).sum),
        "shuffle.write_mb" -> mb(jobs.map(_.shWriteBytes).sum),
        "shuffle.read_mb" -> mb(jobs.map(_.shReadBytes).sum),
        "shuffle.spill_mb" -> mb(jobs.map(_.spillBytes).sum),
        "shuffle.fetch_wait_s" -> s(jobs.map(_.fetchWaitMs).sum),
        "streaming.batches" -> bs.size,
        "streaming.input_rows" -> bs.map(_.inputRows).sum,
        "streaming.add_batch_s" -> s(bs.map(_.addBatchMs).sum),
        "streaming.query_planning_s" -> s(bs.map(_.queryPlanningMs).sum),
        "streaming.wal_commit_s" -> s(bs.map(_.walCommitMs).sum),
        "streaming.latest_offset_s" -> s(bs.map(_.latestOffsetMs).sum),
        "streaming.fixed_s" -> (if (bs.isEmpty) 0.0 else replayS - triggerS),
        "streaming.events_per_s" ->
          (if (replayS > 0) bs.map(_.inputRows).sum / replayS else 0.0),
        "state.fs_write_mb" -> mb(p.fs.writeBytes),
        "state.fs_read_mb" -> mb(p.fs.readBytes),
        "state.write_amp" ->
          (if (inBytes > 0) p.fs.writeBytes.toDouble / inBytes else 0.0))
    }.toMap
}
