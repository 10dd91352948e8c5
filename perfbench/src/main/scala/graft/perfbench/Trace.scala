package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, execution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall time in epoch milliseconds. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startMs: Double, var endMs: Double)

/** One Spark job and the task metrics of its stages, as seen by the
  * listener bus. `span` and `pass` come from the local properties the
  * calling thread set when the job was submitted. */
final class JobRec(val id: Int, val startMs: Double, val span: Int,
    val pass: Int) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shWriteBytes = 0L
  var shReadBytes = 0L
  var spillBytes = 0L
  var fetchWaitMs = 0L
}

/** Planning phases and scan time of one executed query. */
final case class QeRec(startMs: Double, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, scanMs: Long)

/** One micro-batch from `StreamingQueryProgress`. */
final case class BatchRec(startMs: Double, triggerMs: Long, addBatchMs: Long,
    latestOffsetMs: Long, queryPlanningMs: Long, walCommitMs: Long,
    inputRows: Long)

private object ScanTime extends AdaptiveSparkPlanHelper {
  /** Summed `scanTime` SQLMetric (ms) of every file scan in the plan,
    * subqueries and adaptive query stages included. */
  def ms(plan: execution.SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: execution.FileSourceScanExec =>
        s.metrics.get("scanTime").map(_.value).getOrElse(0L)
    }.sum
}

/** The traced mode's recorder. Spans for run, set-up items, passes, row
  * calls and their build/action halves are opened and closed by the
  * driver thread; jobs, executed queries and micro-batches arrive from
  * Spark's public listener APIs. Everything stays in memory until
  * [[spans]] turns it into one span list at the end of the run. The
  * engine itself is not instrumented: jobs find their row call through
  * the local properties the benchmark sets around each call. */
final class Trace(val spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val opened = ArrayBuffer.empty[Span]
  private var nextId = 0
  def open(name: String, kind: String, parent: Int): Span = {
    nextId += 1
    val s = Span(nextId, name, kind, parent, nowMs, Double.NaN)
    opened += s
    s
  }
  def close(s: Span): Unit = s.endMs = nowMs

  val SpanKey = "perfbench.span"
  val PassKey = "perfbench.pass"
  private val sc = spark.sparkContext
  def tag(span: Span, pass: Int): Unit = {
    sc.setLocalProperty(SpanKey, span.id.toString)
    sc.setLocalProperty(PassKey, pass.toString)
  }
  def untag(): Unit = {
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(PassKey, null)
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  val queries = new ConcurrentLinkedQueue[QeRec]
  val batches = new ConcurrentLinkedQueue[BatchRec]

  private def intProp(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(q => Option(q.getProperty(k)))
      .flatMap(_.toIntOption).getOrElse(-1)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobRec(e.jobId, e.time.toDouble,
        intProp(e.properties, SpanKey), intProp(e.properties, PassKey))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val i = e.taskInfo
      val m = e.taskMetrics
      if (j != null && i != null && m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        // Bench's scheduler-delay rule: task wall minus run,
        // deserialize and result-serialize time.
        j.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: execution.QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) Double.NaN
        else ph.values.map(_.startTimeMs).min.toDouble
      val scan = try ScanTime.ms(qe.executedPlan)
        catch { case _: Throwable => 0L }
      queries.add(QeRec(start, d("analysis"), d("optimization"),
        d("planning"), scan))
    }
    override def onFailure(funcName: String,
        qe: execution.QueryExecution, exception: Exception): Unit = ()
  }

  private val batchListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long =
        Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        ms("triggerExecution"), ms("addBatch"), ms("latestOffset"),
        ms("queryPlanning"), ms("walCommit"), p.numInputRows))
    }
  }

  /** Listeners are attached only around traced passes, so untraced
    * passes run with none and the difference is the tracing overhead. */
  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(batchListener)
  }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(batchListener)
  }

  /** Waits (bounded) until the listener bus has delivered the end of
    * every job it announced, so the run's last pass is complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    Thread.sleep(200)
    while (jobs.values.asScala.exists(_.endMs.isNaN) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** The full span tree: the driver-side spans plus one span per
    * micro-batch (parented to the build span it ran in) and per job
    * (parented to the micro-batch that contains its start, else to the
    * span that submitted it). */
  def spans: Seq[Span] = {
    val driver = opened.toVector
    val builds = driver.filter(_.kind == "build")
    var id = nextId
    val batchSpans = batches.asScala.toVector.sortBy(_.startMs).flatMap { b =>
      builds.find(s => b.startMs >= s.startMs && b.startMs <= s.endMs).map { p =>
        id += 1
        Span(id, "micro-batch", "batch", p.id, b.startMs,
          math.min(b.startMs + b.triggerMs, p.endMs))
      }
    }
    val jobSpans = jobs.values.asScala.toVector.sortBy(_.id).collect {
      case j if j.span > 0 && !j.endMs.isNaN =>
        val parent = batchSpans.find(b => b.parent == j.span &&
          b.startMs <= j.startMs && j.startMs <= b.endMs)
          .map(_.id).getOrElse(j.span)
        id += 1
        Span(id, s"job ${j.id}", "job", parent, j.startMs, j.endMs)
    }
    driver ++ batchSpans ++ jobSpans
  }
}
