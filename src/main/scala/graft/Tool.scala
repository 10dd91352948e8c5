package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Developer tool over the catalog; not part of the driver contract.
  * Every subcommand runs on one [[Sessions.local]] session (Bench's conf)
  * over `sfDir` (default `SPARK_GRAFT_SF_DIR`, else sf0.1):
  *
  *   sbt 'runMain graft.Tool filter q_stream /root/testdata/sf0.1'
  *   sbt 'runMain graft.Tool probe q_stream_span_dedup'
  *   sbt 'runMain graft.Tool plan q_graph_kcore,q_graph_hits sf plans/r16 before'
  *
  *  - `filter <substring>`: every row whose name contains the substring,
  *    warmed once, then min/median of [[Reps]] reps. Used while
  *    optimizing one row family, where a full Bench run costs minutes of
  *    warm-up. `SPARK_GRAFT_CONF='k=v;k=v'` sets conf on top of Bench's
  *    for an A/B (filter only).
  *  - `probe <row>`: one row, warmed once, then every Spark job each of
  *    [[Reps]] reps launched (wall, stages, tasks), so a multi-job row
  *    (streaming replays, iterative loops, state-table folds) is
  *    attributable job by job instead of one opaque median. A job is
  *    labelled `<row> rep N`, a replay's micro-batch job
  *    `<row> batch = N`; a job with no description by its stage names.
  *  - `plan <row[,row...]>`: each row's `.explain("formatted")` plan, to
  *    stdout or to `<outDir>/<row>_<suffix>.txt`. A replay row's build
  *    runs the replay first, so the plan is the one the timed action
  *    runs. A row whose build fails gets its error in place of a plan.
  */
object Tool {
  private val Reps = 3
  private val Usage = "usage: graft.Tool filter <substring> [sfDir] | " +
    "probe <row> [sfDir] | plan <row[,row...]> [sfDir [outDir suffix]]"

  /** An optional trailing sfDir. */
  private object SfDir {
    def unapply(rest: List[String]): Option[String] = rest match {
      case Nil => Some(sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.1"))
      case dir :: Nil => Some(dir)
      case _ => None
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "filter" :: sub :: SfDir(dir) =>
      val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq
        .flatMap(_.split(';')).map(_.split("=", 2))
        .collect { case Array(k, v) if k.nonEmpty => k -> v }
      run(conf)(filter(_, dir, sub))
    case "probe" :: row :: SfDir(dir) if Catalog.byName.contains(row) =>
      run()(probe(_, dir, Catalog.byName(row)))
    case "plan" :: rows :: SfDir(dir) => run()(plan(_, dir, rows, None))
    case "plan" :: rows :: dir :: out :: suffix :: Nil =>
      run()(plan(_, dir, rows, Some((out, suffix))))
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def run(conf: Seq[(String, String)] = Nil)(
      body: SparkSession => Unit): Unit = {
    val s = Sessions.local(extra = conf)
    s.sparkContext.setLogLevel("ERROR")
    try body(s) finally s.stop()
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm each row once (a failure is printed and the row dropped), then
    * time [[Reps]] reps of each through `rep`; sorted walls per row. */
  private def timed(s: SparkSession, dir: String, rows: Seq[Q])(
      rep: (Q, Int) => Double): Seq[(Q, Seq[Double])] =
    rows.filter { q =>
      try { q.build(s, dir).count(); true }
      catch { case e: Throwable =>
        println(s"WARMFAIL ${q.name} ${String.valueOf(e.getMessage).take(120)}")
        false
      }
    }.map(q => q -> (1 to Reps).map(rep(q, _)).sorted)

  private def filter(s: SparkSession, dir: String, sub: String): Unit = {
    val rows = Catalog.all.filter(_.name.contains(sub)).sortBy(_.name)
    val meds = timed(s, dir, rows)((q, _) => seconds(q.build(s, dir).count()))
      .map { case (q, ts) =>
        val med = ts(ts.size / 2)
        println(f"FILTER ${q.name}%-28s min ${ts.head}%.3f med $med%.3f")
        med
      }
    println(f"FILTER TOTAL(med) ${meds.sum}%.2f s over ${meds.size} rows")
  }

  private final class Job(val id: Int, val desc: String, val t0: Long,
      val stages: Int) {
    var t1: Long = t0
    val taskMs = ArrayBuffer.empty[Long]
  }

  /** A job description's label: its first line, plus the `batch = N`
    * line of a streaming micro-batch's description
    * (`<query name>\nid = …\nrunId = …\nbatch = N`). */
  private[graft] def label(desc: String): String = {
    val lines = desc.split('\n')
    (lines.head +: lines.tail.filter(_.startsWith("batch = "))).mkString(" ")
  }

  private def probe(s: SparkSession, dir: String, q: Q): Unit = {
    val jobs = new ConcurrentHashMap[Int, Job]
    // Tasks attribute to their job through the stageId→jobId map each
    // JobStart declares ("latest job" attribution landed tasks on the
    // wrong job whenever jobs overlap — AQE stage-by-stage and streaming
    // folds, exactly the multi-job rows this probes).
    val stageJob = new ConcurrentHashMap[Int, Int]
    val recording = new AtomicBoolean(false)
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording.get()) {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.nonEmpty).map(label)
            .getOrElse(e.stageInfos.map(_.name.takeWhile(_ != '\n'))
              .distinct.mkString(" | "))
          jobs.put(e.jobId, new Job(e.jobId, d, e.time, e.stageIds.size))
          e.stageIds.foreach(sid => stageJob.put(sid, e.jobId))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      // `get` of a missing Int key unboxes null to job 0: test first.
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageJob.containsKey(e.stageId))
          Option(jobs.get(stageJob.get(e.stageId))).foreach { j =>
            j.taskMs += (if (e.taskInfo == null) 0L else e.taskInfo.duration)
          }
    })
    timed(s, dir, Seq(q)) { (q, r) =>
      jobs.clear()
      stageJob.clear()
      recording.set(true)
      // AQE's stage futures copy the caller's local properties, so every
      // job the rep starts carries this label; a replay's micro-batch
      // sets its own `<row> batch = N`.
      s.sparkContext.setJobDescription(s"${q.name} rep $r")
      val wall =
        try seconds(q.build(s, dir).count())
        finally s.sparkContext.setJobDescription(null)
      // Drain the async listener bus before reading: tail task/jobEnd
      // events otherwise drop or bleed into the next rep. listenerBus is
      // private[spark] — reflection, with a bounded sleep as the
      // can't-resolve fallback.
      try {
        val bus = s.sparkContext.getClass.getMethod("listenerBus")
          .invoke(s.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(300) }
      recording.set(false)
      val js = jobs.values().asScala.toSeq.sortBy(_.t0)
      val jobSum = js.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"PROBE ${q.name} rep $r wall $wall%.3f s, ${js.size} jobs, " +
        f"job-time sum $jobSum%.3f s (gaps ${wall - jobSum}%.3f s)")
      js.foreach { j =>
        val ds = j.taskMs.sorted
        val med = if (ds.isEmpty) 0L else ds(ds.size / 2)
        println(f"PROBE   job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%7.3f s " +
          f"stages ${j.stages}%2d tasks ${ds.size}%4d " +
          f"taskSum ${ds.sum / 1e3}%7.3f med ${med / 1e3}%6.3f " +
          f"max ${ds.lastOption.getOrElse(0L) / 1e3}%6.3f  ${j.desc.take(60)}")
      }
      wall
    }
  }

  private def plan(s: SparkSession, dir: String, rows: String,
      out: Option[(String, String)]): Unit =
    rows.split(',').filter(_.nonEmpty).foreach { name =>
      val text =
        try Catalog.byName(name).build(s, dir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable =>
          s"PLAN_FAILED ${e.getClass.getName}: ${e.getMessage}\n" }
      out match {
        case Some((outDir, suffix)) =>
          val p = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.createDirectories(p.getParent)
          Files.writeString(p, text)
          println(s"PLAN_WRITTEN=$p")
        case None => println(text)
      }
    }
}
