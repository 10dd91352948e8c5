package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import graft.{Bench, SparkEntry}

/** One run of one benchmark workload: a closed loop in which a single
  * client calls `SparkEntry.queries(row)(spark, dir)` and then the
  * action, one row at a time, pass after pass, in an order set by the
  * seed. Writes `raw.json` (and `spans.jsonl` when traced) into the
  * output directory; `run.py` turns those into the reported metrics.
  *
  * Arguments, all required, as `--key value` pairs:
  *  - `rows`, `stages`: comma lists of catalog rows and one-time stage
  *    builds (see [[Stages]]; the stage list may be empty);
  *  - `seed`, `seconds`, `min-passes`, `warm-passes`, `trace` (0 or 1);
  *  - `sf-dir` (fixtures), `out` (output directory), `cpus`, `run-id`
  *    (stamped on every span).
  *
  * Set-up: session start, the stage builds, and one verification pass
  * that writes every row's result as parquet under `out/results/<row>`
  * (one file per partition in partition order; a `coalesce(1)` would
  * pull a row's last stage onto one core) beside
  * `out/results/oracle_sql.json`, the layout tools/preflight.py reads,
  * and then `warm-passes` untimed passes of the timed loop's own calls.
  * Set-up is a fixed amount of work, so its time scales with the
  * engine. The timed loop then runs whole passes until `seconds` have
  * elapsed and at least `min-passes` are done. In traced mode passes
  * alternate untraced and traced (and `min-passes` counts each kind), so
  * one run yields both the per-layer figures and the tracing overhead on
  * pass time.
  *
  * A pass is contended when the hypervisor took (stole) at least 3 % of
  * the machine's CPU time during it: on a shared 4-core host, passes ran
  * 20-50 % slower while steal was at 5-15 %. Each pass records its
  * reading, so the medians can stand on the uncontended passes when
  * there are enough (see run.py). Steal comes in bursts of some seconds,
  * so while fewer than `min-passes` passes (of each kind) are
  * uncontended the loop goes on past `seconds`, up to twice that.
  * Bench's external-CPU reading, which also counts the kernel's work on
  * this run's own file writes, is kept for the whole loop.
  */
object Main {
  private def arg(m: Map[String, String], k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val rows = arg(m, "rows").split(",").toVector.filter(_.nonEmpty)
    val stages = arg(m, "stages").split(",").toVector.filter(_.nonEmpty)
    val seed = arg(m, "seed").toLong
    val seconds = arg(m, "seconds").toDouble
    val minPasses = arg(m, "min-passes").toInt
    val warmPasses = arg(m, "warm-passes").toInt
    val traced = arg(m, "trace") == "1"
    val sfDir = arg(m, "sf-dir")
    val out = Paths.get(arg(m, "out"))
    val cpus = arg(m, "cpus")
    val runId = arg(m, "run-id")
    val contendedCores = 0.03 * cpus.toInt
    val queries = SparkEntry.queries
    val unknown = (rows.filterNot(queries.contains) ++
      stages.filterNot(Stages.all.contains))
    require(unknown.isEmpty, s"unknown rows or stages: $unknown")

    // Bench's session, key for key (Bench.scala, `main`).
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = uptimeS()
    val confBefore = spark.conf.getAll
    val pristine = spark.newSession()

    val trace = if (traced) Some(new Trace(spark)) else None
    val runSpan = trace.map(_.open("run", "run", 0))
    // Spans exist only in traced mode, and call/build/action spans only
    // in traced passes (whose pass span is then defined).
    def open(name: String, kind: String, parent: Option[Span]): Option[Span] =
      for (t <- trace; ps <- parent) yield t.open(name, kind, ps.id)
    def close(s: Option[Span]): Unit = for (t <- trace; x <- s) t.close(x)
    def spanned[A](name: String, kind: String, parent: Option[Span])(
        body: => A): A = {
      val s = open(name, kind, parent)
      try body finally close(s)
    }

    val stageS = stages.map { st =>
      val t0 = System.nanoTime()
      spanned(st, "stage", runSpan)(Stages.all(st)(spark, sfDir))
      st -> (System.nanoTime() - t0) / 1e9
    }
    val results = out.resolve("results")
    val verifyErrors = rows.sorted.flatMap { r =>
      spanned(r, "verify", runSpan) {
        try {
          queries(r)(spark, sfDir).write.mode("overwrite")
            .parquet(results.resolve(r).toString)
          None
        } catch { case e: Throwable => Some(r -> msg(e)) }
      }
    }
    for (_ <- 0 until warmPasses; r <- rows)
      spanned(r, "warm", runSpan)(
        try queries(r)(spark, sfDir).count() catch { case _: Throwable => 0L })
    val setupS = uptimeS()
    val drift0 = Drift(spark, confBefore, pristine)
    require(drift0.isEmpty, s"set-up leaked session conf: $drift0")

    val calls = ArrayBuffer.empty[Call]
    val passes = ArrayBuffer.empty[Pass]
    val busy0 = Cpu.busySec(); val self0 = Cpu.selfSec()
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    def contended(ps: Pass) = ps.stealCores < 0 || ps.stealCores >= contendedCores
    var p = 0
    val kinds = if (traced) 2 else 1
    def clean = passes.count(ps => !contended(ps))
    while (p < minPasses * kinds || elapsed < seconds ||
        (clean < minPasses * kinds && elapsed < 2 * seconds)) {
      val tracedPass = trace.isDefined && p % 2 == 1
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(rows)
      val fs0 = FsStats.read()
      val st0 = Cpu.stealSec()
      if (tracedPass) trace.foreach(_.attach())
      val t0 = System.nanoTime()
      val tp0 = trace.map(_.nowMs).getOrElse(0.0)
      val passSpan =
        if (tracedPass) open(s"pass $p", "pass", runSpan) else None
      order.foreach { r =>
        val c0 = System.nanoTime()
        val callSpan = open(r, "call", passSpan)
        def tagged(kind: String): Option[Span] = {
          val s = open(kind, kind, callSpan)
          for (t <- trace; x <- s) t.tag(x, p)
          s
        }
        var buildS = Double.NaN
        val err = try {
          val bs = tagged("build")
          val df = try queries(r)(spark, sfDir) finally close(bs)
          buildS = (System.nanoTime() - c0) / 1e9
          val as = tagged("action")
          try df.count() finally close(as)
          None
        } catch { case e: Throwable => Some(msg(e)) }
        finally {
          trace.foreach(_.untag())
          close(callSpan)
        }
        calls += Call(p, r, buildS, (System.nanoTime() - c0) / 1e9, err)
      }
      close(passSpan)
      val wall = (System.nanoTime() - t0) / 1e9
      val steal = Cpu.stealSec()
      val stealCores = if (st0 < 0 || steal < 0) -1.0 else (steal - st0) / wall
      if (tracedPass) trace.foreach(_.detach())
      // The drift rule of Bench's warm phase, after every pass: a row
      // that flips session-global conf must have restored it.
      val drift = Drift(spark, confBefore, pristine)
      require(drift.isEmpty, s"pass $p leaked session conf: $drift")
      passes += Pass(p, tracedPass, tp0, wall, stealCores, FsStats.read().minus(fs0))
      p += 1
    }
    val loopS = elapsed
    val extCores = Bench.externalCores(busy0, Cpu.busySec(), self0,
      Cpu.selfSec(), loopS)
    val pinnedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    close(runSpan)

    val layers = trace.map(t => Layers(t, passes.toSeq, calls.toSeq))
    val j = Json
    val doc = j.obj(
      "cpus" -> cpus.toInt, "seed" -> seed, "traced" -> traced,
      "session_s" -> sessionS, "setup_s" -> setupS,
      "stages" -> j.obj(stageS: _*),
      "verify_errors" -> j.obj(verifyErrors.map { case (r, e) => r -> j.str(e) }: _*),
      "loop_s" -> loopS, "external_cores" -> extCores,
      "pinned_mb" -> pinnedMb,
      "passes" -> j.arr(passes.toSeq.map(ps => j.obj(
        "pass" -> ps.idx, "traced" -> ps.traced, "wall_s" -> ps.wallS,
        "steal_cores" -> ps.stealCores,
        "contended" -> contended(ps),
        "layers" -> layers.flatMap(_.get(ps.idx)).getOrElse("null")))),
      "calls" -> j.arr(calls.toSeq.map(c => j.obj(
        "pass" -> c.pass, "row" -> j.str(c.row), "build_s" -> c.buildS,
        "call_s" -> c.callS,
        "error" -> c.error.map(j.str).getOrElse("null")))),
      "batch_trigger_s" -> j.arr(trace.toSeq.flatMap(t => passes.filter(_.traced)
        .flatMap(ps => Layers.batchesIn(t, ps).map(_.triggerMs / 1000.0)))))
    Files.writeString(out.resolve("raw.json"), doc + "\n")
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(results)
    Files.writeString(results.resolve("oracle_sql.json"), j.obj(rows.flatMap(r =>
      oracle.get(r).map(q => r -> j.str(q))): _*) + "\n")
    trace.foreach { t =>
      val lines = t.spans.map(s => j.obj("id" -> s.id, "name" -> j.str(s.name),
        "kind" -> j.str(s.kind), "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "run" -> j.str(runId)))
      Files.writeString(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

final case class Call(pass: Int, row: String, buildS: Double, callS: Double,
    error: Option[String])

final case class Pass(idx: Int, traced: Boolean, startMs: Double,
    wallS: Double, stealCores: Double, fs: FsDelta)

/** Bench's conf-drift rule: every runtime key must read as it did before
  * the work, where "unset" reads as the value of a fresh `newSession()`,
  * so a scoped restore that re-sets a default does not count as drift. */
object Drift {
  def apply(spark: SparkSession, before: Map[String, String],
      pristine: SparkSession): Seq[String] = {
    def effective(k: String): String =
      try pristine.conf.get(k) catch { case _: Exception => "<unset, no default>" }
    val now = spark.conf.getAll
    (before.keySet ++ now.keySet).toSeq.sorted.flatMap { k =>
      val b = before.getOrElse(k, effective(k))
      val n = now.getOrElse(k, effective(k))
      if (b != n) Some(s"$k: $b -> $n") else None
    }
  }
}

/** The one-time stage builds a workload's rows share (`graft.Memo`
  * caches), built and timed as separate set-up items. */
object Stages {
  val all: Map[String, (SparkSession, String) => Unit] = Map(
    // q_layout_dpp's event-type-partitioned events and type dimension.
    "layouts" -> { (s, d) =>
      val m = graft.operators.LayoutQueries.Maintained
      m.partitionedEvents(s, d); m.typeDim(s, d); () },
    // q_stream_upsert's four staged input chunks and their schema.
    "upsert_stage" -> { (s, d) =>
      val st = graft.streaming.StreamingQueries.UpsertStage
      st.schema(s, st.inDir(s, d)); () },
    // q_stream_dedup_corpus's four staged document chunks (shared with
    // q_stream_ingest) and their schema.
    "doc_stage" -> { (s, d) =>
      val st = graft.streaming.StreamCorpusDedup.DocStage
      st.schema(s, st.inDir(s, d)); () })
}

/** CPU readings for the load checks: the inputs of
  * `Bench.externalCores` (busy CPU-seconds of the machine from
  * /proc/stat, this JVM's own CPU-seconds) and the machine's stolen
  * CPU-seconds; -1 when unreadable. */
object Cpu {
  private def stat(): Array[Long] =
    Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .trim.split("\\s+").drop(1).map(_.toLong)

  def busySec(): Double =
    try { val f = stat(); (f(0) + f(1) + f(2) + f.slice(5, 8).sum) / 100.0 }
    catch { case _: Throwable => -1.0 }

  def stealSec(): Double =
    try stat()(7) / 100.0 catch { case _: Throwable => -1.0 }

  def selfSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    }
}

final case class FsDelta(writeBytes: Long, readBytes: Long) {
  def minus(o: FsDelta): FsDelta =
    FsDelta(writeBytes - o.writeBytes, readBytes - o.readBytes)
}

/** Hadoop `FileSystem` statistics of the local (`file`) scheme, which
  * every parquet state table and checkpoint of the engine goes through.
  * The local file system counts bytes only; its operation counters stay
  * at zero, so none are read. */
object FsStats {
  def read(): FsDelta = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def l(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    FsDelta(l("bytesWritten"), l("bytesRead"))
  }
}

/** Just enough JSON: values are pre-rendered strings or numbers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def render(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case s: String => s
    case other => other.toString
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}")
  def arr(vs: Seq[Any]): String = vs.map(render).mkString("[", ",", "]")
}
