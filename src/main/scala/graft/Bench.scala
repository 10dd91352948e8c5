package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark entry point: times every catalog query at the given scale
  * factor and emits ONE machine-parseable JSON line on stdout (and a copy
  * in bench_out.json, insurance against log-prefix pollution — the r1
  * driver failed to parse the line because sbt's logger prefixed it).
  *
  * The run is load-aware (r5 lesson: the driver's run of identical code
  * read 50.6 s vs 20.8 s committed, pure machine-load contention):
  *  - before the timed loop, a bounded sleep-retry gate waits for the
  *    1-min loadavg to drop below a threshold (r11 verdict #5);
  *  - DURING the loop, external CPU — /proc/stat busy minus this JVM's
  *    own CPU — is averaged over the loop; past ~2 cores the reading
  *    flags itself `"contended": true` ([[externalCores]]);
  *  - /proc/loadavg is recorded before/after/max-during as telemetry,
  *    so a contended run is self-diagnosing from the JSON alone;
  *  - each query's rep spread (max/min) is recorded, and when the spread
  *    exceeds 2× the query is re-run with extra reps (up to 5 total)
  *    before taking the median — sustained noise gets more votes.
  */
object Bench {
  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The contention-gate decision (r11 verdict #5), extracted so
    * BenchGateSpec pins it against planted load sequences: sleep-retry
    * until the 1-min loadavg drops below `gate` or the wait budget runs
    * out; report (waitedSec, contended). An unreadable loadavg (−1)
    * must flag contended — "can't measure idleness" is not "idle".
    * One loadavg read per decision (the compared value IS the logged
    * value), and the loop never sleeps past the budget, so the emitted
    * gate_waited_sec can never exceed the configured knob (r12
    * review). */
  private[graft] def awaitIdle(load: () => Double, gate: Double,
      budgetSec: Int, sleep: Long => Unit,
      log: String => Unit): (Int, Boolean) = {
    var waited = 0
    var l = load()
    while (l >= gate && waited + 10 <= budgetSec) {
      log(s"[bench] loadavg $l >= $gate — waiting for the machine to " +
        s"go idle ($waited/$budgetSec s)")
      sleep(10000L)
      waited += 10
      l = load()
    }
    (waited, l >= gate || l < 0.0)
  }

  /** Total busy CPU-seconds across all cores since boot (/proc/stat
    * aggregate line, USER_HZ = 100): user+nice+system+irq+softirq+steal.
    * idle and iowait are excluded as not-busy; guest/guest_nice are
    * excluded because Linux already accounts them inside user/nice
    * (summing them would double-count). −1 when unreadable. */
  private def totalBusySec(): Double =
    try {
      val f = Files.readString(Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f(0) + f(1) + f(2) +
        (if (f.length > 5) f(5) else 0L) +
        (if (f.length > 6) f(6) else 0L) +
        (if (f.length > 7) f(7) else 0L)
      busy / 100.0
    } catch { case _: Throwable => -1.0 }

  /** This JVM's cumulative CPU-seconds (all threads — in local[n] mode
    * every executor thread lives here, so this IS the bench's own
    * spend). IN-PROCESS ONLY (r12 advice): CPU burned by any child
    * process the bench spawned would read as EXTERNAL load and could
    * false-flag `contended` — today the bench forks nothing (no python/
    * duckdb preflight lives in this JVM's run), and that assumption is
    * part of [[externalCores]]'s contract; a future fork must sum the
    * children's CPU here (/proc/self + descendants) or run outside the
    * timed loop. −1 when the platform bean is unavailable. */
  private def selfCpuSec(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val t = os.getProcessCpuTime
        if (t < 0) -1.0 else t / 1e9
      case _ => -1.0
    } catch { case _: Throwable => -1.0 }

  /** Cumulative stop-the-world GC seconds across all collectors — the
    * "was that slow rep a GC pause?" attribution input (r12 verdict:
    * a 10.8 s components_star rep was unattributable between GC, IO
    * and plan). Monotonic; deltas around a query's reps are that
    * query's GC bill because the timed loop is sequential. */
  private def gcTotalSec(): Double =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
    } catch { case _: Throwable => -1.0 }

  /** Cumulative MAJOR page faults of this process (/proc/self/stat
    * field 12) — the cold-page-cache indicator: a rep that stalls on
    * re-reading evicted parquet pages shows a majflt spike with flat
    * GC. Parsed after the last ')' because comm may contain spaces. */
  private def majorFaults(): Long =
    try {
      val s = Files.readString(Paths.get("/proc/self/stat"))
      s.substring(s.lastIndexOf(')') + 2).split(" ")(9).toLong
    } catch { case _: Throwable => -1L }

  /** Cumulative bytes this process caused to be fetched from the
    * storage layer (/proc/self/io read_bytes) — the second IO
    * indicator: unlike majflt it also counts buffered reads that
    * missed the page cache. */
  private def ioReadBytes(): Long =
    try Files.readString(Paths.get("/proc/self/io")).linesIterator
      .find(_.startsWith("read_bytes:")).map(_.split(":")(1).trim.toLong)
      .getOrElse(-1L)
    catch { case _: Throwable => -1L }

  /** Mid-loop contention verdict (r12, second cut). The first cut
    * flagged on max 1-min loadavg ≥ 3× the gate — and self-flagged
    * every healthy run, because a back-to-back 300-query loop at
    * local[32] legitimately drives loadavg to ~14 on its own: loadavg
    * counts THIS bench's runnable threads and cannot separate self-load
    * from a neighbour. What can: EXTERNAL CPU — (total busy CPU-seconds
    * from /proc/stat) minus (this JVM's own CPU-seconds), averaged over
    * the timed loop, in cores. Self-load subtracts out exactly; an
    * ambient contender (another sbt/test JVM) shows up as whole
    * external cores. Returns −1 ("can't measure" → flag contended)
    * when any input is unreadable; clamps tiny negative deltas (clock
    * skew between the two reads) to 0. */
  private[graft] def externalCores(busy0: Double, busy1: Double,
      self0: Double, self1: Double, elapsedSec: Double): Double =
    if (busy0 < 0 || busy1 < 0 || self0 < 0 || self1 < 0 || elapsedSec <= 0)
      -1.0
    else math.max(0.0, (busy1 - busy0) - (self1 - self0)) / elapsedSec

  /** Burst sensitivity (r12 review): the whole-loop average dilutes a
    * short genuine contender — 10 external cores for 20 s of a 130 s
    * loop averages 1.5, under the 2-core gate, yet every rep inside
    * those 20 s is inflated (exactly the pattern the r12 close reading
    * showed). So external cores are ALSO evaluated over every
    * consecutive-sample window spanning ≥ `minWindowSec` (samples are
    * taken between queries), and the MAX window flags. The window floor
    * keeps jiffy granularity (10 ms) and scheduler noise from
    * dominating sub-second spans; when the whole loop is shorter than
    * the floor, the full span is used. Any unmeasurable sample poisons
    * the verdict to −1 ("can't measure" → contended), matching
    * [[externalCores]]. */
  private[graft] def maxWindowExternalCores(
      samples: Seq[(Double, Double, Double)],
      minWindowSec: Double): Double = {
    if (samples.size < 2 ||
        samples.exists(s => s._2 < 0 || s._3 < 0)) return -1.0
    val full = externalCores(samples.head._2, samples.last._2,
      samples.head._3, samples.last._3, samples.last._1 - samples.head._1)
    if (samples.last._1 - samples.head._1 <= minWindowSec) return full
    var best = full
    var j = 0
    for (i <- samples.indices.dropRight(1)) {
      if (j <= i) j = i + 1
      while (j < samples.size - 1 &&
          samples(j)._1 - samples(i)._1 < minWindowSec) j += 1
      val (t0, b0, s0) = samples(i)
      val (t1, b1, s1) = samples(j)
      if (t1 - t0 >= minWindowSec)
        best = math.max(best, externalCores(b0, b1, s0, s1, t1 - t0))
    }
    best
  }

  /** Reps shorter than this are exempt from per-rep burst attribution:
    * /proc/stat ticks at 10 ms per cpu, so a sub-second span's external
    * reading carries up to ±(ncpu·0.02/dt) cores of pure jiffy noise
    * (±0.64 at 1 s on 32 cpus — safely under the 2-core gate; ±6.4 at
    * 0.1 s — useless). A genuinely INFLATED rep is by definition long
    * (the r13 artifact's 0.21 s q_agg_mode rep read 5.39 s under the
    * burst), so the exemption only ever skips reps too fast to have
    * absorbed material contention. */
  private[graft] val repAttribMinSec = 1.0

  /** Median-voting policy under per-rep attribution (r13 verdict #1
    * generalized in r15): each rep carries DIRTY flags — it overlapped
    * an external-CPU burst ≥ gate, OR the cgroup throttled this process
    * for a material fraction of the rep's wall time. Dirty reps are
    * excluded from the median when at least one clean rep exists — the
    * median self-heals. A query with ZERO clean reps keeps the all-reps
    * median but reports standsOnDirty, surfacing in `contended_queries`
    * and flipping the top-level `contended` flag (a reading whose
    * medians stand on inflated reps is not a measurement).
    * Returns (votingTimings, dirtyRepCount, standsOnDirty). */
  private[graft] def dirtyVote(timings: Vector[Double],
      dirty: Vector[Boolean]): (Vector[Double], Int, Boolean) = {
    val clean = timings.zip(dirty).collect { case (t, d) if !d => t }
    val nDirty = timings.size - clean.size
    if (clean.nonEmpty) (clean, nDirty, false)
    else (timings, nDirty, nDirty > 0)
  }

  /** The r13/r14 burst-only vote shape, kept as the named policy the
    * spec pins; the timed loop composes it with the throttle flag
    * through [[dirtyVote]]. */
  private[graft] def burstVote(timings: Vector[Double], ext: Vector[Double],
      gate: Double): (Vector[Double], Int, Boolean) =
    dirtyVote(timings, ext.map(_ >= gate))

  /** Throttle-dirty threshold (r14 verdict #3: the driver artifact
    * absorbed ~12 s on one row with per-rep external cores at 0.0 —
    * within-JVM degradation the /proc/stat detector is structurally
    * blind to; cgroup CPU-quota throttling is the named mechanism with
    * that signature). A rep is throttle-dirty when the cgroup reports
    * this process runnable-but-capped for ≥ 10% of the rep's wall
    * time; sub-second reps stay exempt (the jiffy-noise floor rule). */
  private[graft] val throttleDirtyFrac = 0.10

  private[graft] def throttledDirty(dtSec: Double, thrSec: Double): Boolean =
    dtSec >= repAttribMinSec && thrSec >= throttleDirtyFrac * dtSec

  /** Parse a cgroup cpu.stat text into (nr_throttled, throttled
    * seconds): v2 reports `throttled_usec` (µs), v1 `throttled_time`
    * (ns). (-1, -1.0) when neither key parses — "file exists but says
    * nothing" must not read as "not throttled". */
  private[graft] def parseThrottle(text: String): (Long, Double) = {
    val kv = text.linesIterator.map(_.trim.split("\\s+"))
      .collect { case Array(k, v) if v.forall(_.isDigit) => k -> v.toLong }
      .toMap
    val n = kv.get("nr_throttled")
    val sec = kv.get("throttled_usec").map(_ / 1e6)
      .orElse(kv.get("throttled_time").map(_ / 1e9))
    (n, sec) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => (-1L, -1.0)
    }
  }

  /** Resolve this process's cpu cgroup stat file once per run: cgroup
    * v2 (`0::<path>` in /proc/self/cgroup → <mount><path>/cpu.stat,
    * falling back up the hierarchy to the mount root when the leaf
    * doesn't expose one) or v1 (`N:cpu[,...]:<path>` → the cpu
    * controller's cpu.stat). None when no readable stat file exists —
    * a box with no CPU quota machinery, reported as source "none" so
    * the JSON stays self-describing rather than silently claiming
    * zero throttling. */
  private[graft] def cgroupCpuStatPath(): Option[(java.nio.file.Path, String)] = {
    def readable(p: java.nio.file.Path): Boolean =
      try parseThrottle(Files.readString(p)) != ((-1L, -1.0))
      catch { case _: Throwable => false }
    try {
      val lines = Files.readString(Paths.get("/proc/self/cgroup"))
        .linesIterator.toSeq
      val v2 = lines.collectFirst {
        case l if l.startsWith("0::") => l.drop(3)
      }.toSeq.flatMap { rel =>
        Seq(s"/sys/fs/cgroup$rel/cpu.stat", "/sys/fs/cgroup/cpu.stat",
          s"/sys/fs/cgroup/unified$rel/cpu.stat")
          .map(p => (Paths.get(p), "v2"))
      }
      val v1 = lines.collectFirst {
        case l if l.split(":")(1).split(",").contains("cpu") =>
          l.split(":", 3)(2)
      }.toSeq.flatMap { rel =>
        Seq(s"/sys/fs/cgroup/cpu$rel/cpu.stat",
          "/sys/fs/cgroup/cpu/cpu.stat")
          .map(p => (Paths.get(p), "v1"))
      }
      (v2 ++ v1).find(p => readable(p._1))
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
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
    // CONTENTION GATE (r11 verdict #1→#5): the driver's r11 run launched
    // at loadavg 7.9 and read 152.9 s where two same-code idle runs read
    // 115.1/125.0 s — telemetry alone let a contended number masquerade
    // as a measurement. Sleep-retry (bounded) until the 1-min loadavg
    // drops below the threshold; if the wait budget runs out, the run
    // proceeds but the JSON carries "contended": true + the threshold,
    // making the reading self-describing. The gate runs HERE — BEFORE
    // warmup — because loadavg after warmup measures the bench's own
    // decaying burst, not the ambient machine (the first placement sat
    // out its full 120 s budget waiting for its own warmup to fade,
    // every run). A contender arriving after this point is caught by
    // the mid-loop external-CPU detector instead. Both knobs are
    // env-overridable for machines with different idle floors.
    val loadGate =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOADAVG_MAX", "2.0").toDouble
    val gateWaitBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOADAVG_WAIT_SEC", "120").toInt
    val (gateWaitedSec, gateContended) = awaitIdle(loadavg _, loadGate,
      gateWaitBudgetSec, Thread.sleep, System.err.println)
    // Warm passes run CONCURRENTLY on a small fixed pool (r9 verdict #6:
    // warmup had grown to 137 s, ~1.6× the measured loop, almost all of
    // it a SEQUENTIAL first-run pass over 200+ sub-second queries on a
    // 32-core machine). Warmup is occupancy, not measurement — the point
    // is that codegen/JIT/caches are hot and one-time costs are paid
    // before the timed loop, and that survives interleaving: Spark's
    // scheduler handles concurrent actions, and every shared stage build
    // goes through Memo's per-key latch (one build, others wait). The
    // TIMED loop below stays strictly sequential. Pool of 8 (r11, was
    // 4): warm timings measure occupancy not latency either way, and on
    // 32 cores the 4-way rest_batch pass was itself the biggest warmup
    // item (90 s driver / ~60 s idle) — 8 halves the critical path
    // while still leaving the machine far from saturated.
    def warmConcurrently[A](items: Seq[A])(body: A => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try items
        .map(a => pool.submit(new Runnable { def run(): Unit = body(a) }))
        .foreach(_.get())
      finally pool.shutdown()
    }
    // Streaming rows warm SEQUENTIALLY, after the pool: a replay is a
    // chain of small micro-batch jobs driven by its own query thread,
    // and q_stream_vec_index replays into the state root that
    // q_vec_index_refit maintains, so the two must not overlap. Rows
    // that need their own conf (AQE off, replay shuffle sizing, bloom
    // thresholds) set it on a graft.Scope clone, never on `spark`, so
    // they pool like any other.
    def parallelSafe(name: String): Boolean = !name.startsWith("q_stream_")
    // Snapshot the WHOLE runtime conf before any warm work: the leak
    // assert after the warm phases diffs against this.
    val confBeforeWarm = spark.conf.getAll
    // Warmup, not counted: run every query once at the smallest SF so the
    // timed loop measures steady state (codegen compilation is cached by
    // generated source and C2 has seen the hot paths), not JIT noise.
    val warmDir = "/root/testdata/sf0.001"
    val (poolable, sequentialOnly) =
      SparkEntry.queries.toSeq.partition(q => parallelSafe(q._1))
    warmConcurrently(poolable) { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    sequentialOnly.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // Second warm phase at the TARGET SF, untimed in the query loop but
    // ITEMIZED in the JSON (r7 verdict: warmup grew 53→97 s as caches
    // accumulated, and one opaque number hides a regression): each
    // known one-time cache builds under its own stopwatch, then a full
    // warm pass over the catalog picks up the remainder (stream
    // staging, per-query plan compilation). Without this phase the
    // setup cost would land in rep 1 of whichever query runs first,
    // be medianed out, and be counted in NO query.
    val warmItems = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def warmItem(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] warm $name failed: ${e.getMessage}") }
      warmItems += name -> (System.nanoTime() - t0) / 1e9
    }
    warmItem("shingle_stage") {
      operators.DedupQueries.Shingled(spark, sfDir).count() }
    warmItem("span_stage") {
      // The persisted corpus fingerprint table + the memo'd span report
      // q_dedup_span_clean scans; q_dedup_spans re-runs its pipeline
      // from the fingerprint stage per timed rep (bench honesty, r14
      // verdict #2) so only the one-time stage builds land here.
      operators.DedupQueries.Fingerprints(spark, sfDir).count()
      operators.DedupQueries.sharedSpans(spark, sfDir).count() }
    warmItem("token_stage") {
      operators.TextQueries.Tokenized(spark, sfDir).count() }
    warmItem("layouts") {
      operators.LayoutQueries.Maintained(spark, sfDir)
      operators.LayoutQueries.Maintained.sortedEvents(spark, sfDir)
      operators.LayoutQueries.Maintained.partitionedEvents(spark, sfDir)
      operators.LayoutQueries.Maintained.zorderedEvents(spark, sfDir)
      operators.LayoutQueries.Maintained.typeDim(spark, sfDir) }
    warmItem("bucketed_tables") {
      operators.JoinQueries.Bucketed(spark, sfDir) }
    warmItem("ann_models") {
      operators.AnnIvf.Models(spark, sfDir, 8, 3)
      operators.PqQuantizer.Codebooks(spark, sfDir)
      operators.PqQuantizer.Encoded(spark, sfDir).count()
      operators.PqQuantizer.IvfPqIndex(spark, sfDir).count()
      operators.AnnGraph.Graphs(spark, sfDir) }
    warmItem("tokenizer_models") {
      operators.BpeTokenizer.Models(spark, sfDir)
      operators.UnigramLm.Models(spark, sfDir) }
    warmItem("source_exports") {
      Seq("q_source_csv", "q_source_json", "q_source_orc").foreach(n =>
        SparkEntry.queries(n)(spark, sfDir).count()) }
    // The remainder warm pass runs every catalog query once at the
    // target SF. Itemized two ways (r8: "rest" had grown to a 160 s
    // opaque blob): batch vs streaming sub-totals — the streaming rows
    // pay fixed replay machinery per run and dominate — and a per-query
    // breakdown whose top-10 ships in the JSON as `warm_slowest`, so a
    // warmup regression is attributable to a QUERY, not a phase.
    // Per-query warm times under the 4-way pool measure OCCUPANCY
    // (own work + time sharing executors with 3 neighbours), not
    // latency — still attributable for warm_slowest's regression-
    // hunting purpose, and the itemized phase totals are what warmup_sec
    // stands on either way.
    val warmPerQuery = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
    def warmQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      // A crashed warm must not masquerade as a slow healthy one in
      // warm_slowest — tag it, mirroring the timed loop's "error"
      // sentinel, so the field attributes breakage as breakage.
      val tag = try { fn(spark, sfDir).count(); name }
        catch { case _: Throwable => s"$name:error" }
      warmPerQuery.add(tag -> (System.nanoTime() - t0) / 1e9)
    }
    warmItem("rest_batch") {
      warmConcurrently(poolable) { case (n, fn) => warmQuery(n, fn) }
    }
    // Streaming rows: their replay machinery cost (listing, fresh temp
    // checkpoint, start/stop) recurs identically on EVERY timed rep, so
    // replaying all ~20 of them here bought nothing rep 1 would not
    // re-pay — it was 57 s of the r10 warmup (verdict #6). Instead warm
    // what IS one-time at the target SF: the staged inputs / schema
    // memos / model state (stream_staging), plus ONE representative
    // replay for the shared micro-batch engine paths and the bloom
    // row. Per-row plan codegen is already hot from the sf0.001 pass.
    warmItem("stream_staging") {
      streaming.StreamingQueries.warmCaches(spark, sfDir)
    }
    warmItem("rest_sequential") {
      Seq("q_stream_tumbling", "q_join_bloom_filtered").foreach { n =>
        warmQuery(n, SparkEntry.queries(n))
      }
    }
    // Belt-and-braces: the timed loop must start from the session
    // defaults no matter what a warm build leaked — assert, don't just
    // restore, so a future leak is LOUD. Generalized (r10 review #2)
    // over EVERY runtime conf key, with one subtlety: a scoped
    // restore often re-SETS a key to the value `conf.get` reported
    // before the override — which for an unset key is its DEFAULT — so
    // "explicitly set to the pristine value" must not count as drift
    // (the first set-diff version tripped on exactly those). A fresh
    // `newSession()` supplies the pristine per-key baseline.
    val pristine = spark.newSession()
    def effective(c: org.apache.spark.sql.RuntimeConfig, k: String): String =
      try c.get(k) catch { case _: Exception => "<unset, no default>" }
    val afterWarm = spark.conf.getAll
    val confDrift = (confBeforeWarm.keySet ++ afterWarm.keySet).flatMap { k =>
      val before = confBeforeWarm.getOrElse(k, effective(pristine.conf, k))
      val now = afterWarm.getOrElse(k, effective(pristine.conf, k))
      if (before != now) Some(s"$k: $before -> $now") else None
    }
    require(confDrift.isEmpty,
      s"warm phase leaked session conf: $confDrift — a build wrote " +
        "conf on the caller's session instead of a graft.Scope clone; " +
        "move that conf onto a clone before trusting any timing")
    val warmupSec = warmItems.map(_._2).sum
    // A crashed query must never look like a fast one: record the error
    // and surface it in the JSON (errors list + "error" sentinel value).
    // Each query is timed `reps`× (default 3) and the median reported:
    // with 32 cores and sub-second queries a single shot is
    // scheduler-noise-dominated (r4 drifted +16% uniformly with zero plan
    // changes). Queries whose rep spread exceeds 2× get extra reps.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val maxReps = math.max(reps, 5)
    val loadStart = loadavg()
    // The pre-warmup gate samples ONCE; a contender can still arrive
    // MID-LOOP (the r12 close reading: loadavg 1.8 → 14.8 inside the
    // run, total +30% over the same-code pair). Mid-loop detection is
    // the EXTERNAL-CPU measure ([[externalCores]]): /proc/stat busy
    // minus own JVM CPU over the loop — loadavg is still tracked
    // between queries, but only as telemetry (it counts the bench's
    // own runnable threads, so no fixed threshold on it can separate
    // self-load from a neighbour; the first cut tried and self-flagged
    // every healthy run).
    val loadMaxDuring = new java.util.concurrent.atomic.AtomicLong(
      java.lang.Double.doubleToLongBits(0.0))
    // (tSec, busySec, selfSec) between queries — the windowed
    // burst-detector's input ([[maxWindowExternalCores]]). The timed
    // loop is sequential; the buffer needs no synchronization.
    val extSamples =
      scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
    def trackLoad(): Unit = {
      extSamples += ((System.nanoTime() / 1e9, totalBusySec(), selfCpuSec()))
      val l = loadavg()
      var done = false
      while (!done) {
        val cur = loadMaxDuring.get()
        done = l <= java.lang.Double.longBitsToDouble(cur) ||
          loadMaxDuring.compareAndSet(cur,
            java.lang.Double.doubleToLongBits(l))
      }
    }
    val extGate = sys.env
      .getOrElse("SPARK_GRAFT_BENCH_EXT_CORES_MAX", "2.0").toDouble
    // CGROUP THROTTLE ATTRIBUTION (r14 verdict #3): the driver artifact
    // carried ~12 s of within-JVM degradation at 0.0 external cores —
    // /proc/stat-based detection is blind to this-process CPU-quota
    // throttling (the throttled JVM burns LESS cpu, not more). Resolve
    // the process's cgroup cpu.stat once; per-rep deltas feed the same
    // dirty-rep vote/re-run policy as external bursts.
    val cgStat = cgroupCpuStatPath()
    val cgSource = cgStat.map(_._2).getOrElse("none")
    def cgThrottle(): (Long, Double) = cgStat match {
      case Some((p, _)) =>
        try parseThrottle(Files.readString(p))
        catch { case _: Throwable => (-1L, -1.0) }
      case None => (0L, 0.0)
    }
    // SCHEDULER TELEMETRY (same verdict item): per-rep Spark job count
    // and summed task scheduler delay (task wall − run − deserialize −
    // result-serialize). Listener-bus delivery is asynchronous, so a
    // rep's delta can lag by a few tasks — attribution telemetry, never
    // a vote input.
    val jobsStarted = new java.util.concurrent.atomic.AtomicLong
    val schedDelayMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobsStarted.incrementAndGet(); ()
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val i = t.taskInfo
          val m = t.taskMetrics
          if (i != null && m != null) {
            val d = i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime
            if (d > 0) schedDelayMs.addAndGet(d)
            ()
          }
        }
      })
    val busy0 = totalBusySec()
    val self0 = selfCpuSec()
    val ioRead0 = ioReadBytes()
    val (cgNr0, cgSec0) = cgThrottle()
    val loopT0 = System.nanoTime()
    // Per-rep attribution record: (wall sec, GC-sec delta, majflt
    // delta, external cores DURING the rep) — so a slow rep in the
    // emitted detail is attributable to GC vs page-cache IO vs an
    // ambient burst vs plan from the JSON alone (r12 verdict #2 +
    // r13 verdict #1: the loop-wide windows never attributed reps
    // individually, so a sub-gate burst put 26 s on cheap rows).
    // Per-rep record: (wall sec, GC-sec delta, majflt delta, external
    // cores during the rep, cgroup-throttled sec during the rep, Spark
    // jobs started, summed task scheduler-delay ms).
    type Rep = (Double, Double, Long, Double, Double, Long, Long)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      trackLoad()
      var firstErr: Option[String] = None
      def once(): Option[Rep] = {
        val gc0 = gcTotalSec(); val mf0 = majorFaults()
        val b0 = totalBusySec(); val s0 = selfCpuSec()
        val (_, thr0) = cgThrottle()
        val j0 = jobsStarted.get(); val sd0 = schedDelayMs.get()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // Unmeasurable (−1) clamps to clean here: the LOOP-level
          // detector already poisons the whole reading in that case;
          // a rep must not be double-flagged by a broken probe.
          val ext =
            if (dt < repAttribMinSec) 0.0
            else math.max(0.0, externalCores(b0, totalBusySec(),
              s0, selfCpuSec(), dt))
          val thr1 = cgThrottle()._2
          val thrSec =
            if (thr0 < 0 || thr1 < 0) 0.0 else math.max(0.0, thr1 - thr0)
          Some((dt, math.max(0.0, gcTotalSec() - gc0),
            math.max(0L, majorFaults() - mf0), ext, thrSec,
            math.max(0L, jobsStarted.get() - j0),
            math.max(0L, schedDelayMs.get() - sd0)))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            if (firstErr.isEmpty) firstErr = Some(e.getClass.getSimpleName)
            None
        }
      }
      var repRecords = (1 to reps).flatMap(_ => once()).toVector
      // An error during the INITIAL reps marks the query broken; a
      // failure during the optional retry sampling must not discard
      // reps that already succeeded — the valid median stands, but the
      // query is flagged FLAKY in the JSON (an intermittent crasher
      // must never read as fully healthy).
      val initialErr = firstErr
      // The vote sees BOTH dirt classes: external-CPU bursts ≥ gate and
      // material cgroup throttling of this process during the rep.
      def vote = dirtyVote(repRecords.map(_._1),
        repRecords.map(r => r._4 >= extGate || throttledDirty(r._1, r._5)))
      def spread(ts: Vector[Double]): Double =
        if (ts.size < 2 || ts.min <= 0) 1.0 else ts.max / ts.min
      // Retry while the median's votes are unhealthy: a rep that
      // overlapped a ≥gate external burst is re-run (the r13 ask —
      // the median self-heals instead of absorbing the burst), and the
      // pre-existing 2× spread rule still gets sustained noise more
      // votes. Both draw on the same maxReps budget.
      def needMoreVotes: Boolean = {
        val (votingTs, nBurst, _) = vote
        (nBurst > 0 && votingTs.size < reps) || spread(votingTs) > 2.0
      }
      while (firstErr.isEmpty && repRecords.nonEmpty && needMoreVotes &&
          repRecords.size < maxReps)
        repRecords = repRecords ++ once()
      // Reported spread covers the 3 reps CLOSEST to the median — the
      // votes the median actually stands on. The retry loop above
      // already gave a noise spike extra reps; keeping the spike in the
      // spread (r7: max_spread 9.19 from one contended q_dedup_simhash
      // rep whose median was fine) punishes exactly the mechanism that
      // absorbed it. The raw per-rep timings for the slowest rows ship
      // in the JSON (`reps`), so an outlier rep stays attributable.
      def trimmedSpread(ts: Vector[Double]): Double =
        if (ts.size <= 3) spread(ts)
        else {
          val med = ts.sorted.apply(ts.size / 2)
          spread(ts.sortBy(t => math.abs(t - med)).take(3))
        }
      val flaky = if (initialErr.isEmpty) firstErr else None
      if (initialErr.isDefined || repRecords.isEmpty)
        (name, 0.0, 0.0, firstErr, None, repRecords, 0, false)
      else {
        val (votingTs, nBurst, standsOnBurst) = vote
        (name, votingTs.sorted.apply(votingTs.size / 2),
          trimmedSpread(votingTs), None, flaky, repRecords, nBurst,
          standsOnBurst)
      }
    }
    val loadEnd = loadavg()
    trackLoad()
    // PINNED-PERSIST FOOTPRINT (r12 verdict #3): the Memo'd stages
    // persist for the JVM with no eviction by design — this reading is
    // what bounds that design. Taken at loop end (the maximal pinned
    // set: every stage built), from the storage layer's own accounting,
    // so a late-catalog rep spike is attributable to (or cleared of)
    // memory pressure from the pinned set. PinnedFootprintSpec asserts
    // the sf0.1 envelope leaves ≥ 10× headroom under the heap.
    val (pinnedMem, pinnedDisk, pinnedRdds) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.map(_.memSize).sum, infos.map(_.diskSize).sum, infos.length)
    }
    val loadMax = java.lang.Double.longBitsToDouble(loadMaxDuring.get())
    val extCores = externalCores(busy0, totalBusySec(), self0, selfCpuSec(),
      (System.nanoTime() - loopT0) / 1e9)
    // Storage-layer bytes actually fetched during the timed loop: near
    // zero on a warm page cache (the committed-pair regime), large when
    // the cache is cold — the discriminator behind the driver-run-vs-
    // committed-pair gap (r12 verdict #2's "non-CPU factor").
    val ioReadDelta =
      if (ioRead0 < 0) -1L
      else math.max(0L, ioReadBytes() - ioRead0)
    val extMaxWindow = maxWindowExternalCores(extSamples.toSeq,
      minWindowSec = 10.0)
    // A query whose median STANDS on burst reps (no clean rep inside
    // the budget) poisons the whole reading: its contribution to the
    // total is not a measurement (r13 verdict #1).
    val anyStandsOnBurst = results.exists(_._8)
    val contended = gateContended || extCores < 0 ||
      extMaxWindow < 0 || math.max(extCores, extMaxWindow) >= extGate ||
      anyStandsOnBurst
    def fmt(d: Double): String = BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map {
      case (k, v, _, None, _, _, _, _)    => "\"" + k + "\":" + v
      case (k, _, _, Some(_), _, _, _, _) => "\"" + k + "\":\"error\""
    }.mkString("{", ",", "}")
    val spreads = results.collect {
      case (k, _, sp, None, _, _, _, _) => "\"" + k + "\":" + fmt(sp)
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _, _, _, _) => "\"" + k + ": " + e + "\"" }
      .mkString("[", ",", "]")
    val flaky = results.collect { case (k, _, _, _, Some(e), _, _, _) => "\"" + k + ": " + e + "\"" }
      .mkString("[", ",", "]")
    // Per-query burst attribution (r13 verdict #1): how many reps each
    // affected query had excluded (or, failing exclusion, stood on).
    val burstReps = results.collect {
      case (k, _, _, None, _, _, nb, _) if nb > 0 => "\"" + k + "\":" + nb
    }.mkString("{", ",", "}")
    val contendedQueries = results.collect {
      case (k, _, _, None, _, _, _, true) => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val nBurstReps = results.collect {
      case (_, _, _, None, _, _, nb, _) => nb }.sum
    val total = results.collect { case (_, v, _, None, _, _, _, _) => v }.sum
    // Sub-totals: the streaming replay rows (added r6) each pay ~1.5 s of
    // fixed micro-batch machinery (source listing, checkpoint, start/
    // stop) by design — break them out so round-over-round batch
    // comparisons stay like-for-like.
    val streamTotal = results.collect {
      case (k, v, _, None, _, _, _, _) if k.startsWith("q_stream_") => v }.sum
    val maxSpread = (1.0 +: results.collect { case (_, _, sp, None, _, _, _, _) => sp }).max
    // Raw per-rep timings for the 10 slowest rows: when the driver's
    // total disagrees with a committed one, this shows WHICH reps of
    // WHICH rows absorbed the contention instead of leaving a 35%
    // gap unattributable (r7 verdict #1).
    val slowest = results.filter(_._4.isEmpty).sortBy(-_._2).take(10)
    val repsDetail = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(r => fmt(r._1)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // Per-rep GC / major-fault deltas for the same 10 rows, index-
    // aligned with `reps`: a slow rep with a matching GC spike is a
    // pause, one with a majflt spike is cold page cache, one with
    // neither is plan/scheduler (r12 verdict #2's attribution ask).
    val repsGc = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(r => fmt(r._2)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val repsMajflt = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(_._3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // External cores measured during each rep of the same 10 rows,
    // index-aligned with `reps` — the direct "was THIS rep inflated by
    // a neighbour" read (0 for reps under the attribution floor).
    val repsExt = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(r => fmt(r._4)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // Cgroup-throttled seconds during each rep of the same 10 rows —
    // the "was THIS rep capped by a CPU quota" read (r14 verdict #3's
    // external-CPU-invisible inflation class), plus per-rep job counts
    // and scheduler-delay sums for the same rows.
    val repsThrottled = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(r => fmt(r._5)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val repsJobs = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(_._6).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val repsSchedMs = slowest
      .map { case (k, _, _, _, _, ts, _, _) =>
        "\"" + k + "\":[" + ts.map(_._7).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val nThrottledReps = results.flatMap(_._6)
      .count(r => throttledDirty(r._1, r._5))
    val cgThrottledSec = {
      val (n1, s1) = cgThrottle()
      if (cgNr0 < 0 || n1 < 0 || cgSec0 < 0 || s1 < 0) (-1L, -1.0)
      else (math.max(0L, n1 - cgNr0), math.max(0.0, s1 - cgSec0))
    }
    // Per-query GC bill (sum over its reps) for EVERY row — the loop is
    // sequential, so attribution is exact.
    val gcPerQuery = results.collect {
      case (k, _, _, None, _, ts, _, _) => "\"" + k + "\":" + fmt(ts.map(_._2).sum)
    }.mkString("{", ",", "}")
    val gcTotal = results.flatMap(_._6.map(_._2)).sum
    val majfltTotal = results.flatMap(_._6.map(_._3)).sum
    val warmDetail = warmItems
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val warmSlowest = scala.jdk.CollectionConverters
      .CollectionHasAsScala(warmPerQuery).asScala.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""batch_total":${fmt(total - streamTotal)},""" +
        s""""streaming_total":${fmt(streamTotal)},""" +
        s""""errors":$errs,"flaky":$flaky,""" +
        s""""spreads":$spreads,"max_spread":${fmt(maxSpread)},""" +
        s""""reps":$repsDetail,"reps_gc":$repsGc,"reps_majflt":$repsMajflt,""" +
        s""""reps_ext_cores":$repsExt,"burst_reps":$burstReps,""" +
        s""""reps_throttled_sec":$repsThrottled,"reps_jobs":$repsJobs,""" +
        s""""reps_sched_ms":$repsSchedMs,""" +
        s""""n_throttled_reps":$nThrottledReps,""" +
        s""""cg_nr_throttled":${cgThrottledSec._1},""" +
        s""""cg_throttled_sec":${fmt(cgThrottledSec._2)},""" +
        s""""cg_throttle_source":"$cgSource",""" +
        s""""n_burst_reps":$nBurstReps,"contended_queries":$contendedQueries,""" +
        s""""gc":$gcPerQuery,"gc_total_sec":${fmt(gcTotal)},""" +
        s""""majflt_total":$majfltTotal,"io_read_bytes":$ioReadDelta,""" +
        s""""pinned_mem_bytes":$pinnedMem,"pinned_disk_bytes":$pinnedDisk,""" +
        s""""pinned_rdds":$pinnedRdds,""" +
        s""""warmup_sec":${fmt(warmupSec)},"warmup_items":$warmDetail,""" +
        s""""warm_slowest":$warmSlowest,""" +
        s""""contended":$contended,"loadavg_gate":$loadGate,""" +
        s""""gate_waited_sec":$gateWaitedSec,""" +
        s""""external_cores_avg":${fmt(extCores)},""" +
        s""""external_cores_max_window":${fmt(extMaxWindow)},""" +
        s""""external_cores_gate":$extGate,""" +
        s""""loadavg_max_timed":${fmt(loadMax)},""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,"sf":"$sfDir"}"""
    println(line)
    // The driver captures only the TAIL of stdout (~2 KB) and parses the
    // last {"metric"...} line it finds. The full line above outgrew that
    // window once the catalog passed ~70 queries (r5's BENCH wrapper
    // recorded parsed:null for exactly this reason), so ALSO emit a
    // compact summary line LAST — it always fits, and the per-query
    // detail stays in the full line + bench_out.json.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""batch_total":${fmt(total - streamTotal)},""" +
        s""""streaming_total":${fmt(streamTotal)},""" +
        s""""n_queries":${results.size},"n_errors":${results.count(_._4.isDefined)},""" +
        s""""n_flaky":${results.count(_._5.isDefined)},""" +
        s""""n_burst_reps":$nBurstReps,"contended_queries":$contendedQueries,""" +
        s""""n_throttled_reps":$nThrottledReps,""" +
        s""""cg_nr_throttled":${cgThrottledSec._1},""" +
        s""""cg_throttled_sec":${fmt(cgThrottledSec._2)},""" +
        s""""cg_throttle_source":"$cgSource",""" +
        s""""gc_total_sec":${fmt(gcTotal)},"majflt_total":$majfltTotal,""" +
        s""""io_read_bytes":$ioReadDelta,""" +
        s""""pinned_mem_bytes":$pinnedMem,"pinned_disk_bytes":$pinnedDisk,""" +
        s""""pinned_rdds":$pinnedRdds,""" +
        s""""warmup_items":$warmDetail,""" +
        s""""max_spread":${fmt(maxSpread)},"warmup_sec":${fmt(warmupSec)},""" +
        s""""contended":$contended,"loadavg_gate":$loadGate,""" +
        s""""gate_waited_sec":$gateWaitedSec,""" +
        s""""external_cores_avg":${fmt(extCores)},""" +
        s""""external_cores_max_window":${fmt(extMaxWindow)},""" +
        s""""external_cores_gate":$extGate,""" +
        s""""loadavg_max_timed":${fmt(loadMax)},""" +
        s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
        s""""detail":"bench_out.json","sf":"$sfDir"}"""
    println(compact)
    Files.writeString(Paths.get("bench_out.json"), line + "\n" + compact + "\n")
    spark.stop()
  }
}
