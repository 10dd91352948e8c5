package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MonoidTable, Snapshot, UpsertState}

/** Failure injection for the foreachBatch state-table rows — the
  * at-least-once window StreamRecoverySpec cannot reach: the driver
  * dying AFTER the sink write but BEFORE the epoch commit. Structured
  * Streaming then re-delivers the SAME batchId on restart; a count/sum
  * monoid merged twice double-counts unless the merge is fenced.
  *
  * The first test injects exactly that crash through the REAL
  * machinery (file source + checkpoint + thrown foreachBatch +
  * restart) and asserts the maintained table still equals the batch
  * recompute. The second is the negative control proving the injection
  * actually exercises the failure window: an unfenced merge under the
  * identical crash DOES double-count. The remaining tests pin the
  * fence's re-delivery semantics directly and the bucketed upsert's
  * churn-proportional rewrite (untouched bucket files survive a merge
  * untouched — the 100 TB claim as a file-identity assertion). */
class StreamFailureSpec extends AnyFunSuite with SparkFixture {

  /** One micro-batch of each discipline, on table `t` of `state`. */
  private def monoid(state: String, bp: DataFrame, id: Long): Unit =
    Snapshot.batch(state, id)(MonoidTable.merge(_, "t", bp, Seq("day")))

  private def upsert(state: String, batch: DataFrame, id: Long): Unit =
    Snapshot.batch(state, id)(UpsertState.merge(_, "t", batch))

  private def partials(df: DataFrame): DataFrame =
    df.groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          * 100).cast(org.apache.spark.sql.types.LongType).as("sc"))

  /** Stage events as 4 single-file chunks so maxFilesPerTrigger=1
    * yields a deterministic 4-batch replay. */
  private def stageChunks(): String = {
    val dir = Files.createTempDirectory("graft_fail_src").toString
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    (0 until 4).foreach { c =>
      raw.where(pmod(col("event_id"), lit(4)) === c).coalesce(1)
        .write.mode(if (c == 0) "overwrite" else "append").parquet(dir)
    }
    dir
  }

  /** Drive the daily-agg maintenance through a real checkpointed
    * stream whose foreachBatch crashes once, AFTER merging batch
    * `failAt` — then restart from the same checkpoint. Returns the
    * final state path (each discipline reads its own layout). `merge`
    * is the discipline under test. */
  private def runWithCrash(inDir: String,
      merge: (String, DataFrame, Long) => Unit, failAt: Long): String = {
    val state = Files.createTempDirectory("graft_fail_state").toString +
      "/t"
    val ckpt = Files.createTempDirectory("graft_fail_ckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = Tables.normalizeTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          merge(state, partials(batch), id)
          // Crash between the state write and the epoch commit — the
          // exact window that forces a re-delivery of this batchId.
          if (id == failAt && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after state write")
        }
        .start()
      assert(q.awaitTermination(120000), "replay must finish")
      q.stop()
    }
    try runOnce()
    catch { case _: StreamingQueryException => () }
    assert(crashed.get(), "the injection must have fired")
    runOnce() // restart: engine re-delivers batch `failAt`
    state
  }

  private def asMap(df: DataFrame): Map[java.sql.Date, (Long, Long)] =
    df.collect().map(r => r.getDate(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("fenced monoid merge survives a re-delivered batchId (real " +
      "checkpoint restart)") {
    val inDir = stageChunks()
    val got = asMap(MonoidTable.read(spark,
      runWithCrash(inDir, monoid, failAt = 2L), "t"))
    val want = asMap(partials(Tables.events(spark, sfDir)))
    assert(got == want,
      "maintained table must equal the batch recompute despite the crash")
  }

  test("negative control: an UNFENCED merge double-counts under the " +
      "identical crash") {
    val inDir = stageChunks()
    // The pre-fence merge discipline, verbatim: read state, union,
    // re-sum, overwrite — no batch-id check.
    def unfenced(state: String, bp: DataFrame, id: Long): Unit = {
      val merged =
        if (id == 0L) bp
        else bp.sparkSession.read.parquet(state).unionByName(bp)
          .groupBy(col("day"))
          .agg(sum(col("n")).as("n"), sum(col("sc")).as("sc"))
      merged.localCheckpoint(eager = true)
        .write.mode("overwrite").parquet(state)
    }
    val got = spark.read.parquet(runWithCrash(inDir, unfenced, failAt = 2L))
    val want = partials(Tables.events(spark, sfDir))
    val gotTotal = got.agg(sum("n")).head().getLong(0)
    val wantTotal = want.agg(sum("n")).head().getLong(0)
    assert(gotTotal > wantTotal,
      s"control must double-count ($gotTotal vs $wantTotal) — if it " +
        "matches, the injection no longer exercises the failure window")
  }

  test("the fence no-ops on stale and repeated batch ids directly") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_fence").toString + "/t"
    def bp(day: String, n: Long): DataFrame =
      Seq((java.sql.Date.valueOf(day), n, n * 100))
        .toDF("day", "n", "sc")
    monoid(state, bp("2024-01-01", 5), 0L)
    monoid(state, bp("2024-01-01", 3), 1L)
    val after1 = asMap(MonoidTable.read(spark, state, "t"))
    // Re-delivery of the committed id: a no-op (double-merge fenced).
    monoid(state, bp("2024-01-01", 3), 1L)
    assert(asMap(MonoidTable.read(spark, state, "t")) == after1)
    assert(after1 == Map(java.sql.Date.valueOf("2024-01-01") -> (8L, 800L)))
    // A genuinely new id still merges; its own re-delivery no-ops too.
    monoid(state, bp("2024-01-01", 2), 2L)
    monoid(state, bp("2024-01-01", 2), 2L)
    assert(asMap(MonoidTable.read(spark, state, "t"))
      == Map(java.sql.Date.valueOf("2024-01-01") -> (10L, 1000L)))
    // Batch 0 RESETS by design — a fresh invocation of the query row
    // must be self-contained over pre-existing state (in the engine a
    // re-delivered batch 0 carries identical content, so the reset is
    // idempotent there).
    monoid(state, bp("2024-01-01", 7), 0L)
    assert(asMap(MonoidTable.read(spark, state, "t"))
      == Map(java.sql.Date.valueOf("2024-01-01") -> (7L, 700L)))
  }

  test("append-mode landing survives a re-delivered batchId; the old " +
      "append discipline double-lands") {
    // Same crash window as the monoid test, against Replay's landing
    // sink: a delta landed for a batch whose epoch never committed is
    // re-landed on restart. The per-batch partition-dir overwrite
    // absorbs it; the r10 overwrite-then-append discipline (the
    // negative control) duplicates the delta.
    def runLanding(land: (String, DataFrame, Long) => Unit): Long = {
      val inDir = stageChunks()
      val out = Files.createTempDirectory("graft_fail_land").toString + "/t"
      val ckpt = Files.createTempDirectory("graft_fail_lckpt").toString
      val schema = spark.read.parquet(inDir).schema
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            land(out, batch.select(col("event_id")), id)
            if (id == 2L && crashed.compareAndSet(false, true))
              throw new RuntimeException("injected crash after land")
          }
          .start()
        assert(q.awaitTermination(120000), "replay must finish")
        q.stop()
      }
      try runOnce()
      catch { case _: StreamingQueryException => () }
      assert(crashed.get(), "the injection must have fired")
      runOnce()
      spark.read.parquet(out).count()
    }
    val n = Tables.events(spark, sfDir).count()
    val fenced = runLanding(
      graft.streaming.StreamingQueries.Replay.landBatch(_, "append", _, _))
    assert(fenced == n,
      s"partition-dir landing must hold exactly the input ($fenced vs $n)")
    // Negative control: overwrite batch 0, append after — re-delivery
    // of batch 2 appends its delta twice.
    val unfenced = runLanding { (out, b, id) =>
      b.write.mode(if (id == 0L) "overwrite" else "append").parquet(out)
    }
    assert(unfenced > n,
      s"control must double-land ($unfenced vs $n) — if it matches, " +
        "the injection no longer exercises the failure window")
  }

  test("bucketed upsert rewrites ONLY touched bucket partitions") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_bkt").toString + "/t"
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    // Batch 0: enough distinct users to populate every bucket.
    val b0 = (1L to 64L).map(u => (u * 10, ts0, u, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    upsert(state, b0, 0L)
    val allBkts = (0 until UpsertState.buckets).toVector
    assert(allBkts.forall(b =>
      UpsertState.bucketDir(state, "t", b).isDefined),
      "batch 0 over 64 users must populate every bucket")

    // File identity THROUGH the manifest: an untouched bucket must keep
    // not just equal content but the exact same committed data
    // directory and files (name/size/mtime) — merge cost ∝ churn.
    def listing(b: Int): (String, Set[(String, Long, Long)]) = {
      val dir = UpsertState.bucketDir(state, "t", b).get
      dir -> new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }
    val before = allBkts.map(b => b -> listing(b)).toMap

    // Batch 1: one user updated — exactly one bucket is touched.
    val u = 7L
    val touchedBkt = UpsertState.withBucket(
      Seq((1L, ts1, u, "b", 2.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      .select("_bkt").head().getInt(0)
    val b1 = Seq((9999L, ts1, u, "b", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    upsert(state, b1, 1L)

    allBkts.filterNot(_ == touchedBkt).foreach { b =>
      assert(listing(b) == before(b),
        s"untouched bucket $b must keep its exact dir + files " +
          "(name/size/mtime)")
    }
    assert(listing(touchedBkt) != before(touchedBkt),
      "the touched bucket must point at a new version")

    // And the snapshot itself is the correct newest-wins collapse.
    val snap = UpsertState.read(spark, state, "t")
      .select("user_id", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val expect = (1L to 64L).map(x =>
      if (x == u) (x, 9999L, "b") else (x, x * 10, "a")).toSet
    assert(snap == expect)
  }

  test("bucketed upsert survives a re-delivered batchId (newest-wins " +
      "idempotence through a real checkpoint restart)") {
    // Newest-wins on the total (ts, event_id) key is idempotent, and
    // the merge's `@bid` fence no-ops the re-delivered batch; both
    // claims deserve the same injection the monoid rows get: crash
    // after merging batch 2, restart, and the snapshot must still
    // equal the batch argmax.
    val inDir = stageChunks()
    val state = Files.createTempDirectory("graft_fail_ups").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_fail_upsckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = Tables.normalizeTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          upsert(state, batch, id)
          if (id == 2L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after merge")
        }
        .start()
      assert(q.awaitTermination(120000), "replay must finish")
      q.stop()
    }
    try runOnce()
    catch { case _: StreamingQueryException => () }
    assert(crashed.get(), "the injection must have fired")
    runOnce()
    val got = UpsertState.read(spark, state, "t")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = UpsertState.latest(Tables.events(spark, sfDir))
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      "snapshot must equal the batch argmax despite the crash")
  }

  test("an EMPTY batch 0 commits an empty manifest that batch 1 " +
      "seeds, not crashes on") {
    // Under the pre-r12 partitioned overwrite a zero-row batch 0 left a
    // schema-less directory batch 1 had to special-case; the manifest
    // commit dissolves that — batch 0 commits an empty manifest and
    // batch 1 seeds every bucket it touches.
    import spark.implicits._
    val state = Files.createTempDirectory("graft_bkt0").toString + "/t"
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def batch(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    upsert(state, batch(Seq.empty), 0L)
    upsert(state, batch(Seq((1L, ts, 7L, "a", 1.0))), 1L)
    val snap = UpsertState.read(spark, state, "t")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snap == Set((7L, 1L)))
  }

  test("a TORN data write (kill mid-publish, before the pointer swap) " +
      "leaves the last committed version readable; the next merge " +
      "recovers and GCs the orphan") {
    // The failure class the r11 verdict asked to bring INSIDE the
    // model: the old delete+overwrite discipline documented a torn
    // overwrite as unrecoverable; the version-dir + pointer-swap commit
    // makes it an orphan directory the pointer never references. Two
    // flavors of the kill are injected against the REAL state root:
    //  (a) mid-write — a partial, CORRUPT version dir (what a killed
    //      JVM leaves: some bytes of a parquet file, no _SUCCESS);
    //  (b) write-complete-but-unswapped — a full version dir whose
    //      commit never ran.
    // Both must be invisible to readers and swept by the next commit.
    import spark.implicits._
    val state = Files.createTempDirectory("graft_torn").toString + "/t"
    def bp(n: Long): DataFrame =
      Seq((java.sql.Date.valueOf("2024-01-01"), n, n * 100))
        .toDF("day", "n", "sc")
    monoid(state, bp(5), 0L)
    val committed = asMap(MonoidTable.read(spark, state, "t"))

    // (a) torn: garbage bytes where a parquet file was being written.
    val torn = java.nio.file.Paths.get(state, "v1")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52, 0x00, 0x13, 0x37))
    assert(asMap(MonoidTable.read(spark, state, "t")) == committed,
      "a torn uncommitted write must be invisible to readers")

    // (b) complete but unswapped: a real parquet dir, pointer untouched.
    bp(99).write.mode("overwrite").parquet(s"$state/v2")
    assert(asMap(MonoidTable.read(spark, state, "t")) == committed,
      "an unswapped complete write must be invisible to readers")

    // The next merge writes PAST both orphans (monotonic version
    // numbering — never into a dir a torn attempt created), commits,
    // and sweeps them. The superseded COMMITTED version (v0) survives
    // exactly one more commit — the retention window that keeps a
    // racing reader's resolved paths alive — and is swept by the one
    // after.
    monoid(state, bp(3), 1L)
    assert(asMap(MonoidTable.read(spark, state, "t"))
      == Map(java.sql.Date.valueOf("2024-01-01") -> (8L, 800L)))
    assert(!Files.exists(torn) && !Files.exists(
      java.nio.file.Paths.get(state, "v2")),
      "the successful commit must GC the orphaned version dirs")
    assert(Files.exists(java.nio.file.Paths.get(state, "v0")),
      "the superseded version must survive ONE commit (reader grace)")
    monoid(state, bp(1), 2L)
    assert(!Files.exists(java.nio.file.Paths.get(state, "v0")),
      "the commit after next must sweep the superseded version")
  }

  test("a reader's plan built BEFORE a merge still evaluates after it " +
      "— the queryable-between-batches guarantee under the retention " +
      "window") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_reader").toString + "/t"
    def bp(n: Long): org.apache.spark.sql.DataFrame =
      Seq((java.sql.Date.valueOf("2024-01-01"), n, n * 100))
        .toDF("day", "n", "sc")
    monoid(state, bp(5), 0L)
    // A dashboard reader resolves the current version's paths…
    val reader = MonoidTable.read(spark, state, "t")
    // …the owning stream merges the next batch (commit + GC)…
    monoid(state, bp(3), 1L)
    // …and the reader's already-built plan must still evaluate (it
    // reads the RETAINED superseded version — a consistent snapshot,
    // not a torn mix and not a crash).
    assert(asMap(reader)
      == Map(java.sql.Date.valueOf("2024-01-01") -> (5L, 500L)))
    assert(asMap(MonoidTable.read(spark, state, "t"))
      == Map(java.sql.Date.valueOf("2024-01-01") -> (8L, 800L)))
  }

  test("torn write against the bucketed upsert: uncommitted bucket " +
      "versions stay invisible and the manifest swap commits all " +
      "touched buckets atomically") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_torn_ups").toString + "/t"
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    def batch(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    upsert(state, batch((1L to 16L).map(u =>
      (u * 10, ts0, u, "a", 1.0))), 0L)
    val committed = UpsertState.read(spark, state, "t")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // A killed merge left a half-written version dir for some buckets.
    val torn = java.nio.file.Paths.get(state, "v1", "_bkt=3")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52))
    assert(UpsertState.read(spark, state, "t")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == committed,
      "a torn bucket version must be invisible (manifest never saw it)")

    // The retried merge publishes past the orphan; ONE pointer swap
    // flips every touched bucket together.
    upsert(state,
      batch(Seq((9999L, ts1, 7L, "b", 2.0), (9998L, ts1, 8L, "b", 2.0))), 1L)
    val after = UpsertState.read(spark, state, "t")
      .select("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == committed -- Set((7L, 70L), (8L, 80L))
      ++ Set((7L, 9999L), (8L, 9998L)))
    assert(!Files.exists(java.nio.file.Paths.get(state, "v1")),
      "the successful commit must GC the torn orphan")
  }
}
