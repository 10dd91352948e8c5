package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnIvf
import graft.streaming.{MonoidTable, Snapshot, StreamVecIndex}

/** The streaming IVF-index maintenance contract (r11 verdict ask #1):
  * the maintained index must equal the batch build BIT-FOR-BIT (the
  * exact-integer monoid argument), assignment must be frozen-codebook
  * deterministic (batching cannot move a vector's cell), and the merge
  * must survive the at-least-once re-delivery window through the real
  * checkpoint-restart machinery. */
class StreamVecIndexSpec extends AnyFunSuite with SparkFixture {

  private def codebook = AnnIvf.Models(spark, sfDir,
    StreamVecIndex.K, StreamVecIndex.Iters)

  private def fullAssigned: DataFrame =
    AnnIvf.assign(
      Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      codebook)

  test("the maintained drift report equals the batch build bit-for-bit") {
    val stream = Catalog.byName("q_stream_vec_index").build(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    val batch = StreamVecIndex.batchBuild(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    assert(stream.nonEmpty)
    assert(stream == batch,
      "stream-maintained index must equal the batch build exactly")
  }

  test("(vec_id, cell) assignment is batching-invariant under the " +
      "frozen codebook") {
    val cb = codebook
    val inDir = StreamVecIndex.VecStage.inDir(spark, sfDir)
    val chunked = AnnIvf.assign(spark.read.parquet(inDir), cb)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val full = fullAssigned.select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(chunked == full,
      "a vector's cell must not depend on which micro-batch carried it")
  }

  test("drift-report accounting: every vector lands in exactly one cell") {
    val report = StreamVecIndex.batchBuild(spark, sfDir).collect()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(report.map(_.getLong(1)).sum == total,
      "per-cell vector counts must sum to the corpus")
    assert(report.forall(r =>
      r.getInt(0) >= 0 && r.getInt(0) < StreamVecIndex.K))
    assert(report.forall(_.getLong(2) >= 0L), "squared drift is non-negative")
  }

  test("fenced merge survives a re-delivered batchId (real checkpoint " +
      "restart) — the maintained state still equals the batch recompute") {
    val cb = codebook
    val inDir = StreamVecIndex.VecStage.inDir(spark, sfDir)
    val state = Files.createTempDirectory("graft_vecidx_state").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vecidx_ckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          Snapshot.batch(state, id)(MonoidTable.merge(_, StreamVecIndex.Stats,
            StreamVecIndex.partials(AnnIvf.assign(batch, cb)),
            Seq("cell", "pos")))
          // Crash between the state write and the epoch commit — the
          // at-least-once window that re-delivers this batchId.
          if (id == 2L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after index merge")
        }
        .start()
      assert(q.awaitTermination(120000), "replay must finish")
      q.stop()
    }
    try runOnce()
    catch { case _: StreamingQueryException => () }
    assert(crashed.get(), "the injection must have fired")
    runOnce() // restart: engine re-delivers batch 2
    def asMap(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val got = asMap(MonoidTable.read(spark, state, StreamVecIndex.Stats)
      .select(col("cell"), col("pos"), col("n"), col("s")))
    val want = asMap(StreamVecIndex.partials(fullAssigned)
      .select(col("cell"), col("pos"), col("n"), col("s")))
    assert(got == want,
      "maintained index must equal the batch recompute despite the crash")
  }

  test("DELETES fold as signed deltas through the same monoid merge: " +
      "the maintained index equals the batch build of the survivors") {
    // CDC applied to the index — the day-two requirement after inserts:
    // a vector's removal is the NEGATED sufficient-statistics delta
    // (n → −1, s → −component sums), and because the state is a signed
    // integer monoid, the SAME fenced merge absorbs it with no new code
    // path. Batch 0 inserts the full corpus; batch 1 deletes every
    // vec_id ≡ 0 (mod 5); the maintained state must equal the batch
    // partials of the surviving vectors exactly.
    import org.apache.spark.sql.types.LongType
    val state = Files.createTempDirectory("graft_vecidx_del").toString + "/t"
    val cb = codebook
    val all = fullAssigned
    def merge(df: DataFrame, id: Long): Unit = Snapshot.batch(state, id)(
      MonoidTable.merge(_, StreamVecIndex.Stats, df, Seq("cell", "pos")))
    merge(StreamVecIndex.partials(all), 0L)
    val deletes = StreamVecIndex.partials(
        all.where(col("vec_id") % 5 === 0))
      .select(col("cell"), col("pos"),
        (-col("n")).cast(LongType).as("n"), (-col("s")).as("s"))
    merge(deletes, 1L)
    def asMap(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val got = asMap(MonoidTable.read(spark, state, StreamVecIndex.Stats)
      .where(col("n") =!= 0L) // fully-emptied cells carry a zero row
      .select(col("cell"), col("pos"), col("n"), col("s")))
    val want = asMap(StreamVecIndex.partials(
        all.where(col("vec_id") % 5 =!= 0))
      .select(col("cell"), col("pos"), col("n"), col("s")))
    assert(got == want,
      "delete deltas must leave exactly the survivors' statistics")
  }

  test("codebook REFIT = restart: maintaining under a new frozen " +
      "codebook supersedes the old index via the batch-0 reset") {
    // The documented offline/online split made operational: the stream
    // never mutates the codebook — a refit restarts the query with a
    // new broadcast literal, and the fresh stream's batch 0 resets the
    // state table, so the maintained index flips cleanly from the old
    // model's statistics to the new one's (no checkpoint carried over,
    // no stale cells surviving the swap).
    val state = Files.createTempDirectory("graft_vecidx_refit")
      .toString + "/t"
    StreamVecIndex.maintain(spark, sfDir, state) // the shipped codebook
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val refitCb = AnnIvf.train(emb, k = 4, iters = 2) // the offline refit
    StreamVecIndex.maintain(spark, sfDir, state, codebook = Some(refitCb))
    val got = StreamVecIndex
      .driftReport(MonoidTable.read(spark, state, StreamVecIndex.Stats),
        refitCb)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    val want = StreamVecIndex
      .driftReport(StreamVecIndex.partials(AnnIvf.assign(emb, refitCb)),
        refitCb)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    assert(got == want,
      "post-refit maintained index must equal the new codebook's batch " +
        "build — nothing of the old model may survive")
    assert(got.map(_._1).forall(_ < 4), "only new-model cells exist")
  }

  test("re-running the catalog row is deterministic (batch-0 reset " +
      "makes each invocation self-contained)") {
    def run() = Catalog.byName("q_stream_vec_index").build(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    assert(run() == run())
  }
}
