package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendLog, Snapshot}

/** The append-only segment log's contract: batch fencing, batch-0
  * reset, and compaction (fold to one directory, the batch fence
  * retained, readers de-duplicated). */
class AppendLogSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def rows(log: String): Set[(Long, String)] =
    AppendLog.read(spark, log, "t").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def append(log: String, df: org.apache.spark.sql.DataFrame,
      id: Long): Unit =
    Snapshot.batch(log, id)(AppendLog.append(_, "t", df, id))

  private def compact(log: String): Unit =
    Snapshot.update(log, None)(AppendLog.compact(spark, _, "t"))

  test("append/read round trip; a re-delivered batchId no-ops; " +
      "batch 0 resets") {
    val log = Files.createTempDirectory("graft_alog").toString + "/t"
    assert(AppendLog.read(spark, log, "t").isEmpty, "no commit yet")
    append(log, Seq((1L, "a")).toDF("id", "v"), 0L)
    append(log, Seq((2L, "b")).toDF("id", "v"), 1L)
    assert(rows(log) == Set((1L, "a"), (2L, "b")))
    // Re-delivery (crash between epoch write and commit): the batch
    // fence — content must not double.
    append(log, Seq((2L, "b")).toDF("id", "v"), 1L)
    assert(rows(log) == Set((1L, "a"), (2L, "b")))
    // readBefore excludes the id's own segment.
    val v = Snapshot.view(log).get
    assert(AppendLog.readBefore(spark, v, "t", 1L).get
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(AppendLog.readBefore(spark, v, "t", 0L).isEmpty)
    // Batch 0 resets — a fresh invocation is self-contained.
    append(log, Seq((9L, "z")).toDF("id", "v"), 0L)
    assert(rows(log) == Set((9L, "z")))
  }

  test("compaction folds every segment into one directory, preserves " +
      "rows exactly, keeps fence tombstones, and new appends continue") {
    val log = Files.createTempDirectory("graft_alog_c").toString + "/t"
    (0 to 3).foreach(i =>
      append(log, Seq((i.toLong, s"v$i")).toDF("id", "v"), i.toLong))
    val before = rows(log)
    compact(log)
    assert(rows(log) == before, "compaction must preserve rows exactly")
    // One physical segment directory now serves every fence key…
    val dirs = graft.streaming.Snapshot.currentManifest(log).get
      .values.toSet
    assert(dirs.size == 1, s"expected one folded dir, got $dirs")
    // …and a retention sweep later, only window dirs remain on disk.
    // The batch fence: a re-delivered pre-compaction id still no-ops.
    append(log, Seq((2L, "v2")).toDF("id", "v"), 2L)
    assert(rows(log) == before,
      "a pre-compaction batchId must still be fenced after compaction")
    // New batches append as segments beside the folded one.
    append(log, Seq((4L, "v4")).toDF("id", "v"), 4L)
    assert(rows(log) == before + ((4L, "v4")))
    // Compacting repeatedly converges (single-dir logs no-op).
    compact(log)
    compact(log)
    assert(graft.streaming.Snapshot.currentManifest(log).get.values.toSet
      .size == 1)
    assert(rows(log) == before + ((4L, "v4")))
  }

  test("corpus-dedup integration: compacting the band index between " +
      "stream invocations changes nothing downstream") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val want = graft.operators.DedupQueries.MinHashLsh
      .candidatePairsFromShingles(
        graft.operators.DedupQueries.Shingled(spark, sfDir))
      .select(col("doc_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val root = Files.createTempDirectory("graft_alog_cd").toString
    val batches = (0 until 4).map(i =>
      docs.where(pmod(col("doc_id"), lit(4)) === i))
    def fold(id: Int): Unit = Snapshot.batch(root, id.toLong)(
      graft.streaming.StreamCorpusDedup.foldBatch(_, batches(id), id.toLong))
    fold(0)
    fold(1)
    // Offline maintenance between invocations: compact the quiesced log.
    Snapshot.update(root, None)(AppendLog.compact(spark, _, "index"))
    fold(2)
    fold(3)
    val got = graft.streaming.StreamCorpusDedup.verdicts(spark, root)
      .where(col("flagged") === 1L)
      .collect().map(_.getLong(0)).toSet
    assert(got == want,
      "mid-stream compaction must not change the verdicts")
  }
}
