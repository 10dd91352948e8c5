package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MultimodalBinary, VectorQueries}
import graft.streaming.{AppendLog, MonoidTable, Snapshot, StreamCorpusDedup,
  StreamGdpr, StreamPhashDedup}

/** The streaming multimodal-dedup contract: the maintained pHash
  * verdicts equal the batch q_multimodal_phash pair set's later-id
  * endpoints, under any chunking/order; a planted duplicate delivered
  * batches apart is caught; crash-retry re-delivery no-ops through a
  * real checkpoint restart; and GDPR erasure composes with the pHash
  * index through the shared machinery (Hamming-verified refunds). */
class StreamPhashDedupSpec extends AnyFunSuite with SparkFixture {

  private def asMap(root: String): Map[Long, Long] =
    StreamCorpusDedup.verdicts(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The batch truth: later endpoints of the q_multimodal_phash pair
    * set (id_a < id_b by construction). */
  private def batchFlagged: Set[Long] =
    VectorQueries.phashPairs(spark, sfDir)._2
      .select(col("id_b")).distinct()
      .collect().map(_.getLong(0)).toSet

  private def mediaFrame: DataFrame = {
    import spark.implicits._
    VectorQueries.mediaOf(spark, sfDir)
      .map(m => (m.media_id, m.modality, m.payload))
      .toDF("doc_id", "modality", "payload")
  }

  test("the catalog row equals the batch q_multimodal_phash truth, " +
      "with a verdict for every media object") {
    val got = Catalog.byName("q_stream_phash_dedup").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == mediaFrame.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet,
      "every media object must carry a verdict")
    assert(got.filter(_._2 == 1L).keySet == batchFlagged,
      "flagged set must equal the batch pair set's later endpoints")
  }

  private def runBatches(batches: Seq[DataFrame]): String = {
    val root = Files.createTempDirectory("graft_phash").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      Snapshot.batch(root, i.toLong)(StreamPhashDedup.foldBatch(_, b, i.toLong))
    }
    root
  }

  test("chunking and order invariance: modulo slices in both orders " +
      "converge to the batch truth") {
    val want = batchFlagged
    val m = mediaFrame
    val slices = (0 until 3).map(i =>
      m.where(pmod(col("doc_id"), lit(3)) === i))
    Seq(slices, slices.reverse).foreach { batching =>
      val got = asMap(runBatches(batching))
      assert(got.filter(_._2 == 1L).keySet == want,
        s"verdicts must be invariant to the batching/order")
    }
  }

  // Planted media: three byte-identical images (Hamming 0 — guaranteed
  // duplicates whatever the corpus) delivered BATCHES APART in both id
  // directions, plus an audio clip — a different modality, which the
  // band-block offset makes collision-proof by construction.
  private def plantedMedia: (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    import MultimodalBinary._
    val w = 32; val h = 16
    val pxA = Array.tabulate(w * h * 3)(k => ((k * 7 + 13) % 251).toByte)
    def img(id: Long) =
      (id, "image", PpmCodec.encode(RgbImage(w, h, pxA)))
    val clip = (30L, "audio", WavCodec.encode(PcmAudio(16000,
      Array.tabulate(320)(i => ((i * 523) % 4001 - 2000).toShort))))
    val b0 = Seq(img(10L), clip).toDF("doc_id", "modality", "payload")
    val b1 = Seq(img(20L)).toDF("doc_id", "modality", "payload")
    val b2 = Seq(img(5L)).toDF("doc_id", "modality", "payload")
    (b0, b1, b2)
  }

  test("planted duplicates across batches flag in BOTH id directions: " +
      "a later-arriving smaller id re-flags maintained history") {
    val (b0, b1, b2) = plantedMedia
    val flags = runBatches(Seq(b0, b1, b2))
    val got = asMap(flags)
    // 5 < 10 < 20 share a hash; 5 arrived LAST — 10 and 20 must both
    // be (re-)flagged by it, 5 itself stays clean, 30 is untouched.
    assert(got == Map(5L -> 0L, 10L -> 1L, 20L -> 1L, 30L -> 0L),
      s"got $got — the both-directions update must hold for pHash keys")
  }

  test("crash-retry through a real checkpoint restart: re-delivery " +
      "neither double-counts nor double-appends") {
    val inDir = StreamPhashDedup.MediaStage.inDir(spark, sfDir)
    val root = Files.createTempDirectory("graft_phash_crash").toString
    val ckpt = Files.createTempDirectory("graft_phash_ckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          Snapshot.batch(root, id)(StreamPhashDedup.foldBatch(_, batch, id))
          if (id == 2L && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash after fold")
        }
        .start()
      assert(q.awaitTermination(120000), "replay must finish")
      q.stop()
    }
    try runOnce()
    catch { case _: StreamingQueryException => () }
    assert(crashed.get(), "the injection must have fired")
    runOnce()
    val got = asMap(root)
    assert(got.filter(_._2 == 1L).keySet == batchFlagged,
      "verdicts must equal the batch truth despite the crash")
    val seen = MonoidTable.read(spark, root, StreamCorpusDedup.Flags)
      .agg(max(col("seen"))).head().getLong(0)
    assert(seen == 1L, s"re-delivery double-counted seen=$seen")
  }

  test("GDPR erasure composes with the pHash index: post-erasure " +
      "state equals the rebuild without the erased media (Hamming-" +
      "verified refunds through the shared machinery)") {
    import spark.implicits._
    val (b0, b1, b2) = plantedMedia
    val root = Files.createTempDirectory("graft_phash_gdpr").toString
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      Snapshot.batch(root, i.toLong)(StreamPhashDedup.foldBatch(_, b, i.toLong))
    }
    // Erase media 5 — the smaller-id duplicate that flagged 10 and 20.
    StreamGdpr.erase(spark, root, Seq(5L).toDF("doc_id"), eid = 0L,
      verify = StreamPhashDedup.hammingVerify)
    val got = asMap(root)
    // Rebuild without 5: 10 stays clean (nothing smaller shares its
    // hash), 20 still collides with 10.
    assert(got == Map(10L -> 0L, 20L -> 1L, 30L -> 0L),
      s"got $got — refunds must subtract exactly the erased partner's " +
        "verified collisions")
    val left = AppendLog.read(spark, root, StreamCorpusDedup.Index).get
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(10L, 20L, 30L),
      "the erased media's band rows must be physically gone")
  }
}
