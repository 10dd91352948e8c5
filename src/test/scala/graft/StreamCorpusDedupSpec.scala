package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries
import graft.streaming.{Snapshot, StreamCorpusDedup}

/** The incremental corpus-dedup contract: the maintained verdict table
  * equals the batch MinHash row's flagged set, is invariant to how the
  * stream was chunked or ORDERED (the both-directions flag update is
  * what buys that — a negative control shows one-directional flagging
  * breaks under reordering), and survives crash-retry re-delivery. */
class StreamCorpusDedupSpec extends AnyFunSuite with SparkFixture {

  private def docs: DataFrame = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  /** Ground truth: the batch q_dedup_minhash flagged set — every doc
    * that band-collides with a smaller-id doc. */
  private def batchFlagged: Set[Long] =
    DedupQueries.MinHashLsh
      .candidatePairsFromShingles(DedupQueries.Shingled(spark, sfDir))
      .select(col("doc_b")).distinct()
      .collect().map(_.getLong(0)).toSet

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("the catalog row equals the batch q_dedup_minhash verdicts") {
    val got = asMap(
      Catalog.byName("q_stream_dedup_corpus").build(spark, sfDir))
    val want = batchFlagged
    assert(got.nonEmpty)
    assert(got.keySet == docs.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet, "every corpus doc must carry a verdict")
    assert(got.filter(_._2 == 1L).keySet == want,
      "flagged set must equal the batch MinHash row's doc_b set")
  }

  /** Drive foldBatch directly with an explicit batching. */
  private def runBatches(batches: Seq[DataFrame]): Map[Long, Long] = {
    val root = Files.createTempDirectory("graft_cdedup").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      Snapshot.batch(root, i.toLong)(StreamCorpusDedup.foldBatch(_, b, i.toLong))
    }
    asMap(StreamCorpusDedup.verdicts(spark, root))
  }

  test("chunking and ORDER invariance: ascending, descending, and " +
      "interleaved arrivals all converge to the batch truth") {
    val want = batchFlagged
    val byRange = (0 until 3).map(i => docs.where(pmod(col("doc_id"),
      lit(3)) === i))
    val asc = (0 until 4).map { q =>
      docs.where(pmod(col("doc_id"), lit(100)).between(q * 25, q * 25 + 24))
    }
    Seq(byRange, byRange.reverse, asc, asc.reverse).foreach { batching =>
      val got = runBatches(batching)
      assert(got.filter(_._2 == 1L).keySet == want,
        s"verdicts must be invariant to the ${batching.size}-batch order")
    }
  }

  test("negative control: ONE-directional flagging (new-vs-index only) " +
      "misses a doc whose only smaller-id collider arrives later — the " +
      "both-directions update is load-bearing") {
    // Pick a flagged doc b whose ONLY smaller-id collider is a single
    // doc a, and deliver a LAST: the one-directional fold (old-doc
    // re-flags dropped) can never flag b, while the shipped fold does
    // (order-invariance test above).
    val pairs = DedupQueries.MinHashLsh
      .candidatePairsFromShingles(DedupQueries.Shingled(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (a, b) = pairs.groupBy(_._2).collectFirst {
      case (_, ps) if ps.length == 1 => ps.head
    }.getOrElse(fail("fixture has no single-collider pair to plant"))
    val root = Files.createTempDirectory("graft_cdedup_neg").toString
    val batches = Seq(docs.where(col("doc_id") =!= a),
      docs.where(col("doc_id") === a))
    batches.zipWithIndex.foreach { case (batch, i) =>
      Snapshot.batch(root, i.toLong) { t =>
        val bands = StreamCorpusDedup.bandRows(batch)
        val prior = if (i == 0) None
          else graft.streaming.AppendLog.read(spark, t, "index")
        // One-directional: keep only the batch's own docs' rows —
        // old-doc re-flags dropped.
        val oneWay = StreamCorpusDedup.flagPartials(bands, prior)
          .join(bands.select(col("doc_id")).distinct(), Seq("doc_id"),
            "left_semi")
        graft.streaming.MonoidTable.merge(t, "flags", oneWay, Seq("doc_id"))
        graft.streaming.AppendLog.append(t, "index", bands, i.toLong)
      }
    }
    val got = asMap(StreamCorpusDedup.verdicts(spark, root))
      .filter(_._2 == 1L).keySet
    assert(!got.contains(b),
      s"the crippled one-directional fold must miss doc $b — if it " +
        "catches it, the invariance test no longer proves anything")
    assert(got.subsetOf(batchFlagged))
  }

  test("crash-retry: a re-delivered batchId neither double-counts " +
      "collisions nor double-appends the index segment") {
    val inDir = StreamCorpusDedup.DocStage.inDir(spark, sfDir)
    val root = Files.createTempDirectory("graft_cdedup_crash").toString
    val ckpt = Files.createTempDirectory("graft_cdedup_ckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          Snapshot.batch(root, id)(StreamCorpusDedup.foldBatch(_, batch, id))
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
    val got = asMap(StreamCorpusDedup.verdicts(spark, root))
    assert(got.filter(_._2 == 1L).keySet == batchFlagged,
      "verdicts must equal the batch truth despite the crash")
    // seen must read exactly 1 per doc — a double-merged batch would
    // show seen = 2 for its docs even where flags happen to agree.
    val seen = graft.streaming.MonoidTable.read(spark, root, "flags")
      .agg(max(col("seen"))).head().getLong(0)
    assert(seen == 1L, s"re-delivery double-counted seen=$seen")
  }
}
