package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnIvf
import graft.streaming.{AppendLog, Snapshot, StreamVecSearch}

/** The streaming ANN-serving contract: every drained result is
  * per-query bit-equal to the single-probe AnnIvf.search, the whole log
  * equals an independent driver-routed window-ranked reconstruction
  * (which pins distributed routing == AnnIvf.probeCells for every
  * query), re-delivery no-ops, arrival order is irrelevant, and the
  * cell-pruned search still clears a measured recall floor vs the exact
  * brute force. */
class StreamVecSearchSpec extends AnyFunSuite with SparkFixture {

  /** One batch of the catalog row's fold into the results root. */
  private def fold(root: String, postings: Seq[Int] => Option[DataFrame],
      centroids: Seq[Array[Float]], batch: DataFrame, id: Long): Unit =
    Snapshot.batch(root, id)(StreamVecSearch.foldBatch(_, postings,
      centroids, batch, id))

  import StreamVecSearch.{K, Iters, NProbe, TopK}

  private def cb = AnnIvf.Models(spark, sfDir, K, Iters)
  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  /** (qid, rank, vec_id, sim) rows as a comparable set. */
  private def asSet(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.select(col("qid"), col("rank"), col("vec_id"), col("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  private lazy val catalogResult: Set[(Long, Long, Long, Double)] =
    asSet(Catalog.byName("q_stream_vec_search").build(spark, sfDir))

  private lazy val queryIds: Seq[Long] =
    StreamVecSearch.queryLog(spark, sfDir)
      .select(col("qid")).collect().map(_.getLong(0)).sorted

  test("every query in the log is answered, with exactly topK ranks") {
    assert(queryIds.nonEmpty, "the md5 gate must select some queries")
    // Fixture-size premise, asserted EXPLICITLY (r12 advice): "exactly
    // ranks 1..TopK" holds only when every query's probed cells hold at
    // least TopK non-self candidates — on a smaller or skewed fixture
    // the row's semantics (fewer ranks when candidates run out) are
    // still correct and this suite must say "fixture too small", not
    // fail the semantics assert.
    val occupancy = AnnIvf.assign(emb, cb)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qvecs = StreamVecSearch.queryLog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val minCandidates = qvecs.map { case (_, qv) =>
      // Self sits in its nearest cell, which probeCells always probes
      // first — so non-self candidates = probed occupancy − 1.
      AnnIvf.probeCells(cb, qv, NProbe)
        .map(c => occupancy.getOrElse(c, 0L)).sum - 1
    }.min
    assert(minCandidates >= TopK,
      s"fixture premise violated: a query's probed cells hold only " +
        s"$minCandidates non-self candidates (< TopK=$TopK) — grow the " +
        "fixture or relax the exact-ranks assert to 1..min(TopK, candidates)")
    val byQ = catalogResult.groupBy(_._1)
    assert(byQ.keySet == queryIds.toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).toSeq.sorted == (1L to TopK),
        s"query $q must carry ranks 1..$TopK exactly")
    }
  }

  test("per-query results are bit-equal to the single-probe " +
      "AnnIvf.search path") {
    // Deep-check a bounded sample through the independent single-probe
    // searcher (each is its own driver action; the full-log equality
    // test below covers every query through a one-plan reconstruction).
    (queryIds.take(3) ++ queryIds.takeRight(2)).foreach { q =>
      val want = AnnIvf.search(emb, cb, q, NProbe, TopK)
        .collect().zipWithIndex
        .map { case (r, i) => (q, i + 1L, r.getLong(0), r.getDouble(1)) }
        .toSet
      val got = catalogResult.filter(_._1 == q)
      assert(got == want, s"query $q must match AnnIvf.search exactly")
    }
  }

  test("the whole log equals an independent reconstruction: driver " +
      "probeCells routing + window row_number ranking") {
    import spark.implicits._
    val qrows = StreamVecSearch.queryLog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val routed = qrows.flatMap { case (qid, qvec) =>
      AnnIvf.probeCells(cb, qvec.toArray, NProbe)
        .map(c => (qid, qvec, c))
    }.toSeq.toDF("qid", "qvec", "cell")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val want = asSet(AnnIvf.assign(emb, cb)
      .join(routed, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(call_function("vec_dot", col("embedding"), col("qvec")), 6)
          .as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK))
    assert(catalogResult == want,
      "stream results must equal the driver-routed window reconstruction")
  }

  test("re-delivery of a committed batchId no-ops, and arrival order " +
      "does not change the drained log") {
    val postings = StreamVecSearch.Postings.dir(spark, sfDir)
    val qlog = StreamVecSearch.queryLog(spark, sfDir)
    val chunks = (0 until 3).map(c =>
      qlog.where(pmod(col("qid"), lit(3)) === c))
    def drain(root: String): Set[(Long, Long, Long, Double)] =
      asSet(AppendLog.read(spark, root, StreamVecSearch.Results).get)

    val a = Files.createTempDirectory("graft_vsearch_a").toString
    chunks.zipWithIndex.foreach { case (b, i) =>
      fold(a,
        StreamVecSearch.pathPostings(spark, postings), cb, b, i.toLong)
    }
    // Re-deliver batch 1 (driver death between segment commit and epoch
    // commit re-runs the same id): the batch fence no-ops it. The
    // assert counts ROWS, not a row set — a broken fence appends a
    // byte-identical duplicate segment whose rows a set comparison
    // would collapse, passing exactly the regression this test exists
    // to catch.
    val before = drain(a)
    val rowsBefore =
      AppendLog.read(spark, a, StreamVecSearch.Results).get.count()
    fold(a,
      StreamVecSearch.pathPostings(spark, postings), cb, chunks(1), 1L)
    assert(AppendLog.read(spark, a, StreamVecSearch.Results).get.count() ==
      rowsBefore,
      "a re-delivered batchId must not append a duplicate segment")
    assert(drain(a) == before, "a re-delivered batchId must no-op")

    val b = Files.createTempDirectory("graft_vsearch_b").toString
    chunks.reverse.zipWithIndex.foreach { case (ch, i) =>
      fold(b,
        StreamVecSearch.pathPostings(spark, postings), cb, ch, i.toLong)
    }
    assert(drain(b) == before,
      "the drained log must be invariant to arrival order")
    assert(before == catalogResult,
      "the 3-chunk fold must equal the catalog row's 4-chunk replay")
  }

  test("crash-retry through a REAL checkpoint restart: the re-delivered " +
      "batch neither duplicates its result segment nor changes the log") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val postings = StreamVecSearch.Postings.dir(spark, sfDir)
    val inDir = StreamVecSearch.QueryStage.inDir(spark, sfDir)
    val results = Files.createTempDirectory("graft_vsearch_crash").toString
    val ckpt = Files.createTempDirectory("graft_vsearch_ckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          fold(results,
            StreamVecSearch.pathPostings(spark, postings), cb, batch, id)
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
    val drained = AppendLog.read(spark, results, StreamVecSearch.Results).get
    assert(asSet(drained) == catalogResult,
      "the drained log must equal the catalog truth despite the crash")
    assert(drained.count() == catalogResult.size,
      "a re-delivered batch must not land a duplicate segment")
  }

  test("an empty probed cell (no cell=<c>/ directory) is skipped, not " +
      "a crash — guaranteed to occur at the production k regime") {
    import spark.implicits._
    // A far-away centroid attracts no fixture vector, so partitionBy
    // writes no directory for its cell — and a query AT that centroid
    // must route to it (plus occupied spill cells) without failing.
    val far = Array.fill(64)(100f)
    val cbPlus = cb :+ far
    val root = Files.createTempDirectory("graft_vsearch_empty").toString
    graft.operators.AnnIvf.assign(emb, cbPlus)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/postings")
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$root/postings/cell=${cb.size}")),
      "the planted far cell must be genuinely empty for this test to bite")
    val q = Seq((-1L, far.toSeq)).toDF("qid", "qvec")
    assert(AnnIvf.probeCells(cbPlus, far, NProbe).contains(cb.size),
      "the planted query must genuinely probe the empty cell")
    fold(s"$root/results",
      StreamVecSearch.pathPostings(spark, s"$root/postings"), cbPlus, q, 0L)
    val got = asSet(
      AppendLog.read(spark, s"$root/results", StreamVecSearch.Results).get)
    assert(got.forall(_._1 == -1L))
    assert(got.map(_._2) == (1L to TopK).toSet,
      "the occupied probed cells must still fill topK ranks")
  }

  test("cell pruning is real (answers come only from probed cells) " +
      "and still clears the measured recall floor vs brute force") {
    val assigned = AnnIvf.assign(emb, cb)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qvecs = StreamVecSearch.queryLog(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    catalogResult.foreach { case (q, _, v, _) =>
      val probed = AnnIvf.probeCells(cb, qvecs(q), NProbe).toSet
      assert(probed.contains(assigned(v)),
        s"query $q returned vec $v from unprobed cell ${assigned(v)}")
    }
    // Exact truth: brute-force top-5 over the same gate (the
    // q_vec_knn_batch population — its catalog row IS the exact
    // answer set for this query log). Pin a floor under the
    // fixture-measured mean (printed by the run).
    val brute = asSet(
      Catalog.byName("q_vec_knn_batch").build(spark, sfDir)
        .withColumnRenamed("p_id", "qid"))
    val perQ = queryIds.map { q =>
      val got = catalogResult.filter(_._1 == q).map(_._3)
      val want = brute.filter(_._1 == q).map(_._3)
      got.intersect(want).size.toDouble / TopK
    }
    val mean = perQ.sum / perQ.size
    info(f"mean recall@5 vs brute force: $mean%.3f over ${perQ.size} queries")
    assert(mean >= 0.55,
      f"mean recall@5 $mean%.3f fell under the pinned floor 0.55")
  }
}
