package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupQueries, TextQueries}
import graft.streaming.{AppendLog, MonoidTable, Snapshot, StreamCorpusDedup,
  StreamIngest}

/** The composed streaming-ingest contract: the maintained funnel equals
  * the batch composition (quality gate → dedup among survivors),
  * each stage equals its standalone row's code path, the report is
  * invariant to chunking and arrival order, and re-delivery no-ops on
  * every state table. */
class StreamIngestSpec extends AnyFunSuite with SparkFixture {

  import TextQueries.QualityScore

  private def docs: DataFrame = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  /** The batch composition, computed independently of the fold. The
    * scored and banded frames each feed several actions — persist so
    * the corpus is scored once and banded once per spec run. */
  private lazy val (batchTruth, acceptedIds):
      ((Long, Long, Long, Long, Long, Long), Set[Long]) = {
    val sc = QualityScore(docs).persist()
    val pass = sc.where(QualityScore.keep)
      .select(col("doc_id"), col("text"), col("n_tok"))
    val bands = DedupQueries.MinHashLsh.bandKeys(pass).persist()
    try {
      val arrived = sc.agg(count(lit(1)), sum(col("n_tok"))).head()
      val passAgg = pass.agg(count(lit(1)), sum(col("n_tok"))).head()
      val flagged = bands.as("a")
        .join(bands.as("b"), Seq("band", "band_key"))
        .where(col("a.doc_id") < col("b.doc_id"))
        .select(col("b.doc_id").as("doc_id")).distinct()
      val accFrame = pass.join(flagged, Seq("doc_id"), "left_anti").persist()
      val acc = accFrame.agg(count(lit(1)), sum(col("n_tok"))).head()
      val accIds = accFrame.select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      accFrame.unpersist()
      ((arrived.getLong(0), arrived.getLong(1),
        passAgg.getLong(0), passAgg.getLong(1),
        acc.getLong(0), acc.getLong(1)), accIds)
    } finally { sc.unpersist(); bands.unpersist() }
  }

  private def asRows(df: DataFrame): Seq[(Long, String, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  test("the catalog row equals the independently-computed batch " +
      "composition, and the dedup stage genuinely bites") {
    val (aD, aT, pD, pT, accD, accT) = batchTruth
    assert(pD < aD, "the quality gate must reject some docs")
    assert(accD < pD,
      "some quality survivor must have a near-duplicate survivor — " +
        "otherwise the dedup stage is vacuous at this fixture")
    val got = asRows(Catalog.byName("q_stream_ingest").build(spark, sfDir))
    assert(got == Seq(
      (0L, "arrived", aD, aT),
      (1L, "quality_pass", pD, pT),
      (2L, "dedup_accepted", accD, accT)))
  }

  test("stage reuse is real: the funnel's quality_pass count equals the " +
      "standalone q_text_filter_pipeline row's kept total") {
    val kept = Catalog.byName("q_text_filter_pipeline").build(spark, sfDir)
      .agg(sum(col("n_kept"))).head().getLong(0)
    assert(batchTruth._3 == kept,
      "the one QualityScore.keep definition must make these equal")
  }

  /** One batch through the catalog row's fold. */
  private def fold(root: String, b: DataFrame, id: Long,
      gate: Option[StreamIngest.SpanGate] = None): Unit =
    Snapshot.batch(root, id)(StreamIngest.foldBatch(_, b, id, gate))

  private def flags(root: String): DataFrame =
    MonoidTable.read(spark, root, StreamCorpusDedup.Flags)

  /** Drive foldBatch directly with an explicit batching. */
  private def runBatches(batches: Seq[DataFrame]): (String, Seq[(Long, String, Long, Long)]) = {
    val root = Files.createTempDirectory("graft_ingest").toString
    batches.zipWithIndex.foreach { case (b, i) => fold(root, b, i.toLong) }
    (root, asRows(StreamIngest.report(spark, root)))
  }

  test("chunking and arrival order do not change the drained funnel") {
    val want = asRows(Catalog.byName("q_stream_ingest").build(spark, sfDir))
    val byMod = (0 until 3).map(i =>
      docs.where(pmod(col("doc_id"), lit(3)) === i))
    assert(runBatches(byMod)._2 == want)
    assert(runBatches(byMod.reverse)._2 == want)
  }

  test("re-delivery of a committed batchId no-ops on ALL THREE state " +
      "tables (index segments, flag monoids, funnel monoids)") {
    val byMod = (0 until 3).map(i =>
      docs.where(pmod(col("doc_id"), lit(3)) === i))
    val (root, before) = runBatches(byMod)
    val index = AppendLog.read(spark, root, StreamCorpusDedup.Index)
    val segRows = index.get.count()
    val flagRows = flags(root).count()
    val seenMax = flags(root).agg(max(col("seen"))).head().getLong(0)
    fold(root, byMod(1), 1L)
    assert(AppendLog.read(spark, root, StreamCorpusDedup.Index).get.count() ==
      segRows, "re-delivery must not append a duplicate band segment")
    assert(flags(root).count() == flagRows)
    assert(flags(root).agg(max(col("seen"))).head().getLong(0) == seenMax,
      "a double-merged batch would read seen = 2 for its docs")
    assert(asRows(StreamIngest.report(spark, root)) == before)
    assert(seenMax == 1L)
  }

  test("exactly the quality survivors enter the dedup state") {
    val (root, rows) = runBatches(Seq(docs))
    val flagT = flags(root)
    val passIds = QualityScore(docs).where(QualityScore.keep)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val seenIds = flagT.where(col("seen") > 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(seenIds == passIds)
    assert(rows.map(_._2) == Seq("arrived", "quality_pass", "dedup_accepted"))
  }

  test("crash-retry through a REAL checkpoint restart: a re-delivered " +
      "batchId converges on all three state tables") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val inDir = StreamCorpusDedup.DocStage.inDir(spark, sfDir)
    val root = Files.createTempDirectory("graft_ingest_crash").toString
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    val schema = spark.read.parquet(inDir).schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          fold(root, batch, id)
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
    val got = asRows(StreamIngest.report(spark, root))
    val want = asRows(Catalog.byName("q_stream_ingest").build(spark, sfDir))
    assert(got == want,
      "the funnel must equal the batch truth despite the crash — a " +
        "double-merged batch would inflate arrived/quality_pass")
    val seenMax = flags(root).agg(max(col("seen"))).head().getLong(0)
    assert(seenMax == 1L, s"re-delivery double-counted seen=$seenMax")
  }

  test("a gate-FAILING near-duplicate arriving FIRST can never shadow a " +
      "survivor — with a gate-after-banding negative control proving " +
      "the scenario bites") {
    import spark.implicits._
    // Plant a synthetic twin of an accepted doc p: p's text plus 250
    // filler tokens — n_tok > 200 fails the gate, while the shingle
    // SET is a superset of p's, so the twin usually still shares a
    // band with p. Search the accepted docs for a p whose twin
    // genuinely collides (min-hashes can shift when the new shingles
    // hash low), so the control below is non-vacuous by construction.
    val candidates = docs.where(col("doc_id").isin(
        acceptedIds.toSeq.sorted.take(10): _*))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val planted = candidates.map { case (id, text) =>
      (id, -id - 1, text + " zzz" * 250)
    }
    val bandFrame = DedupQueries.MinHashLsh.bandKeys(
      (candidates.map { case (id, t) => (id, t) } ++
        planted.map { case (_, tid, tt) => (tid, tt) })
        .toSeq.toDF("doc_id", "text"))
    val collisions = bandFrame.as("a")
      .join(bandFrame.as("b"), Seq("band", "band_key"))
      .where(col("a.doc_id") === -col("b.doc_id") - 1)
      .select(col("a.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val (p, twinId, twinText) = planted.find(pl => collisions(pl._1))
      .getOrElse(fail("no accepted doc's filler-twin band-collides — " +
        "pick different filler"))
    val twinDf = Seq((twinId, twinText)).toDF("doc_id", "text")
    assert(twinId < p, "the twin must be the smaller id of the pair")
    assert(QualityScore(twinDf).where(QualityScore.keep).count() == 0,
      "the twin must genuinely fail the gate")

    // Shipped path: the twin arrives FIRST, then the full corpus — p
    // must still be accepted because the failing twin never enters the
    // index.
    val root = Files.createTempDirectory("graft_ingest_shadow").toString
    Seq(twinDf, docs).zipWithIndex.foreach { case (b, i) =>
      fold(root, b, i.toLong)
    }
    val flagT = flags(root)
    assert(flagT.where(col("doc_id") === twinId).count() == 0,
      "the failing twin must never enter the dedup state")
    assert(flagT.where(col("doc_id") === p)
      .select(col("n_coll")).head().getLong(0) == 0L,
      s"doc $p must stay accepted — the rejected twin cannot shadow it")

    // Negative control — gate AFTER banding (the wrong order): band the
    // raw twin batch into the index, then the survivors; the smaller-id
    // twin now flags p, proving the shipped gate placement is what the
    // assertion above actually tests.
    val nroot = Files.createTempDirectory("graft_ingest_shadow_neg").toString
    Snapshot.batch(nroot, 0L)(
      StreamCorpusDedup.foldBands(_, twinDf.repartition(2), 0L))
    Snapshot.batch(nroot, 1L)(StreamCorpusDedup.foldBands(_,
      QualityScore(docs).where(QualityScore.keep)
        .select(col("doc_id"), col("text")).repartition(8), 1L))
    assert(flags(nroot)
      .where(col("doc_id") === p)
      .select(col("n_coll")).head().getLong(0) > 0L,
      "without the gate-first order the twin must flag p — if it " +
        "doesn't, the shipped-path assert proves nothing")
  }

  test("span-contamination gate: a leaked doc in a LATE micro-batch is " +
      "rejected at ingest with span evidence; clean docs pass and " +
      "re-delivery no-ops the evidence log") {
    import spark.implicits._
    val benchCore = "verbatim benchmark question alpha bravo charlie " +
      "delta echo foxtrot golf"
    assert(benchCore.length >= DedupQueries.spanMinLen)
    val bench = Seq((900L, "benchmark intro0 " + benchCore + " outro1"))
      .toDF("doc_id", "text")
    val benchFps = TextQueries.Fingerprint.fingerprints(bench)
    // Planted arrivals: all-distinct words, no stopwords, 20..200
    // tokens → quality ≥ 0.96 by construction; asserted anyway.
    val clean = (800L,
      (1 to 24).map(i => s"w$i").mkString(" ") + " extra tokens beyond")
    val leaked = (801L,
      (1 to 15).map(i => s"z$i").mkString(" ") + " " + benchCore + " tail2")
    val scored = QualityScore(Seq(clean, leaked).toDF("doc_id", "text"))
    assert(scored.where(QualityScore.keep).count() == 2,
      "planted docs must pass the quality gate or the chapter is vacuous")

    val root = Files.createTempDirectory("graft_ingest_gate").toString
    val g = StreamIngest.SpanGate(bench, benchFps)
    fold(root, Seq(clean).toDF("doc_id", "text"), 0L, Some(g))
    fold(root, Seq(leaked).toDF("doc_id", "text"), 1L, Some(g))

    // Span evidence: the leaked doc convicted against the bench doc,
    // with a run covering at least the planted core.
    val ev = AppendLog.read(spark, root, StreamIngest.Leaks).get.collect()
    assert(ev.nonEmpty, "the evidence log must hold the convicting spans")
    assert(ev.forall(r => r.getAs[Long]("doc_r") == 801L &&
      r.getAs[Long]("doc_b") == 900L))
    assert(ev.exists(_.getAs[Long]("span_len") >= benchCore.length.toLong),
      "the evidence must cover the planted core")

    // The leaked doc never reached the dedup state; the clean one did.
    val flagIds = flags(root)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(flagIds == Set(800L),
      s"only the clean doc may enter the band/flag state, got $flagIds")

    // Funnel: arrived 2 → quality_pass 2 → contamination_pass 1 →
    // dedup_accepted 1.
    val rep = StreamIngest
      .report(spark, root, acceptedOrd = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(rep == Seq((0L, "arrived", 2L), (1L, "quality_pass", 2L),
      (2L, "contamination_pass", 1L), (3L, "dedup_accepted", 1L)),
      s"funnel shape diverged: $rep")

    // Re-delivery of the late batch: every table no-ops, including the
    // evidence log — all four are keys of the row's one pointer.
    val before = Snapshot.current(root).get
    assert(Seq("leaks", "index", "flags", "funnel").forall(t =>
      before.manifest.keys.exists(_.split('/').head == t)))
    fold(root, Seq(leaked).toDF("doc_id", "text"), 1L, Some(g))
    assert(Snapshot.current(root).get == before,
      "a re-delivered gated batch must change nothing")
  }
}
