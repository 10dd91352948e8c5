package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendLog, IvfRefit, MonoidTable, Snapshot,
  StreamCorpusDedup, StreamVecIndex, StreamGdpr, StreamIngest}

/** The streaming-GDPR contract: erasing doc_ids through the maintained
  * band index / flag monoid / funnel leaves EXACTLY the state a
  * from-scratch rebuild without those documents builds — plus the
  * fences that make the erasure idempotent under re-delivery and
  * recoverable mid-crash, and the physical disappearance of the erased
  * rows from every live version directory. */
class StreamGdprSpec extends AnyFunSuite with SparkFixture {

  private def docs: DataFrame = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  private def eraseIds: Set[Long] = docs
    .where(pmod(col("doc_id"), lit(7)) === 3)
    .collect().map(_.getLong(0)).toSet

  /** Fold `corpus` through the exact parent-row code path in `nb`
    * modulo-batches; returns the root. */
  private def buildDedupState(corpus: DataFrame, nb: Int = 3): String = {
    val root = Files.createTempDirectory("graft_gdpr").toString
    (0 until nb).foreach { i =>
      Snapshot.batch(root, i.toLong)(StreamCorpusDedup.foldBatch(_,
        corpus.where(pmod(col("doc_id"), lit(nb)) === i), i.toLong))
    }
    root
  }

  private def flagMap(root: String): Map[Long, (Long, Long)] =
    MonoidTable.read(spark, root, StreamCorpusDedup.Flags)
      .select(col("doc_id"), col("seen"), col("n_coll"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  private def bandSet(root: String): Map[(Long, Int, Long), Long] =
    AppendLog.read(spark, root, StreamCorpusDedup.Index).get
      .select(col("doc_id"), col("band"), col("band_key"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("catalog row: post-erasure state equals the from-scratch " +
      "rebuild without the erased docs — verdicts, flag counts, and " +
      "band rows all") {
    val got = Catalog.byName("q_stream_gdpr").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = eraseIds
    assert(e.nonEmpty, "the cohort must be non-empty")
    val rRoot = buildDedupState(
      docs.where(!col("doc_id").isin(e.toSeq: _*)))
    val want = StreamCorpusDedup.verdicts(spark, rRoot)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      "post-erasure verdicts must equal the rebuild without the cohort")

    val root = StreamCorpusDedup.DocStage.stateDir(sfDir, "gdpr")
    assert(flagMap(root) == flagMap(rRoot),
      "flag table (incl. exact n_coll refunds) must equal the rebuild")
    assert(bandSet(root) == bandSet(rRoot),
      "band index must equal the rebuild's band rows exactly")
    // Every pre-erasure seg key survives, and the batch fence with it,
    // so a re-delivered pre-erasure batch still no-ops.
    val p = Snapshot.current(root).get
    assert(Seq(0, 1, 2, 3).forall(i => p.manifest.contains(s"index/seg$i")),
      "seg fence tombstones must survive the erasure rewrite")
    assert(p.bid.contains(3L), "the batch fence must survive the erasure")
    assert(p.fences("gdpr0"), "the erasure fence must be committed")
  }

  test("physical disappearance: no live version directory retains an " +
      "erased doc's rows after the erasure commit") {
    Catalog.byName("q_stream_gdpr").build(spark, sfDir).count()
    val e = eraseIds
    Seq(StreamCorpusDedup.DocStage.stateDir(sfDir, "gdpr")).foreach { root =>
      val liveDirs = Snapshot.currentManifest(root).get.values
        .map(_.split('/').head).toSet
      liveDirs.foreach { v =>
        val present = spark.read.parquet(s"$root/$v")
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        assert(present.intersect(e).isEmpty,
          s"$root/$v still holds erased docs — the rewrite must be " +
            "physical, not logical")
      }
    }
  }

  test("re-delivered erasure no-ops on every table; a NEW erasure id " +
      "still applies") {
    val root = buildDedupState(docs)
    val e1 = docs.where(pmod(col("doc_id"), lit(11)) === 5)
    StreamGdpr.erase(spark, root, e1, eid = 1L)
    val fAfter = flagMap(root)
    val bAfter = bandSet(root)
    val pAfter = Snapshot.current(root)
    StreamGdpr.erase(spark, root, e1, eid = 1L) // re-delivery
    assert(flagMap(root) == fAfter && bandSet(root) == bAfter,
      "a re-delivered erasure must change nothing")
    assert(Snapshot.current(root) == pAfter,
      "a re-delivered erasure must not commit")
    val e2 = docs.where(pmod(col("doc_id"), lit(11)) === 6)
    StreamGdpr.erase(spark, root, e2, eid = 2L)
    val both = (e1.select(col("doc_id")).collect() ++
      e2.select(col("doc_id")).collect()).map(_.getLong(0)).toSet
    val rRoot = buildDedupState(
      docs.where(!col("doc_id").isin(both.toSeq: _*)))
    assert(flagMap(root) == flagMap(rRoot) &&
      bandSet(root) == bandSet(rRoot),
      "sequential erasures must compose to the rebuild without both " +
        "cohorts")
  }

  test("crash in the erasure's one commit: the pointer stays " +
      "pre-erasure and the retry converges") {
    val root = buildDedupState(docs)
    val e = docs.where(pmod(col("doc_id"), lit(13)) === 4)
    val before = Snapshot.current(root)
    val ex = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        StreamGdpr.erase(spark, root, e, eid = 7L)
      }
    }
    assert(ex.getMessage.contains("injected crash"))
    assert(Snapshot.current(root) == before,
      "the crashed erasure must leave the pre-erasure pointer")
    // Retry: the whole erasure runs once — the root converges to the
    // rebuild.
    StreamGdpr.erase(spark, root, e, eid = 7L)
    val eSet = e.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rRoot = buildDedupState(
      docs.where(!col("doc_id").isin(eSet.toSeq: _*)))
    assert(flagMap(root) == flagMap(rRoot) &&
      bandSet(root) == bandSet(rRoot),
      "the crashed-and-retried erasure must equal the rebuild")
  }

  test("erasing ids the corpus never saw is a state no-op (but fences)") {
    import spark.implicits._
    val root = buildDedupState(docs)
    val f0 = flagMap(root)
    val b0 = bandSet(root)
    StreamGdpr.erase(spark, root,
      Seq(1000000001L, 1000000002L).toDF("doc_id"), eid = 3L)
    assert(flagMap(root) == f0 && bandSet(root) == b0)
    assert(Snapshot.current(root).get.fences("gdpr3"),
      "even a no-op erasure commits its fence — re-delivery must " +
        "short-circuit")
  }

  // ---- ingest pipeline: three state tables incl. the funnel ----

  private def buildIngestState(corpus: DataFrame, nb: Int = 3): String = {
    val root = Files.createTempDirectory("graft_gdpr_ing").toString
    (0 until nb).foreach { i =>
      Snapshot.batch(root, i.toLong)(t => StreamIngest.foldBatch(t,
        corpus.where(pmod(col("doc_id"), lit(nb)) === i), i.toLong))
    }
    root
  }

  private def reportRows(root: String): Seq[(Long, String, Long, Long)] =
    StreamIngest.report(spark, root)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq

  test("ingest erasure of RETAINED docs: index, flags AND funnel all " +
      "equal the rebuild without them (the survivors-only exactness " +
      "contract)") {
    val root = buildIngestState(docs)
    // A cohort of quality-SURVIVORS — the docs whose per-doc state the
    // pipeline actually retains.
    val survivors = MonoidTable.read(spark, root, StreamCorpusDedup.Flags)
      .where(col("seen") > 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val e = survivors.take(5).toSet
    assert(e.size == 5, "need five retained docs to erase")
    import spark.implicits._
    StreamGdpr.erase(spark, root, e.toSeq.toDF("doc_id"), eid = 4L)
    val rRoot = buildIngestState(
      docs.where(!col("doc_id").isin(e.toSeq: _*)))
    assert(reportRows(root) == reportRows(rRoot),
      "the funnel report (arrived / quality_pass / derived accepted) " +
        "must equal the rebuild without the erased survivors")
    assert(flagMap(root) == flagMap(rRoot),
      "ingest flag table must equal the rebuild")
    assert(bandSet(root) == bandSet(rRoot),
      "ingest band index must equal the rebuild")
  }

  test("negative control: a quality-REJECTED doc left no per-doc " +
      "state, so its erasure is a state no-op and the anonymous " +
      "funnel tallies intentionally retain it (the documented " +
      "aggregates-exempt divergence)") {
    val root = buildIngestState(docs)
    val seen = MonoidTable.read(spark, root, StreamCorpusDedup.Flags)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rejected = docs.select(col("doc_id")).collect()
      .map(_.getLong(0)).filterNot(seen).take(1)
    assert(rejected.nonEmpty,
      "fixture premise: the quality gate must reject at least one doc")
    val before = reportRows(root)
    val f0 = flagMap(root)
    import spark.implicits._
    StreamGdpr.erase(spark, root, rejected.toSeq.toDF("doc_id"), eid = 5L)
    assert(reportRows(root) == before,
      "funnel counters keep the rejected doc's anonymous tally")
    assert(flagMap(root) == f0, "no per-doc state existed to erase")
  }

  // ------------------------------------------------------------------
  // VECTOR-INDEX GDPR (r13 verdict missing #4): erasure must also reach
  // the IVF postings generation store and the (count, micro-sum)
  // sufficient statistics — otherwise a later q_vec_index_refit would
  // re-learn from erased vectors. The composition claim: post-erasure
  // refit == from-scratch build-and-refit over the retained corpus.
  // ------------------------------------------------------------------

  private val VD = 4

  private def vvec(x: Double): Seq[Float] =
    (x.toFloat +: Seq.fill(VD - 1)(0.0f))

  private def vCorpus: DataFrame = {
    import spark.implicits._
    Seq(0.0, 0.0, 0.0, 4.9, 5.1, 12.0, 12.0, 12.0, 100.0, 100.0, 100.0)
      .zipWithIndex
      .map { case (x, i) => (i.toLong, vvec(x)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
  }

  private val vCb: Seq[Array[Float]] =
    Seq(vvec(1.0).toArray, vvec(9.0).toArray, vvec(100.0).toArray)

  /** One vector from each planted cluster — erasure spans cells. */
  private def vCohort: DataFrame = {
    import spark.implicits._
    Seq(1L, 4L, 8L).toDF("vec_id")
  }

  private def vRetained: DataFrame =
    vCorpus.join(vCohort, Seq("vec_id"), "left_anti")

  /** Fresh planted gen store + stats over `corpus`; (root, state). */
  private def vStore(corpus: DataFrame): (String, String) = {
    val base = Files.createTempDirectory("graft_vecgdpr").toString
    val (root, state) = (base + "/gen", base + "/stats")
    IvfRefit.Gen.bootstrap(spark, corpus, root, vCb)
    Snapshot.batch(state, 0L)(MonoidTable.merge(_, StreamVecIndex.Stats,
      StreamVecIndex.partials(graft.operators.AnnIvf.assign(corpus, vCb)),
      Seq("cell", "pos")))
    (root, state)
  }

  private def statsSet(state: String): Set[(Int, Int, Long, Long)] =
    MonoidTable.read(spark, state, StreamVecIndex.Stats)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def postingsSet(root: String): Set[(Long, Int)] =
    IvfRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def cbMicro(cb: Seq[Array[Float]]): Seq[Seq[Long]] =
    cb.map(_.toSeq.map(x => math.rint(x.toDouble * 1e6).toLong))

  test("vector erasure: stats and postings equal a from-scratch build " +
      "over the retained corpus, and a subsequent refit cannot " +
      "resurrect the cohort") {
    val (root, state) = vStore(vCorpus)
    StreamGdpr.eraseVectors(spark, state, root, vCohort, eid = 0L, vCb)

    // Ground truth: build the same store over the RETAINED corpus only.
    val (wRoot, wState) = vStore(vRetained)
    assert(statsSet(state) == statsSet(wState),
      "post-erasure statistics must equal the retained-corpus build " +
        "bit-for-bit (exact-integer subtraction)")
    assert(postingsSet(root) == postingsSet(wRoot),
      "post-erasure postings must equal the retained-corpus bootstrap")
    assert(postingsSet(root).forall(p => !Set(1L, 4L, 8L)(p._1)),
      "no erased vec_id may survive in the postings")

    // The composition: refit BOTH stores — the erased store's refit
    // must equal the from-scratch retained refit (codebook AND
    // postings), i.e. the maintenance event cannot re-learn the cohort.
    IvfRefit.refit(spark, state, root)
    IvfRefit.refit(spark, wState, wRoot)
    assert(cbMicro(IvfRefit.Gen.readCodebook(spark, root)) ==
      cbMicro(IvfRefit.Gen.readCodebook(spark, wRoot)),
      "post-erasure refit must train the retained-corpus codebook")
    assert(postingsSet(root) == postingsSet(wRoot),
      "post-erasure refit postings must equal the retained-corpus refit")
  }

  test("vector erasure: re-delivery no-ops, crash between the stats " +
      "and postings commits re-enters and converges, erased bytes " +
      "leave the live version dirs") {
    val (root, state) = vStore(vCorpus)

    // Crash after step 1: stats fenced, postings untouched.
    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        StreamGdpr.eraseVectors(spark, state, root, vCohort, eid = 0L, vCb)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    assert(postingsSet(root).exists(p => p._1 == 1L),
      "postings must still hold the cohort after the injected crash")
    val statsAfterCrash = statsSet(state)

    // Retry converges: the fenced stats step no-ops (no double
    // subtraction), the postings step completes.
    StreamGdpr.eraseVectors(spark, state, root, vCohort, eid = 0L, vCb)
    assert(statsSet(state) == statsAfterCrash,
      "the retried stats step must no-op on the fence — a double " +
        "subtraction would corrupt the counts")
    val manifestAfter = Snapshot.currentManifest(root).get
    val postsAfter = postingsSet(root)
    assert(postsAfter.forall(p => !Set(1L, 4L, 8L)(p._1)))

    // Full re-delivery of the same eid: both tables no-op.
    StreamGdpr.eraseVectors(spark, state, root, vCohort, eid = 0L, vCb)
    assert(Snapshot.currentManifest(root).get == manifestAfter &&
      statsSet(state) == statsAfterCrash && postingsSet(root) == postsAfter,
      "a re-delivered erasure must change nothing")

    // Physical disappearance: one more commit (a refit) pushes the
    // pre-erasure version out of the retention window — no remaining
    // version directory may hold an erased vec_id.
    IvfRefit.refit(spark, state, root)
    val dirs = {
      val st = Files.list(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.toString)
          .filter(_.split('/').last.startsWith("v")).toVector
      } finally st.close()
    }
    val survivors = dirs.flatMap { d =>
      val df = spark.read.parquet(d)
      if (df.columns.contains("vec_id"))
        df.select(col("vec_id")).collect().map(_.getLong(0))
      else Nil // codebook version dirs carry no vectors
    }.toSet
    assert(survivors.intersect(Set(1L, 4L, 8L)).isEmpty,
      s"erased vec_ids persist on disk: $survivors")
  }

  test("vector erasure of never-seen ids is a state no-op but fences") {
    import spark.implicits._
    val (root, state) = vStore(vCorpus)
    val before = (statsSet(state), postingsSet(root))
    StreamGdpr.eraseVectors(spark, state, root,
      Seq(9999L).toDF("vec_id"), eid = 7L, vCb)
    assert((statsSet(state), postingsSet(root)) == before)
    assert(Snapshot.current(root).get.fences("gdpr7") &&
      Snapshot.current(state).get.fences("gdpr7"),
      "both tables must fence the request so re-delivery no-ops")
  }

  test("vector erasure AFTER a refit refunds under the fold codebook: " +
      "stored cells are new-generation assignments, yet the stats " +
      "subtraction equals the retained-corpus fold (r14 advice)") {
    val (root, state) = vStore(vCorpus)
    // The refit re-assigns the postings under the NEW (M-step) codebook,
    // so stored `cell` values diverge from the fold's frozen-book keys —
    // exactly the state a stored-cell refund would corrupt.
    IvfRefit.refit(spark, state, root)
    val foldCells = graft.operators.AnnIvf.assign(vCorpus, vCb)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(vCohort.collect().map(_.getLong(0)).exists(id =>
      postingsSet(root).exists(p => p._1 == id && p._2 != foldCells(id))),
      "the planted corpus must move at least one COHORT vector in the " +
        "refit, or this chapter tests nothing")

    // Erasure against the refit store: the refund must re-assign the
    // erased embeddings under the fold book (vCb), not trust the stored
    // new-generation cells — a stored-cell refund here would drive the
    // gaining cell negative (subtractStats now fails loudly on that).
    StreamGdpr.eraseVectors(spark, state, root, vCohort, eid = 3L, vCb)

    val base = Files.createTempDirectory("graft_vecgdpr_postref").toString
    val wState = base + "/stats"
    Snapshot.batch(wState, 0L)(MonoidTable.merge(_, StreamVecIndex.Stats,
      StreamVecIndex.partials(graft.operators.AnnIvf.assign(vRetained, vCb)),
      Seq("cell", "pos")))
    assert(statsSet(state) == statsSet(wState),
      "post-refit erasure must leave exactly the retained-corpus fold " +
        "statistics under the fold codebook")
    assert(postingsSet(root).forall(p => !Set(1L, 4L, 8L)(p._1)),
      "no erased vec_id may survive in the refit generation's postings")
  }
}
