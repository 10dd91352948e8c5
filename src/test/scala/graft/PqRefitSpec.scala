package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, PqQuantizer}
import graft.streaming.{MonoidTable, PqRefit, Snapshot, StreamVecIndex}

/** The PQ sub-codebook refit contract (r13 verdict missing #2), the
  * IvfRefitSpec checklist applied to the product half of IVF-PQ:
  * refit-from-stats equals the batch M-step recomputed from scratch AND
  * stays within one micro-unit of the float-path
  * `PqQuantizer.train(iters + 1)`; committed codes equal a from-scratch
  * encode under the new books; coarse cells with no changed code keep
  * their exact files (planted corpus); the swap is crash-atomic; a
  * second refit is a fixed point. */
class PqRefitSpec extends AnyFunSuite with SparkFixture {

  import PqQuantizer.{m, dsub, ksub}

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def frozen = PqQuantizer.Codebooks(spark, sfDir)

  private def micro(books: Seq[Seq[Array[Float]]]): Seq[Seq[Seq[Long]]] =
    books.map(_.map(_.toSeq.map(x => math.rint(x.toDouble * 1e6).toLong)))

  test("mStep from the maintained stats == the batch micro M-step, and " +
      "within 1 micro-unit of the float-path train(iters + 1)") {
    val state = PqRefit.ensureMaintained(spark, sfDir)
    val got = micro(PqRefit.mStep(MonoidTable.read(spark, state, PqRefit.Stats), frozen))

    // Stats-path == direct-path: the same partials computed in ONE
    // batch over the whole corpus (no streaming) must yield the same
    // M-step — the monoid-state claim.
    val direct = micro(PqRefit.mStep(PqRefit.partials(emb, frozen), frozen))
    assert(got == direct,
      "streamed-stats M-step must equal the single-batch M-step exactly")

    // Envelope vs the float path: train(iters + 1) runs the SAME
    // assignment in its last round (frozen == its iters-round books),
    // then averages raw doubles before micro-rounding; per-component
    // micro-rounding before the sum shifts a mean ≤ 0.5 micro, so the
    // rounded centroids differ ≤ 1 micro per component.
    val trained = micro(PqQuantizer.train(emb, iters = 4))
    val maxDiff = (0 until m).flatMap { j =>
      (0 until ksub).flatMap { c =>
        trained(j)(c).zip(got(j)(c)).map { case (a, b) => math.abs(a - b) }
      }
    }.max
    assert(maxDiff <= 1L,
      s"refit books drifted $maxDiff micro-units from the float-path train")
  }

  test("catalog row: committed codes == from-scratch encode under the " +
      "new books; committed codebook is the M-step; deterministic") {
    val report = Catalog.byName("q_vec_pq_refit").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(report.map(_._1).toSeq == (0 until m),
      "one report row per subspace")

    val root = StreamVecIndex.VecStage.stateDir(sfDir, "pqgen")
    val state = PqRefit.ensureMaintained(spark, sfDir)
    val newBooks = PqRefit.mStep(MonoidTable.read(spark, state, PqRefit.Stats), frozen)
    assert(micro(PqRefit.Gen.readCodebooks(spark, root)) == micro(newBooks),
      "the committed codebook must be the M-step output")

    val want = PqQuantizer.encode(emb, newBooks)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = PqRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      "committed generation must equal the from-scratch encode under " +
        "the refit books")

    val again = Catalog.byName("q_vec_pq_refit").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(report.toSeq == again.toSeq,
      "the row resets its generation root per invocation — every rep " +
        "must report identically")
  }

  test("refit improves per-subspace quantization cost (Lloyd " +
      "monotonicity, all m books)") {
    val vecs = emb.collect().map(_.getSeq[Float](1).toArray)
    def cost(books: Seq[Seq[Array[Float]]]): Double =
      vecs.map { v =>
        (0 until m).map { j =>
          val sub = v.slice(j * dsub, (j + 1) * dsub)
          books(j).map(c => c.zip(sub).map { case (a, b) =>
            (a.toDouble - b) * (a.toDouble - b) }.sum).min
        }.sum
      }.sum
    val state = PqRefit.ensureMaintained(spark, sfDir)
    val newBooks = PqRefit.mStep(MonoidTable.read(spark, state, PqRefit.Stats), frozen)
    assert(cost(newBooks) <= cost(frozen) + 1e-6,
      "one more Lloyd round must not increase total quantization cost")
  }

  // ------------------------------------------------------------------
  // Planted corpus (the IvfRefitSpec scenario lifted to PQ): 64-dim
  // vectors where only dim 0 (subspace 0) varies.
  //   sub-book 0 (dim 0): c0=1, c1=9, c2=100, c3..15 = 1000+i (never win)
  //   sub-books 1..7: c0 = 0s (every vector), c1..15 far
  //   corpus x: {0,0,0,4.9 | 5.1,12,12,12 | 100,100,100}
  //   coarse cb (dim 0): [1, 9, 100] → coarse cells 0/1/2
  //   M-step: c0 → 1.225, c1 → 10.275, c2 → 100 (unchanged)
  //   refit: ONLY x=5.1 flips code 1 → 0 (coarse cell 1); coarse cells
  //   0 and 2 hold no changed code → their files must be untouched.
  // ------------------------------------------------------------------

  private val D = m * dsub

  private def vec(x: Double): Seq[Float] =
    (x.toFloat +: Seq.fill(D - 1)(0.0f))

  private def plantedCorpus: DataFrame = {
    import spark.implicits._
    Seq(0.0, 0.0, 0.0, 4.9, 5.1, 12.0, 12.0, 12.0, 100.0, 100.0, 100.0)
      .zipWithIndex
      .map { case (x, i) => (i.toLong, vec(x)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
  }

  private def subVec(x: Double): Array[Float] =
    (x.toFloat +: Seq.fill(dsub - 1)(0.0f)).toArray

  private val plantedBooks: Seq[Seq[Array[Float]]] =
    (0 until m).map { j =>
      (0 until ksub).map { c =>
        if (j == 0) c match {
          case 0 => subVec(1.0)
          case 1 => subVec(9.0)
          case 2 => subVec(100.0)
          case i => subVec(1000.0 + i)
        } else if (c == 0) subVec(0.0)
        else subVec(1000.0 + c)
      }
    }

  private val plantedCoarse: Seq[Array[Float]] =
    Seq(vec(1.0).toArray, vec(9.0).toArray, vec(100.0).toArray)

  private def plantedStore(): (String, String) = {
    val base = Files.createTempDirectory("graft_pqrefit").toString
    val root = base + "/gen"
    val state = base + "/stats"
    PqRefit.Gen.bootstrap(spark, plantedCorpus, root, plantedCoarse,
      plantedBooks)
    Snapshot.batch(state, 0L)(MonoidTable.merge(_, PqRefit.Stats,
      PqRefit.partials(plantedCorpus, plantedBooks),
      Seq("j", "cell", "lpos")))
    (root, state)
  }

  private def listFiles(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
        .toMap
    } finally s.close()
  }

  test("planted corpus: exactly the boundary code flips, unchanged " +
      "coarse cells keep bit-identical files, second refit is a fixed " +
      "point") {
    val (root, state) = plantedStore()
    val before = Snapshot.currentManifest(root).get
    val cell0Files = listFiles(Snapshot.versionPath(root, before("cell0")))
    val cell2Files = listFiles(Snapshot.versionPath(root, before("cell2")))

    val report = PqRefit.refit(spark, state, root)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(report.head == ((0, 1L, 1L, report.head._4)),
      s"subspace 0 must flip exactly one code in one coarse cell: $report")
    assert(report.head._4 > 0L, "sub-book 0 centroids must have shifted")
    assert(report.tail.forall(r => r._2 == 0L && r._4 == 0L),
      s"subspaces 1..7 must be unchanged: ${report.toSeq}")

    val after = Snapshot.currentManifest(root).get
    assert(after("cell0") == before("cell0") &&
      after("cell2") == before("cell2"),
      "coarse cells with no changed code must keep their manifest entries")
    assert(listFiles(Snapshot.versionPath(root, after("cell0"))) ==
      cell0Files)
    assert(listFiles(Snapshot.versionPath(root, after("cell2"))) ==
      cell2Files)
    assert(after("cell1") != before("cell1"),
      "the changed coarse cell must point at a rewritten directory")

    // The flipped code is the boundary vector's, in subspace 0.
    val codes = PqRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((codes(3L) & 15L) == 0L, "x=4.9 stays code 0")
    assert((codes(4L) & 15L) == 0L,
      "x=5.1 must flip from code 1 to code 0 under the refit book")
    assert((codes(5L) & 15L) == 1L, "x=12 keeps code 1")
    assert((codes(8L) & 15L) == 2L, "x=100 keeps code 2")

    // Fixed point: same stats → same books → zero movement.
    val again = PqRefit.refit(spark, state, root)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(again.forall(_ == ((0L, 0L))),
      "a re-run refit against unchanged stats must change nothing")
  }

  test("crash before the pointer swap leaves readers on the old " +
      "generation; the retry converges and sweeps orphans") {
    val (root, state) = plantedStore()
    val beforeManifest = Snapshot.currentManifest(root).get
    val beforeCodes = PqRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        PqRefit.refit(spark, state, root)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    assert(Snapshot.currentManifest(root).get == beforeManifest,
      "a crash before the swap must leave the pointer untouched")
    assert(PqRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      beforeCodes, "readers must still see the old codes")
    assert(micro(PqRefit.Gen.readCodebooks(spark, root)) ==
      micro(plantedBooks), "readers must still see the old books")

    PqRefit.refit(spark, state, root)
    val newBooks = PqRefit.mStep(MonoidTable.read(spark, state, PqRefit.Stats),
      plantedBooks)
    val want = PqQuantizer.encode(plantedCorpus, newBooks)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(PqRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == want,
      "the retried refit must publish the correct new generation")
    val kept = (Snapshot.currentManifest(root).get.values ++
      beforeManifest.values).map(_.split('/').head).toSet
    val onDisk = {
      val s = Files.list(Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
          .toSet
      } finally s.close()
    }
    assert(onDisk.subsetOf(kept),
      s"orphan version dirs must be swept: $onDisk vs kept $kept")
  }

  // ------------------------------------------------------------------
  // GDPR composition (the IVF-store erasure chapter, applied to the PQ
  // store): erased vectors must leave the codes postings AND the
  // per-(subspace, cell, dim) statistics, so a subsequent PQ refit
  // cannot re-learn them.
  // ------------------------------------------------------------------

  private def vCohort = {
    import spark.implicits._
    Seq(1L, 4L, 8L).toDF("vec_id")
  }

  private def retainedCorpus =
    plantedCorpus.join(vCohort, Seq("vec_id"), "left_anti")

  private def statsOf(state: String): Set[(Int, Int, Int, Long, Long)] =
    graft.streaming.MonoidTable.read(spark, state, PqRefit.Stats)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSet

  private def codesOf(root: String): Set[(Long, Long)] =
    PqRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("PQ erasure: stats and codes equal the retained-corpus build; " +
      "a subsequent refit equals the retained refit; crash and " +
      "re-delivery converge") {
    import graft.streaming.{Snapshot, StreamGdpr}
    val (root, state) = plantedStore()

    // Crash between the two commits, then retry — the stats step must
    // no-op on its fence (no double subtraction).
    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        StreamGdpr.erasePqVectors(spark, state, root, vCohort, eid = 0L,
          plantedBooks)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    val statsAfterCrash = statsOf(state)
    StreamGdpr.erasePqVectors(spark, state, root, vCohort, eid = 0L,
      plantedBooks)
    assert(statsOf(state) == statsAfterCrash,
      "retried stats step must no-op on the fence")

    // Ground truth: the same store built over the retained corpus only.
    val base = java.nio.file.Files
      .createTempDirectory("graft_pqgdpr_want").toString
    val (wRoot, wState) = (base + "/gen", base + "/stats")
    PqRefit.Gen.bootstrap(spark, retainedCorpus, wRoot, plantedCoarse,
      plantedBooks)
    Snapshot.batch(wState, 0L)(graft.streaming.MonoidTable.merge(_,
      PqRefit.Stats, PqRefit.partials(retainedCorpus, plantedBooks),
      Seq("j", "cell", "lpos")))
    assert(statsOf(state) == statsOf(wState),
      "post-erasure PQ statistics must equal the retained-corpus build")
    assert(codesOf(root) == codesOf(wRoot),
      "post-erasure codes must equal the retained-corpus bootstrap")

    // Re-delivery no-ops on both tables.
    val m = Snapshot.currentManifest(root).get
    StreamGdpr.erasePqVectors(spark, state, root, vCohort, eid = 0L,
      plantedBooks)
    assert(Snapshot.currentManifest(root).get == m &&
      statsOf(state) == statsAfterCrash)

    // The composition: refit both stores; the erased store's refit
    // must equal the from-scratch retained refit.
    PqRefit.refit(spark, state, root)
    PqRefit.refit(spark, wState, wRoot)
    assert(micro(PqRefit.Gen.readCodebooks(spark, root)) ==
      micro(PqRefit.Gen.readCodebooks(spark, wRoot)),
      "post-erasure PQ refit must train the retained-corpus books")
    assert(codesOf(root) == codesOf(wRoot),
      "post-erasure refit codes must equal the retained-corpus refit")
  }

  test("PQ erasure AFTER a refit refunds under the fold sub-books: " +
      "stored codes are new-generation assignments, yet the stats " +
      "subtraction equals the retained-corpus fold (r14 advice, PQ " +
      "twin of the IVF chapter)") {
    import graft.streaming.StreamGdpr
    val (root, state) = plantedStore()
    // The refit re-encodes the postings under the M-step books — the
    // boundary vector's stored code diverges from the fold encoding,
    // exactly the state a stored-code refund would corrupt.
    PqRefit.refit(spark, state, root)
    val foldCodes = PqQuantizer.encode(
      graft.operators.AnnIvf.assign(plantedCorpus, plantedCoarse),
      plantedBooks)
      .select(col("vec_id"), col("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cohortIds = vCohort.collect().map(_.getLong(0)).toSet
    assert(codesOf(root).exists { case (id, code) =>
      cohortIds(id) && code != foldCodes(id) },
      "the planted refit must re-encode at least one COHORT vector, " +
        "or this chapter tests nothing")

    StreamGdpr.erasePqVectors(spark, state, root, vCohort, eid = 5L,
      plantedBooks)

    // Ground truth: the fold's own partials over the retained corpus.
    val wState = java.nio.file.Files
      .createTempDirectory("graft_pqgdpr_postref").toString + "/stats"
    Snapshot.batch(wState, 0L)(graft.streaming.MonoidTable.merge(_,
      PqRefit.Stats, PqRefit.partials(retainedCorpus, plantedBooks),
      Seq("j", "cell", "lpos")))
    assert(statsOf(state) == statsOf(wState),
      "post-refit erasure must leave exactly the retained-corpus fold " +
        "statistics under the fold sub-books")
    assert(codesOf(root).forall(p => !cohortIds(p._1)),
      "no erased vec_id may survive in the refit generation's codes")
  }
}
