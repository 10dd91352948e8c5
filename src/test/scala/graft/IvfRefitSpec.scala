package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnnIvf
import graft.streaming.{IvfRefit, MonoidTable, Snapshot, StreamVecIndex}

/** The codebook-refit contract (r12 verdict ask #1): refit-from-stats
  * equals the batch M-step recomputed from scratch AND stays within the
  * documented one-micro-unit envelope of the float-path
  * `AnnIvf.train(iters + 1)` update; the refit postings equal a
  * from-scratch assignment under the new codebook; unaffected cells
  * keep their exact committed files (planted corpus); the generation
  * swap is atomic under an injected crash; a second refit is a fixed
  * point; and the refit measurably improves quantization cost. */
class IvfRefitSpec extends AnyFunSuite with SparkFixture {

  import StreamVecIndex.{K, Iters}

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private def frozen = AnnIvf.Models(spark, sfDir, K, Iters)

  private def microCb(cb: Seq[Array[Float]]): Seq[Seq[Long]] =
    cb.map(_.toSeq.map(x => math.rint(x.toDouble * 1e6).toLong))

  test("mStep from the maintained stats == the batch micro M-step " +
      "recomputed from scratch, and within 1 micro-unit of the " +
      "float-path train(iters + 1)") {
    val state = IvfRefit.ensureMaintained(spark, sfDir)
    val got = IvfRefit.mStep(MonoidTable.read(spark, state, StreamVecIndex.Stats), frozen)

    // Independent recompute: same micro quantization, straight from the
    // corpus in one batch — stats-path == direct-path is the claim the
    // maintained state makes.
    val direct = AnnIvf.assign(emb, frozen)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
          .as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        math.rint(r.getLong(3).toDouble / r.getLong(2)).toLong)
      .toMap
    val gotMicro = microCb(got)
    frozen.indices.foreach { c =>
      frozen(c).indices.foreach { p =>
        direct.get((c, p)).foreach { want =>
          assert(gotMicro(c)(p) == want,
            s"cell $c pos $p: stats-path M-step must equal the direct " +
              "batch micro M-step exactly")
        }
      }
    }

    // Envelope vs the float path: train's extra iteration runs the
    // SAME assignment (the frozen codebook is its iters-round state),
    // then averages raw doubles before micro-rounding. Per-component
    // micro-rounding before the sum shifts the mean by at most the
    // mean rounding error (|δ̄| ≤ 0.5 micro), so the rounded centroids
    // differ by ≤ 1 micro-unit per dimension — documented in
    // IvfRefit's scaladoc, asserted here.
    val trained = microCb(AnnIvf.train(emb, K, Iters + 1))
    val maxDiff = frozen.indices.flatMap { c =>
      trained(c).zip(gotMicro(c)).map { case (a, b) => math.abs(a - b) }
    }.max
    assert(maxDiff <= 1L,
      s"refit centroids drifted $maxDiff micro-units from the float-path " +
        "train — outside the documented rounding envelope")
  }

  test("catalog row: postings after refit == from-scratch assignment " +
      "under the new codebook; accounting is conserved; deterministic") {
    val report = Catalog.byName("q_vec_index_refit").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val n = emb.count()
    assert(report.map(_._2).sum == n && report.map(_._3).sum == n,
      "n_old and n_new must both partition the corpus")
    assert(report.map(_._4).sum == report.map(_._5).sum,
      "every moved-out vector moves in somewhere")

    val root = StreamVecIndex.VecStage.stateDir(sfDir, "gen")
    val state = IvfRefit.ensureMaintained(spark, sfDir)
    val newCb = IvfRefit.mStep(MonoidTable.read(spark, state, StreamVecIndex.Stats), frozen)
    val want = AnnIvf.assign(emb, newCb)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val got = IvfRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want,
      "committed generation must equal the from-scratch assignment " +
        "under the refit codebook")
    // The committed codebook IS the M-step output.
    assert(microCb(IvfRefit.Gen.readCodebook(spark, root)) ==
      microCb(newCb))

    val again = Catalog.byName("q_vec_index_refit").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(report.toSeq == again.toSeq,
      "the row resets its generation root per invocation, so every " +
        "rep must report identically")
  }

  test("refit improves quantization cost (Lloyd monotonicity)") {
    val vecs = emb.collect()
      .map(r => r.getSeq[Float](1).toArray)
    def cost(cb: Seq[Array[Float]]): Double =
      vecs.map { v =>
        cb.map(c => c.zip(v).map { case (a, b) =>
          (a.toDouble - b) * (a.toDouble - b) }.sum).min
      }.sum
    val state = IvfRefit.ensureMaintained(spark, sfDir)
    val newCb = IvfRefit.mStep(MonoidTable.read(spark, state, StreamVecIndex.Stats), frozen)
    assert(cost(newCb) <= cost(frozen) + 1e-6,
      "one more Lloyd round must not increase total quantization cost")
  }

  // ------------------------------------------------------------------
  // Planted corpus: three 1-D clusters (only dim 0 varies) with a
  // boundary vector that FLIPS cell under the refit centroids, and a
  // far cluster that no refit can touch — the controlled fixture the
  // file-identity and crash claims need.
  //   frozen cb (dim 0): [1, 9, 100]
  //   cluster A: x ∈ {0, 0, 0, 4.9}  → cell 0;  M-step c0 = 1.225
  //   cluster B: x ∈ {5.1, 12, 12, 12} → cell 1; M-step c1 = 10.275
  //   cluster C: x ∈ {100, 100, 100} → cell 2 (untouched)
  //   refit: 5.1 flips 1 → 0 (|5.1−1.225| < |5.1−10.275|); all else stays.
  // ------------------------------------------------------------------

  private val D = 4

  private def vec(x: Double): Seq[Float] =
    (x.toFloat +: Seq.fill(D - 1)(0.0f))

  private def plantedCorpus: DataFrame = {
    import spark.implicits._
    Seq(0.0, 0.0, 0.0, 4.9, 5.1, 12.0, 12.0, 12.0, 100.0, 100.0, 100.0)
      .zipWithIndex
      .map { case (x, i) => (i.toLong, vec(x)) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
  }

  private val plantedCb: Seq[Array[Float]] =
    Seq(vec(1.0).toArray, vec(9.0).toArray, vec(100.0).toArray)

  /** Fresh planted generation store + batch-folded stats; returns
    * (genRoot, statsRoot). */
  private def plantedStore(): (String, String) = {
    val base = Files.createTempDirectory("graft_ivfrefit").toString
    val root = base + "/gen"
    val state = base + "/stats"
    IvfRefit.Gen.bootstrap(spark, plantedCorpus, root, plantedCb)
    Snapshot.batch(state, 0L)(MonoidTable.merge(_, StreamVecIndex.Stats,
      StreamVecIndex.partials(AnnIvf.assign(plantedCorpus, plantedCb)),
      Seq("cell", "pos")))
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

  test("planted corpus: exactly the boundary vector moves, and the " +
      "untouched cell's committed files are bit-identical (delta ∝ " +
      "moved — unaffected cells swap generations by pointer alone)") {
    val (root, state) = plantedStore()
    val before = Snapshot.currentManifest(root).get
    val cell2Dir = Snapshot.versionPath(root, before("cell2"))
    val cell2Files = listFiles(cell2Dir)

    val report = IvfRefit.refit(spark, state, root)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(report.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq ==
      Seq((0, 4L, 5L, 1L, 0L), (1, 4L, 3L, 0L, 1L), (2, 3L, 3L, 0L, 0L)),
      "exactly vec 5.1 flips cell 1 → 0; cluster C is untouched")

    val after = Snapshot.currentManifest(root).get
    assert(after("cell2") == before("cell2"),
      "the unaffected cell's manifest entry must not change")
    assert(listFiles(cell2Dir) == cell2Files,
      "the unaffected cell's data files must be untouched on disk")
    assert(after("cell0") != before("cell0") &&
      after("cell1") != before("cell1"),
      "both affected cells must point at rewritten directories")

    // Second refit is a fixed point: the stats table is unchanged, so
    // the M-step reproduces the same codebook and nothing moves — the
    // re-delivery convergence argument.
    val again = IvfRefit.refit(spark, state, root)
      .collect().map(r => (r.getLong(3), r.getLong(4)))
    assert(again.forall(_ == (0L, 0L)),
      "a re-run refit against unchanged stats must move nothing")
  }

  test("serving composes with the generation swap: queries folded " +
      "against the refit generation equal AnnIvf.search under the new " +
      "codebook — a swap changes where cells live, never how they are " +
      "served") {
    import graft.streaming.{AppendLog, StreamVecSearch}
    // Refit the fixture generation store (the catalog row's path), then
    // serve a query batch THROUGH the manifest-addressed reader.
    Catalog.byName("q_vec_index_refit").build(spark, sfDir).count()
    val root = StreamVecIndex.VecStage.stateDir(sfDir, "gen")
    val newCb = IvfRefit.Gen.readCodebook(spark, root)
    val qids = StreamVecSearch.queryLog(spark, sfDir)
      .select(col("qid")).collect().map(_.getLong(0)).sorted.take(4)
    val batch = StreamVecSearch.queryLog(spark, sfDir)
      .where(col("qid").isin(qids: _*))
    val results = Files.createTempDirectory("graft_refit_serve").toString
    Snapshot.batch(results, 0L)(StreamVecSearch.foldBatch(_,
      StreamVecSearch.genPostings(spark, root), newCb, batch, 0L))
    val got = AppendLog.read(spark, results, StreamVecSearch.Results).get
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = qids.flatMap { q =>
      AnnIvf.search(emb, newCb, q, StreamVecSearch.NProbe,
          StreamVecSearch.TopK)
        .collect().zipWithIndex
        .map { case (r, i) => (q, i + 1L, r.getLong(0), r.getDouble(1)) }
    }.toSet
    assert(got == want,
      "serving against the refit generation must equal the single-probe " +
        "searcher under the new codebook")
  }

  test("crash before the pointer swap leaves readers on the complete " +
      "old generation; the re-run converges and sweeps the orphans") {
    val (root, state) = plantedStore()
    val beforeManifest = Snapshot.currentManifest(root).get
    val beforePostings = IvfRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        IvfRefit.refit(spark, state, root)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    // Torn attempt: new version dirs exist as orphans, but the pointer
    // — and therefore every reader — still sees the old generation.
    assert(Snapshot.currentManifest(root).get == beforeManifest,
      "a crash before the swap must leave the pointer untouched")
    assert(IvfRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      beforePostings, "readers must still see the old postings")
    assert(microCb(IvfRefit.Gen.readCodebook(spark, root)) ==
      microCb(plantedCb), "readers must still see the old codebook")

    // The retry completes; the result equals a from-scratch refit.
    IvfRefit.refit(spark, state, root)
    val newCb = IvfRefit.mStep(MonoidTable.read(spark, state, StreamVecIndex.Stats), plantedCb)
    val want = AnnIvf.assign(plantedCorpus, newCb)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(IvfRefit.Gen.readPostings(spark, root)
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet == want,
      "the retried refit must publish the correct new generation")
    // Orphans from the torn attempt are swept by the successful
    // commit: every remaining version dir is referenced by the current
    // or prior manifest (the retention window).
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
}
