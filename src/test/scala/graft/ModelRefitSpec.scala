package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityClassifier
import graft.streaming.{ModelRefit, MonoidTable, Snapshot, StreamCorpusDedup}

/** The online quality-model refit contract (r13 verdict missing #3):
  * the streamed histogram refit equals batch training on the same
  * corpus bit-for-bit; the histogram weighting is exactly equivalent to
  * row expansion; the generation swap is crash-atomic; serving through
  * the refit generation equals the catalog model-score row. */
class ModelRefitSpec extends AnyFunSuite with SparkFixture {

  test("streamed-refit == batch train on the same corpus, bit-for-bit") {
    val state = ModelRefit.ensureMaintained(spark, sfDir)
    val refitted = ModelRefit.trainFromStats(spark, state)
    val batch = QualityClassifier.Models(spark, sfDir)
    assert(refitted.w == batch.w,
      s"histogram-refit weights ${refitted.w} must equal the batch " +
        s"model ${batch.w} exactly — the sufficient-statistics claim")
  }

  test("histogram weighting == row expansion (the trainWeighted " +
      "equivalence on a planted frame)") {
    import spark.implicits._
    // Distinct labeled feature rows with multiplicities.
    val rows = Seq(
      (0.9, 0.1, 1.0, 1, 3L),
      (0.2, 0.6, 0.4, 0, 2L),
      (0.7, 0.2, 0.8, 1, 5L),
      (0.3, 0.5, 0.2, 0, 4L))
    val hist = rows.toDF("f_distinct", "f_stop", "f_len", "label", "cnt")
    val expanded = rows.flatMap { case (a, b, c, l, n) =>
      Seq.fill(n.toInt)((a, b, c, l)) }
      .toDF("f_distinct", "f_stop", "f_len", "label")
    val viaHist = QualityClassifier.trainWeighted(hist, col("cnt"))
    val viaRows = QualityClassifier.train(expanded)
    assert(viaHist.w == viaRows.w,
      "weighted IRLS over the histogram must equal row-expanded training")
  }

  test("maintained histogram == the batch histogram (monoid fold)") {
    val state = ModelRefit.ensureMaintained(spark, sfDir)
    val got = MonoidTable.read(spark, state, ModelRefit.Hist)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val want = ModelRefit.partials(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got == want,
      "streamed histogram must equal the single-batch histogram")
  }

  test("catalog row: real drift from the chunk-0 frozen model; refit " +
      "weights are the full-corpus batch model; deterministic per rep") {
    val report = Catalog.byName("q_stream_model_refit").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(report.map(_._1).toSeq == (0 until QualityClassifier.dim),
      "one report row per weight (bias + features)")
    assert(report.exists(r => r._2 != r._3),
      "the chunk-0-trained frozen model must differ from the " +
        "full-corpus refit — otherwise the scenario shows no drift")
    val batch = QualityClassifier.Models(spark, sfDir)
    assert(report.map(_._3).toSeq == batch.w,
      "the refit weights must be the batch full-corpus model exactly")

    val again = Catalog.byName("q_stream_model_refit").build(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(report.toSeq == again.toSeq,
      "the row resets its generation root per invocation — reps must " +
        "report identically")

    // The committed generation holds the refit model bit-for-bit.
    val root = StreamCorpusDedup.DocStage.stateDir(sfDir, "modelgen")
    assert(ModelRefit.Gen.read(spark, root).w == batch.w)
  }

  test("crash before the swap leaves readers on the frozen generation; " +
      "the retry converges") {
    val state = ModelRefit.ensureMaintained(spark, sfDir)
    val root = StreamCorpusDedup.DocStage.stateDir(sfDir, "modelgen_crash")
    Snapshot.deleteRecursively(root)
    val frozen = ModelRefit.frozenModel(spark, sfDir)
    ModelRefit.Gen.publish(spark, root, frozen)

    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        ModelRefit.refit(spark, state, root)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    assert(ModelRefit.Gen.read(spark, root).w == frozen.w,
      "a crash before the swap must leave serving on the old weights")

    ModelRefit.refit(spark, state, root)
    assert(ModelRefit.Gen.read(spark, root).w ==
      QualityClassifier.Models(spark, sfDir).w,
      "the retried refit must publish the full-corpus model")
  }

  test("serving composition: scoring through the refit generation " +
      "equals the catalog model-score row") {
    // The refit generation's weights ARE the batch model's (pinned
    // above), so the serving claim reduces to: the model-score replay
    // under the generation-read model equals the catalog row, which
    // serves Models(s, dir). Run both ways to pin the COMPOSITION, not
    // just the weight equality.
    Catalog.byName("q_stream_model_refit").build(spark, sfDir).count()
    val root = StreamCorpusDedup.DocStage.stateDir(sfDir, "modelgen")
    val genModel = ModelRefit.Gen.read(spark, root)

    val want = Catalog.byName("q_stream_model_score").build(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet

    // Re-run the same replay with the generation-read model object.
    import graft.streaming.StreamingQueries
    val got = StreamingQueries.modelScoreReplay(spark, sfDir, genModel)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == want,
      "serving through the refit generation must equal the catalog row")
  }

  // ------------------------------------------------------------------
  // GDPR composition: erased documents must leave the model histogram,
  // so a subsequent refit trains on exactly the retained corpus.
  // ------------------------------------------------------------------

  test("model-histogram erasure: refit after erasure == batch train " +
      "on the retained corpus; re-delivery no-ops") {
    import graft.streaming.{ModelRefit => MR, MonoidTable, StreamGdpr}
    val base = ModelRefit.ensureMaintained(spark, sfDir)
    val state = StreamCorpusDedup.DocStage.stateDir(sfDir, "modelstats_gdpr")
    StreamGdpr.cloneState(base, state)

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val cohort = docs.where(pmod(col("doc_id"), lit(7)) === 3)
    val retained = docs.where(pmod(col("doc_id"), lit(7)) =!= 3)

    StreamGdpr.eraseModelStats(spark, state, cohort, eid = 0L)

    val got = MonoidTable.read(spark, state, ModelRefit.Hist).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val want = MR.partials(retained).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got == want,
      "post-erasure histogram must equal the retained-corpus histogram")

    // Re-delivery no-op on the fence.
    StreamGdpr.eraseModelStats(spark, state, cohort, eid = 0L)
    assert(MonoidTable.read(spark, state, ModelRefit.Hist).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap == want, "a re-delivered erasure must change nothing")

    // The composition: the refit trains on exactly the retained corpus.
    val refitted = MR.trainFromStats(spark, state)
    val batchRetained = QualityClassifier.train(
      QualityClassifier.withFeatures(
        graft.operators.TextQueries.QualityScore(retained))
        .where(Dsl.md5Gate(col("doc_id"),
          QualityClassifier.Models.gateThresh))
        .withColumn("label",
          graft.operators.TextQueries.QualityScore.keep.cast("int")))
    assert(refitted.w == batchRetained.w,
      "post-erasure refit must equal batch training on the retained " +
        "corpus bit-for-bit")
  }
}
