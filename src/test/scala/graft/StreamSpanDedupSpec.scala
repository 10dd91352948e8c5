package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupQueries
import graft.streaming.{AppendLog, Snapshot, StreamSpanDedup}

/** The streaming span-dedup contract: the maintained fingerprint index
  * + span report equal the batch q_dedup_spans pipeline on the same
  * corpus — whatever the chunking or arrival order — survive
  * re-delivery and a crash in a batch's one commit, and compose
  * with GDPR erasure such that nothing can resurrect a span against an
  * erased cohort. */
class StreamSpanDedupSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  /** One batch through the exact catalog-row code path. */
  private def fold(root: String, rows: Seq[(Long, String)], id: Long)
      : Unit =
    Snapshot.batch(root, id)(StreamSpanDedup.foldBatch(_, df(rows), id))

  /** Fold `corpus` into a fresh root, one batch per id-list in
    * `batches` (order = arrival order). */
  private def build(corpus: Seq[(Long, String)],
      batches: Seq[Seq[Long]]): String = {
    val root = Files.createTempDirectory("graft_streamspan").toString
    batches.zipWithIndex.foreach { case (ids, i) =>
      fold(root, corpus.filter(r => ids.contains(r._1)), i.toLong)
    }
    root
  }

  private type SpanRow = (Long, Long, Long, Long, Long, String)

  private def reportSet(root: String): Set[SpanRow] =
    StreamSpanDedup.report(spark, root).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet

  private def batchSet(corpus: Seq[(Long, String)]): Set[SpanRow] =
    DedupQueries.spansOf(df(corpus)).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSet

  // Planted corpus: the characters ADJACENT to each shared core differ
  // between its carriers on both sides (digit/letter pads), so the
  // maximal common runs are EXACTLY the cores; both clear
  // spanMinLen = 50 and the winnowing guarantee (>= 23).
  private val core1 =
    "The quick brown fox jumps over the lazy dog near the riverbank."
  private val core2 =
    "Winnowing fingerprints select one minimum per sliding window pane."
  private val corpus: Seq[(Long, String)] = Seq(
    1L -> ("alpha context one1" + core1 + "Xtail of document one."),
    2L -> ("completely unrelated filler text with no long shared runs here."),
    5L -> ("beta opening words2" + core1 + "Yclosing remark beta."),
    6L -> ("gamma preamble3" + core2 + "Zgamma epilogue text."),
    9L -> ("delta lead-in then4" + core2 + "Wand a delta finish."),
    11L -> ("another unshared document talking about nothing in particular."))

  test("stream == batch q_dedup_spans on a planted corpus, and the " +
      "planted cross-batch spans land with exact offsets") {
    // This batching puts (1, 5) and (6, 9) in DIFFERENT batches.
    val batches = Seq(Seq(1L, 6L, 9L), Seq(2L, 11L), Seq(5L))
    val got = reportSet(build(corpus, batches))
    assert(got == batchSet(corpus),
      s"stream report must equal the batch pipeline: $got")
    // Exact offsets of the cross-batch spans (1-based, pad lengths).
    assert(got.contains((1L, 5L, 19L, 20L, core1.length.toLong, core1)))
    assert(got.contains((6L, 9L, 16L, 20L, core2.length.toLong, core2)))
  }

  test("chunking and arrival order cannot change the report") {
    val b1 = Seq(Seq(1L, 2L, 5L, 6L, 9L, 11L)) // one batch
    val b2 = Seq(Seq(1L, 6L), Seq(2L, 9L), Seq(5L, 11L))
    // perverse: later-arriving batches carry SMALLER ids, pairs split
    // both ways
    val b3 = Seq(Seq(11L, 9L), Seq(6L, 5L), Seq(2L), Seq(1L))
    val want = batchSet(corpus)
    for (b <- Seq(b1, b2, b3)) {
      assert(reportSet(build(corpus, b)) == want, s"batching $b diverged")
    }
  }

  test("fixture corpus: the catalog row equals the batch row's output " +
      "row-for-row") {
    val stream = StreamSpanDedup.qStreamSpanDedup.build(spark, sfDir)
      .collect().toSeq
    val batch = Catalog.byName("q_dedup_spans").build(spark, sfDir)
      .collect().toSeq
    assert(stream == batch,
      "the maintained report must equal q_dedup_spans on the fixture, " +
        "in the same order")
    assert(stream.nonEmpty,
      "the fixture corpus must contain spans or this test is vacuous")
  }

  test("re-delivery no-ops and a crash in the batch's one commit " +
      "re-enters and converges") {
    val batches = Seq(Seq(1L, 6L, 9L), Seq(2L, 11L), Seq(5L))
    val root = build(corpus, batches.dropRight(1))
    val committed = Snapshot.current(root)
    // Crash batch 2 after all three tables' versions are written, before
    // the pointer moves.
    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        fold(root, corpus.filter(r => batches(2).contains(r._1)), 2L)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    assert(Snapshot.current(root) == committed,
      "the crashed batch must leave the pre-batch pointer")
    // Retry re-delivers the whole batch, which folds from scratch.
    fold(root, corpus.filter(r => batches(2).contains(r._1)), 2L)
    assert(reportSet(root) == batchSet(corpus))
    // Full re-delivery of an old batch: nothing changes anywhere.
    val pointer = Snapshot.current(root)
    fold(root, corpus.filter(r => batches(1).contains(r._1)), 1L)
    assert(Snapshot.current(root) == pointer,
      "a re-delivered batch must be a no-op on all three tables")
  }

  test("compacting the maintained logs between batches changes neither " +
      "the report nor later probes (the quiesced-cadence maintenance " +
      "event)") {
    val batches = Seq(Seq(1L, 6L, 9L), Seq(2L, 11L), Seq(5L))
    val root = build(corpus, batches.dropRight(1))
    // Quiesced-log maintenance after batch 1: fold every table's
    // segments to one directory (all seg keys survive, mapped to it).
    Snapshot.update(root, None) { t =>
      Seq(StreamSpanDedup.FpIdx, StreamSpanDedup.Docs, StreamSpanDedup.Spans)
        .foreach(AppendLog.compact(spark, t, _))
    }
    assert(Snapshot.currentManifest(root).get
      .filter(_._1.startsWith("fpidx/")).values.toSet.size == 1,
      "compaction must fold the fingerprint segments to one directory")
    // A pre-compaction batch id re-delivered AFTER compaction still
    // no-ops (the batch fence; id > 0 — a batch-0 re-delivery is the
    // fresh-invocation world reset by design).
    val manifest = Snapshot.currentManifest(root).get
    fold(root, corpus.filter(r => batches(1).contains(r._1)), 1L)
    assert(Snapshot.currentManifest(root).get == manifest,
      "a re-delivered pre-compaction batch must no-op on the tombstones")
    // The NEXT batch probes the compacted index — cross-batch pair
    // (1, 5) must still be found, and the final report equals batch.
    fold(root, corpus.filter(r => batches(2).contains(r._1)), 2L)
    assert(reportSet(root) == batchSet(corpus),
      "probing a compacted index must produce the identical report")
  }

  test("GDPR: post-erasure state equals a from-scratch build without " +
      "the cohort; crash re-enters; a later arrival cannot resurrect " +
      "a span against the erased doc") {
    val batches = Seq(Seq(1L, 6L, 9L), Seq(2L, 11L), Seq(5L))
    val root = build(corpus, batches)
    val cohort = Seq(5L, 9L).toDF("doc_id")

    // Crash the erasure's one commit; the pointer stays pre-erasure and
    // the retry converges.
    val committed = Snapshot.current(root)
    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        StreamSpanDedup.eraseSpanState(spark, root, cohort, eid = 0L)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    assert(Snapshot.current(root) == committed)
    StreamSpanDedup.eraseSpanState(spark, root, cohort, 0L)

    // Ground truth: the same build over the retained corpus only.
    val retained = corpus.filterNot(r => Set(5L, 9L)(r._1))
    val wRoot = build(retained, batches.map(_.filterNot(Set(5L, 9L))))
    def fpSet(root: String) =
      AppendLog.read(spark, root, StreamSpanDedup.FpIdx).get
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def docSet(root: String) =
      AppendLog.read(spark, root, StreamSpanDedup.Docs).get
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(reportSet(root) == reportSet(wRoot),
      "post-erasure span report must equal the retained-corpus build")
    assert(fpSet(root) == fpSet(wRoot),
      "post-erasure fingerprint index must equal the retained build")
    assert(docSet(root) == docSet(wRoot),
      "post-erasure corpus store must equal the retained build")

    // Re-delivery of the erasure no-ops everywhere.
    val pointer = Snapshot.current(root)
    StreamSpanDedup.eraseSpanState(spark, root, cohort, 0L)
    assert(Snapshot.current(root) == pointer)

    // A post-erasure arrival shares core1 (with erased doc 5 AND
    // retained doc 1) and core2 (erased doc 9, retained doc 6): the
    // probe must find the retained partners only — the erased
    // fingerprints are physically gone, so nothing resurrects.
    val late = Seq(20L ->
      ("late arrival holds5" + core1 + "Qand also6" + core2 + "Rend."))
    fold(root, late, 3L)
    val after = reportSet(root)
    assert(!after.exists(r => Set(r._1, r._2).intersect(Set(5L, 9L)).nonEmpty),
      "no span may name an erased doc after erasure")
    assert(after.exists(r => r._1 == 1L && r._2 == 20L && r._6 == core1),
      "the retained-partner span must still be found")
    assert(after.exists(r => r._1 == 6L && r._2 == 20L && r._6 == core2))
    assert(after == reportSet(wRoot) ++ batchSet(retained ++ late)
      .filter(r => r._1 == 20L || r._2 == 20L),
      "the final report must be exactly the retained build plus the " +
        "late doc's spans against retained partners")
  }
}
