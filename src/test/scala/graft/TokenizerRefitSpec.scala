package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BpeTokenizer, UnigramLm}
import graft.streaming.{MonoidTable, Snapshot, TokenizerRefit}

/** The tokenizer-refit contract: the streamed word-count state equals
  * the batch scan under any chunking, the refit models equal batch
  * training on the same corpus bit-for-bit, the generation swap is
  * atomic (both models or neither), serving against the refit
  * generation equals the catalog token rows, and the chunk-0 frozen
  * generation shows real drift. */
class TokenizerRefitSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))

  private def batchCapped: Seq[(String, Long)] =
    BpeTokenizer.cappedWordCounts(spark, sfDir)

  test("the maintained word-count state equals the batch scan under " +
      "two different chunkings (exact-integer monoid)") {
    def fold(nb: Int): Set[(String, Long)] = {
      val state = Files.createTempDirectory("graft_tokref").toString + "/st"
      (0 until nb).foreach { i =>
        Snapshot.batch(state, i.toLong)(MonoidTable.merge(_,
          TokenizerRefit.Words, TokenizerRefit.partials(
            docs.where(pmod(col("doc_id"), lit(nb)) === i)), Seq("w")))
      }
      MonoidTable.read(spark, state, TokenizerRefit.Words).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    }
    val batch = TokenizerRefit.partials(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fold(2) == batch)
    assert(fold(5) == batch)
  }

  test("streamed refit == batch training for BOTH models, refit-twice " +
      "is a fixed point, and serving the refit generation equals the " +
      "catalog token rows") {
    val base = Files.createTempDirectory("graft_tokref_gen").toString
    val (state, root) = (base + "/st", base + "/gen")
    Snapshot.batch(state, 0L)(MonoidTable.merge(_, TokenizerRefit.Words,
      TokenizerRefit.partials(docs), Seq("w")))
    val (fm, fv) = TokenizerRefit.frozenModels(spark, sfDir)
    TokenizerRefit.Gen.publish(spark, root, fm, fv)
    TokenizerRefit.refit(spark, state, root)

    // Bit-equality with the batch-trained session models.
    val wantMerges = BpeTokenizer.trainMerges(batchCapped,
      BpeTokenizer.nMerges)
    assert(TokenizerRefit.Gen.readMerges(spark, root) == wantMerges,
      "refit merges must equal batch training on the full corpus")
    assert(TokenizerRefit.Gen.readVocab(spark, root) ==
      UnigramLm.train(batchCapped),
      "refit unigram vocabulary must equal batch training")
    assert(wantMerges.zipWithIndex.toMap == BpeTokenizer.Models(spark, sfDir),
      "the reference itself must be the session model (shared code path)")

    // Refit-twice fixed point: the models are a pure function of the
    // state, so a second refit publishes identical content.
    TokenizerRefit.refit(spark, state, root)
    assert(TokenizerRefit.Gen.readMerges(spark, root) == wantMerges)
    assert(TokenizerRefit.Gen.readVocab(spark, root) ==
      UnigramLm.train(batchCapped))

    // Serving composition: the committed generation drives the exact
    // catalog accounting rows.
    assert(TokenizerRefit.serveBpe(spark, sfDir, root).collect().toSeq ==
      Catalog.byName("q_text_bpe_tokens").build(spark, sfDir)
        .collect().toSeq,
      "BPE serving against the refit generation must equal the row")
    assert(TokenizerRefit.serveUnigram(spark, sfDir, root).collect().toSeq ==
      Catalog.byName("q_text_unigram_tokens").build(spark, sfDir)
        .collect().toSeq,
      "unigram serving against the refit generation must equal the row")
  }

  test("the generation swap is atomic: a crash before the commit " +
      "leaves BOTH old models readable; the retry converges") {
    val base = Files.createTempDirectory("graft_tokref_crash").toString
    val (state, root) = (base + "/st", base + "/gen")
    Snapshot.batch(state, 0L)(MonoidTable.merge(_, TokenizerRefit.Words,
      TokenizerRefit.partials(docs), Seq("w")))
    val (fm, fv) = TokenizerRefit.frozenModels(spark, sfDir)
    TokenizerRefit.Gen.publish(spark, root, fm, fv)
    val e = intercept[IllegalStateException] {
      Snapshot.crashAt(root, Snapshot.BeforePointer) {
        TokenizerRefit.refit(spark, state, root)
      }
    }
    assert(e.getMessage.contains("injected crash"))
    assert(TokenizerRefit.Gen.readMerges(spark, root) == fm &&
      TokenizerRefit.Gen.readVocab(spark, root) == fv,
      "a crash before the pointer swap must leave the complete old " +
        "generation — both models")
    TokenizerRefit.refit(spark, state, root)
    assert(TokenizerRefit.Gen.readMerges(spark, root) ==
      BpeTokenizer.trainMerges(batchCapped, BpeTokenizer.nMerges))
  }

  test("the catalog row reports visible chunk-0 -> full-corpus drift " +
      "and is rep-deterministic") {
    val r1 = Catalog.byName("q_stream_tokenizer_refit")
      .build(spark, sfDir).collect().toSeq
    val r2 = Catalog.byName("q_stream_tokenizer_refit")
      .build(spark, sfDir).collect().toSeq
    assert(r1 == r2, "per-rep determinism (generation root resets)")
    assert(r1.nonEmpty)
    val changed = r1.count(r => r.getString(2) != r.getString(3))
    assert(changed > 0,
      "the chunk-0 bootstrap must drift against the full corpus — " +
        "otherwise the refit demonstrates nothing")
    val families = r1.map(_.getString(0)).toSet
    assert(families == Set("bpe", "unigram"))
  }
}
