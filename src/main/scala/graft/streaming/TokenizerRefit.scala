package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TOKENIZER-MODEL REFIT (r14 verdict missing #3 / round-15 ask #5) —
  * the generation-swap maintenance discipline applied to the LAST
  * frozen warmup-trained model family: the BPE merge table and the
  * unigram-LM vocabulary ([[graft.operators.BpeTokenizer]],
  * [[graft.operators.UnigramLm]]) were trained once per session and
  * never refit, while corpus drift shifts token distributions exactly
  * like it shifts centroids. This module closes the loop with the
  * IvfRefit/PqRefit/ModelRefit shape:
  *
  *  1. MAINTAIN — each micro-batch folds its (word, count) partials —
  *     the EXACT derivation of the batch capped-word-count scan
  *     (lower-split of raw text, empty tokens dropped) — through the
  *     fenced [[MonoidTable.merge]]: state == the corpus's
  *     distinct-word count table bit-for-bit whatever the chunking
  *     (exact-integer monoid; re-delivery no-ops on the pointer's
  *     `@bid` fence).
  *  2. REFIT — cap the maintained table to the top `maxVocab` words
  *     under the batch trainer's own (count DESC, word) total order —
  *     orderBy + limit runs distributed, ONLY the capped table reaches
  *     the driver (the AnnIvf-codebook rule) — then retrain BOTH
  *     models from it: `BpeTokenizer.trainMerges` and
  *     `UnigramLm.train`, the batch code paths verbatim. No pass over
  *     the documents.
  *  3. GENERATION SWAP — merges + unigram vocabulary publish under ONE
  *     [[Snapshot]] manifest commit (two version directories, one
  *     pointer swap — the multi-key UpsertState shape, so a reader
  *     can never see a new merge table beside an old vocabulary); a
  *     crash before the swap leaves the complete old generation.
  *  4. SERVE — the per-document token accountings re-run against the
  *     COMMITTED generation ([[serveBpe]]/[[serveUnigram]], the
  *     catalog rows' own vocab-level encode + broadcast join), so a
  *     swap changes the model, never the serving plan.
  *
  * The fixture scenario mirrors ModelRefit: generation 0 is trained on
  * the FIRST staged chunk only (doc_id ≡ 0 mod 4 — the bootstrap
  * corpus a v0 tokenizer would have seen); the stream accumulates the
  * full corpus; the refit retrains on everything — so the report shows
  * real merge/vocabulary drift, and the refit models equal the batch
  * full-corpus training EXACTLY (same capped table under the same
  * total order, same pure driver functions; spec-pinned, not assumed).
  *
  * Scale (100 TB of documents): per batch one narrow tokenize pass +
  * one keyed partial agg bounded by the batch's distinct words; state
  * is the corpus vocabulary — the table every tokenizer trainer
  * materializes anyway (an adversarial open vocabulary would cap it
  * with the engine's Space-Saving heavy-hitters row; the fixture's is
  * plain words). The refit's distributed work is one orderBy+limit
  * over vocabulary rows; training is driver-side over the ≤ maxVocab
  * capped table, exactly the batch trainers' bound.
  *
  * T-row (iterative merge-argmax and hard-EM are un-SQL-able):
  * TokenizerRefitSpec pins streamed-refit == batch training on the
  * same corpus (both models), chunking invariance of the state,
  * crash-injected swap atomicity, refit-twice fixed point, serving
  * equality with the catalog token rows, and visible gen-0 drift. */
object TokenizerRefit {

  import graft.operators.{BpeTokenizer, UnigramLm}

  /** The word-count table's name under the stats root. */
  private[graft] val Words = "words"

  /** One micro-batch's word-count partials — the batch capped-scan's
    * own derivation (Tokenized's `lw`: lower each whitespace token),
    * applied to the raw batch. */
  def partials(batch: DataFrame): DataFrame =
    batch
      .select(explode(transform(split(col("text"), " "),
        t => lower(t))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** The capped training table from a (w, cnt) frame: top `maxVocab`
    * under (count DESC, word) — the batch trainer's exact cap and
    * order; only the capped rows collect. */
  private def capped(wc: DataFrame): Seq[(String, Long)] = {
    val s = wc.sparkSession
    import s.implicits._
    wc.select(col("w"), col("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(BpeTokenizer.maxVocab)
      .as[(String, Long)].collect().toSeq
  }

  /** Generation store under a [[Snapshot]] root — BOTH tokenizer
    * models swap in one atomic commit:
    *   `merges` → parquet (rank, left, right)
    *   `vocab`  → parquet (piece, lp_micro). */
  object Gen {

    def publish(s: SparkSession, root: String,
        merges: Vector[(String, String)], vocab: Map[String, Long])
        : Unit = {
      import s.implicits._
      Snapshot.update(root, None)(t => t.put(
        "merges" -> t.write(
          merges.zipWithIndex.map { case ((l, r), k) => (k, l, r) }
            .toDF("rank", "left", "right")),
        "vocab" -> t.write(
          vocab.toSeq.sortBy(_._1).toDF("piece", "lp_micro"))))
    }

    private def keyTable(s: SparkSession, root: String, key: String)
        : DataFrame =
      Snapshot.readSelected(s, root)(_.get(key))
        .getOrElse(throw new IllegalStateException(
          s"tokenizer generation store at $root has no committed $key"))

    def readMerges(s: SparkSession, root: String): Vector[(String, String)] =
      keyTable(s, root, "merges")
        .select(col("rank"), col("left"), col("right"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).map(t => (t._2, t._3)).toVector

    def readVocab(s: SparkSession, root: String): Map[String, Long] =
      keyTable(s, root, "vocab")
        .select(col("piece"), col("lp_micro"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Replay the word-count maintenance over the staged document chunks
    * (the corpus-dedup staging — same chunking, same key collisions). */
  private[graft] def maintain(s: SparkSession, dir: String,
      state: String): Unit = {
    val st = StreamCorpusDedup.DocStage
    val inDir = st.inDir(s, dir)
    val src = s.readStream.schema(st.schema(s, inDir))
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    FoldReplay.run(src, "q_stream_tokenizer_refit", state) {
      (t, batch, _) => MonoidTable.merge(t, Words, partials(batch), Seq("w"))
    }
  }

  private val maintained = new graft.Memo[(SparkSession, String), Unit]

  private[graft] def ensureMaintained(s: SparkSession, dir: String): String = {
    val state = StreamCorpusDedup.DocStage.stateDir(dir, "tokstats")
    maintained((s, dir))(maintain(s, dir, state))
    state
  }

  /** Generation-0 models: trained on the FIRST staged chunk only
    * (doc_id ≡ 0 mod 4) — the bootstrap corpus a v0 tokenizer would
    * have seen before the stream accumulated the rest. */
  private val frozenCache = new graft.Memo[(SparkSession, String),
    (Vector[(String, String)], Map[String, Long])]

  private[graft] def frozenModels(s: SparkSession, dir: String)
      : (Vector[(String, String)], Map[String, Long]) =
    frozenCache((s, dir)) {
      val wc = capped(partials(Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"))))
      (BpeTokenizer.trainMerges(wc, BpeTokenizer.nMerges),
        UnigramLm.train(wc))
    }

  /** Execute one refit: retrain both models from the maintained word
    * counts, swap the generation atomically, report the drift — one
    * row per model entry, (family, k, frozen, refit) all strings so
    * the two model shapes share one frame:
    *   bpe: k = zero-padded rank, values "left right"
    *   unigram: k = piece, values = micro-nat log-prob (or "" when the
    *   entry exists in only one generation). Pure function of (frozen
    *   generation, stats) — deterministic. */
  private[graft] def refit(s: SparkSession, state: String, root: String)
      : DataFrame = {
    val frozenM = Gen.readMerges(s, root)
    val frozenV = Gen.readVocab(s, root)
    val wc = capped(MonoidTable.read(s, state, Words))
    val refitM = BpeTokenizer.trainMerges(wc, BpeTokenizer.nMerges)
    val refitV = UnigramLm.train(wc)
    Gen.publish(s, root, refitM, refitV)
    import s.implicits._
    val bpeRows = (0 until math.max(frozenM.size, refitM.size)).map { k =>
      def fmt(m: Vector[(String, String)]) =
        if (k < m.size) m(k)._1 + " " + m(k)._2 else ""
      ("bpe", f"$k%03d", fmt(frozenM), fmt(refitM))
    }
    val uniRows = (frozenV.keySet ++ refitV.keySet).toSeq.sorted.map { p =>
      ("unigram", p,
        frozenV.get(p).map(_.toString).getOrElse(""),
        refitV.get(p).map(_.toString).getOrElse(""))
    }
    (bpeRows ++ uniRows).toDF("family", "k", "frozen", "refit")
      .orderBy(col("family"), col("k"))
  }

  /** Serve the per-document BPE accounting against the COMMITTED
    * generation — the q_text_bpe_tokens plan with the model read from
    * the store instead of the session memo. */
  private[graft] def serveBpe(s: SparkSession, dir: String,
      root: String): DataFrame = {
    val bc = s.sparkContext.broadcast(Gen.readMerges(s, root)
      .zipWithIndex.toMap)
    BpeTokenizer.subwordAccounting(s, dir, "n_bpe_tokens", "bpe_per_word") {
      it =>
        val ranks = bc.value
        it.map(w => (w, BpeTokenizer.encode(w, ranks).length.toLong))
    }
  }

  /** The unigram twin of [[serveBpe]]. */
  private[graft] def serveUnigram(s: SparkSession, dir: String,
      root: String): DataFrame = {
    val bc = s.sparkContext.broadcast(Gen.readVocab(s, root))
    BpeTokenizer.subwordAccounting(s, dir, "n_uni_tokens", "uni_per_word") {
      it =>
        val lp = bc.value
        it.map(w => (w, UnigramLm.viterbi(w, lp).length.toLong))
    }
  }

  /** q_stream_tokenizer_refit (T) — publish the chunk-0-trained frozen
    * generation, refit both tokenizer models from the maintained
    * full-stream word counts, report the per-entry drift. Generation
    * root resets per invocation so every rep refits the SAME
    * generation; the one-time stats replay lands behind the run-once
    * latch in warmup. q_stream_* ⇒ Bench warms it sequentially. */
  val qStreamTokenizerRefit: Q = Q(
    "q_stream_tokenizer_refit",
    (s, dir) => {
      val state = ensureMaintained(s, dir)
      val root = StreamCorpusDedup.DocStage.stateDir(dir, "tokgen")
      Snapshot.deleteRecursively(root)
      val (fm, fv) = frozenModels(s, dir)
      Gen.publish(s, root, fm, fv)
      refit(s, state, root)
    })

  val all: Vector[Q] = Vector(qStreamTokenizerRefit)
}
