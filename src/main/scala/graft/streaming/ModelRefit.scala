package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONLINE QUALITY-MODEL REFIT (r13 verdict missing #3) — the IvfRefit
  * maintenance discipline applied to the model the ingest gate actually
  * serves: `q_stream_model_score` scores documents with a FROZEN
  * classifier and `q_quality_classifier` trains batch-side; this row
  * maintains the classifier's SUFFICIENT STATISTICS against the stream
  * and refits through the generation-swap discipline.
  *
  * What the maintained state is: the classifier's features are pure
  * functions of the integer triple (n_tok, n_distinct, n_stop) — and so
  * are the heuristic quality score and the weak-supervision label — so
  * the labeled multiset compresses EXACTLY into a count histogram keyed
  * on that triple (the md5 labeling gate applied in-stream, before the
  * count). Rows with identical triples contribute identical per-row
  * micro products to every IRLS aggregate, so weighted training on the
  * histogram equals batch training on the corpus BIT-FOR-BIT
  * ([[graft.operators.QualityClassifier.trainWeighted]]'s contract) —
  * the same "sufficient statistics instead of re-reading the data"
  * move as the IVF refit, with exactness by integer-keyed counting
  * rather than micro-sums.
  *
  * Lifecycle:
  *  1. MAINTAIN — each micro-batch folds its gated triple counts
  *     through the fenced [[MonoidTable.merge]] (re-delivery no-ops;
  *     state == batch histogram whatever the chunking).
  *  2. REFIT — weighted IRLS over the maintained histogram (state-
  *     bounded: distinct observed triples, never corpus rows) retrains
  *     the model; no pass over the documents.
  *  3. GENERATION SWAP — the new weights publish as one atomic
  *     [[Snapshot]] manifest commit (stored as raw IEEE-754 bits for
  *     bit-exact round-trip); a crash before the swap leaves readers
  *     (the serving stream) on the complete old generation. Serving
  *     restarts against the new weights — the offline/online split
  *     `q_stream_model_score` documents, now with the offline half real.
  *
  * The fixture scenario: the FROZEN generation-0 model is trained on
  * the first staged chunk only (doc_id ≡ 0 mod 4 — the bootstrap data
  * a v0 model would have seen); the stream then accumulates the full
  * corpus and the refit retrains on everything — so the report shows
  * real weight drift, and the refit weights equal the batch full-corpus
  * model exactly (spec-pinned).
  *
  * Scale (100 TB of documents): per batch one narrow feature pass + a
  * shuffle bounded by DISTINCT TRIPLES (token counts are capped by the
  * chunking contract, so the histogram is domain-bounded — thousands of
  * rows, not corpus rows); the refit's per-IRLS-round aggregate runs
  * over the histogram; the published model is `dim` doubles.
  *
  * T-row (IRLS + the generation store are un-SQL-able): ModelRefitSpec
  * pins streamed-refit == batch train on the same corpus, the
  * histogram-weighting equivalence, crash-injected swap atomicity,
  * per-rep determinism, and the serving composition (scoring through
  * the refit generation == the catalog model-score row). */
object ModelRefit {

  import graft.operators.{QualityClassifier, TextQueries}

  /** The histogram table's name under the stats root. */
  private[graft] val Hist = "hist"

  /** One micro-batch's histogram partials: gated labeled triple counts.
    * The md5 gate and the feature/label derivation are the batch
    * trainer's own code paths (Models.gateThresh, QualityScore). */
  def partials(batch: DataFrame): DataFrame =
    TextQueries.QualityScore(batch)
      .where(graft.Dsl.md5Gate(col("doc_id"),
        QualityClassifier.Models.gateThresh))
      .groupBy(col("n_tok"), col("n_distinct"), col("n_stop"))
      .agg(count(lit(1)).as("cnt"))

  /** The labeled frame a histogram stands for: features, quality and
    * label derived from the triple through the one shared definition
    * ([[TextQueries.QualityScore.fromCounts]]). */
  private def labeledHist(hist: DataFrame): DataFrame =
    QualityClassifier.withFeatures(
      TextQueries.QualityScore.fromCounts(hist))
      .withColumn("label", TextQueries.QualityScore.keep.cast("int"))

  /** Weighted IRLS over the maintained histogram — bit-equal to batch
    * training on the corpus the histogram counts. */
  def trainFromStats(s: SparkSession, state: String)
      : QualityClassifier.Model =
    QualityClassifier.trainWeighted(
      labeledHist(MonoidTable.read(s, state, Hist)), col("cnt"))

  /** Model generation store: manifest key `model` → parquet of
    * (j, w_bits) — IEEE-754 bits for bit-exact round-trip. */
  object Gen {

    def publish(s: SparkSession, root: String,
        model: QualityClassifier.Model): Unit = {
      import s.implicits._
      Snapshot.update(root, None)(t => t.put("model" -> t.write(
        model.w.zipWithIndex
          .map { case (w, j) =>
            (j, java.lang.Double.doubleToLongBits(w)) }
          .toDF("j", "w_bits"))))
    }

    def read(s: SparkSession, root: String): QualityClassifier.Model = {
      val w = Snapshot.readSelected(s, root)(_.get("model"))
        .getOrElse(throw new IllegalStateException(
          s"model generation store at $root has no committed model"))
        .select(col("j"), col("w_bits"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .sortBy(_._1)
        .map(p => java.lang.Double.longBitsToDouble(p._2))
      QualityClassifier.Model(w.toSeq)
    }
  }

  /** Replay the histogram maintenance over the staged document chunks
    * (the corpus-dedup stage — same chunking, same key collisions). */
  private[graft] def maintain(s: SparkSession, dir: String,
      state: String): Unit = {
    val st = StreamCorpusDedup.DocStage
    val inDir = st.inDir(s, dir)
    val src = s.readStream.schema(st.schema(s, inDir))
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    FoldReplay.run(src, "q_stream_model_refit", state) {
      (t, batch, _) =>
        MonoidTable.merge(t, Hist, partials(batch),
          Seq("n_tok", "n_distinct", "n_stop"))
    }
  }

  private val maintained = new graft.Memo[(SparkSession, String), Unit]

  private[graft] def ensureMaintained(s: SparkSession, dir: String): String = {
    val state = StreamCorpusDedup.DocStage.stateDir(dir, "modelstats")
    maintained((s, dir))(maintain(s, dir, state))
    state
  }

  /** The generation-0 model: trained on the FIRST staged chunk only
    * (doc_id ≡ 0 mod 4) — the bootstrap corpus a v0 deployment would
    * have seen before the stream accumulated the rest. */
  private val frozenCache =
    new graft.Memo[(SparkSession, String), QualityClassifier.Model]

  private[graft] def frozenModel(s: SparkSession, dir: String)
      : QualityClassifier.Model =
    frozenCache((s, dir)) {
      val docs = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"))
      QualityClassifier.trainWeighted(
        labeledHist(partials(docs)), col("cnt"))
    }

  /** Execute one refit: weighted IRLS from the maintained state, atomic
    * generation swap, per-weight drift report (j, w_frozen, w_refit) —
    * a pure function of (frozen model, stats), deterministic. */
  private[graft] def refit(s: SparkSession, state: String, root: String)
      : DataFrame = {
    val frozen = Gen.read(s, root)
    val refitted = trainFromStats(s, state)
    Gen.publish(s, root, refitted)
    import s.implicits._
    frozen.w.indices
      .map(j => (j, frozen.w(j), refitted.w(j)))
      .toDF("j", "w_frozen", "w_refit")
      .orderBy(col("j"))
  }

  /** q_stream_model_refit (T) — publish the chunk-0-trained frozen
    * model as generation 0, refit from the maintained full-stream
    * histogram, report the per-weight drift. Generation root resets per
    * invocation so every rep refits the SAME generation. */
  val qStreamModelRefit: Q = Q(
    "q_stream_model_refit",
    (s, dir) => {
      val state = ensureMaintained(s, dir)
      val root = StreamCorpusDedup.DocStage.stateDir(dir, "modelgen")
      Snapshot.deleteRecursively(root)
      Gen.publish(s, root, frozenModel(s, dir))
      refit(s, state, root)
    })

  val all: Vector[Q] = Vector(qStreamModelRefit)
}
