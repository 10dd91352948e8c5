package graft.streaming

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** COMPOSED STREAMING INGEST (r12) — the daily-crawl job every
  * training-data pipeline runs, as ONE maintained process: each
  * micro-batch of raw documents is (1) QUALITY-GATED by the exact batch
  * filter-pipeline decision, (2) DEDUPED against the maintained corpus
  * of everything that ever passed the gate, and (3) accounted into a
  * maintained FUNNEL table — the batch `q_pipeline_*` composition rule
  * (every stage is the standalone row's code path, verbatim) applied to
  * the stream side, which had the stages but no composition:
  *
  *  1. QUALITY — [[graft.operators.TextQueries.QualityScore]] + its
  *     `keep` gate (the one scorer shared with q_text_quality /
  *     q_text_filter_pipeline / q_stream_quality_filter); stateless
  *     per-row, no shuffle.
  *  1b. SPAN-CONTAMINATION GATE (optional, r15 — r14 verdict ask #6):
  *     with a [[StreamIngest.SpanGate]] configured, quality survivors
  *     sharing a verbatim run ≥ spanMinLen with the broadcast
  *     benchmark set are REJECTED before dedup, their convicting
  *     spans appended as evidence segments — the in-stream
  *     twin of q_contamination_spans, through its exact
  *     crossSpansFromFps code path (spec-pinned: a leaked doc planted
  *     in a late micro-batch never reaches the band index).
  *  2. DEDUP — survivors are banded through
  *     [[StreamCorpusDedup.bandRows]] into an [[AppendLog]] band-index
  *     segment and flagged BOTH id-directions through
  *     [[StreamCorpusDedup.flagPartials]] + [[MonoidTable.merge]] —
  *     per-batch cost ∝ batch, history never
  *     re-banded, and the accepted set (`seen ∧ n_coll = 0` ⟺ no
  *     smaller-id near-duplicate among ALL quality-passing docs) is a
  *     pure function of the corpus, invariant to chunking and arrival
  *     order (the corpus-dedup argument, inherited by reuse).
  *  3. FUNNEL — per-stage (n_docs, n_tokens) exact-integer monoids
  *     fold into a stage-keyed MonoidTable for the stateless
  *     stages (arrived, quality_pass); the accepted stage is DERIVED at
  *     read time from the flag table, because dedup verdicts keep
  *     evolving as later batches arrive — materializing them would bake
  *     in an arrival order. Per-doc token counts ride the flag table
  *     (enriching the verbatim flagPartials output with an n_tok
  *     monoid; each doc arrives in exactly one batch, so the column
  *     sums correctly under the batch fence).
  *
  * Every pass doc is guaranteed a flag row: the keep gate requires
  * n_tok ≥ 20 and shingles are 3-grams, so a survivor always produces
  * bands (an un-banded doc could otherwise silently vanish from the
  * accepted count).
  *
  * Crash-retry: every table of the row (index, flags, funnel and the
  * gate's leaks) lives under ONE root, and a batch writes them all in
  * one [[Snapshot.batch]] commit — a crash anywhere leaves the pointer
  * on the previous batch, and the re-delivery folds the whole batch
  * again (CrashSweepSpec crashes that commit at every phase;
  * StreamIngestSpec pins the re-delivery no-op).
  *
  * Bench-cost honesty (~7.4–8.2 s at sf0.1, the heaviest streaming row
  * beside its corpus-dedup parent): each of the 4 micro-batches pays
  * scoring + the survivor-corpus MinHash aggregate + three table
  * writes (band segment, flag monoid, funnel monoid) and one commit —
  * ~6-7 jobs/batch of fixed machinery at fixture scale where the data
  * itself is milliseconds. A real ingest pays the same shapes once per
  * arriving batch against petabyte state; the per-batch SHAPE (cost ∝
  * batch + matched candidates, one atomic commit) is the 100 TB claim.
  *
  * Scale (100 TB/day crawl): scoring is a narrow per-row pass; banding
  * is the map-side-combined MinHash aggregate (one 16-long signature
  * row per SURVIVOR crosses the wire — the gate prunes before the
  * expensive stage, the order every real pipeline uses); the index
  * probe is an equi join on (band, band_key); funnel state is
  * stage-count-bounded. Nothing driver-side grows with data.
  *
  * T-row (xxhash banding is engine-specific): StreamIngestSpec pins
  * the funnel against an independently-computed batch composition,
  * per-stage equality with the standalone rows' code paths, chunking/
  * order invariance, and re-delivery idempotence. */
object StreamIngest {

  import graft.operators.TextQueries.QualityScore

  /** IN-STREAM SPAN-CONTAMINATION GATE configuration (r14 verdict ask
    * #6): the held-out benchmark's texts and PRE-COMPUTED winnowing
    * fingerprints — both broadcast-sized (production benchmarks are
    * kilobytes against 100 TB of crawl); per-batch span EVIDENCE lands
    * in the row root's [[Leaks]] log. When present, documents that
    * share a verbatim run ≥ spanMinLen with any benchmark doc are
    * rejected between the quality gate and dedup — a leaked eval
    * question never enters the band index or the accepted corpus, and
    * the evidence log records exactly which spans convicted it
    * (doc_r, doc_b, start_r, start_b, span_len), one segment per
    * batch. The batch side is fingerprinted per batch (new
    * documents can read no precomputed stage — the corpus-dedup
    * banding rule); the probe is crossSpansFromFps, the exact
    * q_contamination_spans code path with the benchmark side
    * broadcast. */
  private[graft] final case class SpanGate(benchDocs: DataFrame,
      benchFps: DataFrame)

  /** The funnel's and the gate's evidence tables under the row's root,
    * beside [[StreamCorpusDedup]]'s index and flags. */
  private[graft] val Funnel = "funnel"
  private[graft] val Leaks = "leaks"

  /** Fold one micro-batch of raw (doc_id, text) documents. Exposed so
    * the spec can re-deliver and re-order around the exact code path
    * the catalog row runs. `gate` adds the span-contamination stage
    * between quality and dedup (None = the catalog row's shape, whose
    * funnel and verdicts stay byte-identical to r12). */
  private[graft] def foldBatch(t: Snapshot.Txn, batch: DataFrame, id: Long,
      gate: Option[SpanGate] = None): Unit = {
    // Staged single-file chunks arrive as ONE input partition — the
    // repartition parallelizes the banding aggregate (the DocStage
    // rule); persist because the scored frame feeds three stages.
    val s = batch.sparkSession
    val sc = QualityScore(batch.repartition(8)).persist()
    try {
      val qpass = sc.where(QualityScore.keep)
        .select(col("doc_id"), col("text"), col("n_tok"))
      // Contamination gate: append the span evidence FIRST (the
      // fold-from-the-written-segment rule — the reject set reads the
      // evidence back instead of re-running the probe lineage).
      val pass = gate match {
        case None => qpass
        case Some(g) =>
          AppendLog.append(t, Leaks,
            graft.operators.DedupQueries.crossSpansFromFps(
              qpass, g.benchDocs,
              graft.operators.TextQueries.Fingerprint.fingerprints(
                qpass.select(col("doc_id"), col("text"))),
              g.benchFps),
            id)
          val leaked = AppendLog.segment(s, t, Leaks, id).get
            .select(col("doc_r").as("doc_id")).distinct()
          qpass.join(leaked, Seq("doc_id"), "left_anti")
      }
      // Dedup the survivors against the maintained index — the
      // corpus-dedup fold SKELETON (one definition of the append-first
      // discipline, see StreamCorpusDedup.foldBands) over the
      // gated subset; the flag partials carry each arriving doc's token
      // count as one more exact-integer monoid (0 for history re-flag
      // rows). `pass` derives from the already-repartitioned scored
      // frame, so the banding parallelism is inherited.
      StreamCorpusDedup.foldBands(t, pass, id,
        fp => fp
          .join(pass.select(col("doc_id"), col("n_tok")),
            Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_tok")))
      // Funnel monoids for the stateless stages — both computed in ONE
      // scan of the persisted scored frame (arrived = everything,
      // quality_pass = the gated subset via conditional sums), then
      // unpivoted to the stage-keyed rows the monoid table folds. The
      // contamination stage (gated builds only) counts the post-gate
      // survivors — its own tiny aggregate, since the reject set is
      // data (the written evidence segment), not a column predicate.
      val keepL = when(QualityScore.keep, 1L).otherwise(0L)
      val f = sc.agg(
        count(lit(1)).as("a_docs"),
        coalesce(sum(col("n_tok")), lit(0L)).as("a_toks"),
        coalesce(sum(keepL), lit(0L)).as("p_docs"),
        coalesce(sum(keepL * col("n_tok")), lit(0L)).as("p_toks"))
      val partials = f.select(lit(0L).as("stage_ord"),
          lit("arrived").as("stage"),
          col("a_docs").as("n_docs"), col("a_toks").as("n_tokens"))
        .unionByName(f.select(lit(1L).as("stage_ord"),
          lit("quality_pass").as("stage"),
          col("p_docs").as("n_docs"), col("p_toks").as("n_tokens")))
      val withGateStage =
        if (gate.isEmpty) partials
        else partials.unionByName(pass.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
          .select(lit(2L).as("stage_ord"),
            lit("contamination_pass").as("stage"),
            col("n_docs"), col("n_tokens")))
      MonoidTable.merge(t, Funnel, withGateStage, Seq("stage_ord", "stage"))
    } finally sc.unpersist()
  }

  /** The maintained funnel report: the folded stages plus the derived
    * accepted stage (quality survivors with no smaller-id
    * near-duplicate among all survivors so far). `acceptedOrd` places
    * the derived stage after the folded ones — 2 for the catalog row's
    * two-stage shape, 3 when the contamination gate adds its stage. */
  def report(s: SparkSession, root: String, acceptedOrd: Long = 2L)
      : DataFrame = {
    val accepted = MonoidTable.read(s, root, StreamCorpusDedup.Flags)
      .where(col("seen") > 0 && col("n_coll") === 0)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
      .select(lit(acceptedOrd).as("stage_ord"),
        lit("dedup_accepted").as("stage"),
        col("n_docs"), col("n_tokens"))
    MonoidTable.read(s, root, Funnel)
      .select(col("stage_ord"), col("stage"), col("n_docs"), col("n_tokens"))
      .unionByName(accepted)
      .orderBy(col("stage_ord"))
  }

  /** q_stream_ingest (T) — the funnel after the staged replay drains
    * (shares the corpus-dedup row's 4-chunk document staging; its own
    * state root). */
  val qStreamIngest: Q = Q(
    "q_stream_ingest",
    (s, dir) => {
      val st = StreamCorpusDedup.DocStage
      val inDir = st.inDir(s, dir)
      val root = st.stateDir(dir, "ingest")
      val src = s.readStream.schema(st.schema(s, inDir))
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      // 8 shuffle partitions, the corpus-dedup rationale: each batch
      // runs a corpus-scale MinHash aggregate (over the gated subset),
      // not just state-sized shuffles.
      FoldReplay.run(src, "q_stream_ingest", root, shufflePartitions = "8") {
        (t, batch, id) => foldBatch(t, batch, id)
      }
      report(s, root)
    })

  val all: Vector[Q] = Vector(qStreamIngest)
}
