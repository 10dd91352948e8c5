package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming VECTOR-INDEX maintenance — the one north-star family that
  * had no stream side through r11 (verdict ask #1): a production ANN
  * index is not rebuilt per batch, it is MAINTAINED — vectors arrive
  * continuously, each micro-batch is assigned against a FROZEN codebook
  * (broadcast model state, the `AnnIvf.assign` plan literal), and the
  * index's per-cell statistics fold as monoid state; codebook REFITS are
  * offline events that restart the query with a new literal — exactly
  * the offline/online split `q_stream_model_score` ships for the
  * quality classifier, applied to the IVF quantizer.
  *
  * What the maintained state IS: per (cell, dim) exact-integer
  * (count, component-sum) — the sufficient statistics of the index.
  * From them the read side derives the per-cell DRIFT REPORT (vector
  * count + squared distance between the maintained mean and the frozen
  * centroid), the dashboard an index owner watches to decide when the
  * codebook needs a refit. Component sums are micro-unit fixed point
  * (`round(x·10⁶)` as long): float addition is not associative, so a
  * float fold would depend on micro-batch slicing — the integer monoid
  * makes the maintained state equal the batch build BIT-FOR-BIT
  * whatever the batching (the qStreamDailyAgg argument, applied to
  * vectors).
  *
  * Retry-safe: the merge is the fenced [[MonoidTable.merge]] — a
  * re-delivered batchId (driver death between state write and epoch
  * commit) no-ops instead of double-counting vectors into cells;
  * StreamVecIndexSpec injects exactly that crash through the real
  * checkpoint-restart machinery. Publishes are atomic snapshot commits
  * ([[Snapshot]]), so a kill mid-write leaves the last committed index.
  *
  * Scale (100 TB of embeddings): per batch one narrow assignment pass
  * (argmin over the broadcast codebook, codegen'd `vec_dot` inside the
  * `transform` lambda) + one partial-aggregated shuffle whose keyed
  * output is bounded by k·d rows (512 here; ~2M at the production
  * k ≈ 32 768, d = 64 — still model-sized). The raw vectors never enter
  * state; only sufficient statistics do. Headroom: |x| ≤ ~10 for unit-
  * ish embeddings → |s| per (cell, dim) ≤ n·10⁷, safe to n ~ 9·10¹¹
  * vectors per cell — past any real cell size.
  *
  * T-row: the frozen codebook comes from the deterministic Lloyd
  * training (`AnnIvf.Models`), an iterative argmin DuckDB cannot
  * express bit-stably; StreamVecIndexSpec pins stream == batch
  * (vec_id, cell) assignment, drift-report equality against the batch
  * build, and crash-retry idempotence.
  */
object StreamVecIndex {

  /** Fixture-scale codebook knobs — the same frozen model the batch IVF
    * row searches against (`AnnIvf.Models(s, dir, 8, 3)`). */
  val K = 8
  val Iters = 3

  /** Per-(cell, dim) sufficient statistics of one batch of assigned
    * vectors: n = vectors in the cell (duplicated across the cell's
    * dims — keyed-state symmetry beats a second table), s = micro-unit
    * component sum. Both commutative monoids in exact integers. */
  def partials(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("x").cast("double") * 1e6).cast("long")).as("s"))

  /** The drift report a maintained index serves: per cell, how many
    * vectors it holds and how far their mean has drifted from the
    * frozen centroid (squared distance in micro-units², exact longs —
    * mean via truncating div, centroid micro-rounded, both
    * deterministic). A pure function of the monoid state + the frozen
    * codebook, so stream == batch follows from state equality. */
  def driftReport(state: DataFrame,
      centroids: Seq[Array[Float]]): DataFrame = {
    val cbMicro = typedLit(centroids.map(_.map(x =>
      math.rint(x.toDouble * 1e6).toLong).toSeq))
    state
      .withColumn("mean_micro", expr("s div n"))
      .withColumn("c_micro",
        element_at(element_at(cbMicro, col("cell") + 1), col("pos") + 1))
      .withColumn("d", col("mean_micro") - col("c_micro"))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("d") * col("d")).as("drift_sq_micro2"))
      .orderBy(col("cell"))
  }

  /** The BATCH build of the same index statistics — what the maintained
    * table must equal bit-for-bit (the spec's ground truth, and what a
    * deployment runs once to bootstrap the index before the stream
    * takes over). */
  def batchBuild(s: SparkSession, dir: String): DataFrame = {
    val cb = graft.operators.AnnIvf.Models(s, dir, K, Iters)
    driftReport(
      partials(graft.operators.AnnIvf.assign(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        cb)),
      cb)
  }

  /** Staging: the embeddings fixture split into 4 single-file chunks by
    * vec_id mod 4, so maxFilesPerTrigger=1 replays 4 genuine
    * micro-batches whose cell statistics COLLIDE across batches (every
    * chunk spans every cell — a cell-sliced split would make each merge
    * disjoint and test nothing; the UpsertStage rule). */
  private[graft] val VecStage: ChunkStage = new ChunkStage(
    "graft_stream_vecindex", "vec_id",
    (s, dir) => graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")))

  /** Run the maintenance replay: assign each micro-batch against the
    * frozen codebook, fold its (cell, pos)-keyed partials through the
    * fenced monoid merge. `codebook` defaults to the shared trained
    * model; a REFIT passes the new codebook and restarts the query
    * fresh (batch 0 resets the state table), which is the whole
    * offline/online contract — StreamVecIndexSpec pins that a refit
    * cleanly supersedes the old index. */
  /** The statistics table's name under the row's root. */
  private[graft] val Stats = "stats"

  private[graft] def maintain(s: SparkSession, dir: String, state: String,
      codebook: Option[Seq[Array[Float]]] = None): Unit = {
    val cb = codebook.getOrElse(
      graft.operators.AnnIvf.Models(s, dir, K, Iters))
    val inDir = VecStage.inDir(s, dir)
    val src = s.readStream.schema(VecStage.schema(s, inDir))
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    FoldReplay.run(src, "q_stream_vec_index", state) {
      (t, batch, _) =>
        MonoidTable.merge(t, Stats,
          partials(graft.operators.AnnIvf.assign(batch, cb)),
          Seq("cell", "pos"))
    }
  }

  /** q_stream_vec_index (T) — the maintained IVF index's drift report
    * after the replay drains: bit-equal to [[batchBuild]] by the monoid
    * argument above (spec-pinned, not assumed). */
  val qStreamVecIndex: Q = Q(
    "q_stream_vec_index",
    (s, dir) => {
      val state = VecStage.stateDir(dir)
      maintain(s, dir, state)
      driftReport(MonoidTable.read(s, state, Stats),
        graft.operators.AnnIvf.Models(s, dir, K, Iters))
    })

  val all: Vector[Q] = Vector(qStreamVecIndex)
}
