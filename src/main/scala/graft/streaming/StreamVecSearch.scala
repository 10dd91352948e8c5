package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAMING ANN SERVING — the query-side completion of the index
  * story (r12): [[StreamVecIndex]] maintains the IVF index as vectors
  * arrive; this row serves a continuously-arriving QUERY LOG against
  * the index — the "batch-score tonight's retrieval queries" job every
  * embedding-backed pipeline runs between index refits. Per micro-batch
  * of queries:
  *
  *  1. ROUTE — each query picks its `nprobe` nearest cells. The cost
  *     Σ(c−q)² is computed DISTRIBUTED (a `transform` over the
  *     broadcast codebook literal with the vec_dot-free exact formula),
  *     bit-identical to the driver-side [[graft.operators.AnnIvf
  *     .probeCells]] (same float→double promotions, same left-fold
  *     order, same (distance, cell) tiebreak) — queries are DATA here,
  *     never plan literals, because a production query log is far too
  *     large to embed in a plan (the q_vec_knn_batch probe set is the
  *     bounded-set shape; this is the unbounded-stream shape).
  *  2. PRUNE — the batch reads ONLY the probed cells' posting
  *     partitions: the distinct probed-cell list is a driver-side
  *     routing decision bounded by k (the UpsertState touched-bucket
  *     discipline), and the postings are laid out `cell=<c>/`, so
  *     unprobed cells are never opened or listed. This is the IVF
  *     promise made physical: scan cost ∝ probed fraction, not corpus.
  *  3. SCORE — exact `vec_dot` re-rank inside the probed cells, top-5
  *     per query through the bounded-heap
  *     [[graft.functions.TypedAggs.TopKByScore]] (map-side partial
  *     top-k: ≤ k rows per partition×query cross the shuffle — the
  *     q_vec_knn_batch scale argument, unchanged). The small routed
  *     side broadcasts into the postings scan, so the index is never
  *     shuffled — with 8 fixture cells (32 768 in production) a
  *     shuffled join on `cell` would collapse to k tasks and skew.
  *  4. PUBLISH — results land as one fenced [[AppendLog]] segment per
  *     batch: re-delivery of a committed batchId (driver death between
  *     segment commit and epoch commit) finds its manifest key and
  *     no-ops, and per-query results are pure functions of (query,
  *     frozen index), so the drained log is invariant to chunking and
  *     arrival order.
  *
  * Semantics: per query bit-equal to the single-probe
  * [[graft.operators.AnnIvf.search]] (same cells, same round-6 sims,
  * same (sim DESC, vec_id) tiebreak) — StreamVecSearchSpec pins that
  * per-query equality, full-log equality against an independent
  * window-ranked reconstruction, re-delivery idempotence, order
  * invariance, and the IVF recall floor vs exact brute force.
  *
  * Bench-cost honesty (~3.6 s at sf0.1): per micro-batch the row pays
  * the routing shuffle, the probed-cell scan + broadcast join + top-k
  * shuffle, and the segment write/commit — ~0.8 s × 4 batches of fixed
  * replay machinery at fixture scale, where the data itself is
  * milliseconds. The per-batch SHAPE (scan ∝ probed cells, shuffle ≤
  * topK per partition×query, driver state ≤ k) is the 100 TB claim,
  * exactly as for the other replay rows.
  *
  * Scale (10⁹-vector index, 10⁸ queries/day): the codebook is model
  * state (k×d floats, broadcast); routing is one narrow pass over the
  * query batch; the scan reads nprobe/k of the corpus per batch worst
  * case (probed-cell union); the only shuffle is the ≤ topK-per-
  * partition×query partial top-k. Nothing driver-side grows past k.
  * T-row: the codebook is the deterministic Lloyd training DuckDB
  * cannot express bit-stably (the q_vec_knn_ivf precedent). */
object StreamVecSearch {

  /** The results log's name under the row's root. */
  private[graft] val Results = "results"

  /** Same frozen model AND same nprobe as the batch IVF row
    * (`q_vec_knn_ivf`: k=8, 3 Lloyd iterations, nprobe=3), so the two
    * rows answer with identical accuracy. */
  val K = 8
  val Iters = 3
  val NProbe = 3
  val TopK = 5

  /** Per-query nprobe cell routing, distributed. Input (qid, qvec);
    * output (qid, qvec, cell). Exactness contract: the cost expression
    * is the SAME float→double Σ(c−q)² left fold `probeCells` runs on
    * the driver, and row_number's (d, cell) order equals its stable
    * sortBy index tiebreak — so stream routing == driver routing
    * bit-for-bit (spec-pinned per query). */
  def route(queries: DataFrame, centroids: Seq[Array[Float]],
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    val cb = typedLit(centroids.map(_.toSeq))
    val costs = transform(cb, c =>
      aggregate(
        zip_with(c, col("qvec"), (a, b) => {
          val d = a.cast("double") - b.cast("double")
          d * d
        }),
        lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(col("qid")).orderBy(col("d"), col("cell"))
    queries
      .select(col("qid"), col("qvec"), posexplode(costs).as(Seq("cell", "d")))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("cell"))
  }

  /** Exact top-`TopK` within the probed cells for every routed query:
    * the routed side broadcasts into the postings scan; ranking is the
    * shared bounded-heap rank helper (see object doc, step 3) — the
    * same code path as the batch q_vec_knn_batch row, keyed on `qid`
    * and parameterized by [[TopK]] so the aggregation can never
    * desynchronize from the declared k. Output (qid, rank, vec_id,
    * sim). */
  def scoreTopK(routed: DataFrame, postings: DataFrame): DataFrame =
    graft.functions.TypedAggs.rankTopKByScore(
      postings.join(broadcast(routed), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"),
          round(call_function("vec_dot", col("embedding"), col("qvec")), 6)
            .as("sim"),
          col("vec_id")),
      TopK, keyCol = "qid", scoreCol = "sim", idCol = "vec_id",
      keyOut = "qid")

  private def emptyResults(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, Long, Long, Double)].toDF("qid", "rank", "vec_id", "sim")
  }

  /** Fold one micro-batch of queries into the results log, reading the
    * probed cells' postings through `postings` (probed cell ids → the
    * pruned (vec_id, embedding, cell) frame, or None when every probed
    * cell is EMPTY — empty cells are a guaranteed fact of life at the
    * production k ≈ 32 768: AnnIvf.train keeps their centroids,
    * probeCells routes with no occupancy knowledge; they contribute
    * zero candidates, exactly as AnnIvf.search's isin filter treats
    * them, so they are SKIPPED, not failed). The reader indirection is
    * what lets the SAME serving fold search either the bootstrap
    * `cell=<c>/` layout or a refit generation's manifest-addressed
    * directories ([[IvfRefit.Gen]]): a generation swap changes where
    * cells live, never how they are served (IvfRefitSpec pins
    * serving-after-refit == AnnIvf.search under the new codebook).
    * Exposed so the spec can re-deliver and re-order around the exact
    * code path the catalog row runs; the distinct probed-cell collect
    * is bounded by k (routing state, not data). */
  private[graft] def foldBatch(t: Snapshot.Txn,
      postings: Seq[Int] => Option[DataFrame],
      centroids: Seq[Array[Float]], batch: DataFrame, id: Long): Unit = {
    val s = batch.sparkSession
    val routed = route(batch, centroids, NProbe).persist()
    try {
      val cells = routed.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val out = postings(cells).map(scoreTopK(routed, _))
        .getOrElse(emptyResults(s))
      AppendLog.append(t, Results, out, id)
    } finally routed.unpersist()
  }

  /** The bootstrap `cell=<c>/` layout's reader: per-cell existence
    * resolves through the session's Hadoop FileSystem, not java.nio
    * (r12 advice — a raw-path probe on a non-local root would silently
    * report every cell missing and publish EMPTY results, the one
    * failure mode worse than failing); the probe is per probed cell
    * (≤ k — an object-store deployment folds it into the one listing
    * it already does), and basePath recovers the partition-dir cell
    * column. */
  private[graft] def pathPostings(s: SparkSession, postingsRoot: String)
      : Seq[Int] => Option[DataFrame] = { cells =>
    val fs = new org.apache.hadoop.fs.Path(postingsRoot)
      .getFileSystem(s.sessionState.newHadoopConf())
    val dirs = cells.map(c => s"$postingsRoot/cell=$c")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (dirs.isEmpty) None
    else Some(s.read.option("basePath", postingsRoot).parquet(dirs: _*)
      .select(col("vec_id"), col("embedding"), col("cell")))
  }

  /** A refit generation's reader: probed cells resolve through the
    * [[Snapshot]] manifest (the [[graft.streaming.IvfRefit.Gen]]
    * layout) — an absent `cell<c>` key IS the empty-cell signal, no
    * filesystem probe needed (the manifest is the listing), and the
    * data files carry the cell column themselves. */
  private[graft] def genPostings(s: SparkSession, root: String)
      : Seq[Int] => Option[DataFrame] = cells =>
    Snapshot.readSelected(s, root)(m => cells.flatMap(c => m.get(s"cell$c")))
      .map(_.select(col("vec_id"), col("embedding"), col("cell")))

  /** The postings index, batch-bootstrapped once per fixture dir and
    * laid out `cell=<c>/` so probed-cell reads prune physically — the
    * offline half of the serving contract (a deployment bootstraps in
    * batch, then [[StreamVecIndex]]'s append discipline keeps postings
    * current between refits). */
  private[graft] object Postings {
    private val root: java.nio.file.Path = graft.TmpRoots.register(
      java.nio.file.Paths.get("/tmp/graft_stream_vecsearch",
        "jvm" + ProcessHandle.current().pid()))

    private val built = new graft.Memo[(SparkSession, String), String]

    def dir(s: SparkSession, d: String): String =
      built((s, d)) {
        val out = root.resolve(d.replaceAll("[^A-Za-z0-9.]+", "_"))
          .resolve("postings").toString
        val cb = graft.operators.AnnIvf.Models(s, d, K, Iters)
        graft.operators.AnnIvf.assign(
            Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
            cb)
          .select(col("vec_id"), col("embedding"), col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(out)
        out
      }
  }

  /** The query log: the md5-gated ≈6% vector sample — the
    * q_vec_knn_batch gate, so both rows search the same query
    * population (and that row's exact brute-force answers double as
    * the spec's recall truth). */
  private[graft] def queryLog(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .where(graft.Dsl.md5Gate(col("vec_id"), "10"))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Staging: the query log split into 4 single-file chunks by qid
    * mod 4, each replayed as one micro-batch. */
  private[graft] val QueryStage: ChunkStage = new ChunkStage(
    "graft_stream_vecsearch_q", "qid", queryLog)

  /** q_stream_vec_search (T) — the drained results log: per query
    * bit-equal to the single-probe AnnIvf.search (spec-pinned, not
    * assumed). */
  val qStreamVecSearch: Q = Q(
    "q_stream_vec_search",
    (s, dir) => {
      val cb = graft.operators.AnnIvf.Models(s, dir, K, Iters)
      val postings = Postings.dir(s, dir)
      val inDir = QueryStage.inDir(s, dir)
      val root = QueryStage.stateDir(dir, "results")
      val src = s.readStream.schema(QueryStage.schema(s, inDir))
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      FoldReplay.run(src, "q_stream_vec_search", root) { (t, batch, id) =>
        foldBatch(t, pathPostings(batch.sparkSession, postings), cb,
          batch, id)
      }
      AppendLog.read(s, root, Results).getOrElse(throw
        new IllegalStateException(
          s"results log at $root has no committed segments"))
        .orderBy(col("qid"), col("rank"))
    })

  val all: Vector[Q] = Vector(qStreamVecSearch)
}
