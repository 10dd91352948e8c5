package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** INCREMENTAL CORPUS DEDUP — new documents deduped against a
  * MAINTAINED MinHash band index (r12): the pattern a 100 TB ingest
  * pipeline runs daily — today's crawl must be checked against the
  * historical corpus without ever re-banding history. Two state tables
  * under the row's one root cooperate per micro-batch:
  *
  *  1. the BAND INDEX ([[AppendLog]]): each batch's (doc_id, band,
  *     band_key) rows — the exact `DedupQueries.MinHashLsh` banding —
  *     land as one immutable segment; per-batch cost ∝ batch, the
  *     history is never read for the append;
  *  2. the FLAG TABLE ([[MonoidTable]]): per doc, (seen, n_coll)
  *     exact-integer partials — n_coll counts band collisions where
  *     this doc is the LATER one (larger doc_id). Collisions are
  *     scored in BOTH directions against the index: new docs flagged
  *     by smaller-id history, AND history docs re-flagged by
  *     smaller-id new arrivals — so the final table is a pure function
  *     of the corpus, invariant to how the stream was chunked OR
  *     ordered (the spec drives a perverse reordering to pin that).
  *
  * The dedup verdict (`flagged ⟺ n_coll > 0 ⟺ ∃ smaller-id doc
  * sharing a band`) therefore equals the batch q_dedup_minhash row's
  * `distinct doc_b` set exactly — spec-pinned, not assumed. Both
  * tables move in one [[Snapshot.batch]] commit fenced by the pointer's
  * `@bid` line, so crash-retry re-delivery double-counts nothing.
  *
  * Scale (100 TB/day ingest): banding is the shared MinHash stage's
  * explode + map-side-combined min-aggregate (one 16-long signature
  * row per doc crosses the wire); the index probe is an equi join on
  * (band, band_key) — candidates only, never all-pairs; the flag
  * partials are one keyed partial agg bounded by |batch| + |flagged
  * history|. Per-batch cost ∝ batch + matched candidates — history is
  * never re-banded, never rewritten.
  *
  * Bench-cost honesty (~6.9 s at sf0.1, the heaviest streaming row):
  * ~2 s is banding the corpus FRESH each rep — new documents cannot
  * read any precomputed stage, so the stream pays per rep what the 17
  * batch dedup rows amortize over one persisted shingle build — plus
  * 4 × (segment write + index probe + flag merge + one commit) and the fixed
  * replay machinery. The per-batch shape, not the fixture wall, is the
  * 100 TB claim. T-row (xxhash banding is engine-specific, as for
  * q_dedup_minhash); StreamCorpusDedupSpec pins stream == batch,
  * chunking/order invariance (with a one-directional negative
  * control), and crash-retry idempotence. */
object StreamCorpusDedup {

  /** One batch's band rows under the exact catalog banding. Input
    * needs (doc_id, text). */
  def bandRows(docs: DataFrame): DataFrame =
    graft.operators.DedupQueries.MinHashLsh.bandKeys(docs)
      .select(col("doc_id"), col("band"), col("band_key"))

  /** The per-batch flag partials: every batch doc (seen = 1) with its
    * later-of-the-pair collision count vs the batch itself and vs the
    * prior index, PLUS prior-index docs re-flagged by smaller-id new
    * arrivals (seen = 0). All exact-integer monoids.
    *
    * `verify(l, r)` refines a band collision into a confirmed pair
    * given the two sides' aliases — `lit(true)` for MinHash (the band
    * collision IS the verdict, as in the batch row), the exact Hamming
    * bound for pHash bands ([[StreamPhashDedup]]), which carry the
    * full hash on every band row precisely so the verify needs no
    * second lookup. */
  def flagPartials(bands: DataFrame, prior: Option[DataFrame],
      verify: (String, String) => Column = (_, _) => lit(true)): DataFrame = {
    val newDocs = bands.select(col("doc_id")).distinct()
    def laterOf(pairs: DataFrame): DataFrame =
      pairs.select(greatest(col("id_a"), col("id_b")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_coll"))
    val within = laterOf(bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id") &&
          verify("a", "b"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
    val cross = prior.map { idx =>
      laterOf(bands.as("n")
        .join(idx.as("o"),
          col("n.band") === col("o.band") &&
            col("n.band_key") === col("o.band_key") &&
            col("n.doc_id") =!= col("o.doc_id") &&
            verify("n", "o"))
        .select(col("n.doc_id").as("id_a"), col("o.doc_id").as("id_b")))
    }
    val colls = cross.fold(within)(within.unionByName(_))
      .groupBy(col("doc_id")).agg(sum(col("n_coll")).as("n_coll"))
    newDocs.withColumn("seen", lit(1L))
      .join(colls, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("seen"), lit(0L)).as("seen"),
        coalesce(col("n_coll"), lit(0L)).as("n_coll"))
  }

  /** The band index's and the flag table's names under a row's root. */
  private[graft] val Index = "index"
  private[graft] val Flags = "flags"

  /** THE band-index fold skeleton, shared with [[StreamIngest]] (a fix
    * here serves every row that maintains a band index): band `docs`,
    * append the segment, fold the flag partials (optionally enriched
    * with extra monoid columns) through the merge — all in the batch's
    * one transaction.
    *
    * APPEND FIRST: banding is the expensive stage (the MinHash
    * signature aggregation), and the segment write doubles as its
    * materialization — the flag fold reads the bands BACK from the
    * written segment instead of recomputing them inside the merge
    * lineage (a second full evaluation; measured 8.9 → ~4.4 s at
    * sf0.1). The prior index reads segments strictly BELOW this id, so
    * a batch never probes its own contribution. */
  private[graft] def foldBands(t: Snapshot.Txn, docs: DataFrame, id: Long,
      enrichPartials: DataFrame => DataFrame = identity,
      band: DataFrame => DataFrame = bandRows,
      verify: (String, String) => Column = (_, _) => lit(true)): Unit = {
    val s = docs.sparkSession
    AppendLog.append(t, Index, band(docs), id)
    val seg = AppendLog.segment(s, t, Index, id).get
    val prior = AppendLog.readBefore(s, t, Index, id)
    MonoidTable.merge(t, Flags,
      enrichPartials(flagPartials(seg, prior, verify)), Seq("doc_id"))
  }

  /** Fold one micro-batch into the two state tables. Exposed so the
    * specs can crash ([[Snapshot.crashAt]]) and re-order batches
    * around the identical code path the catalog row runs. */
  private[graft] def foldBatch(t: Snapshot.Txn, batch: DataFrame,
      id: Long): Unit =
    // The staged single-file chunks arrive as ONE input partition, so
    // without the repartition the whole MinHash aggregation (explode +
    // 16 hash mins over every shingle) runs in a single map task —
    // measured ~1.2 s/batch single-threaded at sf0.1. Production
    // batches arrive as many files and never need it; the tiny doc-row
    // shuffle is noise next to the banding it parallelizes.
    foldBands(t, batch.repartition(8), id)

  /** The maintained verdict table: every seen doc with its flag. */
  def verdicts(s: SparkSession, root: String): DataFrame =
    MonoidTable.read(s, root, Flags)
      .where(col("seen") > 0)
      .select(col("doc_id"), (col("n_coll") > 0).cast("long").as("flagged"))
      .orderBy(col("doc_id"))

  /** Staging: documents (doc_id, text) split into 4 single-file chunks
    * by doc_id mod 4 — every chunk spans the id range, so collisions
    * genuinely cross batches in both id directions (the staging rule
    * that makes the both-directions flag update load-bearing). */
  private[graft] val DocStage: ChunkStage = new ChunkStage(
    "graft_stream_corpusdedup", "doc_id",
    (s, dir) => graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text")))

  /** q_stream_dedup_corpus (T) — the verdict table after the staged
    * replay drains: equal to the batch q_dedup_minhash's flagged set by
    * the order-invariance argument above (spec-pinned). */
  val qStreamDedupCorpus: Q = Q(
    "q_stream_dedup_corpus",
    (s, dir) => {
      val inDir = DocStage.inDir(s, dir)
      val root = DocStage.stateDir(dir, "dedup")
      val src = s.readStream.schema(DocStage.schema(s, inDir))
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      // 8, not the replay default 4: unlike the windowed-agg replays
      // (whose shuffles carry only state-sized rows), each batch here
      // runs a corpus-scale MinHash signature aggregation — the extra
      // partitions parallelize THAT, while the flag/index state stays
      // small enough that 8 stores are not measurable overhead.
      FoldReplay.run(src, "q_stream_dedup_corpus", root,
        shufflePartitions = "8")(foldBatch)
      verdicts(s, root)
    })

  val all: Vector[Q] = Vector(qStreamDedupCorpus)
}
