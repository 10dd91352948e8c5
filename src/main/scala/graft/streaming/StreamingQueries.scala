package graft.streaming

import graft.{Q, Tables}
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming surface — SURVEY.md §2.9 rows 41–45.
  *
  * The only oracle-checked row here is the batch twin of the tumbling
  * window (#41-batch): `window()` in batch mode, proving the same agg
  * semantics the streaming form uses. The five streaming transforms are
  * plain DataFrame→DataFrame functions so the MemoryStream specs apply
  * them to an unbounded source and the batch twins cross-check semantics
  * (SURVEY §5 item 4) — the identical code path Structured Streaming
  * compiles into an IncrementalExecution.
  *
  * Scale notes (100 TB): streaming aggs shuffle on (window, key) with
  * partial aggregation per micro-batch; watermarks bound state (late rows
  * dropped, expired windows evicted), so state size tracks the number of
  * *open* windows × keys, not history. Dedup state is similarly bounded
  * by the watermark horizon.
  */
object StreamingQueries {

  /** #41-batch q_window_tumbling_batch — 1-hour tumbling counts/sums per
    * event_type, batch mode (the oracle-checked bridge for #41s). */
  val qWindowTumblingBatch: Q = Q(
    "q_window_tumbling_batch",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(
          count(lit(1)).as("n"),
          sumMoney($"value").as("sum_value"))
        .select(
          $"w.start".cast("timestamp_ntz").as("win_start"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"win_start", $"event_type")
    },
    oracle = Some(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin))

  // ---- Streaming transforms (#41s–#44): applied to a streaming DF with
  // columns (event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,
  // value DOUBLE) by StreamingSpec via MemoryStream. -------------------

  /** #41s q_stream_tumbling — 1-hour tumbling counts/sums per event_type
    * under a 10-minute watermark (late rows dropped). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sumMoney(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** #42 q_stream_sliding — 1-hour window sliding every 15 minutes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** #43 q_stream_session — 30-minute-gap session windows per user
    * (streaming twin of the batch q_sessionize). */
  def session(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("sess_start"), col("w.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** q_stream_ohlc (added r8) — the oracle-checked q_ts_ohlc bar
    * builder run INCREMENTALLY: hourly OHLC candlesticks per event
    * type over the unbounded tick stream. This is the operator the
    * batch row's doc-comment promises ("late data merges per-bar"),
    * demonstrated: all five aggregates are commutative monoids —
    * min_by/max_by on the unique ts-ordered event_id (open/close),
    * order-independent high/low extremes, exact decimal volume — so
    * each micro-batch folds into per-bar state without ever reordering
    * or replaying ticks, and a late tick touches exactly its own bar's
    * state row. State is bounded by open bars × event types.
    * StreamReplaySpec pins replay == the oracle-checked batch row. */
  def ohlc(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        count(lit(1)).as("n_ticks"),
        sumMoney(col("value")).as("volume"))
      .select(col("w.start").as("bar"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_ticks"), col("volume"))

  /** #44 q_stream_dedup — exactly-once event_id dedup within the
    * watermark horizon (state evicted as the watermark advances). */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** q_stream_quality_filter (added r5) — the q_text_filter_pipeline
    * keep decision applied to an unbounded document stream (doc_id, ts,
    * lang, text): per (1-hour window, lang) survival counts under a
    * 10-minute watermark. Scoring is stateless per-row (identical
    * formula and thresholds to the oracle-checked batch composite,
    * TextQueries.qTextFilterPipeline); only the windowed agg carries
    * state, bounded by open windows × languages. This is the shape a
    * streaming ingest filter runs at 100 TB/day: score-as-you-read,
    * aggregate small. */
  def qualityFilter(docs: DataFrame): DataFrame = {
    import graft.operators.TextQueries.QualityScore
    QualityScore(docs)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(QualityScore.keep, 1L).otherwise(0L)).as("n_kept"))
      .select(col("win.start").as("win_start"), col("lang"),
        col("n_total"), col("n_kept"))
  }

  /** q_stream_contamination (added r11) — benchmark DECONTAMINATION as
    * an ingest gate: per (1-hour window, status) document counts, where
    * status ∈ {benchmark, contaminated, clean} comes pre-joined from
    * the STATIC verdict table (the oracle-checked q_text_contamination
    * formula, computed batch-side — production benchmarks are
    * kilobytes against an unbounded stream, so the per-doc verdict
    * broadcasts and the stream is scored STATELESSLY per row; only the
    * bounded (open windows × 3 statuses) counts carry state). The
    * same offline/online split as [[qStreamModelScore]]: decide
    * expensively offline, apply cheaply in-stream. */
  def contaminationCounts(docs: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("win.start").as("win_start"), col("status"),
        col("n_docs"))

  // ---- AvailableNow replay wrappers: the streaming rows as TIMED catalog
  // entries (SURVEY §2's T definition says T rows still appear in
  // `queries` so Bench times them — r5 registered only the batch twin).
  // Each replays the events fixture through a real file-stream source +
  // Trigger.AvailableNow, lands micro-batch output in parquet via
  // foreachBatch (no driver-side collect), and returns the landed frame.
  // What Bench measures is honest end-to-end streaming throughput at the
  // SF: source listing, micro-batch planning, stateful exec, sink write.
  // Watermarks never close windows in a one-shot replay (the final
  // watermark is computed for the NEXT batch), so aggregations land via
  // complete/update mode — same operators, same state path. ------------

  object Replay {
    /** Staging/output root, unique per JVM: two concurrent JVMs (a test
      * run alongside a bench, say) must never overwrite each other's
      * staged input or read a half-written output. The pid is stable for
      * the process lifetime, so within one JVM the cache below still
      * reuses the copy. */
    private val root: java.nio.file.Path = graft.TmpRoots.register(
      java.nio.file.Paths.get(
        "/tmp/graft_stream_replay", "jvm" + ProcessHandle.current().pid()))

    /** File-stream sources read DIRECTORIES; stage the single-file
      * events fixture into one (copy once per sfDir per JVM). */
    private val staged = new graft.Memo[String, String]

    private def stagedEventsDir(dir: String): String =
      // graft.Memo serializes first calls — two racing copies of the
      // same file could interleave. Staging is a one-time ms copy.
      staged(dir) {
        locally {
          val in = java.nio.file.Paths.get(dir, "events.parquet")
          val d = root.resolve(dir.replaceAll("[^A-Za-z0-9.]+", "_"))
            .resolve("in")
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.copy(in, d.resolve("events.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          d.toString
        }
      }

    /** The staged fixture's schema is a per-dir constant — memoized so
      * every replay build (and every timed bench rep) doesn't re-pay
      * the file-listing + footer-read driver job `.schema` costs. */
    private val stagedSchema =
      new graft.Memo[(SparkSession, String), org.apache.spark.sql.types.StructType]

    /** A fresh file-stream source over the staged events fixture, with
      * the same nanos→µs ts conversion Tables.events applies. Exposed
      * (package-private) so stream-stream joins can open a SECOND
      * independent source over the same staged directory — each call is
      * its own streaming relation with its own file tracking. */
    private[streaming] def eventsSource(
        s: SparkSession, dir: String): DataFrame = {
      val inDir = stagedEventsDir(dir)
      val rawSchema = stagedSchema((s, inDir))(s.read.parquet(inDir).schema)
      graft.Tables.normalizeTs(s.readStream.schema(rawSchema).parquet(inDir))
    }

    /** Replay the events fixture through `transform`; land and return.
      *
      * `updateKeys`: required when mode = "update" — update mode emits a
      * delta row per CHANGED key per micro-batch, so once the replay spans
      * more than one batch the landed files hold several generations of
      * the same key. Each batch is landed tagged with its batch id and the
      * read-back keeps only the newest row per key; with a single batch
      * this degenerates to exactly the old behavior. */
    /** `watermarkBatch`: keep the post-data no-data micro-batch. The
      * replay DISABLES it by default — after AvailableNow drains the
      * files, the extra batch exists only to act on the advanced
      * watermark, and for complete-mode aggs it just re-emits the full
      * snapshot (a wasted rewrite) while append/update rows without
      * watermark-gated output emit nothing (a wasted planning round:
      * ~0.2–0.4 s per replay of pure fixed cost). Rows whose SEMANTICS
      * live in that batch must pass true: event-time timers
      * (q_stream_stateful_tws' eviction tombstones) and outer-join
      * null padding (q_stream_stream_outer) both fire exactly when the
      * watermark advances past the data — with the batch disabled they
      * would silently emit nothing. Scoped like the shuffle-partition
      * knob. `conf`: further settings for the replay's scope. `name`:
      * the catalog row's name; it names the query, which labels every
      * micro-batch job, and the output directory. */
    def run(
        s: SparkSession, dir: String, name: String, mode: String,
        updateKeys: Seq[String] = Nil, watermarkBatch: Boolean = false,
        conf: Seq[(String, String)] = Nil)(
        transform: DataFrame => DataFrame): DataFrame = {
      require(mode != "update" || updateKeys.nonEmpty,
        "update-mode replay needs the delta key to reconcile multi-batch output")
      val out = root.resolve(dir.replaceAll("[^A-Za-z0-9.]+", "_"))
        .resolve(s"out_$name").toString
      val src = eventsSource(s, dir)
      // Streaming jobs size shuffle partitions to STATE, not to cores:
      // every stateful operator opens one state store per shuffle
      // partition per micro-batch, and at fixture state sizes (≤ a few
      // thousand keys/windows) 32 stores are pure fixed overhead —
      // measured 2.9 → 1.7 s per replay going 32 → 8 at sf0.1, and 8 →
      // 4 shaves the store setup further with state still ≤ a few
      // hundred keys per store. A
      // 100 TB stream sets this to match its key cardinality instead;
      // the knob is per-query (a graft.Scope clone), exactly as a
      // production job configures its own trigger. It stays OVERRIDABLE
      // (spark.graft.replay.shufflePartitions) so DeterminismSpec's
      // partition sweep really varies the streaming state layout instead
      // of being silently pinned to one value.
      val scoped = graft.Scope(s, conf ++ Seq(
        "spark.sql.shuffle.partitions" ->
          s.conf.get("spark.graft.replay.shufflePartitions", "4"),
        "spark.sql.streaming.noDataMicroBatches.enabled" ->
          watermarkBatch.toString): _*)
      FoldReplay.drive(s, scoped, name)(
        transform(graft.Scope.bind(src, scoped))
          .writeStream
          .queryName(name)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            landBatch(out, mode, batch, id)
          }
          .start())
      val landed = s.read.parquet(out)
      // Delta modes carry `_batch` as a partition column (see landBatch);
      // update mode reconciles on it, append mode just drops it (no-op
      // for complete mode, which has no such column).
      if (mode == "update") reconcileNewest(landed, updateKeys)
      else landed.drop("_batch")
    }

    /** Land one micro-batch of a replay — RETRY-IDEMPOTENTLY.
      * foreachBatch is at-least-once: a driver death between the land
      * and the epoch commit re-delivers the same batchId, and the old
      * append-after-batch-0 discipline would double-land that delta
      * (the [[MonoidTable]] lesson, applied to the landing sink — found
      * in the r11 self-review, same failure window). So:
      *  - complete mode re-emits the FULL snapshot every batch; a plain
      *    overwrite is idempotent as it stands;
      *  - append/update modes land each batch under its own
      *    `_batch=<id>` partition directory, which a re-delivery simply
      *    overwrites with identical bytes. The directory key doubles as
      *    the `_batch` column update-mode reconciliation orders by
      *    (previously a data column). Batch 0 clears the root so a
      *    fresh invocation is self-contained over stale output.
      * StreamFailureSpec injects the crash through a real checkpoint
      * restart against this exact function. */
    private[graft] def landBatch(
        out: String, mode: String, batch: DataFrame, id: Long): Unit =
      if (mode == "complete") {
        batch.write.mode("overwrite").parquet(out)
      } else {
        if (id == 0L) {
          val p = java.nio.file.Paths.get(out)
          if (java.nio.file.Files.exists(p)) {
            // Collect paths first and close the walk stream before any
            // delete can throw — a failing delete must not leak the
            // walker's open directory handles in this long-lived JVM.
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(p)
            val paths =
              try walk.sorted(
                java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .iterator().asScala.toVector
              finally walk.close()
            paths.foreach(java.nio.file.Files.delete)
          }
        }
        batch.write.mode("overwrite").parquet(s"$out/_batch=$id")
      }

    /** Newest generation per key from a batch-tagged update changelog —
      * the same newest-wins decision q_merge_upsert ships for CDC apply
      * (one keyed shuffle, row_number pick).
      *
      * Precondition, ENFORCED: at most one row per (key, batch). A
      * stateful operator can in principle emit two rows for one key in
      * one micro-batch (transformWithState processes input rows, then
      * expired timers — a count row plus a tombstone); _batch alone
      * cannot order those, and a silent arbitrary pick would flip
      * between runs. Today's single-file staging can't produce that
      * (batch 0 runs under watermark 0, timers fire in a later batch);
      * if a future multi-file staging does, fail loudly here instead of
      * returning nondeterministic output. */
    def reconcileNewest(landed: DataFrame, keys: Seq[String]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val dup = landed.groupBy((keys :+ "_batch").map(col): _*)
        .agg(count(lit(1)).as("c")).where(col("c") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"update-mode replay emitted multiple rows for one key in one " +
          s"micro-batch (${dup.mkString}); add a within-batch ordinal " +
          "before reconciling")
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("_batch").desc)
      landed.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .drop("_rn", "_batch")
    }
  }

  /** Warm every per-(session, dir) cache the streaming rows depend on
    * WITHOUT running their replays: the replay machinery cost (source
    * listing, fresh temp checkpoint, start/stop) recurs identically on
    * EVERY timed bench rep, so a full warm replay per row buys nothing
    * rep 1 would not re-pay anyway — what DOES land in rep 1 if cold
    * is this staging/model state. Bench's second warm phase calls this
    * plus ONE representative replay (shared micro-batch engine paths)
    * instead of replaying all ~20 rows (r10 verdict #6: warmup had to
    * come back under 100 s at the full catalog). */
  private[graft] def warmCaches(s: SparkSession, dir: String): Unit = {
    Replay.eventsSource(s, dir) // stages the events dir + schema memo
    UpsertStage.schema(s, UpsertStage.inDir(s, dir))
    docCount((s, dir))(graft.Tables.documents(s, dir).count())
    graft.operators.QualityClassifier.Models(s, dir)
    ()
  }

  /** #41s–#45 + quality filter as replayed, Bench-timed T-rows. */
  val qStreamTumbling: Q = Q(
    "q_stream_tumbling",
    (s, dir) => Replay.run(s, dir, "q_stream_tumbling", "complete")(tumbling))

  val qStreamSliding: Q = Q(
    "q_stream_sliding",
    (s, dir) => Replay.run(s, dir, "q_stream_sliding", "complete")(sliding))

  val qStreamSession: Q = Q(
    "q_stream_session",
    (s, dir) => Replay.run(s, dir, "q_stream_session", "complete")(session))

  val qStreamOhlc: Q = Q(
    "q_stream_ohlc",
    (s, dir) => Replay.run(s, dir, "q_stream_ohlc", "complete")(ohlc))

  val qStreamDedup: Q = Q(
    "q_stream_dedup",
    (s, dir) => Replay.run(s, dir, "q_stream_dedup", "append")(dedup))

  val qStreamStateful: Q = Q(
    "q_stream_stateful",
    (s, dir) => Replay.run(s, dir, "q_stream_stateful", "update",
      updateKeys = Seq("user_id")) { df =>
      import df.sparkSession.implicits._
      StatefulCounts(df.as[StatefulCounts.Ev]).toDF()
    })

  /** q_stream_stateful_tws — the same per-user counter replayed through
    * Spark 4's forward state API (`transformWithState`, named event-time
    * timers + RocksDB state store). Unlike watermark-closed window aggs,
    * the TIMERS do fire in an AvailableNow replay: after the data batch
    * the watermark advances and the engine runs a timer-processing
    * batch, so users idle ≥ 30 min before the corpus' end land an
    * eviction tombstone (count 0) that newest-wins reconciliation keeps.
    * The replay therefore demonstrates watermark-driven state eviction
    * END-TO-END on a real file source — StreamReplaySpec derives the
    * exact expected eviction set batch-side and pins it. */
  val qStreamStatefulTws: Q = Q(
    "q_stream_stateful_tws",
    (s, dir) =>
      // transformWithState requires the RocksDB provider; it rides in
      // the replay's scope, so later HDFS-backed stateful queries on
      // the caller's session keep their provider.
      Replay.run(s, dir, "q_stream_stateful_tws", "update",
        updateKeys = Seq("user_id"), watermarkBatch = true,
        conf = Seq("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider"))) { df =>
        import df.sparkSession.implicits._
        StatefulCountsTws(
          df.withWatermark("ts", "10 minutes").as[StatefulCounts.Ev]).toDF()
      })

  /** Doc counts are fixture constants — cache per (session, dir) so the
    * bench's repeated reps don't pay a count() job each (it was ~15% of
    * this row's wall). */
  private val docCount = new graft.Memo[(SparkSession, String), Long]

  /** Trained-model scoring over an unbounded document stream: the
    * offline/online split every production quality gate runs — the
    * classifier is FIT BATCH-SIDE ([[graft.operators.QualityClassifier]]'s
    * IRLS loop, bounded driver state) and its 4 weights embed in the
    * streaming plan as constants, so scoring is the same narrow
    * codegen'd σ(w·x) the batch row uses: stateless per row, no model
    * state in the stream, re-deployable by just restarting the query
    * with fresh weights. Output counts model-keep vs heuristic-keep per
    * (1-hour window, lang) — the live model-vs-rule divergence monitor;
    * only the windowed agg carries state. */
  def modelScore(docs: DataFrame,
      model: graft.operators.QualityClassifier.Model): DataFrame = {
    import graft.operators.{QualityClassifier, TextQueries}
    import TextQueries.QualityScore
    QualityClassifier.withFeatures(QualityScore(docs))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(model.pred.cast("long")).as("n_model_keep"),
        sum(when(QualityScore.keep, 1L).otherwise(0L)).as("n_heur_keep"))
      .select(col("win.start").as("win_start"), col("lang"),
        col("n_total"), col("n_model_keep"), col("n_heur_keep"))
  }

  /** The model-score replay under an EXPLICIT model — the serving path
    * factored so the refit row's generation-read model drives the SAME
    * replay (ModelRefitSpec's serving-composition pin): a model swap
    * changes the weights in the plan, never the plan. */
  private[graft] def modelScoreReplay(s: SparkSession, dir: String,
      model: graft.operators.QualityClassifier.Model): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val nDocs = docCount((s, dir))(docs.count())
    Replay.run(s, dir, "q_stream_model_score", "complete") { df =>
      modelScore(
        df.select(pmod(col("event_id"), lit(nDocs)).as("doc_id"), col("ts"))
          .join(broadcast(docs), "doc_id"), model)
    }
  }

  /** q_stream_model_score (T) — [[modelScore]] replayed over the staged
    * event stream with the same id-aligned document join as
    * [[qStreamQualityFilter]]; `QualityClassifierSpec` pins the
    * batch-twin equality of the windowed counts. */
  val qStreamModelScore: Q = Q(
    "q_stream_model_score",
    (s, dir) => modelScoreReplay(s, dir,
      graft.operators.QualityClassifier.Models(s, dir)))

  val qStreamQualityFilter: Q = Q(
    "q_stream_quality_filter",
    (s, dir) => {
      // The documents fixture carries no event time; join text onto the
      // replayed event stream by aligned ids (deterministic, narrow).
      // Modulus = the ACTUAL doc count for the dir, so every document
      // participates at every SF (a hard-coded 500 measured 10% of the
      // corpus at sf0.1 and silently skewed cross-SF comparisons).
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
      val nDocs = docCount((s, dir))(docs.count())
      Replay.run(s, dir, "q_stream_quality_filter", "complete") { df =>
        qualityFilter(
          df.select(pmod(col("event_id"), lit(nDocs)).as("doc_id"), col("ts"))
            .join(broadcast(docs), "doc_id"))
      }
    })

  /** Per-doc decontamination verdicts, persisted per (session, dir):
    * every bench rep of the streaming gate re-reads this instead of
    * re-deriving the shingle probe (the basketsCache rule). */
  private val contaminationStatusCache =
    new graft.Memo[(SparkSession, String), DataFrame]

  /** q_stream_contamination (T) — the [[contaminationCounts]] gate
    * replayed over the document stream (events aligned to docs by the
    * qStreamQualityFilter modulus device). The static side joins the
    * batch contamination row's verdicts onto the doc table: docs ABSENT
    * from the verdict table are the benchmark members themselves
    * (q_text_contamination scores only non-benchmark docs) — they must
    * not enter training either, so they surface as their own status. */
  val qStreamContamination: Q = Q(
    "q_stream_contamination",
    (s, dir) => {
      val status = contaminationStatusCache((s, dir)) {
        graft.Tables.documents(s, dir).select(col("doc_id"))
          .join(graft.operators.DedupQueries.qTextContamination
              .build(s, dir).select(col("doc_id"), col("flagged")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("flagged").isNull, "benchmark")
              .when(col("flagged") === 1L, "contaminated")
              .otherwise("clean").as("status"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      val nDocs = docCount((s, dir))(
        graft.Tables.documents(s, dir).count())
      Replay.run(s, dir, "q_stream_contamination", "complete") { df =>
        contaminationCounts(
          df.select(pmod(col("event_id"), lit(nDocs)).as("doc_id"),
              col("ts"))
            .join(broadcast(status), "doc_id"))
      }
    })

  /** q_stream_countmin (T) — the Count-Min sketch maintained
    * INCREMENTALLY over the event stream, then queried: the replay
    * folds every micro-batch into one sketch buffer (typed agg state —
    * partial buffers merge map-side, so the single-key state partition
    * receives one buffer per input partition per batch, never rows),
    * and the build then reads the landed sketch back and answers the
    * same top-10 frequency question as the batch row. Because CM merge
    * is EXACT (entrywise add), the streamed sketch equals the batch
    * sketch BIT-FOR-BIT no matter how the stream was micro-batched —
    * CountMinSpec pins that equality and the row-level agreement with
    * q_agg_countmin. This is the always-fresh sketch-table pattern: a
    * 100 TB pipeline keeps per-window sketch rows and unions on read;
    * the global fold here is its one-key special case. */
  val qStreamCountmin: Q = Q(
    "q_stream_countmin",
    (s, dir) => {
      import graft.functions.CountMin
      val landed =
        Replay.run(s, dir, "q_stream_countmin", "complete")(CountMin.streamFold)
      // The landed sketch is bounded model state (d×w longs) — same
      // collect discipline as the PQ LUTs.
      CountMin.topFreq(s, dir, landed.head().getSeq[Long](1).toArray)
    })

  /** Staging for q_stream_upsert: the events fixture split into FOUR
    * single-file chunks keyed by event_id mod 4, so a
    * `maxFilesPerTrigger = 1` replay runs four genuine micro-batches —
    * and because every chunk spans the full time range, per-user merges
    * COLLIDE across batches (a time-sliced split would make each merge
    * trivially disjoint and test nothing). */
  private[graft] val UpsertStage: ChunkStage = new ChunkStage(
    "graft_stream_upsert", "event_id",
    (s, dir) => graft.Tables(s, dir, "events"))

  /** q_stream_upsert (added r8) — STREAMING UPSERT SINK: each
    * micro-batch is MERGED into a keyed parquet state table via
    * foreachBatch, maintaining the per-user LATEST-event snapshot — the
    * "materialize current state from a changelog" pattern every CDC
    * consumer runs (the streaming twin of q_merge_upsert's batch apply,
    * and the sink-side complement of q_stream_stateful's operator-state
    * form: here the state lives in the TABLE, queryable between
    * batches, not in the stream engine).
    *
    * Per batch: newest-wins within the batch (one keyed window), then
    * newest-wins against ONLY the stored bucket partitions the batch's
    * keys hash into, then republish just those partitions (the
    * [[UpsertState]] discipline: `_bkt`-partitioned snapshot, literal
    * partition-pruned read, dynamic partition overwrite). Batch 0
    * resets the table, so every invocation is self-contained.
    * StreamFailureSpec pins that untouched buckets' files survive a
    * merge untouched (name/size/mtime) — merge cost ∝ churn, not state.
    *
    * THE ORACLE-ELIGIBILITY ARGUMENT (first O-row in the streaming
    * family): newest-wins on the TOTAL key (ts, event_id) is
    * associative, commutative and idempotent, so the final snapshot is
    * invariant to micro-batch slicing — four batches, one, or any
    * interleaving produce bit-identical state. The DuckDB twin is the
    * plain batch argmax; the hash match proves the incremental fold
    * exactly reproduces it.
    *
    * Scale: each merge shuffles |batch keys| + |touched buckets'
    * snapshot rows| on the key — the snapshot side IS pruned to the
    * bucket partitions the batch touches, so cost ∝ churn, not state. */
  val qStreamUpsert: Q = Q(
    "q_stream_upsert",
    (s, dir) => {
      import s.implicits._
      val inDir = UpsertStage.inDir(s, dir)
      val state = UpsertStage.stateDir(dir)
      val src = graft.Tables.normalizeTs(
        s.readStream.schema(UpsertStage.schema(s, inDir))
          .option("maxFilesPerTrigger", 1).parquet(inDir))
      // Small-state shuffle sizing, same scoped knob as Replay.run.
      FoldReplay.run(src, "q_stream_upsert", state) { (t, batch, _) =>
        UpsertState.merge(t, "state", batch)
      }
      UpsertState.read(s, state, "state")
        .select($"user_id", $"ts".cast("timestamp_ntz").as("last_ts"),
          $"event_id".as("last_event_id"),
          $"event_type".as("last_type"), $"value".as("last_value"))
        .orderBy($"user_id")
    },
    oracle = Some(
      """SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        |  event_type AS last_type, value AS last_value
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |        AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin))

  /** q_stream_daily_agg — STREAMING AGGREGATE-TABLE MAINTENANCE, the
    * second streaming ORACLE row (q_stream_upsert covers the keyed
    * newest-wins merge class; this covers the MONOID-merge class):
    * each micro-batch's per-day (count, exact-cents sum) partials are
    * merged into a keyed parquet aggregate table via foreachBatch —
    * the incrementally-maintained daily rollup every warehouse keeps
    * hot. Because both aggregates are commutative monoids in exact
    * integers, the maintained table equals the batch recompute
    * BIT-FOR-BIT whatever the micro-batching — which is exactly what
    * the DuckDB twin checks (the q_agg_incremental argument, proven
    * here through the live streaming machinery, not a simulation).
    * Shares [[UpsertStage]]'s staged chunks — one listing/staging cost
    * across both O-rows (the r8 streaming-overhead lesson). Mean is
    * integer cents div count — no float anywhere.
    *
    * RETRY-SAFE: the merge is [[MonoidTable.merge]], which fences on
    * the batch id persisted with the state — a re-delivered batchId
    * (driver death between state write and epoch commit, the
    * at-least-once window foreachBatch exposes) no-ops instead of
    * double-counting. StreamFailureSpec injects exactly that crash
    * through the real checkpoint-restart machinery and asserts the
    * maintained table still equals the batch recompute. */
  val qStreamDailyAgg: Q = Q(
    "q_stream_daily_agg",
    (s, dir) => {
      import s.implicits._
      val inDir = UpsertStage.inDir(s, dir)
      val state = UpsertStage.stateDir(dir) + "_dailyagg"
      def partials(df: DataFrame): DataFrame =
        df.groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("n"),
            (sum(col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 2))) * 100)
              .cast(org.apache.spark.sql.types.LongType).as("sc"))
      val src = graft.Tables.normalizeTs(
        s.readStream.schema(UpsertStage.schema(s, inDir))
          .option("maxFilesPerTrigger", 1).parquet(inDir))
      FoldReplay.run(src, "q_stream_daily_agg", state) { (t, batch, _) =>
        MonoidTable.merge(t, "daily", partials(batch), Seq("day"))
      }
      MonoidTable.read(s, state, "daily")
        .select($"day", $"n",
          ($"sc".cast(org.apache.spark.sql.types.DoubleType) / 100)
            .as("sum_value"),
          expr("sc div n").as("mean_cents"))
        .orderBy($"day")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sc
        |  FROM events GROUP BY 1)
        |SELECT day, n, CAST(sc AS DOUBLE) / 100 AS sum_value,
        |  sc // n AS mean_cents
        |FROM daily
        |ORDER BY day""".stripMargin))

  /** q_stream_kalman — STREAMING STATE ESTIMATION, the third streaming
    * ORACLE row: the day-keyed cents-sum monoid table is maintained
    * incrementally via foreachBatch (the [[qStreamDailyAgg]] machinery,
    * own state dir, shared staged chunks), and after the stream drains
    * the EXACT q_ts_kalman integer filter chain runs over the
    * maintained table — "keep cheap mergeable state hot in-stream,
    * derive the estimator from it on demand", the pattern that replaces
    * a bespoke stateful filter operator whenever the estimator is a
    * deterministic function of monoid state.
    *
    * ORACLE-ELIGIBILITY: batch slicing cannot move the result — the
    * maintained table is a commutative-monoid fold in exact integers
    * (≡ the batch daily aggregate bit-for-bit, the qStreamDailyAgg
    * argument), and [[graft.operators.StatQueries.kalmanChain]] is a
    * pure function of that table. The twin is therefore the SAME
    * WITH RECURSIVE replay q_ts_kalman uses, verbatim (shared val).
    *
    * Scale: per batch one partial agg of the batch's rows + a merge
    * over the bounded day domain; the filter chain is the O(1)-state
    * single pass over ≤ |days| rows. Retry-safe via the
    * [[MonoidTable]] batch-id fence (see qStreamDailyAgg). */
  val qStreamKalman: Q = Q(
    "q_stream_kalman",
    (s, dir) => {
      import s.implicits._
      val inDir = UpsertStage.inDir(s, dir)
      val state = UpsertStage.stateDir(dir) + "_kalman"
      def partials(df: DataFrame): DataFrame =
        df.groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
          .agg((sum(col("value").cast(org.apache.spark.sql.types
            .DecimalType(18, 2))) * 100)
            .cast(org.apache.spark.sql.types.LongType).as("v"))
      val src = graft.Tables.normalizeTs(
        s.readStream.schema(UpsertStage.schema(s, inDir))
          .option("maxFilesPerTrigger", 1).parquet(inDir))
      FoldReplay.run(src, "q_stream_kalman", state) { (t, batch, _) =>
        MonoidTable.merge(t, "daily", partials(batch), Seq("day"))
      }
      graft.operators.StatQueries.kalmanChain(s,
        MonoidTable.read(s, state, "daily").select(col("day"), col("v")))
    },
    oracle = Some(graft.operators.StatQueries.kalmanOracle))

  /** q_stream_decay — STREAMING DECAYED-POPULARITY maintenance, the
    * fourth streaming ORACLE row: the (event_type, day) exact-cents
    * monoid table is maintained incrementally via foreachBatch (the
    * [[qStreamDailyAgg]] machinery — own state dir, shared staged
    * chunks), and after the stream drains the batch row's OWN
    * read-side ([[graft.operators.AnalyticsQueries.decayReport]], the
    * anchor + per-age quantized weighting, shared VERBATIM) runs over
    * the maintained table. The decayed score itself is NOT a monoid
    * (the anchor moves with every new day), but it is a deterministic
    * function of one — so the stream keeps the cheap mergeable state
    * hot and derives the score on demand, the same split as
    * [[qStreamKalman]]. Stream == batch bit-for-bit, which is exactly
    * what reusing q_events_decay's DuckDB twin checks. Retry-safe via
    * the [[MonoidTable]] batch-id fence (see qStreamDailyAgg). */
  val qStreamDecay: Q = Q(
    "q_stream_decay",
    (s, dir) => {
      import s.implicits._
      val inDir = UpsertStage.inDir(s, dir)
      val state = UpsertStage.stateDir(dir) + "_decay"
      def partials(df: DataFrame): DataFrame =
        df.groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(sum((col("value").cast(org.apache.spark.sql.types
            .DecimalType(18, 2)) * 100)
            .cast(org.apache.spark.sql.types.LongType)).as("day_cents"))
      val src = graft.Tables.normalizeTs(
        s.readStream.schema(UpsertStage.schema(s, inDir))
          .option("maxFilesPerTrigger", 1).parquet(inDir))
      FoldReplay.run(src, "q_stream_decay", state) { (t, batch, _) =>
        MonoidTable.merge(t, "daily", partials(batch),
          Seq("event_type", "day"))
      }
      graft.operators.AnalyticsQueries.decayReport(s,
        MonoidTable.read(s, state, "daily")
          .select(col("event_type"), col("day"), col("day_cents")))
    },
    oracle = Some(graft.operators.AnalyticsQueries.decayOracle))

  val all: Vector[Q] = Vector(qWindowTumblingBatch,
    qStreamTumbling, qStreamSliding, qStreamSession, qStreamDedup,
    qStreamStateful, qStreamStatefulTws, qStreamQualityFilter,
    qStreamContamination,
    qStreamModelScore, qStreamCountmin, qStreamOhlc, qStreamUpsert, qStreamKalman,
    qStreamDailyAgg, qStreamDecay)
}
