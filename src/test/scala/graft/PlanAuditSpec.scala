package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression audit: locks in the scale-critical plan
  * shapes so a future edit can't silently reintroduce a scale-killer
  * (SURVEY.md §4 — our job is to not defeat Catalyst). */
class PlanAuditSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {

  private def planOf(name: String): String =
    Catalog.byName(name).build(spark, sfDir)
      .queryExecution.executedPlan.toString

  private def formattedPlan(name: String): String = {
    val df = Catalog.byName(name).build(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q_scan_prune_pushdown pushes the predicate and prunes columns") {
    val p = formattedPlan("q_scan_prune_pushdown")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate predicate must reach the parquet scan")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_tax"),
      s"unused columns must be pruned from the scan: $readSchema")
  }

  test("q_join_broadcast uses broadcast-hash joins for the dims") {
    val p = planOf("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "dimension joins must not shuffle the fact side")
  }

  test("q_join_theta_range is an equi join, not a nested-loop scan") {
    val p = planOf("q_join_theta_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "band join must stay bucketized (equi), regression to BNLJ detected")
  }

  test("q_win_distribution does not globally sort the full table") {
    val p = planOf("q_win_distribution")
    // Single-partition exchanges allowed only for the two domain-sized
    // side plans (bucket-count cumsum + 1-row total); the main table
    // must be hash-partitioned.
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 2, s"expected only tiny single-partition exchanges, got $single")
    assert(p.contains("hashpartitioning(bkt"),
      "main table must be partitioned by bucket, not globally sorted")
  }

  test("q_join_bloom_filtered injects a runtime bloom filter into the fact scan") {
    import spark.implicits._
    val scoped = operators.JoinQueries.bloomScope(spark)
    locally {
      val dim = Scope.bind(Tables.orders(spark, sfDir), scoped)
        .where($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val joined = Scope.bind(Tables.lineitem(spark, sfDir), scoped)
        .join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_items"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter on the lineitem side:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "the bloom filter must guard a shuffle join — broadcast wouldn't need it")
      // The guard must sit BELOW the fact-side exchange — pre-shuffle
      // pruning is the entire point at 100 TB.
      val lines = p.linesIterator.toVector
      val exchangeIdx = lines.indexWhere(l =>
        l.contains("Exchange hashpartitioning(l_orderkey"))
      val bloomIdx = lines.indexWhere(_.contains("might_contain"))
      assert(exchangeIdx >= 0 && bloomIdx > exchangeIdx,
        "bloom filter must prune before the fact shuffle, not after")
    }
  }

  test("q_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_join_self_asof shuffles once on user_id and never joins") {
    val p = planOf("q_join_self_asof")
    assert(!p.contains("Join"), "as-of must use the window formulation")
  }

  test("flagship aggregation runs inside whole-stage codegen") {
    // AQE prints codegen stages only once the final plan exists —
    // execute first, then inspect.
    val df = Catalog.byName("q_agg_groupby").build(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators fused into WholeStageCodegen stages.
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"),
      s"aggregation must be codegen-fused:\n$p")
  }

  test("q_dedup_pipeline joins stay equi (bucketed candidates + keyed anti)") {
    val p = planOf("q_dedup_pipeline")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pipeline must never degenerate to pairwise scans")
    // The near-dup candidate join must be keyed on the prefix bucket —
    // an equi join (SMJ or SHJ at scale, BHJ acceptable at fixture SF).
    assert(p.contains("Join"), "candidate generation is a join by design")
  }

  test("q_text_filter_pipeline is one aggregation, no extra shuffle") {
    val p = planOf("q_text_filter_pipeline")
    // Per-row scoring + one hash agg on lang: exactly one shuffle;
    // a second exchange would mean the scoring left the narrow
    // pre-aggregation stage.
    assert(p.contains("HashAggregate"))
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"expected a single hash exchange on lang:\n$p")
  }

  test("q_join_skew_salted joins on (k, _salt) via a shuffle join") {
    val p = planOf("q_join_skew_salted")
    assert(p.contains("_salt"),
      "the salt must be part of the physical join keys")
    assert(!p.contains("BroadcastHashJoin"),
      "dim side is hinted shuffle_hash — a broadcast would bypass the " +
        "fact-side shuffle the salting exists to flatten")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("dedup family reads the SHARED shingle stage (InMemory scan, not re-shingle)") {
    // The r6 shared-stage refactor only pays off if consumers actually
    // hit the persisted intermediate — a regression back to per-query
    // shingling would show a parquet scan of documents instead of an
    // InMemoryTableScan. (Build one query first so the stage exists.)
    Catalog.byName("q_dedup_shingle_stage").build(spark, sfDir).count()
    Seq("q_dedup_minhash", "q_dedup_ngram_jaccard", "q_dedup_simhash",
        "q_dedup_pipeline").foreach { name =>
      val p = planOf(name)
      assert(p.contains("InMemoryTableScan"),
        s"$name must read the cached shingle stage:\n$p")
    }
  }

  test("text family reads the SHARED token stage (InMemory scan, not re-split)") {
    // r8 mirror of the dedup pin: the Tokenized memo only pays off if
    // every token consumer hits the persisted intermediate — a
    // regression back to per-query split(text) would show a parquet
    // scan of documents instead of an InMemoryTableScan.
    graft.operators.TextQueries.Tokenized(spark, sfDir).count()
    Seq("q_text_tokenize_explode", "q_text_wordcount_tf", "q_text_quality",
        "q_text_token_count", "q_text_tfidf", "q_text_filter_pipeline",
        "q_text_repetition", "q_text_perplexity", "q_text_collocations",
        "q_text_kl_drift", "q_text_bm25",
        // r11 consumers: the sampling decisions, chunking, and the
        // composed funnel all read the same persisted stage.
        "q_sample_token_budget", "q_sample_perplexity_bucket",
        "q_sample_domain_mix", "q_text_chunk",
        "q_pipeline_funnel").foreach { name =>
      val p = planOf(name)
      assert(p.contains("InMemoryTableScan"),
        s"$name must read the cached token stage:\n$p")
    }
  }

  test("q_text_perplexity broadcasts the LM and total; one doc-keyed shuffle") {
    // The scale contract of the perplexity filter: the unigram LM
    // collapses to the vocabulary and BROADCASTS (with the 1-row
    // total); the corpus side pays exactly one keyed exchange — the
    // per-doc aggregation. An SMJ or a second hash exchange on the big
    // side means the LM side shuffled the corpus.
    val p = planOf("q_text_perplexity")
    assert(p.contains("BroadcastHashJoin"),
      s"LM join must broadcast the vocabulary side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side must never sort-merge against the LM:\n$p")
  }

  test("q_layout_dpp injects a dynamicpruning filter into the fact scan") {
    // The row's reason to exist: the fact predicate on the partition
    // column arrives only THROUGH the join, so the scan must carry a
    // dynamicpruning subquery — without it the query reads all five
    // type directories and the layout bought nothing. AQE scoped off
    // for the inspection only (under AQE the scan hides inside
    // QueryStageExec wrappers; DPP itself is an optimizer rule and
    // fires identically either way — PartitionedWriteSpec's note).
    val aqeKey = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      val p = Catalog.byName("q_layout_dpp").build(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"expected a dynamicpruning partition filter on the fact scan:\n$p")
    } finally prior match {
      case Some(v) => spark.conf.set(aqeKey, v)
      case None    => spark.conf.unset(aqeKey)
    }
  }

  test("q_text_kl_drift aggregates only vocab-bounded sides (no corpus join)") {
    // Both strata collapse to the vocabulary BEFORE anything joins:
    // the only joins in the plan are vocab-sized (full-outer between
    // the two strata counts, broadcast totals). A join whose input is
    // the raw token stream would put a Generate above a join.
    val p = planOf("q_text_kl_drift")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals side must broadcast:\n$p")
  }

  test("q_text_repetition is shuffle-free: per-row statistic, zero exchanges") {
    // The repetition score is per-document; the r8 rewrite computes it
    // inside one projection (array_sort + aggregate HOF). The only
    // allowed exchange is the final presentation orderBy's range
    // partitioning — anything more means the explode+agg shape crept
    // back.
    val p = planOf("q_text_repetition")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected at most the orderBy exchange:\n$p")
    assert(!p.contains("Generate"), s"no explode should remain:\n$p")
  }

  test("q_dedup_fuzzy compares within blocks: equi join, never a cross product") {
    // Levenshtein has no shuffle key of its own — the operator is only
    // scale-sane because the edit-distance filter runs AFTER an equi
    // join on the block prefix. A regression to a theta/cross join
    // (e.g. someone 'simplifying' the blocked join away) would be
    // all-pairs at 100 TB.
    val p = planOf("q_dedup_fuzzy")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy dedup must stay block-keyed:\n$p")
    assert(p.contains("levenshtein"), "edit distance must be in-plan")
  }

  test("q_dedup_semantic: cluster-keyed candidate join, never all-pairs") {
    // SemDeDup is only scale-sane if the pairwise cosine stays
    // restricted to the label-keyed equi join — an all-pairs regression
    // (dropped key, broadcast-nested-loop fallback) is exactly the
    // quadratic the ScaleSpec frozen-k control demonstrates.
    val p = planOf("q_dedup_semantic")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"semantic dedup must stay label-keyed:\n${p.take(2000)}")
  }

  test("q_graph_modularity: reads the persisted edge stage, brand dim " +
    "broadcasts") {
    val p = planOf("q_graph_modularity")
    assert(p.contains("InMemoryTableScan"),
      s"modularity must read the persisted coEdges/coDegrees stages:\n" +
        p.take(2000))
    assert(p.contains("BroadcastHashJoin"),
      s"the brand dimension must broadcast:\n${p.take(2000)}")
  }

  test("q_dedup_ppjoin: broadcast token frequencies, keyed joins only") {
    // The lossless prefix filter is only scale-sane if the frequency
    // side broadcasts (vocabulary-bounded) and candidate generation +
    // verification stay keyed equi joins — all-pairs must exist ONLY
    // in the DuckDB twin.
    val p = planOf("q_dedup_ppjoin")
    assert(p.contains("BroadcastHashJoin"),
      s"token frequencies must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"ppjoin must never go all-pairs:\n$p")
  }

  test("link predictors: wedge classes read the persisted oriented " +
    "stage, keyed joins only") {
    // The r9 class-split is only a win if the six self-join sides scan
    // the persisted m-row oriented table (InMemoryTableScan) instead of
    // re-deriving the five-join pipeline (measured 4-10x), and every
    // wedge class stays a keyed equi join.
    for (name <- Seq("q_graph_common_neighbors", "q_graph_resource_alloc",
      "q_graph_adamic_adar", "q_graph_jaccard_neighbors")) {
      val p = planOf(name)
      assert(p.contains("InMemoryTableScan"),
        s"$name must read the persisted oriented stage:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$name wedge enumeration must stay keyed:\n${p.take(2000)}")
    }
  }

  test("q_text_bpe_tokens: vocab-level encode broadcast-joins back, one " +
    "token-stage scan family") {
    // The scale contract: the per-word encode output is vocab-sized and
    // must BROADCAST onto the token stage (a shuffled join would move
    // the corpus for a dictionary lookup); no cartesian anywhere.
    val p = planOf("q_text_bpe_tokens")
    assert(p.contains("BroadcastHashJoin"),
      s"encoded vocab must broadcast onto the token stage:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"bpe must stay keyed:\n${p.take(2000)}")
  }

  test("q_text_unigram_tokens: vocab-level Viterbi encode broadcast-" +
    "joins back, no cartesian") {
    // Same scale contract as the BPE row: the per-word segmentation
    // output is vocab-sized and must broadcast onto the token stage.
    val p = planOf("q_text_unigram_tokens")
    assert(p.contains("BroadcastHashJoin"),
      s"encoded vocab must broadcast onto the token stage:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"unigram encode must stay keyed:\n${p.take(2000)}")
  }

  test("q_pipeline_rag shortlist: candidates are cell-pruned BEFORE " +
    "scoring, the embedding join is keyed, top-k is a bounded heap") {
    // The 100 TB contract of the composed retrieval row: the IVF filter
    // must sit in the plan (candidates pruned by cell id, not scored
    // corpus-wide), the chunk ⋈ embedding join must stay an equi join
    // (broadcast at fixture scale), and the shortlist must come from
    // TakeOrderedAndProject (per-task heaps), never a global sort.
    val p = operators.RagPipeline.shortlistFrame(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Catalyst collapses the `cell` projection into the Filter, so the
    // pruning predicate appears as the inlined argmin `... as int) IN
    // (c1,c2,c3)` — assert the membership test is present in a Filter
    // over the cached chunk-vector table (candidates pruned by cell
    // BEFORE the re-rank scoring; r13 moved the encoder's joins into
    // the materialized ChunkVectors stage, audited separately below).
    val filterLines = p.linesIterator.filter(_.contains("Filter")).mkString
    assert(filterLines.contains(") IN (") &&
      filterLines.contains("array_position"),
      s"cell-pruning filter missing from the candidate scan:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"rag shortlist must stay keyed:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap, not a global sort:\n${p.take(2000)}")
    // The ENCODER build (the stage ChunkVectors materializes): the
    // doc-anchor join must broadcast at fixture scale, and every join
    // in the chain must stay keyed — the refinement agg joins back on
    // (doc_id, chunk_id), never a cross product.
    val pe = operators.RagPipeline.chunkCorpus(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(pe.contains("BroadcastHashJoin"),
      s"chunk-embedding anchor join must broadcast at fixture scale:\n${
        pe.take(2000)}")
    assert(!pe.contains("BroadcastNestedLoopJoin") &&
      !pe.contains("CartesianProduct"),
      s"chunk encoder must stay keyed:\n${pe.take(2000)}")
  }

  test("q_dedup_sorted_neighborhood: per-block window, equi-join pairing") {
    // Two scale contracts: the rank window is PARTITIONED (a global
    // Window.orderBy would funnel the corpus to one task), and the
    // neighbor pairing reaches the planner as a keyed equi join — the
    // BETWEEN form of the same predicate would plan as BNLJ.
    val p = planOf("q_dedup_sorted_neighborhood")
    assert(p.contains("Window"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rank pairing must stay an equi join:\n$p")
  }

  test("q_gdpr_erasure_multi: every table filters via broadcast anti join") {
    // The DSR list is queue-sized; each of the three subject-keyed
    // tables must anti-join against a BROADCAST of it — a single
    // SortMergeJoin here would shuffle a fact table on the subject key
    // just to delete ~10% of subjects.
    val p = planOf("q_gdpr_erasure_multi")
    val antis = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(antis >= 3, s"expected 3 broadcast anti joins, found $antis:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"facts must never shuffle on the subject key:\n$p")
  }

  test("q_vec_knn_ivfpq: partial top-k over codes, broadcast re-rank over floats") {
    // The composed ANN pipeline's scale contract: the ADC shortlist is
    // a TakeOrderedAndProject (per-partition partial top-k, tiny
    // final — not a global sort), and the float corpus is only touched
    // through a BROADCAST join of that 50-row shortlist.
    val p = planOf("q_vec_knn_ivfpq")
    assert(p.contains("TakeOrderedAndProject"),
      s"ADC top-k must be a partial top-k:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the re-rank must broadcast the shortlist:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the float corpus must not shuffle for a 50-row re-rank:\n$p")
  }

  test("q_report_momentum windows run over the aggregate, not the fact") {
    // Join shuffle + agg shuffle + one window repartition on the ~400-row
    // aggregate; any more exchanges means the windows slid under the agg.
    val p = planOf("q_report_momentum")
    assert(p.contains("Window"))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 4, s"expected <= 4 exchanges, got $exchanges:\n$p")
  }

  test("q_dedup_embedding's self-join reuses one banded exchange") {
    // Both sides of the candidate join must come from the SAME keyed
    // subtree so the hyperplane projections + shuffle run once; a
    // regression to per-side renames below the join (different
    // canonical plans) silently doubles the dominant vec_dot compute.
    val df = Catalog.byName("q_dedup_embedding").build(spark, sfDir)
    df.collect() // AQE finalizes reuse at execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"),
      s"banded self-join must reuse the keyed exchange:\n$p")
  }

  test("q_join_bucketed joins without exchanging either side") {
    val p = planOf("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan must be bucket-aware:\n$p")
    // The only exchanges allowed sit ABOVE the join (group-by + final
    // order-by); the join inputs come pre-bucketed from disk. A Sort may
    // appear (multi-file buckets lose the sortBy guarantee) — a sort is
    // local; the exchange is the network cost bucketing exists to kill.
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"bucketed join must not shuffle its inputs:\n$p")
  }

  test("q_merge_upsert applies the changelog on ONE keyed shuffle") {
    val p = planOf("q_merge_upsert")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"newest-wins apply must be a single hash shuffle on the merge key:\n$p")
  }

  test("q_text_tfidf broadcasts the vocabulary and corpus-count sides") {
    val p = planOf("q_text_tfidf")
    assert(p.contains("BroadcastHashJoin"),
      s"df join must broadcast the vocabulary side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"tf side must never shuffle for the df/N joins:\n$p")
  }

  test("runtime bloom filter prunes the fact scan under a selective dim join") {
    // At 100 TB the fact side of a selective join should be pre-filtered
    // by a bloom filter built from the dim side's join keys before the
    // shuffle — Spark's InjectRuntimeFilter does exactly this. Thresholds
    // are scoped down so the fixture-sized join triggers the same plan a
    // warehouse-scale SMJ would get (the app-side size gate exists only
    // to skip the overhead on small scans; broadcast is disabled because
    // a broadcast join already prunes via its hashed relation).
    // Same scope as the product query — bloomScope exists precisely so
    // this audit and q_join_bloom_filtered can never drift apart.
    import org.apache.spark.sql.functions.col
    val scoped = operators.JoinQueries.bloomScope(spark)
    locally {
      val dim = Scope.bind(Tables.orders(spark, sfDir), scoped)
        .where(col("o_orderstatus") === "P")
      val fact = Scope.bind(Tables.lineitem(spark, sfDir), scoped)
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.toLowerCase.contains("bloomfilter"),
        s"expected a runtime bloom filter on the fact side:\n$p")
    }
  }

  test("q_anomaly_zscore broadcasts the 5-row stats table back onto the scan") {
    val p = planOf("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-type stats join must broadcast, never shuffle the events:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats join regressed to SMJ:\n$p")
  }

  test("q_hist_binned is one partial-agg shuffle over a broadcast-bounded scan") {
    val p = planOf("q_hist_binned")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"histogram must shuffle once (the 20-bin agg), got $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bounds must attach via broadcast:\n$p")
  }

  test("q_text_contamination probes the benchmark set via broadcast semi join") {
    val p = planOf("q_text_contamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"benchmark membership must be a broadcast semi probe:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side must never shuffle on the shingle key:\n$p")
  }

  test("q_agg_incremental prunes both partition scans on the split date") {
    val p = formattedPlan("q_agg_incremental")
    assert(p.contains("PushedFilters"))
    assert(p.contains("LessThan(o_orderdate") &&
      p.contains("GreaterThanOrEqual(o_orderdate"),
      s"base and delta scans must both push the date split to parquet:\n$p")
  }

  test("q_ts_ewma shuffles once on user_id; the chain itself is narrow") {
    val p = planOf("q_ts_ewma")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"the EWMA pass needs exactly the one user_id repartition, got $hashEx:\n$p")
  }

  test("q_ts_ohlc is ONE partial-agg shuffle onto the bar domain") {
    val p = planOf("q_ts_ohlc")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"all five bar aggregates are monoids — map-side combine must leave " +
        s"exactly the one (bar, type) shuffle, got $hashEx:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing in the bar resample may funnel to one partition:\n$p")
  }

  test("q_ts_interpolate windows run over the calendar spine, not the facts") {
    val p = planOf("q_ts_interpolate")
    // One fact shuffle (the daily partial agg); the ignoreNulls windows
    // and the spine join order globally but over a DAY-domain-sized
    // frame — the same boundedness contract q_ts_gapfill pins.
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2,
      s"only the day-grained aggregate (and spine join) may hash-shuffle, " +
        s"got $hashEx:\n$p")
    assert(p.contains("Window"), "interpolation must use window carry")
  }

  test("q_vec_pq encoding is shuffle-free (codebook is broadcast literal state)") {
    val p = planOf("q_vec_pq")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0,
      s"PQ encode must be a narrow pass — codebooks are literals, " +
        s"no join, no agg before the final sort:\n$p")
  }

  test("q_view_incremental_join reads the stored base, scans orders ONCE") {
    val p = planOf("q_view_incremental_join")
    assert(p.contains("InMemoryTableScan"),
      s"the base view must come from the materialized store, not a re-join:\n$p")
    // The InMemoryRelation node EMBEDS its build-time plan (with its own
    // orders scan) in the string — that plan ran once at materialization
    // and never again, so strip the cached subtree before counting what
    // the REFRESH actually scans.
    val lines = p.linesIterator.toVector
    val imr = lines.indexWhere(_.contains("InMemoryRelation"))
    assert(imr >= 0)
    def depth(l: String) = l.takeWhile(c => c == ' ' || c == ':').length
    val live = lines.take(imr + 1) ++
      lines.drop(imr + 1).dropWhile(l => depth(l) > depth(lines(imr)))
    val ordersScans = live.count(_.contains("orders.parquet"))
    assert(ordersScans == 1,
      s"refresh may scan the fact table only for the delta ($ordersScans " +
        s"scans found) — re-reading the base partition defeats " +
        s"incrementality:\n$p")
    assert(live.exists(_.contains("GreaterThanOrEqual(o_orderdate")),
      s"the delta predicate must reach the parquet scan:\n$p")
  }

  test("q_profile_table: column-pruned scans, no Expand, all codegen'd") {
    val p = formattedPlan("q_profile_table")
    // One monoid scan (5 columns) + one single-column scan per distinct:
    // under columnar storage that is the same I/O as one wide scan —
    // but NOT the same plan as the 5-distincts-in-one-agg trap, which
    // expands the input ×5 into SortAggregate stages (measured 12×
    // slower). Absence of Expand IS the regression pin.
    assert(!p.contains("Expand"),
      s"profile must never take the multi-distinct Expand path:\n$p")
    val scans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(scans == 6, s"expected 1 monoid + 5 distinct scans, got $scans")
    // every distinct scan reads exactly one column
    val readSchemas = p.linesIterator
      .filter(_.contains("ReadSchema: struct<"))
      .map(l => l.substring(l.indexOf("struct<")).count(_ == ':')).toVector
    assert(readSchemas.count(_ == 1) == 5 && readSchemas.count(_ == 5) == 1,
      s"scans must be column-pruned to their statistic: $readSchemas\n$p")
  }

  test("q_graph_triangles joins through the persisted edge set, all equi") {
    val p = planOf("q_graph_triangles")
    assert(p.contains("InMemoryTableScan"),
      s"deg/orientation/closure must reuse the persisted edges:\n$p")
    assert(!p.contains("CartesianProduct"))
    // wedge build + closure are keyed joins; the only nested-loop
    // allowed is the final 1-row × 1-row stat stitch
    val bnl = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 2, s"unexpected non-equi joins ($bnl):\n$p")
  }

  test("no query plan contains a cartesian product") {
    // Streaming replay rows are excluded: their build RUNS the whole
    // AvailableNow replay and returns a bare parquet read of the landed
    // output — auditing that scan is vacuous and costs a full replay
    // each. Their incremental semantics live in StreamingSpec.
    Catalog.all.filterNot(_.name.startsWith("q_stream_")).foreach { q =>
      val p = planOf(q.name)
      assert(!p.contains("CartesianProduct"),
        s"${q.name} degenerated to a cartesian product")
    }
  }

  test("q_win_running_distinct shuffles once: both windows share the " +
      "user_id partitioning") {
    val p = planOf("q_win_running_distinct")
    // The first-occurrence mark deliberately orders by (type, ts, id)
    // WITHIN the user partition instead of partitioning by (user, type):
    // one exchange on user_id, two in-partition sorts. A second hash
    // exchange means the rewrite regressed to the two-shuffle form.
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly one user_id exchange:\n$p")
    assert(p.contains("Window"), "must plan as window functions")
  }

  test("q_graph_resource_alloc stays keyed end to end with a partial top-k") {
    val p = planOf("q_graph_resource_alloc")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "wedge enumeration must be the keyed self-join, never all-pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be partial per partition, not a global sort:\n$p")
  }

  test("q_ts_seasonal and q_ts_cusum scan the fact table exactly once") {
    // Both rows were rewritten in review r8 from groupBy+join-back to a
    // window formulation precisely so the one expensive pass (the fact
    // scan) is not duplicated — pin that it stays single.
    Seq("q_ts_seasonal", "q_ts_cusum").foreach { name =>
      val p = planOf(name)
      val scans = p.linesIterator.count(l =>
        l.contains("Scan parquet") || l.contains("FileScan parquet"))
      assert(scans == 1, s"$name: expected one events scan, got $scans:\n$p")
      assert(p.contains("Window"), s"$name must use the window form:\n$p")
    }
  }

  test("q_text_bm25 broadcasts idf and the corpus scalars; no SMJ") {
    // Same scale contract as perplexity: the query-sized idf table and
    // the 1-row N/T scalars broadcast; the corpus pays keyed exchanges
    // only on the query-term-filtered (doc, term) stream. A
    // SortMergeJoin would mean a corpus-sized side shuffled against
    // the query side.
    val p = planOf("q_text_bm25")
    assert(p.contains("BroadcastHashJoin"),
      s"idf join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-vs-query sort-merge expected:\n$p")
  }

  test("q_events_rfm: quintile windows partition by bucket; only " +
    "domain-sized sides run single-partition") {
    // The whole point of bucketNtiles: the USER table is never fed to an
    // unpartitioned window. Each of the three rank steps is one
    // bucket-partitioned window over the users; only the bucket
    // histogram's offsets run on tiny single-partition sides.
    val p = planOf("q_events_rfm")
    assert(p.contains("hashpartitioning(__bkt"),
      s"per-user ranks must come from bucket-partitioned windows:\n$p")
    // Every downstream read (one per dimension into the histogram + the
    // rank chain's rows) must go through the persisted per-user aggregate —
    // at runtime the events fixture is scanned once to materialize it.
    // Exchange/scan LINE counts are not pinned: each InMemoryTableScan
    // re-prints the cached child plan, so strings multiply without the
    // runtime multiplying.
    val imts = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(imts >= 4,
      s"quintile passes must read the persisted aggregate " +
        s"(got $imts InMemory scans):\n$p")
  }

  test("q_events_rfm: one bucket histogram per call, no join back on " +
    "user_id, at most 8 jobs per warm call") {
    val build = Catalog.byName("q_events_rfm").build
    build(spark, sfDir).count() // fills the persisted aggregate
    val jobs = JobLog.during(spark)(build(spark, sfDir).count())
    assert(jobs.size <= 8, s"${jobs.size} jobs per warm call")
    // The full result, as Verify writes it; after the action the plan is
    // the executed one, with any reused exchange as a leaf.
    val df = build(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(!p.toString.contains("SortMergeJoin"),
      s"the three rank steps must chain, not join back:\n$p")
    val hist = collect(p) {
      case a: HashAggregateExec
          if a.groupingExpressions.map(_.name) == Seq("dim", "bkt") &&
            a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(hist.size == 1,
      s"the (dim, bucket) histogram must be aggregated once:\n$p")
  }

  test("q_anomaly_mad: both median extractions run bucket-partitioned") {
    val p = planOf("q_anomaly_mad")
    assert(p.contains("hashpartitioning(event_type"),
      s"medians must rank within (type, bucket) partitions:\n$p")
    // offsets/totals attach via broadcast — the events never sort-merge
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"median model joins must broadcast:\n$p")
  }

  test("q_join_asof_nearest contains no join operator at all") {
    // Nearest-direction as-of via two stacked frames over one per-user
    // sort: the correct physical shape is window-only. Any Join node
    // means the formulation regressed to a range join.
    val p = planOf("q_join_asof_nearest")
    assert(!p.contains("Join"), s"expected a join-free window plan:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"windows must partition by user:\n$p")
  }

  test("q_ts_streaks windows partition by user; no global sort of days") {
    val p = planOf("q_ts_streaks")
    assert(p.contains("hashpartitioning(user_id"),
      s"island windows must partition by user_id:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no stage of the streak pipeline is single-partition:\n$p")
  }

  test("q_vec_pca: one moment-cell aggregation; projection is a narrow " +
    "vec_dot scan") {
    val p = planOf("q_vec_pca")
    assert(p.contains("vec_dot"),
      s"projection must go through the codegen'd vec_dot:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0,
      s"the projection scan must not shuffle (model is driver state), " +
        s"got $hashEx exchanges:\n$p")
  }

  test("q_prep_impute_mean broadcasts the 3-row means back onto the scan") {
    val p = planOf("q_prep_impute_mean")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"group-means must attach via broadcast:\n$p")
  }

  test("q_prep_bucketize: fact windows partition by bin; only the bounded " +
    "bin/total sides are single-partition") {
    val p = planOf("q_prep_bucketize")
    assert(p.contains("hashpartitioning(bin"),
      s"the in-bin row_number must run bin-partitioned:\n$p")
    // Allowed single-partition stages: the ≤400-row bin-offset cumsum
    // window and the 1-row total. The 600k-row fact side must never
    // collapse to one partition — that is the NTILE scale-killer this
    // query exists to avoid.
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 2,
      s"expected only the two domain-sized single-partition sides, " +
        s"got $single:\n$p")
  }

  test("q_prep_hash_features is one user-keyed shuffle, no pivot pass") {
    val p = planOf("q_prep_hash_features")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"SUM(CASE) vectors must form in a single user_id exchange, " +
        s"got $hashEx:\n$p")
  }

  test("q_dq_orphans: every fk audit anti-joins against a broadcast dim") {
    val p = planOf("q_dq_orphans")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"orphan checks must be broadcast anti joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the fact side must never shuffle for a dimension audit:\n$p")
  }

  test("q_graph_clustering_coeff: wedge closure stays equi (no cartesian)") {
    val p = planOf("q_graph_clustering_coeff")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"corner accounting must ride the keyed wedge join:\n$p")
  }

  test("q_ts_vwap is one partial-agg shuffle to the month domain") {
    val p = planOf("q_ts_vwap")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"VWAP must collapse the fact scan in a single keyed exchange:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      s"no fact-sized single-partition stage:\n$p")
  }

  test("q_events_dau_wau: anchors join keyed; only the 1-row lo bound is " +
    "single-partition") {
    val p = planOf("q_events_dau_wau")
    // The 1-row min(day) scalar attaches via a broadcast nested-loop
    // cross — the documented broadcast-scalar pattern (build side is
    // one row). What must NOT appear is an unbroadcast cartesian.
    assert(!p.contains("CartesianProduct"),
      s"anchor contribution must stay keyed:\n$p")
    assert(p.contains("hashpartitioning"),
      s"the dau/wau join must be keyed:\n$p")
    // The 1-row min(day) agg is the only single-partition stage; its
    // exchange node can PRINT twice in the tree (broadcast reuse), so
    // count distinct plan ids, not lines.
    val single = p.linesIterator.filter(_.contains("Exchange SinglePartition"))
      .map(_.replaceAll(".*plan_id=", "")).toSet.size
    assert(single <= 1,
      s"only the 1-row min(day) agg may be single-partition, got $single:\n$p")
  }
  test("q_text_pack windows per source — no single-partition global sort") {
    val p = planOf("q_text_pack")
    // The packing cumsum must partition by source; an unpartitioned
    // running sum would serialize the whole corpus through one task
    // (the one shape that cannot scale). The final presentation
    // orderBy is fine — it's the WINDOW that must stay keyed.
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty)
    assert(windowLines.forall(_.contains("source")),
      s"packing window lost its source partitioning:\n${windowLines.mkString("\n")}")
  }

  test("q_sample_temperature broadcasts the 5-row target table") {
    val p = planOf("q_sample_temperature")
    assert(p.contains("BroadcastHashJoin"),
      "lang targets must broadcast, never shuffle the corpus for a 5-row join")
    // The rank window stays lang-partitioned (same rule as fixed-k).
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(_.contains("lang")),
      s"rank window lost its lang partitioning:\n${windowLines.mkString("\n")}")
  }

  test("q_stat_mann_kendall pairs join on the bounded day domain, " +
    "after aggregation") {
    val p = formattedPlan("q_stat_mann_kendall")
    // The all-pairs self-join must sit ABOVE the (type, day) partial
    // aggregation — the events table is aggregated exactly twice (the
    // two join sides), never pairwise-joined raw. HashAggregate
    // appearing below the join in the tree is the evidence; a raw
    // fact-side pair join would also show as a nested-loop/cartesian.
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must stay an equi join on event_type")
    assert(p.contains("HashAggregate"),
      "daily aggregation must precede the pair join")
  }

  test("r10 stat rows: the fact table collapses before any ladder/pair work") {
    // Welch / Mann-Whitney / KS / Gini / Pettitt all partial-agg the
    // events scan to a bounded domain first; none may nested-loop or
    // cartesian anything fact-sized (the 1-row/5-row broadcast scalar
    // cross joins are BNLJ by construction and fine — so the pin is on
    // cartesian products and on aggregation existing below the joins).
    Seq("q_stat_welch_t", "q_stat_mann_whitney", "q_stat_ks", "q_stat_gini",
      "q_stat_pettitt").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name went cartesian")
      assert(p.contains("HashAggregate"), s"$name lost its partial agg")
    }
  }

  test("q_prep_target_encode and q_prep_woe broadcast the dim and " +
    "never re-shuffle facts") {
    Seq("q_prep_target_encode", "q_prep_woe").foreach { name =>
      val p = planOf(name)
      assert(p.contains("BroadcastHashJoin"), s"$name must broadcast part")
      assert(!p.contains("SortMergeJoin"),
        s"$name shuffled the fact side for a 25-row dim")
    }
  }

  test("q_vec_feature_hash is explode + two keyed aggs, no broadcast model") {
    val p = planOf("q_vec_feature_hash")
    assert(p.contains("Generate explode") || p.contains("Generate posexplode"),
      "projection must derive from posexplode, not a materialized matrix")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "the derived +/-1 matrix must not appear as a join at all")
  }

  test("q_join_pit is a join-free user-keyed window plan with a pruned scan") {
    // The PIT lookup must run as the union-window as-of form: any Join
    // node means it regressed to the interval join the ORACLE runs.
    val p = planOf("q_join_pit")
    assert(!p.contains("Join"), s"expected a join-free window plan:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"the version-carry window must partition by user:\n$p")
    assert(p.contains("PushedFilters") && p.contains("event_type"),
      s"the two-type filter must reach the parquet scan:\n$p")
  }

  test("q_ts_m4 reads the persisted daily stage on both sides of its join") {
    // M4's per-bucket extremes and the attribute-lookup self-join must
    // run on the PERSISTED (type x day) stage — un-persisted, each side
    // re-derives the fact aggregation (measured: two events scans).
    // Scan-line counts are not pinned (InMemoryTableScan re-prints its
    // cached child plan); the InMemory read itself is the contract.
    val p = planOf("q_ts_m4")
    assert(p.contains("InMemoryTableScan"),
      s"both M4 sides must read the persisted daily stage:\n$p")
  }

  test("q_survival_km and q_win_islands keep their heavy windows user-keyed") {
    Seq("q_survival_km" -> "user_id", "q_win_islands" -> "user_id")
      .foreach { case (name, key) =>
        val p = planOf(name)
        val windowLines = p.linesIterator.filter(l =>
          l.contains("Window") && !l.contains("windowFrame")).toVector
        // at least one window partitioned on the user key; any
        // unpartitioned window must be the bounded duration/length ladder
        assert(windowLines.exists(_.contains(key)),
          s"$name: no $key-partitioned window found:\n${windowLines.mkString("\n")}")
      }
  }

  test("new stat rows are single-scan: one partial-agg shuffle, no joins") {
    // jarque-bera / runs / friedman collapse the fact table through ONE
    // partial aggregation; everything after runs over the bounded
    // (type x day) domain. A second parquet scan or any join would mean
    // the decomposition regressed to a multi-pass shape.
    Seq("q_stat_jarque_bera", "q_stat_runs", "q_stat_friedman").foreach {
      name =>
        val p = planOf(name)
        val scans = p.linesIterator.count(_.contains("Scan parquet"))
        assert(scans == 1, s"$name: expected 1 fact scan, got $scans:\n$p")
        assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
          s"$name: no join belongs in this plan:\n$p")
    }
  }

  test("q_stat_cramers_v scans once; margins attach via bounded windows") {
    val p = planOf("q_stat_cramers_v")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 fact scan, got $scans:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"margin windows must not become joins:\n$p")
  }

  test("q_stat_bootstrap fans out in the projection, aggregates before the shuffle") {
    val p = planOf("q_stat_bootstrap")
    assert(p.contains("Generate explode"),
      s"the 64-replicate fan-out must be a narrow explode:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 fact scan, got $scans:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no join belongs in this plan:\n$p")
    // partial aggregation must sit under (print: after) the bottom-most
    // exchange so the shuffle carries |types|*64 combined rows, not the
    // exploded fact stream
    val lines = p.linesIterator.toVector
    val lastEx = lines.lastIndexWhere(_.contains("Exchange hashpartitioning"))
    val lastPartial = lines.lastIndexWhere(_.contains("partial_sum"))
    assert(lastEx >= 0 && lastPartial > lastEx,
      s"map-side combine must sit below the first exchange:\n$p")
  }

  test("q_ts_kalman: one day-domain agg feeds the O(1)-state chain") {
    val p = planOf("q_ts_kalman")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 fact scan, got $scans:\n$p")
    assert(p.contains("Coalesce 1"),
      s"the sequential chain runs in one partition by construction:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_ts_pacf reads the persisted day index, never re-scanning the facts") {
    val p = planOf("q_ts_pacf")
    // Scan-line counts are not pinned (InMemoryTableScan re-prints its
    // cached child plan); the InMemory reads are the contract.
    val imts = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(imts >= 7,
      s"all seven series references must read the persisted stage, got $imts:\n$p")
  }

  test("q_dedup_containment pairs candidates via an equi join, never all-pairs") {
    val p = planOf("q_dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment must join on the block key:\n$p")
  }

  test("q_ts_bursts: one domain agg feeds the per-type keyed chain") {
    val p = planOf("q_ts_bursts")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 fact scan, got $scans:\n$p")
    assert(p.contains("MapGroups"),
      s"the decoder must run as a keyed flatMapGroups chain:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_events_paths reuses the session exchange and top-20s via heap") {
    val p = planOf("q_events_paths")
    // The window keys by (user_id, day) and the path groupBy keys by the
    // same pair — ONE exchange covers both; only the tiny path-count
    // table re-shuffles. A third fact-sized exchange means the reuse
    // regressed.
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 exchanges (session + path counts):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_vec_outlier ships only top-5 heaps per probe through the shuffle") {
    val p = planOf("q_vec_outlier")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"bounded-heap typed aggregator must drive the probe grouping:\n$p")
    assert(p.contains("partial"),
      s"map-side partial top-k must precede the probe shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the probe set must broadcast, never shuffle the corpus:\n$p")
  }

  test("q_events_decay collapses to the day domain before weighting") {
    val p = planOf("q_events_decay")
    // The decay weights must apply to the bounded (type × day) table,
    // not per fact row: one partial-agg exchange for the daily stage
    // (+ its reuse for the anchor), broadcast anchor, final type agg.
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row anchor must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_events_churn self-joins user-keyed, never all-pairs") {
    val p = planOf("q_events_churn")
    assert(!p.contains("CartesianProduct"),
      s"retained must be a keyed equi join:\n$p")
    val single = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(single <= 2,
      s"only the max-week anchor may single-partition, got $single:\n$p")
  }

  test("q_graph_hits is two keyed agg-join rounds, no quadratic step") {
    val p = planOf("q_graph_hits")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"HITS rounds must join on edge endpoints:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the node-bounded score tables must broadcast into the edges " +
        s"(the static planner SMJ-shuffled the edge list twice):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 authorities must be a bounded heap:\n$p")
  }

  test("q_basket_rules explodes combinations in-projection, no basket self-join") {
    val p = planOf("q_basket_rules")
    // Pairs must come from the per-order brand set's own explode over
    // the PERSISTED basket stage (InMemoryRelation.toString embeds the
    // cached child plan, so raw "Scan parquet" counts overstate — pin
    // the InMemory read instead), assembled by broadcast joins only.
    assert(p.contains("InMemoryTableScan"),
      s"every reference must read the persisted basket stage:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rule assembly must broadcast the bounded tables:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap:\n$p")
  }

  test("q_stat_wilcoxon ranks only the bounded day domain") {
    val p = planOf("q_stat_wilcoxon")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"one fact scan feeding the day collapse:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scalar assembly joins must broadcast:\n$p")
  }

  test("q_text_mutual_info attaches margins by broadcast, top-20s via heap") {
    val p = planOf("q_text_mutual_info")
    assert(!p.contains("SortMergeJoin"),
      s"the |V| and |classes| margins must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a bounded heap:\n$p")
  }

  test("q_ml_confusion reads the persisted prediction stage") {
    val p = planOf("q_ml_confusion")
    assert(p.contains("InMemoryTableScan"),
      s"both confusion sides must read the shared NB prediction frame:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the class meet is bounded — must broadcast:\n$p")
  }

  test("q_text_naive_bayes scores via broadcast model joins only") {
    val p = planOf("q_text_naive_bayes")
    // The vocab×classes grid, priors, OOV table, and the two scalar
    // counts are all bounded model state: every join against the test
    // tokens must broadcast. A SortMergeJoin means the corpus started
    // shuffling on a model key.
    assert(!p.contains("SortMergeJoin"),
      s"model joins must broadcast, never shuffle the corpus:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the only cross joins are 1-row scalars (BroadcastNestedLoop):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"grid scoring must be a broadcast hash join:\n$p")
  }
}
