package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-code cache is one JVM-wide LRU of 100 classes
  * (`spark.sql.codegen.cache.maxEntries`). When the classes one pass of
  * a workload needs overflow it, every warm call recompiles, for every
  * row in the pass. This pins that olap_batch's rows fit. */
class CodegenCacheSpec extends AnyFunSuite with SparkFixture {

  test("a third warm pass of the olap_batch rows at sf0.01 compiles " +
      "no generated class") {
    // perfbench/workloads.json's olap_batch rows, run as perfbench
    // times them.
    val rows = Seq("q_scan_full", "q_join_inner", "q_agg_groupby",
      "q_win_rank", "q_events_rfm", "q_topk", "q_layout_dpp", "q_merge_upsert")
    val dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      rows.foreach(r => SparkEntry.queries(r)(spark, dir).count())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val compiles = Seq.fill(3)(pass())
    info(s"compiles per pass: ${compiles.mkString(", ")}")
    assert(compiles.last == 0L,
      s"a warm pass must hit the generated-code cache: $compiles")
  }
}
