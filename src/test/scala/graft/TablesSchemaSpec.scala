package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.streaming.Snapshot

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Schema-bound fixture reads ([[Tables]]): the memoized schema equals
  * what inference gives, a rewritten file or a changed inference conf
  * is inferred again, and a warm row build starts no job. */
class TablesSchemaSpec extends AnyFunSuite with SparkFixture {

  /** Jobs started on this thread while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "tables-schema-" + System.nanoTime()
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) seen.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      seen.get
    } finally sc.removeSparkListener(l)
  }

  test("bound schemas equal inferred ones for every fixture table at sf0.001 and sf0.01") {
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01"); name <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      val bound = Tables(spark, dir, name).schema
      assert(bound == inferred, s"$dir/$name")
      assert(bound.fields.map(_.metadata) sameElements inferred.fields.map(_.metadata))
    }
  }

  test("a file rewritten at the same path is read with its new schema") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("tables_schema_spec")
    val target = tmp.resolve("t.parquet")
    def publish(df: DataFrame): Unit = {
      val staged = tmp.resolve("staged").toString
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = Files.list(tmp.resolve("staged")).filter(
        _.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      publish(Seq((1L, "a"), (2L, "b")).toDF("k", "old_col"))
      assert(Tables(spark, tmp.toString, "t").columns.toSeq == Seq("k", "old_col"))
      publish(Seq((1L, 1.5), (2L, 2.5)).toDF("k", "new_col"))
      val again = Tables(spark, tmp.toString, "t")
      assert(again.columns.toSeq == Seq("k", "new_col"))
      assert(again.orderBy("k").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.5), (2L, 2.5)))
    } finally Snapshot.deleteRecursively(tmp.toString)
  }

  test("a Scope clone with different inference conf gets its own entry") {
    // A private copy of the events fixture, so no other suite's reads
    // have filled its entries.
    val dir = Files.createTempDirectory("tables_schema_conf")
    val events = dir.resolve("events.parquet")
    Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"), events)
    try {
      val d = dir.toString
      assert(jobsDuring(Tables(spark, d, "events")) == 1)
      assert(jobsDuring(Tables(spark, d, "events")) == 0)
      // nanosAsLong flipped: a separate entry, inferred once on the clone.
      val nanos = Scope(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "false")
      assert(jobsDuring(Tables(nanos, d, "events")) == 1)
      assert(jobsDuring(Tables(nanos, d, "events")) == 0)
      assert(Tables(nanos, d, "events").schema ==
        nanos.read.parquet(events.toString).schema)
      // The fixture's ts is parquet timestamp[us] with isAdjustedToUTC =
      // false (FIXTURES.md), whose type nanosAsLong leaves alone; the
      // NTZ inference conf decides it.
      val ltz = Scope(spark, "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
      assert(Tables(spark, d, "events").schema("ts").dataType == TimestampNTZType)
      assert(Tables(ltz, d, "events").schema("ts").dataType == TimestampType)
      assert(Tables(ltz, d, "events").schema ==
        ltz.read.parquet(events.toString).schema)
      assert(Tables.events(ltz, d).schema("ts").dataType == TimestampType)
      // The caller's entry is untouched by the clones'.
      assert(jobsDuring(Tables(spark, d, "events")) == 0)
      assert(Tables(spark, d, "events").schema("ts").dataType == TimestampNTZType)
    } finally Snapshot.deleteRecursively(dir.toString)
  }

  test("a warm build of each olap_batch row starts no job") {
    // perfbench/workloads.json's olap_batch rows.
    val rows = Seq("q_scan_full", "q_join_inner", "q_agg_groupby",
      "q_win_rank", "q_events_rfm", "q_topk", "q_layout_dpp", "q_merge_upsert")
    for (r <- rows) {
      val build = SparkEntry.queries(r)
      build(spark, sfDir)
      assert(jobsDuring(build(spark, sfDir)) == 0, r)
    }
  }
}
