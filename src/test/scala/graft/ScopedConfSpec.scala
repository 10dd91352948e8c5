package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Rows that need their own conf (AQE off, replay shuffle sizing, bloom
  * thresholds) set it on a [[Scope]] clone: the shared session's conf
  * must never move while they run, however many run at once, and a
  * scope must inherit every runtime setting the row does not pin. */
class ScopedConfSpec extends AnyFunSuite with SparkFixture {

  private val watched = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    "spark.sql.autoBroadcastJoinThreshold")

  private def snapshot(): Seq[Option[String]] =
    watched.map(spark.conf.getOption)

  /** Streaming-query listener buses registered on the shared context
    * (`listenerBus` is private[spark], hence the reflection). */
  private def streamBuses(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].toArray.toSeq
      .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
  }

  private def rows(name: String): Seq[String] =
    Catalog.byName(name).build(spark, sfDir).collect().map(_.toString).toSeq

  test("concurrent scoped rows leave the shared session's conf untouched") {
    // One row per kind of scope: a fixpoint loop with AQE off, the bloom
    // thresholds, a FoldReplay (shuffle sizing + AQE off).
    val names = Seq("q_graph_kcore", "q_join_bloom_filtered",
      "q_stream_daily_agg")
    // The watcher runs from before the first row to after the last, so
    // a scope that writes the shared conf shows whether or not it
    // restores it.
    val before = snapshot()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Seq[Option[String]]]()
    @volatile var running = true
    val watcher = new Thread(() => {
      while (running) { seen.add(snapshot()); Thread.sleep(1) }
    })
    watcher.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    val (sequential, concurrent) = try {
      val sequential = names.map(n => n -> rows(n)).toMap
      sequential -> names.map(n => n -> pool.submit(() => rows(n)))
        .map { case (n, f) => n -> f.get() }.toMap
    } finally {
      pool.shutdown()
      running = false
      watcher.join()
    }
    seen.add(snapshot())
    assert(seen.size == 1 && seen.contains(before),
      s"shared conf moved while scoped rows ran: ${watched.zip(before)} " +
        s"-> ${seen.toArray.toSeq}")
    names.foreach(n => assert(concurrent(n) == sequential(n), n))
  }

  test("a scope inherits runtime conf the row does not pin") {
    val pKey = "spark.sql.shuffle.partitions"
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevB = spark.conf.getOption(bKey)
    spark.conf.set(pKey, "7")
    spark.conf.set(bKey, "12345")
    try {
      // The bloom scope pins its three keys, not shuffle partitions:
      // its fact shuffle plans at the caller's 7.
      val bloom = Catalog.byName("q_join_bloom_filtered").build(spark, sfDir)
      val plan = bloom.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange hashpartitioning(l_orderkey") &&
        plan.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning(l_orderkey") &&
            l.contains(", 7)")), plan)
      assert(bloom.sparkSession.conf.get(bKey) == "-1")
      // A replay pins shuffle partitions and AQE; its micro-batches see
      // those, and the caller's value for every other key.
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
      val staged = streaming.StreamingQueries.UpsertStage.inDir(spark, sfDir)
      val stream = spark.readStream
        .schema(streaming.StreamingQueries.UpsertStage.schema(spark, staged))
        .option("maxFilesPerTrigger", 1).parquet(staged)
      val buses = streamBuses()
      val root = java.nio.file.Files.createTempDirectory("graft_scope_probe")
        .toString
      streaming.FoldReplay.run(stream, "scope_probe", root) {
          (_, batch: DataFrame, _) =>
        val c = batch.sparkSession.conf
        seen.add(Seq(c.get(pKey), c.get("spark.sql.adaptive.enabled"),
          c.get(bKey)))
      }
      // The clone's query manager registered a listener bus on the
      // shared context; the replay must take it off again.
      assert(streamBuses() == buses)
      assert(!seen.isEmpty)
      seen.forEach(v => assert(v == Seq("4", "false", "12345"), v))
      assert(spark.conf.get(pKey) == "7" &&
        spark.conf.get("spark.sql.adaptive.enabled") == "true")
    } finally {
      spark.conf.set(pKey, "4")
      prevB match {
        case Some(v) => spark.conf.set(bKey, v)
        case None    => spark.conf.unset(bKey)
      }
    }
  }
}
