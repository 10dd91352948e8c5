package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendLog, IvfRefit, MonoidTable, Snapshot,
  UpsertState}

/** Every read of a committed state-table version binds the schema its
  * commit recorded in the pointer, and the monoid fence is the
  * pointer's `@bid` line: building a state read frame starts no job,
  * the bound schema equals what parquet inference returns over the same
  * directories (fields, nullability, metadata), and a replay's
  * micro-batch runs only its writes. */
class StateSchemaSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private val md = new MetadataBuilder().putString("comment", "key").build()

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_schema_$name").toString + "/t"

  /** `read`'s frame starts no job to build, and its schema equals the
    * inferred schema of the directories `pick` selects from `root`'s
    * manifest. */
  private def assertBound(root: String,
      pick: Snapshot.Manifest => Iterable[String] = _.values)(
      read: => DataFrame): DataFrame = {
    var bound: DataFrame = null
    val jobs = JobLog.during(spark) { bound = read }
    assert(jobs.isEmpty, s"building a state read started jobs: $jobs")
    val dirs = pick(Snapshot.currentManifest(root).get).toSeq.distinct
      .sorted.map(Snapshot.versionPath(root, _))
    val inferred = spark.read.parquet(dirs: _*)
    assert(bound.schema == inferred.schema,
      s"bound ${bound.schema.json} != inferred ${inferred.schema.json}")
    bound
  }

  private def monoidBatch(rows: (String, Long)*): DataFrame =
    rows.toDF("k", "n").select(col("k").as("k", md), col("n"))

  private def sums(state: String): Map[String, Long] =
    MonoidTable.read(spark, state, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def merge(state: String, df: DataFrame, id: Long): Unit =
    Snapshot.batch(state, id)(MonoidTable.merge(_, "t", df, Seq("k")))

  test("MonoidTable: merge and GDPR publish record the schema " +
      "inference reads, and publish carries the fence forward") {
    val state = tmp("monoid")
    merge(state, monoidBatch("a" -> 1L, "b" -> 2L), 0L)
    assertBound(state)(MonoidTable.read(spark, state, "t"))
    merge(state, monoidBatch("a" -> 10L), 1L)
    val merged = assertBound(state)(MonoidTable.read(spark, state, "t"))
    assert(merged.schema("k").metadata == md, "key metadata survives")
    Snapshot.update(state, Some("gdpr0"))(t => MonoidTable.publish(t, "t",
      MonoidTable.read(spark, t, "t").where(col("k") =!= "b")))
    assertBound(state)(MonoidTable.read(spark, state, "t"))
    val p = Snapshot.current(state).get
    assert(p.bid.contains(1L) && p.fences.contains("gdpr0"))
    assert(sums(state) == Map("a" -> 11L))
    assert(!MonoidTable.read(spark, state, "t").columns.contains("_bid"))
  }

  test("AppendLog: append, compact and rewrite record the schema " +
      "inference reads, for every reader") {
    val log = tmp("alog")
    (0 to 2).foreach(i => Snapshot.batch(log, i.toLong)(AppendLog.append(_,
      "t", Seq((i.toLong, s"v$i")).toDF("id", "v")
        .select(col("id").as("id", md), col("v")), i.toLong)))
    def before(id: Long)(m: Snapshot.Manifest) = m.collect {
      case (k, v) if k.drop(5).toLong < id => v }
    assertBound(log)(AppendLog.read(spark, log, "t").get)
    val v = Snapshot.view(log).get
    assertBound(log, _.get("t/seg1"))(
      AppendLog.segment(spark, v, "t", 1L).get)
    assertBound(log, before(2L))(AppendLog.readBefore(spark, v, "t", 2L).get)
    Snapshot.update(log, None)(AppendLog.compact(spark, _, "t"))
    assertBound(log)(AppendLog.read(spark, log, "t").get)
    Snapshot.update(log, Some("gdpr0"))(
      AppendLog.rewrite(spark, _, "t", _.where(col("id") =!= 1L)))
    val rewritten = assertBound(log, _.filter(_._1.startsWith("t/seg")).values)(
      AppendLog.read(spark, log, "t").get)
    assert(rewritten.schema("id").metadata == md)
    assert(rewritten.collect().map(_.getLong(0)).toSet == Set(0L, 2L))
  }

  test("UpsertState: a multi-bucket merge records the schema inference " +
      "reads from the bucket subdirectories, without _bkt") {
    val state = tmp("upsert")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def batch(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    Snapshot.batch(state, 0L)(UpsertState.merge(_, "t",
      batch((1L to 20L).map(u => (u, ts, u, "a", 1.0)))))
    Snapshot.batch(state, 1L)(UpsertState.merge(_, "t",
      batch((15L to 30L).map(u => (100 + u, ts, u, "b", 2.0)))))
    assert(Snapshot.currentManifest(state).get.size > 1, "several buckets")
    val bound = assertBound(state)(UpsertState.read(spark, state, "t"))
    assert(!bound.columns.contains("_bkt"))
    assert(bound.count() == 30L)
  }

  test("a refit root: partitioned postings and the codebook read bound") {
    val root = tmp("ivf")
    val corpus = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.5f, 0.0f)),
        (3L, Seq(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    IvfRefit.Gen.bootstrap(spark, corpus, root,
      Seq(Array(0.0f, 0.0f), Array(5.0f, 5.0f)))
    val cells: Snapshot.Manifest => Iterable[String] =
      _.filter(_._1.startsWith("cell")).values
    val posts = assertBound(root, cells)(IvfRefit.Gen.readPostings(spark, root))
    assert(posts.count() == 3L)
    assertBound(root, _.get("codebook"))(
      Snapshot.readSelected(spark, root)(_.get("codebook")).get)
  }

  test("a root copied with copyRecursively reads bound") {
    val state = tmp("copy_src")
    merge(state, monoidBatch("a" -> 1L), 0L)
    merge(state, monoidBatch("a" -> 2L, "c" -> 5L), 1L)
    val copy = state.stripSuffix("/t") + "/copy"
    Snapshot.copyRecursively(state, copy)
    assertBound(copy)(MonoidTable.read(spark, copy, "t"))
    assert(sums(copy) == Map("a" -> 3L, "c" -> 5L))
  }

  test("a re-delivered batch id no-ops on the manifest fence, with no " +
      "job") {
    val state = tmp("fence")
    merge(state, monoidBatch("a" -> 1L), 0L)
    merge(state, monoidBatch("a" -> 10L), 1L)
    merge(state, monoidBatch("a" -> 100L), 2L)
    val committed = Snapshot.current(state).get
    assert(committed.bid.contains(2L))
    val jobs = JobLog.during(spark) {
      merge(state, monoidBatch("a" -> 100L), 2L)
      merge(state, monoidBatch("a" -> 10L), 1L)
    }
    assert(jobs.isEmpty, s"a fenced re-delivery started jobs: $jobs")
    assert(Snapshot.current(state).get == committed)
    assert(sums(state) == Map("a" -> 111L))
  }

  test("a commit that maps a version with no recorded schema is refused") {
    val root = tmp("refuse")
    intercept[IllegalArgumentException](
      Snapshot.update(root, None)(_.put("table" -> "v0")))
    assert(Snapshot.currentManifest(root).isEmpty)
  }

  test("a warm q_stream_dedup_corpus replay runs only each batch's " +
      "append write and merge write, plus broadcasts") {
    // A micro-batch's writes run as SQL executions nested under the
    // batch's own; a broadcast job runs inside the write that plans it.
    // A schema-inference job would run directly under the batch's
    // execution, and a fence aggregate as a third execution.
    val q = Catalog.byName("q_stream_dedup_corpus")
    q.build(spark, sfDir).count()
    val jobs = JobLog.during(spark)(q.build(spark, sfDir))
    val perBatch = jobs.groupBy(j => Tool.label(j.desc))
    assert(perBatch.keySet ==
      (0 to 3).map(b => s"q_stream_dedup_corpus batch = $b").toSet, jobs)
    perBatch.foreach { case (batch, js) =>
      assert(js.forall(j => j.execution.isDefined && j.execution != j.root),
        s"$batch ran a job outside its writes: $js")
      assert(js.map(_.execution).distinct.size == 2,
        s"$batch ran other than its append and merge writes: $js")
    }
  }
}
