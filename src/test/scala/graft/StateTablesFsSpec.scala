package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AppendLog, MonoidTable, Snapshot, UpsertState}

/** The state layer through a NON-DEFAULT FileSystem root (r13 verdict
  * #3 / next-round ask #6): every exists/list/read/write/rename/delete
  * in Snapshot/MonoidTable/AppendLog now resolves through the session's
  * Hadoop FileSystem, so a root given as an explicit `file:` URI — a
  * path java.nio would have treated as a literal directory named
  * "file:" — must drive the whole layer end to end. RawLocalFileSystem
  * via the URI exercises the API seam a real deployment (hdfs:, s3a:)
  * crosses. */
class StateTablesFsSpec extends AnyFunSuite with SparkFixture {

  private def freshRoot(name: String): String =
    "file:" + java.nio.file.Files
      .createTempDirectory(s"graft_fs_$name").toString + "/state"

  /** One transaction writing `df` as the root's `table` version;
    * returns the version directory. */
  private def publish(root: String, df: org.apache.spark.sql.DataFrame)
      : String = {
    var v = ""
    Snapshot.update(root, None) { t => v = t.write(df); t.put("table" -> v) }
    v
  }

  test("Snapshot commit / manifest / GC round-trip under a file: URI") {
    val root = freshRoot("snap")
    assert(Snapshot.currentManifest(root).isEmpty)
    assert(Snapshot.nextVersion(root) == "v0")
    // the version dir content is written through Spark (a file: write)
    import spark.implicits._
    val v0 = publish(root, Seq((1, "a")).toDF("k", "v"))
    assert(v0 == "v0")
    assert(Snapshot.currentManifest(root).contains(Map("table" -> v0)))

    val v1 = publish(root, Seq((2, "b")).toDF("k", "v"))
    assert(v1 == "v1")
    assert(Snapshot.currentManifest(root).contains(Map("table" -> v1)))
    // retention window: v0 survives one commit, is swept by the next
    publish(root, Seq((3, "c")).toDF("k", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v0")),
      "v0 must leave the retention window after two further commits")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v1")))
  }

  test("MonoidTable merge / fence / read under a file: URI") {
    import spark.implicits._
    val state = freshRoot("monoid")
    def merge(id: Long, rows: (String, Long)*) = Snapshot.batch(state, id)(
      MonoidTable.merge(_, "t", rows.toDF("k", "n"), Seq("k")))
    merge(0L, "a" -> 1L, "b" -> 2L)
    merge(1L, "a" -> 10L)
    // re-delivered batch 1 must no-op (the fence)
    merge(1L, "a" -> 10L)
    val got = MonoidTable.read(spark, state, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 11L, "b" -> 2L))
  }

  test("AppendLog append / readBefore / rewrite-with-fence under a " +
      "file: URI") {
    import spark.implicits._
    val log = freshRoot("appendlog")
    def append(id: Long, row: (Long, String)) = Snapshot.batch(log, id)(
      AppendLog.append(_, "t", Seq(row).toDF("doc_id", "p"), id))
    append(0L, (1L, "x"))
    append(1L, (2L, "y"))
    // re-delivery no-ops on the batch fence
    append(1L, (9L, "dup"))
    assert(AppendLog.read(spark, log, "t").get.count() == 2)
    assert(AppendLog.readBefore(spark, Snapshot.view(log).get, "t", 1L).get
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    Snapshot.update(log, Some("gdpr0"))(AppendLog.rewrite(spark, _, "t",
      all => all.where(col("doc_id") =!= 1L)))
    assert(Snapshot.current(log).get.fences == Set("gdpr0"))
    assert(AppendLog.read(spark, log, "t").get
      .select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("UpsertState bucketed merge under a file: URI") {
    import spark.implicits._
    val state = freshRoot("upsert")
    def ev(rows: (Long, java.sql.Timestamp, Long, String)*) =
      rows.toDF("user_id", "ts", "event_id", "v")
    def t(ms: Long) = new java.sql.Timestamp(ms)
    Snapshot.batch(state, 0L)(UpsertState.merge(_, "t",
      ev((1L, t(10), 1L, "old"), (2L, t(10), 2L, "two"))))
    Snapshot.batch(state, 1L)(UpsertState.merge(_, "t",
      ev((1L, t(20), 3L, "new"))))
    val got = UpsertState.read(spark, state, "t")
      .select("user_id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "new", 2L -> "two"))
  }

  test("deleteRecursively and copyRecursively resolve the file: scheme") {
    import spark.implicits._
    val a = freshRoot("copy_src")
    publish(a, Seq((1, "a")).toDF("k", "v"))
    val b = a.stripSuffix("state") + "clone"
    Snapshot.copyRecursively(a, b)
    assert(Snapshot.currentManifest(b).contains(Map("table" -> "v0")))
    assert(spark.read.parquet(b + "/v0").count() == 1)
    Snapshot.deleteRecursively(b)
    assert(Snapshot.currentManifest(b).isEmpty)
  }
}
