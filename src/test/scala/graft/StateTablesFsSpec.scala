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

  test("Snapshot commit / manifest / GC round-trip under a file: URI") {
    val root = freshRoot("snap")
    assert(Snapshot.currentManifest(root).isEmpty)
    val v0 = Snapshot.nextVersion(root)
    assert(v0 == "v0")
    // create the version dir content through Spark (also a file: write)
    import spark.implicits._
    val df0 = Seq((1, "a")).toDF("k", "v")
    df0.write.parquet(Snapshot.versionPath(root, v0))
    Snapshot.commit(root, Map("table" -> v0), Map(v0 -> df0.schema))
    assert(Snapshot.currentManifest(root).contains(Map("table" -> v0)))

    val v1 = Snapshot.nextVersion(root)
    assert(v1 == "v1")
    val df1 = Seq((2, "b")).toDF("k", "v")
    df1.write.parquet(Snapshot.versionPath(root, v1))
    Snapshot.commit(root, Map("table" -> v1), Map(v1 -> df1.schema))
    assert(Snapshot.currentManifest(root).contains(Map("table" -> v1)))
    // retention window: v0 survives one commit, is swept by the next
    val v2 = Snapshot.nextVersion(root)
    val df2 = Seq((3, "c")).toDF("k", "v")
    df2.write.parquet(Snapshot.versionPath(root, v2))
    Snapshot.commit(root, Map("table" -> v2), Map(v2 -> df2.schema))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v0")),
      "v0 must leave the retention window after two further commits")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "v1")))
  }

  test("MonoidTable merge / fence / read under a file: URI") {
    import spark.implicits._
    val state = freshRoot("monoid")
    def batch(rows: (String, Long)*) = rows.toDF("k", "n")
    MonoidTable.merge(state, batch("a" -> 1L, "b" -> 2L), 0L, Seq("k"))
    MonoidTable.merge(state, batch("a" -> 10L), 1L, Seq("k"))
    // re-delivered batch 1 must no-op (the fence)
    MonoidTable.merge(state, batch("a" -> 10L), 1L, Seq("k"))
    val got = MonoidTable.read(spark, state)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 11L, "b" -> 2L))
  }

  test("AppendLog append / readBefore / rewrite-with-fence under a " +
      "file: URI") {
    import spark.implicits._
    val log = freshRoot("appendlog")
    AppendLog.append(log, Seq((1L, "x")).toDF("doc_id", "p"), 0L)
    AppendLog.append(log, Seq((2L, "y")).toDF("doc_id", "p"), 1L)
    // re-delivery no-ops on the manifest key
    AppendLog.append(log, Seq((9L, "dup")).toDF("doc_id", "p"), 1L)
    assert(AppendLog.read(spark, log).get.count() == 2)
    assert(AppendLog.readBefore(spark, log, 1L).get
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    AppendLog.rewrite(spark, log,
      all => all.where(col("doc_id") =!= 1L), Set("gdpr0"))
    assert(AppendLog.fenced(log, "gdpr0"))
    assert(AppendLog.read(spark, log).get
      .select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("UpsertState bucketed merge under a file: URI") {
    import spark.implicits._
    val state = freshRoot("upsert")
    def ev(rows: (Long, java.sql.Timestamp, Long, String)*) =
      rows.toDF("user_id", "ts", "event_id", "v")
    def t(ms: Long) = new java.sql.Timestamp(ms)
    UpsertState.merge(state, ev((1L, t(10), 1L, "old"),
      (2L, t(10), 2L, "two")), 0L)
    UpsertState.merge(state, ev((1L, t(20), 3L, "new")), 1L)
    val got = UpsertState.read(spark, state)
      .select("user_id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "new", 2L -> "two"))
  }

  test("deleteRecursively and copyRecursively resolve the file: scheme") {
    import spark.implicits._
    val a = freshRoot("copy_src")
    val df = Seq((1, "a")).toDF("k", "v")
    df.write.parquet(a + "/v0")
    Snapshot.commit(a, Map("table" -> "v0"), Map("v0" -> df.schema))
    val b = a.stripSuffix("state") + "clone"
    Snapshot.copyRecursively(a, b)
    assert(Snapshot.currentManifest(b).contains(Map("table" -> "v0")))
    assert(spark.read.parquet(b + "/v0").count() == 1)
    Snapshot.deleteRecursively(b)
    assert(Snapshot.currentManifest(b).isEmpty)
  }
}
