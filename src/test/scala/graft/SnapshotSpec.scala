package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Snapshot
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Unit contract of the atomic snapshot commit protocol (r12) — the
  * pointer/manifest/GC mechanics in isolation; StreamFailureSpec covers
  * the same machinery end-to-end under injected crashes. */
class SnapshotSpec extends AnyFunSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft_snap").toString + "/t"

  /** A commit recording one placeholder schema for every version
    * directory `m` maps (every commit must record its versions'). */
  private def commit(root: String, m: Snapshot.Manifest): Unit =
    Snapshot.commit(root, m, m.values.map(v => v.split('/').head ->
      StructType(Seq(StructField("k", LongType)))).toMap)

  test("manifest round-trips: empty, single key, multi-key with paths") {
    val root = tmp()
    assert(Snapshot.currentManifest(root).isEmpty, "no pointer yet")
    commit(root, Map.empty)
    assert(Snapshot.currentManifest(root) == Some(Map.empty[String, String]))
    commit(root, Map("table" -> "v0"))
    assert(Snapshot.currentManifest(root) == Some(Map("table" -> "v0")))
    val multi = Map("0" -> "v1/_bkt=0", "3" -> "v2/_bkt=3", "7" -> "v1/_bkt=7")
    commit(root, multi)
    assert(Snapshot.currentManifest(root) == Some(multi))
  }

  test("version numbering is monotonic past orphans — a retry never " +
      "writes into a dir a torn attempt created") {
    val root = tmp()
    assert(Snapshot.nextVersion(root) == "v0")
    Files.createDirectories(Paths.get(root, "v0"))
    Files.createDirectories(Paths.get(root, "v7")) // torn orphan, gap
    assert(Snapshot.nextVersion(root) == "v8")
    // Non-version entries never perturb the counter.
    Files.createDirectories(Paths.get(root, "vnot-a-number"))
    Files.writeString(Paths.get(root, "_current.tmp"), "junk")
    assert(Snapshot.nextVersion(root) == "v8")
  }

  test("commit GCs version dirs the new manifest no longer references " +
      "(orphans included), and keeps every referenced one") {
    val root = tmp()
    Seq("v0", "v1", "v2").foreach { v =>
      val d = Paths.get(root, v)
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), v)
    }
    // v1 referenced by two keys (bucket layout), v0/v2 unreferenced.
    commit(root, Map("0" -> "v1/_bkt=0", "1" -> "v1/_bkt=1"))
    assert(Files.exists(Paths.get(root, "v1")))
    assert(!Files.exists(Paths.get(root, "v0")) &&
      !Files.exists(Paths.get(root, "v2")),
      "unreferenced versions must be swept")
    // The non-version junk dir is never GC's business.
    Files.createDirectories(Paths.get(root, "checkpoint"))
    commit(root, Map("0" -> "v1/_bkt=0"))
    assert(Files.exists(Paths.get(root, "checkpoint")))
  }

  test("retention window: the superseded version survives exactly one " +
      "commit (a racing reader's grace), then is swept") {
    val root = tmp()
    def mkv(v: String): Unit = {
      val d = Paths.get(root, v)
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), v)
    }
    mkv("v0")
    commit(root, Map("t" -> "v0"))
    mkv("v1")
    commit(root, Map("t" -> "v1"))
    assert(Files.exists(Paths.get(root, "v0")),
      "a reader holding v0 paths must survive the v1 commit")
    mkv("v2")
    commit(root, Map("t" -> "v2"))
    assert(!Files.exists(Paths.get(root, "v0")),
      "v0 is out of the window after the v2 commit")
    assert(Files.exists(Paths.get(root, "v1")) &&
      Files.exists(Paths.get(root, "v2")))
  }

  test("the pointer swap replaces atomically: a reader sees old or new, " +
      "never a missing pointer") {
    val root = tmp()
    commit(root, Map("table" -> "v0"))
    // 50 rapid commits; the pointer must parse on every interleaved
    // read (same-dir ATOMIC_MOVE rename).
    (1 to 50).foreach { i =>
      commit(root, Map("table" -> s"v$i"))
      val m = Snapshot.currentManifest(root)
      assert(m.isDefined && m.get("table").startsWith("v"))
    }
    assert(Snapshot.currentManifest(root) == Some(Map("table" -> "v50")))
  }
}
