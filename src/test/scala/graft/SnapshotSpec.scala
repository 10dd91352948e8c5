package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Snapshot

/** Unit contract of the atomic snapshot commit protocol (r12) — the
  * pointer/manifest/GC mechanics in isolation; StreamFailureSpec covers
  * the same machinery end-to-end under injected crashes. */
class SnapshotSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_snap").toString + "/t"

  /** One transaction writing `n` one-row version directories and
    * replacing the manifest with `m(dirs)`; returns the directories it
    * wrote. */
  private def commit(root: String, n: Int = 1)(
      m: Seq[String] => Snapshot.Manifest): Seq[String] = {
    var dirs = Seq.empty[String]
    Snapshot.update(root, None) { t =>
      dirs = (1 to n).map(i => t.write(Seq(i.toLong).toDF("k")))
      t.remove(t.manifest.keys)
      t.put(m(dirs).toSeq: _*)
    }
    dirs
  }

  test("manifest round-trips: empty, single key, multi-key with paths") {
    val root = tmp()
    assert(Snapshot.currentManifest(root).isEmpty, "no pointer yet")
    commit(root, 0)(_ => Map.empty)
    assert(Snapshot.currentManifest(root) == Some(Map.empty[String, String]))
    commit(root)(d => Map("table" -> d.head))
    assert(Snapshot.currentManifest(root) == Some(Map("table" -> "v0")))
    val multi = Map("0" -> "v1/_bkt=0", "3" -> "v2/_bkt=3", "7" -> "v1/_bkt=7")
    commit(root, 2)(d => Map("0" -> s"${d(0)}/_bkt=0",
      "3" -> s"${d(1)}/_bkt=3", "7" -> s"${d(0)}/_bkt=7"))
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
    // A transaction's writes each take the next number from one listing.
    assert(commit(root, 2)(d => Map("a" -> d(0), "b" -> d(1))) ==
      Seq("v8", "v9"))
  }

  test("commit GCs version dirs the new manifest no longer references " +
      "(orphans included), and keeps every referenced one") {
    val root = tmp()
    Seq("v0", "v1").foreach { v =>
      val d = Paths.get(root, v)
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), v)
    }
    // v2 referenced by two keys (bucket layout), v0/v1 unreferenced.
    val Seq(v2) =
      commit(root)(d => Map("0" -> s"${d.head}/_bkt=0", "1" -> s"${d.head}/_bkt=1"))
    assert(v2 == "v2")
    assert(Files.exists(Paths.get(root, "v2")))
    assert(!Files.exists(Paths.get(root, "v0")) &&
      !Files.exists(Paths.get(root, "v1")),
      "unreferenced versions must be swept")
    // The non-version junk dir is never GC's business.
    Files.createDirectories(Paths.get(root, "checkpoint"))
    commit(root, 0)(_ => Map("0" -> s"$v2/_bkt=0"))
    assert(Files.exists(Paths.get(root, "checkpoint")))
  }

  test("retention window: the superseded version survives exactly one " +
      "commit (a racing reader's grace), then is swept") {
    val root = tmp()
    commit(root)(d => Map("t" -> d.head))
    commit(root)(d => Map("t" -> d.head))
    assert(Files.exists(Paths.get(root, "v0")),
      "a reader holding v0 paths must survive the v1 commit")
    commit(root)(d => Map("t" -> d.head))
    assert(!Files.exists(Paths.get(root, "v0")),
      "v0 is out of the window after the v2 commit")
    assert(Files.exists(Paths.get(root, "v1")) &&
      Files.exists(Paths.get(root, "v2")))
  }

  test("the pointer swap replaces atomically: a reader sees old or new, " +
      "never a missing pointer") {
    val root = tmp()
    commit(root)(d => Map("table" -> d.head))
    // 50 rapid commits; the pointer must parse on every interleaved
    // read (same-dir ATOMIC_MOVE rename).
    (1 to 50).foreach { i =>
      commit(root)(d => Map("table" -> d.head))
      val m = Snapshot.currentManifest(root)
      assert(m.isDefined && m.get("table").startsWith("v"))
    }
    assert(Snapshot.currentManifest(root) == Some(Map("table" -> "v50")))
  }
}
