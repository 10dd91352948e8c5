package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Snapshot, StreamCorpusDedup, StreamSpanDedup, UpsertState}

/** "Streaming state survives a crash at any point", checked point by
  * point: for each streaming row with state tables, every commit of
  * every batch of a 4-batch run is crashed at each [[Snapshot.Phase]]
  * through [[Snapshot.crashAt]]. Each crash point starts from the
  * uninterrupted run's state before its batch, crashes the batch,
  * re-delivers it and finishes the run; the final state must equal the
  * uninterrupted run's (rows, manifest keys, `@bid`), and a second
  * re-delivery must leave every pointer unchanged. The folds are the
  * catalog rows' own, run on a clone with AQE off as
  * [[streaming.FoldReplay]] runs them. */
class CrashSweepSpec extends AnyFunSuite with SparkFixture {

  private lazy val s = Scope(spark, Scope.aqeOff)

  /** A row under sweep: the state roots each batch commits to, its
    * batches, and its fold over a directory holding those roots. */
  private case class Row(name: String, roots: Seq[String],
      batches: Seq[DataFrame], fold: (String, DataFrame, Long) => Unit)

  private def docs(rows: (Long, String)*): DataFrame = {
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def events(rows: (Long, String, Long, String, Double)*)
      : DataFrame = {
    import s.implicits._
    rows.map { case (e, ts, u, t, v) =>
      (e, java.sql.Timestamp.valueOf(s"2024-01-0$ts 00:00:00"), u, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  // Exact duplicates always share every band, so each batch after the
  // first collides with history in both id directions (doc 0 arrives
  // in batch 2 and re-flags doc 2).
  private val t1 = "the cat sat on the mat with a hat and a bat today"
  private val t2 = "an entirely different sentence about rivers and hills"
  private val t4 = "a third text that talks of ships sailing in the night"
  private val dedup = Row("q_stream_dedup_corpus", Seq("index", "flags"),
    Seq(docs(1L -> t1, 2L -> t2), docs(3L -> t1, 4L -> t4),
      docs(0L -> t2, 5L -> "one more unrelated line of words"),
      docs(6L -> t4, 7L -> "and a last line nobody else shares")),
    (d, b, id) => StreamCorpusDedup.foldBatch(s"$d/index", s"$d/flags", b,
      id))

  // Users recur across batches with newer and older timestamps.
  private val upsert = Row("q_stream_upsert", Seq("state"),
    Seq(events((1L, "1", 1L, "a", 1.0), (2L, "1", 2L, "a", 2.0),
        (3L, "2", 3L, "a", 3.0)),
      events((4L, "3", 1L, "b", 4.0), (5L, "1", 3L, "b", 5.0)),
      events((6L, "2", 2L, "c", 6.0), (7L, "4", 4L, "c", 7.0)),
      events((8L, "5", 3L, "d", 8.0), (9L, "3", 4L, "d", 9.0))),
    (d, b, id) => UpsertState.merge(s"$d/state", b, id))

  // StreamSpanDedupSpec's planted shape: each core is shared by two
  // documents that arrive in different batches.
  private val core1 =
    "The quick brown fox jumps over the lazy dog near the riverbank."
  private val core2 =
    "Winnowing fingerprints select one minimum per sliding window pane."
  private val spans = Row("q_stream_span_dedup",
    Seq("fpidx", "docs", "spans"),
    Seq(docs(1L -> ("alpha context one1" + core1 + "Xtail of document one."),
        6L -> ("gamma preamble3" + core2 + "Zgamma epilogue text.")),
      docs(2L -> "completely unrelated filler text with no long shared runs."),
      docs(5L -> ("beta opening words2" + core1 + "Yclosing remark beta.")),
      docs(9L -> ("delta lead-in then4" + core2 + "Wand a delta finish."))),
    (d, b, id) => StreamSpanDedup.foldBatch(s"$d/fpidx", s"$d/docs",
      s"$d/spans", b, id))

  private val phases =
    Seq(Snapshot.BeforePointer, Snapshot.BeforeSwap, Snapshot.BeforeGc)

  /** Per root: the committed rows (sorted), manifest keys and `@bid`. */
  private type State = Seq[(Seq[String], Set[String], Option[Long])]

  private def state(row: Row, dir: String): State = row.roots.map { r =>
    val p = Snapshot.current(s"$dir/$r").get
    (Snapshot.read(spark, s"$dir/$r", p, p.manifest.values).collect()
      .map(_.toString).sorted.toSeq, p.manifest.keySet, p.bid)
  }

  /** The uninterrupted run under `base/run`, keeping the state each
    * batch starts from under `base/before<id>`; returns its state. */
  private def uninterrupted(row: Row, base: String): State = {
    row.batches.zipWithIndex.foreach { case (b, id) =>
      if (id > 0) row.roots.foreach(r => Snapshot.copyRecursively(
        s"$base/run/$r", s"$base/before$id/$r"))
      row.fold(s"$base/run", b, id.toLong)
    }
    state(row, s"$base/run")
  }

  /** One crash point, in its own directory `dir`. */
  private def crashPoint(row: Row, base: String, want: State, id: Int,
      root: String, at: Snapshot.Phase, dir: String): Unit = {
    val where = s"${row.name} batch $id, $at of the $root commit"
    val b = row.batches(id)
    if (id > 0) row.roots.foreach(t => Snapshot.copyRecursively(
      s"$base/before$id/$t", s"$dir/$t"))
    val e = withClue(where) {
      intercept[IllegalStateException] {
        Snapshot.crashAt(s"$dir/$root", at)(row.fold(dir, b, id.toLong))
      }
    }
    assert(e.getMessage.contains("injected crash"), where)
    row.fold(dir, b, id.toLong)
    // Batch 0 resets every table by contract, so its re-delivery
    // republishes the same state under new version directories.
    def redelivered: Any =
      if (id > 0) row.roots.map(r => Snapshot.current(s"$dir/$r"))
      else state(row, dir)
    val once = redelivered
    row.fold(dir, b, id.toLong)
    assert(redelivered == once, s"$where: a second re-delivery must " +
      "leave every pointer unchanged (after batch 0: every table's state)")
    row.batches.zipWithIndex.drop(id + 1).foreach { case (later, j) =>
      row.fold(dir, later, j.toLong)
    }
    assert(state(row, dir) == want,
      s"$where: the recovered run must equal the uninterrupted one")
    Snapshot.deleteRecursively(dir)
  }

  test("a crash at every phase of every commit of every batch " +
      "converges to the uninterrupted run") {
    // Crash points run four at a time: each has its own roots, and an
    // armed crash fires only for its own root string.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val base = Files.createTempDirectory("graft_sweep").toString
    try {
      val points = Future.sequence(Seq(dedup, upsert, spans).map { row =>
        Future(uninterrupted(row, s"$base/${row.name}")).flatMap { want =>
          Future.sequence(for {
            id <- row.batches.indices; r <- row.roots; at <- phases
          } yield Future(crashPoint(row, s"$base/${row.name}", want, id, r,
            at, s"$base/${row.name}/$id-$r-$at")))
        }
      })
      val n = Await.result(points, 10.minutes).map(_.size).sum
      info(s"$n crash points")
      assert(n == 72)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES)
      Snapshot.deleteRecursively(base)
    }
  }
}
