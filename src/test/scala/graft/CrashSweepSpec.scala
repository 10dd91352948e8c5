package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Snapshot, StreamCorpusDedup, StreamIngest,
  StreamSpanDedup, UpsertState}

/** "Streaming state survives a crash at any point", checked point by
  * point: for each streaming row with state tables, the one commit of
  * every batch of a 4-batch run is crashed at each [[Snapshot.Phase]]
  * through [[Snapshot.crashAt]]. Each crash point starts from the
  * uninterrupted run's state before its batch, crashes the batch,
  * re-delivers it and finishes the run; the final state must equal the
  * uninterrupted run's (each table's rows, manifest keys, `@bid`), and a
  * second re-delivery must leave the pointer unchanged. The folds are
  * the catalog rows' own, each batch one [[Snapshot.batch]] on the row's
  * single root, run on a clone with AQE off as [[streaming.FoldReplay]]
  * runs them. */
class CrashSweepSpec extends AnyFunSuite with SparkFixture {

  private lazy val s = Scope(spark, Scope.aqeOff)

  /** A row under sweep: its batches and its fold into one transaction
    * on the row's root. */
  private case class Row(name: String, batches: Seq[DataFrame],
      fold: (Snapshot.Txn, DataFrame, Long) => Unit) {
    def run(root: String, id: Int): Unit =
      Snapshot.batch(root, id.toLong)(fold(_, batches(id), id.toLong))
  }

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
  private val dedup = Row("q_stream_dedup_corpus",
    Seq(docs(1L -> t1, 2L -> t2), docs(3L -> t1, 4L -> t4),
      docs(0L -> t2, 5L -> "one more unrelated line of words"),
      docs(6L -> t4, 7L -> "and a last line nobody else shares")),
    StreamCorpusDedup.foldBatch)

  // StreamIngestSpec's gate-passing shape: all-distinct words, no
  // stopwords, 20..200 tokens. Exact duplicates collide across batches
  // in both id directions as above, and each batch carries one doc the
  // quality gate rejects, so every funnel stage moves.
  private def passing(w: String): String =
    (1 to 24).map(i => s"$w$i").mkString(" ") + " extra tokens beyond"
  private val ingest = Row("q_stream_ingest",
    Seq(docs(1L -> passing("a"), 2L -> passing("b"), 10L -> "too short"),
      docs(3L -> passing("a"), 4L -> passing("c"), 11L -> "too short"),
      docs(0L -> passing("b"), 5L -> passing("d"), 12L -> "too short"),
      docs(6L -> passing("c"), 7L -> passing("e"), 13L -> "too short")),
    (t, b, id) => StreamIngest.foldBatch(t, b, id))

  // Users recur across batches with newer and older timestamps.
  private val upsert = Row("q_stream_upsert",
    Seq(events((1L, "1", 1L, "a", 1.0), (2L, "1", 2L, "a", 2.0),
        (3L, "2", 3L, "a", 3.0)),
      events((4L, "3", 1L, "b", 4.0), (5L, "1", 3L, "b", 5.0)),
      events((6L, "2", 2L, "c", 6.0), (7L, "4", 4L, "c", 7.0)),
      events((8L, "5", 3L, "d", 8.0), (9L, "3", 4L, "d", 9.0))),
    (t, b, _) => UpsertState.merge(t, "state", b))

  // StreamSpanDedupSpec's planted shape: each core is shared by two
  // documents that arrive in different batches.
  private val core1 =
    "The quick brown fox jumps over the lazy dog near the riverbank."
  private val core2 =
    "Winnowing fingerprints select one minimum per sliding window pane."
  private val spans = Row("q_stream_span_dedup",
    Seq(docs(1L -> ("alpha context one1" + core1 + "Xtail of document one."),
        6L -> ("gamma preamble3" + core2 + "Zgamma epilogue text.")),
      docs(2L -> "completely unrelated filler text with no long shared runs."),
      docs(5L -> ("beta opening words2" + core1 + "Yclosing remark beta.")),
      docs(9L -> ("delta lead-in then4" + core2 + "Wand a delta finish."))),
    StreamSpanDedup.foldBatch)

  private val phases =
    Seq(Snapshot.BeforePointer, Snapshot.BeforeSwap, Snapshot.BeforeGc)

  /** Per table (the manifest key up to its first `/`): the committed
    * rows (sorted); then the manifest keys and `@bid`. */
  private type State =
    (Seq[(String, Seq[String])], Set[String], Option[Long])

  private def state(root: String): State = {
    val p = Snapshot.current(root).get
    (p.manifest.groupBy(_._1.split('/').head).toSeq.sortBy(_._1).map {
      case (table, m) => table -> Snapshot.read(spark, root, p, m.values)
        .collect().map(_.toString).sorted.toSeq
    }, p.manifest.keySet, p.bid)
  }

  /** The uninterrupted run under `base/run`, keeping the state each
    * batch starts from under `base/before<id>`; returns its state. */
  private def uninterrupted(row: Row, base: String): State = {
    row.batches.indices.foreach { id =>
      if (id > 0)
        Snapshot.copyRecursively(s"$base/run", s"$base/before$id")
      row.run(s"$base/run", id)
    }
    val pointers = {
      val st = Files.walk(java.nio.file.Paths.get(s"$base/run"))
      try st.filter(_.getFileName.toString == "_current").count()
      finally st.close()
    }
    assert(pointers == 1L, s"${row.name} must keep one pointer per row")
    state(s"$base/run")
  }

  /** One crash point, in its own root `dir`. */
  private def crashPoint(row: Row, base: String, want: State, id: Int,
      at: Snapshot.Phase, dir: String): Unit = {
    val where = s"${row.name} batch $id, $at of its commit"
    if (id > 0) Snapshot.copyRecursively(s"$base/before$id", dir)
    val e = withClue(where) {
      intercept[IllegalStateException] {
        Snapshot.crashAt(dir, at)(row.run(dir, id))
      }
    }
    assert(e.getMessage.contains("injected crash"), where)
    row.run(dir, id)
    // Batch 0 resets the root by contract, so its re-delivery
    // republishes the same state under new version directories.
    def redelivered: Any =
      if (id > 0) Snapshot.current(dir) else state(dir)
    val once = redelivered
    row.run(dir, id)
    assert(redelivered == once, s"$where: a second re-delivery must " +
      "leave the pointer unchanged (after batch 0: every table's state)")
    (id + 1 until row.batches.size).foreach(row.run(dir, _))
    assert(state(dir) == want,
      s"$where: the recovered run must equal the uninterrupted one")
    Snapshot.deleteRecursively(dir)
  }

  test("a crash at every phase of every commit of every batch " +
      "converges to the uninterrupted run") {
    // Crash points run four at a time: each has its own root, and an
    // armed crash fires only for its own root string.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val base = Files.createTempDirectory("graft_sweep").toString
    try {
      val points = Future.sequence(Seq(dedup, ingest, upsert, spans).map {
        row =>
          Future(uninterrupted(row, s"$base/${row.name}")).flatMap { want =>
            Future.sequence(for {
              id <- row.batches.indices; at <- phases
            } yield Future(crashPoint(row, s"$base/${row.name}", want, id,
              at, s"$base/${row.name}/$id-$at")))
          }
      })
      val n = Await.result(points, 10.minutes).map(_.size).sum
      info(s"$n crash points")
      assert(n == 48)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(5, java.util.concurrent.TimeUnit.MINUTES)
      Snapshot.deleteRecursively(base)
    }
  }
}
