package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A replay runs its query on a [[Scope]] clone, yet it explains itself
  * to the caller: every micro-batch job carries the row's name and its
  * batch id, and a streaming listener on the caller's session sees the
  * query's progress. */
class ReplayTelemetrySpec extends AnyFunSuite with SparkFixture {

  private val upsert = Catalog.byName("q_stream_upsert")

  test("every job of a q_stream_upsert replay is labelled with the row " +
      "and its batch") {
    upsert.build(spark, sfDir).count()
    val jobs = JobLog.during(spark)(upsert.build(spark, sfDir))
    assert(jobs.nonEmpty)
    assert(jobs.map(j => Tool.label(j.desc)).toSet ==
      (0 to 3).map(b => s"q_stream_upsert batch = $b").toSet, jobs)
  }

  test("a listener on the caller's session gets one progress event per " +
      "batch of a 4-batch replay") {
    upsert.build(spark, sfDir).count()
    val batches = new ConcurrentLinkedQueue[(String, Long)]
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.add(e.progress.name -> e.progress.batchId)
    }
    spark.streams.addListener(l)
    try upsert.build(spark, sfDir)
    finally spark.streams.removeListener(l)
    assert(batches.asScala.toSeq.sortBy(_._2) ==
      (0L to 3L).map("q_stream_upsert" -> _))
  }
}
