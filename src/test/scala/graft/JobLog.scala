package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of code starts, for specs that pin job
  * counts. */
object JobLog {

  /** One job: its `spark.job.description` ("" when unset), the SQL
    * execution it ran in and that execution's root (a nested execution,
    * such as a write inside a streaming micro-batch, has the
    * micro-batch's execution as its root). */
  final case class Job(desc: String, execution: Option[String],
      root: Option[String])

  /** Every job started while `body` runs, in job-id order. The
    * context's listener bus is drained before the listener goes, so no
    * job start is missed. */
  def during(s: SparkSession)(body: => Any): Seq[Job] = {
    val seen = new ConcurrentLinkedQueue[(Int, Job)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        seen.add(e.jobId -> Job(prop("spark.job.description").getOrElse(""),
          prop("spark.sql.execution.id"), prop("spark.sql.execution.root.id")))
      }
    }
    val sc = s.sparkContext
    sc.addSparkListener(l)
    try body
    finally {
      // listenerBus is private[spark], hence the reflection.
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      sc.removeSparkListener(l)
    }
    seen.asScala.toSeq.sortBy(_._1).map(_._2)
  }
}
