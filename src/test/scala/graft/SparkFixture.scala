package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs (SURVEY.md §5 item 2).
  * One session per test JVM (Test/fork := true) — specs must not stop it.
  * Built by [[Sessions.local]] at 4 cpus, so specs run under the same
  * conf as Verify and Bench (UTC, µs parquet timestamps, events-nanos
  * legacy read, v2 committer without `_SUCCESS`). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
