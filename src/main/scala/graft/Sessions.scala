package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. [[Bench]], [[Verify]], [[Tool]] and
  * the test fixture all get theirs from [[local]], so every read and
  * write they make runs under one conf: UTC session time, µs parquet
  * timestamps, the events table's nanos read as long,
  * [[GraftExtensions]], and the v2 file committer without `_SUCCESS`
  * markers. Each caller sets its own log level. */
object Sessions {
  /** `SPARK_GRAFT_CPUS`, default 4: local master threads and shuffle
    * partitions. */
  lazy val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Every key [[local]] sets for `cpus`. */
  def conf(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    // µs parquet timestamps on the wire: DuckDB reads the result files
    // with the same physical type it produces, so schema compare is exact.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // events.ts is parquet TIMESTAMP(NANOS) — read as long, converted
    // to µs TimestampType in Tables.events (values are µs-exact).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** The JVM's session with [[conf]] for `cpus`, then `extra` on top (a
    * later key wins). */
  def local(cpus: String = Sessions.cpus,
      extra: Seq[(String, String)] = Nil): SparkSession =
    (conf(cpus) ++ extra).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
