package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Fixture-table readers (schemas documented in FIXTURES.md).
  *
  * Every read is bound to the table's schema. A schema-less
  * `spark.read.parquet(path)` infers the schema from the footers, and
  * Spark runs that inference as a job, one per read, even for a single
  * file. Here the schema is inferred once per JVM for each (file,
  * stamp, inference conf) and passed to `.schema(...)`, so building a
  * frame costs a file listing and no job. The stamp is the file's
  * size, mtime and file key, so a rewritten fixture is inferred again:
  * a bound read would silently null a column the file no longer has.
  * The key holds no session, so a `graft.Scope` clone hits the same
  * entry unless it changed an inference conf. A path that is not a
  * regular local file (a directory, a URI) is read unbound. Scale note
  * (SURVEY.md §7): production tables would be date-partitioned
  * directories; `spark.read.parquet(dir)` plus partition pruning
  * handles that with the same code path, at the cost of the one
  * inference job per read.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every conf that changes which footers inference reads or how a
    * footer converts to a Spark schema (`ParquetUtils.inferSchema` and
    * `ParquetToSparkSchemaConverter`'s inputs in Spark 4.1). */
  private val inferenceConf: Seq[String] = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private val schemas =
    new Memo[(String, Long, Long, AnyRef, Seq[String]), StructType]

  /** `spark.read.parquet` of the table's file, bound to its memoized
    * schema. */
  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stat =
      try {
        val p = Paths.get(path).toAbsolutePath.normalize
        Some(p -> Files.readAttributes(p, classOf[BasicFileAttributes]))
      } catch { case _: Exception => None }
    stat.filter(_._2.isRegularFile) match {
      case Some((p, a)) =>
        val conf = s.sessionState.conf
        val key = (p.toString, a.size,
          a.lastModifiedTime.to(TimeUnit.NANOSECONDS), a.fileKey,
          inferenceConf.map(conf.getConfString))
        s.read.schema(schemas(key)(s.read.parquet(path).schema)).parquet(path)
      case None => s.read.parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** Normalize an events-shaped `ts` column to session-TZ TimestampType
    * (UTC) regardless of the fixture generation's physical encoding.
    * Two encodings have shipped: parquet TIMESTAMP(NANOS), which Spark 4
    * only reads via `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * every session builder) as a raw nanos long — all fixture values are
    * µs-exact (FIXTURES.md) so `div 1000` to micros is lossless — and
    * parquet timestamp[us] with isAdjustedToUTC=false, which Spark reads
    * as TIMESTAMP_NTZ; casting NTZ→TIMESTAMP reinterprets the wall clock
    * in the session TZ (UTC here), i.e. identity on the stored instants.
    * Dispatch is on the (pre-read) schema, so the streaming sources can
    * use the same normalization on their staged copies. Queries that
    * emit `ts` cast to timestamp_ntz in their final projection so the
    * written parquet matches DuckDB's naive TIMESTAMP. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case org.apache.spark.sql.types.TimestampType => df
    case other =>
      throw new IllegalStateException(s"unexpected events.ts type: $other")
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
