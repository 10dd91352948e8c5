package graft.operators

import graft.{Q, Tables}
import graft.Dsl._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-layout operators — small-file compaction and sort-clustered
  * writes (SURVEY.md §2 extension, r7). Derivation: north-star ETL; at
  * 100 TB the LAYOUT of what a pipeline writes decides the cost of every
  * later read: a streaming ingest lands thousands of small files per
  * hour (file-listing and per-file open costs dominate scans), and an
  * unclustered table makes every selective query a full scan. The two
  * canonical maintenance passes are compaction (rewrite N small files
  * into ceil(bytes/target) full ones) and sort-clustering (range-
  * partition + sort on the hot predicate column so parquet row-group
  * min/max stats prune).
  *
  * Both queries READ THROUGH the maintained layout and oracle-check
  * against the raw tables: the layout pass must not change a single row.
  * LayoutSpec asserts the physical claims (file counts, pruned scan).
  */
object LayoutQueries {

  /** Per-(session, sfDir) one-time layout builds under a per-JVM /tmp
    * root (same locked-build pattern as JoinQueries.Bucketed — racing
    * first calls must not double-write). */
  object Maintained {
    private val cache = new graft.Memo[(SparkSession, String),
      (String, String, Int)]
    private val root = graft.TmpRoots.register(java.nio.file.Paths.get(
      "/tmp/graft_layout", "jvm" + ProcessHandle.current().pid()))

    /** Bytes one compacted output file targets. Production uses
      * 128–1024 MiB; the fixture value is chosen so compaction is
      * non-degenerate at every SF (>1 input file merges into ≥1 output
      * file, and at sf0.1 into >1, exercising the ceil). */
    val targetFileBytes: Long = 1L << 21 // 2 MiB

    /** Each built dir's schema, inferred once right after its write
      * inside the same memo build, so the layout rows read it bound
      * (one file listing, no inference job per row build). Keyed like
      * the builds. */
    private val schemas = new graft.Memo[(SparkSession, String), StructType]

    private def schemaOf(s: SparkSession, out: String): StructType =
      schemas((s, out))(s.read.parquet(out).schema)

    private def written(s: SparkSession, out: String): String = {
      schemaOf(s, out)
      out
    }

    /** `s.read.parquet(out)` for a dir a builder below returned, bound
      * to the schema inferred when it was written. */
    def read(s: SparkSession, out: String): DataFrame =
      s.read.schema(schemaOf(s, out)).parquet(out)

    /** Returns (fragmentedDir, compactedDir, nCompactedFiles).
      *
      * The fragmented write simulates a micro-batch ingest: orders
      * scattered over 64 files (at 100 TB this is an hour of streaming
      * commits). Compaction then: list the fragment bytes (one
      * filesystem listing — no data read), size the output as
      * ceil(bytes / target), and rewrite through coalesce — a NARROW
      * rewrite, no shuffle: each output task concatenates a set of
      * input files, so the pass streams at IO speed and never
      * materializes a partition in memory. (repartition would shuffle
      * the whole table; it's only needed when output files must also be
      * size-balanced against skewed inputs.) */
    def apply(s: SparkSession, dir: String): (String, String, Int) =
      cache((s, dir)) {
          val tok = dir.replaceAll("[^A-Za-z0-9.]+", "_")
          val base = root.resolve(tok)
          val frag = base.resolve("orders_frag").toString
          val compact = base.resolve("orders_compact").toString
          Tables.orders(s, dir).repartition(64)
            .write.mode("overwrite").parquet(frag)
          val fs = org.apache.hadoop.fs.FileSystem.getLocal(
            s.sparkContext.hadoopConfiguration)
          val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(frag))
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(_.getLen).sum
          val n = math.max(1,
            math.ceil(bytes.toDouble / targetFileBytes).toInt)
          // coalesce can only LOWER the scan's partition count: with the
          // default 128 MiB maxPartitionBytes the 64 fragments pack into
          // a handful of read partitions, and once the table outgrows
          // ~targetBytes×partitions the compacted dir would silently hold
          // fewer than n files. Sizing maxPartitionBytes to the target
          // for this one rewrite makes the scan yield ≥ n partitions at
          // ANY scale, so coalesce(n) lands exactly n — still narrow, no
          // shuffle. The conf lives on a graft.Scope clone, so a query
          // planned concurrently on `s` never sees the tiny split size.
          graft.Scope(s, "spark.sql.files.maxPartitionBytes" ->
              targetFileBytes.toString)
            .read.parquet(frag).coalesce(n)
            .write.mode("overwrite").parquet(compact)
          (frag, written(s, compact), n)
      }

    /** Sort-clustered events: range-partitioned on user_id into 8 files,
      * each sorted by (user_id, ts). Every parquet row group's user_id
      * min/max then covers a narrow slice, so a selective user_id
      * predicate prunes all but one file at planning/scan time — the
      * single-column form of the Z-order/Hilbert clustering a multi-
      * predicate 100 TB table would use. Distributed end to end:
      * repartitionByRange samples the key, shuffles once, sorts within
      * partitions (spillable), and writes — no driver materialization. */
    private val sortedCache = new graft.Memo[(SparkSession, String), String]

    def sortedEvents(s: SparkSession, dir: String): String =
      sortedCache((s, dir)) {
          val out = root.resolve(dir.replaceAll("[^A-Za-z0-9.]+", "_"))
            .resolve("events_sorted").toString
          Tables.events(s, dir)
            .repartitionByRange(8, col("user_id"))
            .sortWithinPartitions(col("user_id"), col("ts"))
            .write.mode("overwrite").parquet(out)
          written(s, out)
      }

    /** Range-normalize `x` from [lo, hi] onto the full 16-bit lattice.
      * Quantizes through DOUBLE: `(x - lo) * 65535` in Long overflows
      * once the key range exceeds ~1.4e14, but integer divide-first
      * bucketing is wrong too — for ranges BELOW 65536 it leaves the
      * value unscaled, so a small dimension (days: 0..29) occupies 5
      * low morton bits while a larger one (users) claims every high
      * bit and the interleave degenerates to a single-column sort.
      * floor((x-lo)*65535.0/range) normalizes BOTH dimensions to the
      * full lattice at any range: exact below 2^53, and past that the
      * ~1-ulp error moves a key at most one bucket — irrelevant for
      * clustering, no overflow ever. LayoutSpec pins the behavior at
      * planted ranges past the Long-multiply overflow point. */
    def scale16(x: Column, lo: Column, hi: Column): Column =
      floor((x - lo) * lit(65535.0) / greatest(hi - lo, lit(1L)))
        .cast("bigint")

    /** Morton (Z-order) interleave of two 16-bit keys: bit i of `a`
      * lands at position 2i, bit i of `b` at 2i+1 — a static 32-term
      * codegen'd bitwise expression, no UDF. Keys must already be
      * range-normalized to [0, 65535] so both dimensions contribute
      * equally to every prefix of the curve. */
    def morton16(a: Column, b: Column): Column =
      (0 until 16).map { i =>
        shiftleft(a.bitwiseAND(lit(1L << i)), i)
          .bitwiseOR(shiftleft(b.bitwiseAND(lit(1L << i)), i + 1))
      }.reduce(_ bitwiseOR _)

    /** Z-ORDERED events: both user_id and event day range-normalized to
      * 16 bits, Morton-interleaved, then range-partitioned + sorted on
      * the z value (8 files). Each file then covers a RECTANGLE-ish
      * region of (user, day) space, so parquet min/max stats prune
      * files for predicates on EITHER dimension — the property a
      * single-column sort can't give (sortedEvents localizes user
      * slices perfectly but spreads every day slice across all 8
      * files). This is the standard multi-dimensional clustering recipe
      * (Delta/Iceberg OPTIMIZE ZORDER BY): normalize → interleave →
      * range-partition → sort-within → write; all distributed, the
      * bounds come from a 1-row agg broadcast, never the driver. */
    private val zorderCache = new graft.Memo[(SparkSession, String), String]

    def zorderedEvents(s: SparkSession, dir: String): String =
      zorderCache((s, dir)) {
          val out = root.resolve(dir.replaceAll("[^A-Za-z0-9.]+", "_"))
            .resolve("events_zorder").toString
          val events = Tables.events(s, dir)
          val ev = events
            .withColumn("ud", expr("unix_micros(ts) div 86400000000"))
          val bounds = ev.agg(
            min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
            min(col("ud")).as("dlo"), max(col("ud")).as("dhi"))
          val cols = events.columns.map(col)
          ev.crossJoin(broadcast(bounds))
            .withColumn("su", scale16(col("user_id"), col("ulo"), col("uhi")))
            .withColumn("sd", scale16(col("ud"), col("dlo"), col("dhi")))
            .withColumn("z", morton16(col("su"), col("sd")))
            .repartitionByRange(8, col("z"))
            .sortWithinPartitions(col("z"))
            .select(cols: _*)
            .write.mode("overwrite").parquet(out)
          written(s, out)
      }

    /** Hive-style partitioned events (`event_type=.../`): the directory
      * layout IS the index — a predicate on the partition column prunes
      * whole directories at PLANNING time (no file even listed from the
      * other four), which is how a 100 TB table bounds every daily query
      * to its date slice. The partition column must be re-selected on
      * read since the writer moves it out of the files into the paths. */
    private val partitionedCache = new graft.Memo[(SparkSession, String), String]

    def partitionedEvents(s: SparkSession, dir: String): String =
      partitionedCache((s, dir)) {
          val out = root.resolve(dir.replaceAll("[^A-Za-z0-9.]+", "_"))
            .resolve("events_by_type").toString
          Tables.events(s, dir)
            .write.partitionBy("event_type")
            .mode("overwrite").parquet(out)
          written(s, out)
      }

    /** File-backed event-type dimension (type → funnel category) for
      * the DPP row. Must be a FILE source, not a LocalRelation: Spark
      * constant-folds a literal dim's Filter away before the
      * PartitionPruning rule looks for a selective predicate, and DPP
      * never fires — the exact gotcha PartitionedWriteSpec documents.
      * Derived from the partitioned layout's own type values, so it
      * exists for any SF. */
    private val dimCache = new graft.Memo[(SparkSession, String), String]

    def typeDim(s: SparkSession, dir: String): String =
      dimCache((s, dir)) {
          val out = root.resolve(dir.replaceAll("[^A-Za-z0-9.]+", "_"))
            .resolve("event_type_dim").toString
          Tables.events(s, dir).select(col("event_type")).distinct()
            .withColumn("category",
              when(col("event_type").isin("purchase", "signup"),
                "conversion").otherwise("engagement"))
            .coalesce(1)
            .write.mode("overwrite").parquet(out)
          written(s, out)
      }
  }

  /** q_layout_compact — read THROUGH the compacted layout: per-priority
    * order counts and exact revenue totals over the table that was
    * fragmented into 64 files and compacted to ceil(bytes/2 MiB).
    * Oracle = the same agg over raw orders; compaction must be
    * row-preserving. LayoutSpec asserts the file counts. */
  val qLayoutCompact: Q = Q(
    "q_layout_compact",
    (s, dir) => {
      import s.implicits._
      val (_, compact, _) = Maintained(s, dir)
      Maintained.read(s, compact)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sumMoney($"o_totalprice").as("revenue"))
        .orderBy($"o_orderpriority")
    },
    oracle = Some(
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))

  /** q_layout_sorted_scan — a selective per-user slice read through the
    * sort-clustered layout: user_id ≤ 1 (present at every SF) hits one
    * of the 8 range files; the other 7 are skipped on their parquet
    * min/max stats. Oracle = the same slice over raw events — identical
    * rows, the layout only changes WHERE they sit. LayoutSpec asserts
    * the scan reads fewer files/rows than the table holds. */
  val qLayoutSortedScan: Q = Q(
    "q_layout_sorted_scan",
    (s, dir) => {
      import s.implicits._
      val sorted = Maintained.sortedEvents(s, dir)
      Maintained.read(s, sorted)
        .where($"user_id" <= 1)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"user_id", $"event_type")
    },
    oracle = Some(
      """SELECT user_id, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id <= 1
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin))

  /** q_layout_partition_pruned — a one-type slice read through the
    * Hive-partitioned layout: `event_type = 'purchase'` becomes a
    * PartitionFilter that skips the other four directories before any
    * file is opened (static partition pruning; the dynamic form is
    * plan-audited in PartitionedWriteSpec). Oracle = the same slice
    * over raw events. Per-day purchase volume — the daily-report query
    * every partitioned warehouse table exists to serve. */
  val qLayoutPartitionPruned: Q = Q(
    "q_layout_partition_pruned",
    (s, dir) => {
      import s.implicits._
      val parted = Maintained.partitionedEvents(s, dir)
      Maintained.read(s, parted)
        .where($"event_type" === "purchase")
        .groupBy(date_trunc("day", $"ts").cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"day")
    },
    oracle = Some(
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY day
        |ORDER BY day""".stripMargin))

  /** q_layout_zorder — a TWO-dimensional slice (user range AND date
    * range) read through the Z-ordered layout: Morton clustering keeps
    * both predicate columns localized, so file-level min/max stats
    * prune files for this slice where the single-column sorted layout
    * only helps the user dimension (LayoutSpec asserts the contrast:
    * a day slice lives in a strict subset of the z-layout's files but
    * spans ALL of the user-sorted layout's). Both predicates are pushed
    * to the parquet reader. Oracle = the same slice over raw events:
    * clustering must not change a row. */
  val qLayoutZorder: Q = Q(
    "q_layout_zorder",
    (s, dir) => {
      import s.implicits._
      val z = Maintained.zorderedEvents(s, dir)
      Maintained.read(s, z)
        .where($"user_id".between(2, 5) &&
          $"ts" < lit("2024-01-11 00:00:00").cast("timestamp"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"event_type")
    },
    oracle = Some(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 2 AND 5 AND ts < TIMESTAMP '2024-01-11 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin))

  /** q_layout_dpp (added r8) — DYNAMIC partition pruning, completing
    * the pruning pair with q_layout_partition_pruned's static form:
    * the fact predicate on the partition column is NOT in the query —
    * it is only derivable at runtime THROUGH the join, from the dim
    * side's `category = 'conversion'` filter. Catalyst's
    * PartitionPruning rule injects a dynamicpruning subquery into the
    * fact scan (fed by the reused broadcast exchange), so only the
    * matching type directories are ever listed. At 100 TB this is the
    * difference between scanning the two conversion partitions and
    * scanning all of them — on a predicate the user never wrote on the
    * fact.
    *
    * Oracle = the same join over raw events: pruning may only skip
    * non-matching partitions, never change a row. PlanAuditSpec pins
    * the dynamicpruning filter in the fact scan. */
  val qLayoutDpp: Q = Q(
    "q_layout_dpp",
    (s, dir) => {
      import s.implicits._
      val fact = Maintained.read(s, Maintained.partitionedEvents(s, dir))
      val dim = Maintained.read(s, Maintained.typeDim(s, dir))
      fact.join(dim, Seq("event_type"))
        .where($"category" === "conversion")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"event_type")
    },
    oracle = Some(
      """WITH dim AS (
        |  SELECT DISTINCT event_type,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN 'conversion' ELSE 'engagement' END AS category
        |  FROM events)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim ON e.event_type = dim.event_type
        |WHERE dim.category = 'conversion'
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin))

  val all: Vector[Q] = Vector(
    qLayoutCompact, qLayoutSortedScan, qLayoutPartitionPruned,
    qLayoutZorder, qLayoutDpp)
}
