package graft.operators

import graft.{Q, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join taxonomy — SURVEY.md §2.3 rows 5–14.
  *
  * Scale notes (100 TB):
  *  - Fact⋈fact equi joins (#5, #7, #8) shuffle both sides on the key —
  *    Spark picks sort-merge (or shuffled-hash via AQE); that is the
  *    scale-out path, and AQE splits skewed partitions at runtime.
  *  - Dimension joins (#6, #7's nation/region) are explicitly
  *    `broadcast()`: the dim ships to every executor once, the fact side
  *    never shuffles. region/nation/supplier stay tiny at any SF.
  *  - #12's band join is a BroadcastNestedLoopJoin — correct only because
  *    supplier is the small side (broadcast); at 100 TB the small side is
  *    still the dim, so the shape holds.
  *  - #13 (as-of) is the window formulation: one shuffle on user_id, no
  *    join at all — the classic scale-safe as-of.
  *  - #14 joins the fact against a derived tiny calendar (≤ 80 months) —
  *    auto-broadcast, fact side stays put.
  */
object JoinQueries {

  /** #5 q_join_inner — orders⋈customer, order stats per market segment. */
  val qJoinInner: Q = Q(
    "q_join_inner",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey", "inner")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("order_cnt"),
          sumMoney($"o_totalprice").as("sum_total"))
        .orderBy($"c_mktsegment")
    },
    oracle = Some(
      """SELECT c_mktsegment, COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin))

  /** #6 q_join_broadcast — customer enriched through two broadcast dims. */
  val qJoinBroadcast: Q = Q(
    "q_join_broadcast",
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"r_name", $"n_name")
    },
    oracle = Some(
      """SELECT r_name, n_name, COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin))

  /** #7 q_join_multiway — TPC-H-Q5 flavor, revenue per nation in ASIA
    * for 1996 orders. Facts joined first on their shuffle keys, dims
    * broadcast last. */
  val qJoinMultiway: Q = Q(
    "q_join_multiway",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
            .where($"o_orderdate" >= to_timestamp(lit("1996-01-01")) &&
              $"o_orderdate" < to_timestamp(lit("1997-01-01"))),
          $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir).where($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(sumRevenue($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"n_name")
    },
    oracle = Some(
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin))

  /** #8 q_join_left_outer — every customer, order stats or zeros. */
  val qJoinLeftOuter: Q = Q(
    "q_join_left_outer",
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(
          count($"o_orderkey").as("order_cnt"),
          coalesce(sumMoney($"o_totalprice"), lit(0.0)).as("sum_total"))
        .orderBy($"c_custkey")
    },
    oracle = Some(
      """SELECT c_custkey, COUNT(o_orderkey) AS order_cnt,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), CAST(0 AS DOUBLE)) AS sum_total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin))

  /** #9 q_join_full_outer — deliberately non-overlapping key sets: big
    * parts vs frequently-shipped parts. COALESCE of the two keys is a
    * unique total order (matched rows carry both keys). */
  val qJoinFullOuter: Q = Q(
    "q_join_full_outer",
    (s, dir) => {
      import s.implicits._
      val bigParts = Tables.part(s, dir)
        .where($"p_size" > 25)
        .select($"p_partkey", $"p_size")
      val hotParts = Tables.lineitem(s, dir)
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("li_cnt"))
        .where($"li_cnt" >= 31)
      bigParts
        .join(hotParts, $"p_partkey" === $"l_partkey", "full")
        .select($"p_partkey", $"p_size", $"l_partkey", $"li_cnt")
        .orderBy(coalesce($"p_partkey", $"l_partkey"))
    },
    oracle = Some(
      """SELECT p_partkey, p_size, l_partkey, li_cnt
        |FROM (SELECT p_partkey, p_size FROM part WHERE p_size > 25) p
        |FULL OUTER JOIN (
        |  SELECT l_partkey, COUNT(*) AS li_cnt FROM lineitem
        |  GROUP BY l_partkey HAVING COUNT(*) >= 31) l
        |ON p_partkey = l_partkey
        |ORDER BY COALESCE(p_partkey, l_partkey)""".stripMargin))

  /** #10 q_join_semi — customers having ≥1 'P'-status order. */
  val qJoinSemi: Q = Q(
    "q_join_semi",
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where($"o_orderstatus" === "P"),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
    oracle = Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin))

  /** #11 q_join_anti — customers with no orders at all. */
  val qJoinAnti: Q = Q(
    "q_join_anti",
    (s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey",
          "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    oracle = Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin))

  /** #12 q_join_theta_range — band join: suppliers per customer-balance
    * band (|s_acctbal − c_acctbal| ≤ 100), counted per supplier.
    *
    * Scale-safe band-bucketization instead of a BroadcastNestedLoopJoin:
    * both sides bucket on floor(acctbal/100); the supplier side explodes
    * to its bucket ± 1 (complete: |s−c| ≤ 100 ⇒ bucket distance ≤ 1),
    * the join is a plain equi shuffle join on the bucket key, and the
    * exact BETWEEN post-filters. Supplier grows with SF in this schema,
    * so the r2 broadcast-BNLJ shape would stop scaling; this never
    * broadcasts a growing side and AQE can split a skewed bucket. */
  val qJoinThetaRange: Q = Q(
    "q_join_theta_range",
    (s, dir) => {
      import s.implicits._
      val cust = Tables.customer(s, dir)
        .withColumn("bkt", floor($"c_acctbal" / 100.0))
      val supp = Tables.supplier(s, dir)
        .withColumn("sbkt", floor($"s_acctbal" / 100.0))
        .withColumn("bkt",
          explode(array($"sbkt" - 1, $"sbkt", $"sbkt" + 1)))
      supp.join(cust, "bkt")
        .where($"s_acctbal".between($"c_acctbal" - 100.0, $"c_acctbal" + 100.0))
        .groupBy($"s_suppkey")
        .agg(count(lit(1)).as("n_cust"))
        .orderBy($"s_suppkey")
    },
    oracle = Some(
      """SELECT s_suppkey, COUNT(*) AS n_cust
        |FROM supplier JOIN customer
        |  ON s_acctbal BETWEEN c_acctbal - 100.0 AND c_acctbal + 100.0
        |GROUP BY s_suppkey
        |ORDER BY s_suppkey""".stripMargin))

  /** #13 q_join_self_asof — each purchase matched to the same user's most
    * recent prior-or-same-instant signup, via the window formulation
    * (union-tag + last(ignoreNulls)) — no join, one shuffle on user_id. */
  val qJoinSelfAsof: Q = Q(
    "q_join_self_asof",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .where($"event_type".isin("purchase", "signup"))
        .withColumn("signup_ts",
          when($"event_type" === "signup", $"ts"))
        .withColumn("last_signup_ts",
          last($"signup_ts", ignoreNulls = true).over(w))
        .where($"event_type" === "purchase")
        // NTZ in the final projection only: internal ts stays LTZ (for
        // unix_micros math elsewhere); written parquet must be naive to
        // match DuckDB's TIMESTAMP.
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"last_signup_ts".cast("timestamp_ntz").as("last_signup_ts"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, ts, last_signup_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM events WHERE event_type IN ('purchase','signup')
        |) WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin))

  /** q_join_self_asof_native — the same as-of semantics as #13, but
    * through the custom AsOfJoinPlan/AsOfJoinExec operator (planner
    * extension path) instead of the window formulation. `AsOfJoinSpec`
    * pins equality between the two; Bench times both. Because the
    * semantics are identical, it shares #13's DuckDB twin — so the
    * custom physical operator itself is oracle-checked.
    *
    * The right-side tiebreak (signup event_id) mirrors the twin's
    * window ORDER BY (ts, event_id): among same-microsecond SIGNUP ties
    * the max-event_id row wins on both sides (r5's no-signup-tie fixture
    * precondition is gone — pinned by AsOfJoinSpec's planted-ties test).
    * Residual divergence: a signup sharing a purchase's exact
    * microsecond with a LARGER event_id matches here (s_ts <= ts) but
    * sorts after the purchase in the twin's window and is excluded there
    * — an artifact of the window formulation, not a better semantic; no
    * fixture row hits it (cross-type collisions would fail the oracle
    * loudly, not silently). */
  val qJoinSelfAsofNative: Q = Q(
    "q_join_self_asof_native",
    (s, dir) => {
      import s.implicits._
      val purchases = Tables.events(s, dir)
        .where($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val signups = Tables.events(s, dir)
        .where($"event_type" === "signup")
        .select($"user_id".as("s_user"), $"ts".as("s_ts"),
          $"event_id".as("s_event"))
      graft.plans.AsOf.join(purchases, signups, "user_id", "ts", "s_user", "s_ts",
          rightTieBreakCol = Some("s_event"))
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"s_ts".cast("timestamp_ntz").as("last_signup_ts"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, ts, last_signup_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM events WHERE event_type IN ('purchase','signup')
        |) WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin))

  /** q_join_asof_tolerance (added r5) — the native as-of join with a
    * 1-day staleness bound (AsOf.join's merge_asof-style tolerance):
    * purchases whose most recent signup is older than a day get nulls
    * instead of the stale attach. The twin replays the window
    * formulation and post-CASEs the staleness bound, so the tolerance
    * code path in AsOfJoinExec is itself oracle-checked (the
    * exactly-at-bound case matches on both sides: <= in the exec,
    * >= ts − INTERVAL in the twin). Same event_id tiebreak as
    * q_join_self_asof_native, so tie handling needs no fixture
    * precondition here either. */
  val qJoinAsofTolerance: Q = Q(
    "q_join_asof_tolerance",
    (s, dir) => {
      import s.implicits._
      val purchases = Tables.events(s, dir)
        .where($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val signups = Tables.events(s, dir)
        .where($"event_type" === "signup")
        .select($"user_id".as("s_user"), $"ts".as("s_ts"),
          $"event_id".as("s_event"))
      graft.plans.AsOf.join(purchases, signups, "user_id", "ts", "s_user", "s_ts",
          toleranceMicros = Some(86400000000L), // 1 day
          rightTieBreakCol = Some("s_event"))
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"s_ts".cast("timestamp_ntz").as("last_signup_ts"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, ts,
        |  CASE WHEN last_signup_ts >= ts - INTERVAL 1 DAY
        |       THEN last_signup_ts END AS last_signup_ts
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM events WHERE event_type IN ('purchase','signup')
        |) WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin))

  /** #14 q_join_interval — lineitems falling in any order-date month
    * window: equi join on the month truncation against a derived (tiny,
    * auto-broadcast) month calendar. */
  val qJoinInterval: Q = Q(
    "q_join_interval",
    (s, dir) => {
      import s.implicits._
      val months = Tables.orders(s, dir)
        // NTZ cast: date_trunc yields LTZ, but the emitted month column
        // must round-trip as naive TIMESTAMP to match the DuckDB twin.
        .select(date_trunc("month", $"o_orderdate").cast("timestamp_ntz")
          .as("month"))
        .distinct()
      Tables.lineitem(s, dir)
        .join(months,
          date_trunc("month", $"l_shipdate").cast("timestamp_ntz") === $"month")
        .groupBy($"month")
        .agg(count(lit(1)).as("li_cnt"))
        .orderBy($"month")
    },
    oracle = Some(
      """SELECT month, COUNT(*) AS li_cnt
        |FROM (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month FROM orders) m
        |JOIN lineitem ON CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) = month
        |GROUP BY month
        |ORDER BY month""".stripMargin))

  /** Bucketed-table setup for q_join_bucketed: orders and customer
    * written ONCE per (session, sfDir) as bucketed+sorted external
    * tables on the join key (8 buckets, in-memory session catalog, data
    * under a per-JVM /tmp root). The write is the one-time layout cost a
    * warehouse pays at ingest; every later join on the key is then
    * exchange-free. Locked build for the same reason as
    * DedupQueries.Shingled — racing first calls must not double-write. */
  object Bucketed {
    private val cache = new graft.Memo[
      (org.apache.spark.sql.SparkSession, String), (String, String)]
    private val root = graft.TmpRoots.register(java.nio.file.Paths.get(
      "/tmp/graft_buckets", "jvm" + ProcessHandle.current().pid()))

    def apply(s: org.apache.spark.sql.SparkSession, dir: String): (String, String) =
      cache((s, dir)) {
        locally {
          val tok = dir.replaceAll("[^A-Za-z0-9.]+", "_").replace('.', '_')
          val (to, tc) = (s"b_orders_$tok", s"b_customer_$tok")
          val base = root.resolve(tok)
          java.nio.file.Files.createDirectories(base)
          Tables.orders(s, dir)
            .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
            .option("path", base.resolve("orders").toString)
            .mode("overwrite").saveAsTable(to)
          Tables.customer(s, dir)
            .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
            .option("path", base.resolve("customer").toString)
            .mode("overwrite").saveAsTable(tc)
          (to, tc)
        }
      }
  }

  /** q_join_bucketed (added r7) — the recurring fact⋈dim join on
    * PRE-BUCKETED tables: both sides bucketed+sorted on the key, so the
    * sort-merge join runs with ZERO exchanges and zero sorts (PlanAudit
    * asserts the shape; the bucket-pruned scan shows
    * SelectedBucketsCount). This is the co-location story at 100 TB:
    * pay the shuffle once at write time, then every daily join on that
    * key is a local merge. The merge hint keeps the demonstration on
    * the SMJ path a fact⋈fact join would take. Oracle = the same join
    * over the raw parquet — bucketing must not change a single row. */
  val qJoinBucketed: Q = Q(
    "q_join_bucketed",
    (s, dir) => {
      import s.implicits._
      val (to, tc) = Bucketed(s, dir)
      s.table(to).hint("merge")
        .join(s.table(tc), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sumMoney($"o_totalprice").as("revenue"))
        .orderBy($"c_mktsegment")
    },
    oracle = Some(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin))

  /** q_join_bloom_filtered (added r7) — runtime BLOOM-FILTER pushdown on
    * a shuffle join: orders filtered to one priority builds a bloom
    * filter over its keys at runtime, and Catalyst's InjectRuntimeFilter
    * pushes `bloom_filter_might_contain(xxhash64(l_orderkey))` into the
    * lineitem scan, so ~80% of the fact rows die BEFORE the shuffle
    * instead of after it. At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the matching fifth —
    * the fact⋈fact analogue of DPP (which needs a partition column;
    * bloom filters work on any key). The thresholds assume cluster-scale
    * scans (10 GB), so the row runs on a [[bloomScope]] clone sized to
    * the fixture; the returned frame stays bound to it, so the action
    * that runs it plans under the same conf. Broadcast is scoped off
    * because the filter targets shuffle joins, which is what both sides
    * being fact-sized forces anyway.
    * PlanAuditSpec asserts the bloom expression sits in the scan's
    * pushed data filters. Oracle = the same join unfiltered by any
    * bloom: the filter may only drop NON-matching rows. */
  val qJoinBloom: Q = Q(
    "q_join_bloom_filtered",
    (s, dir) => {
      import s.implicits._
      val scoped = bloomScope(s)
      val dim = graft.Scope.bind(Tables.orders(s, dir), scoped)
        .where($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      graft.Scope.bind(Tables.lineitem(s, dir), scoped)
        .join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sumRevenue($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"l_returnflag")
    },
    oracle = Some(
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        | AND o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin))

  /** A [[graft.Scope]] clone of `s` carrying the runtime-bloom-filter
    * confs. Package-visible so PlanAuditSpec audits the identical scope. */
  private[graft] def bloomScope(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = graft.Scope(s,
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // Default assumes a ≥10 GB application-side scan; the fixture is
    // smaller, the plan shape is what's under test.
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    // Both sides fact-sized at 100 TB ⇒ shuffle join, the shape the
    // filter exists for (a broadcast join IS already the filter).
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** q_join_asof_nearest — the NEAREST direction of the as-of family
    * (pandas merge_asof direction='nearest' / kdb aj with both-sided
    * search), completing the trio with backward (#13/#13b) and
    * backward+tolerance: each purchase matches its nearest click in
    * EITHER time direction within the user, ties broken toward the
    * earlier (backward) candidate — merge_asof's own rule.
    *
    * Formulation: two stacked frames over ONE per-user sort — the
    * running max of click micros up to the current row (backward
    * candidate) and the running min from the current row on (forward
    * candidate) — then a pure-scalar CASE picks the closer side.
    * Spark plans both frames over a single sort+window pair; no join
    * node at all, which is the right physical shape for a self as-of
    * (the generic range-join would rescan the click side per
    * purchase).
    *
    * Determinism: timestamps compare as exact integer micros; the
    * tie rule is explicit in the CASE (<= keeps backward); NULL
    * (no click on one side) falls through COALESCE identically in
    * both engines.
    *
    * Scale: one keyed window sort per user — the per-entity series is
    * the unit of parallelism, no global sort, no shuffle beyond the
    * user keying (same argument as q_events_attribution). */
  val qJoinAsofNearest: Q = Q(
    "q_join_asof_nearest",
    (s, dir) => {
      import s.implicits._
      val wAll = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wBack = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wFwd = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, dir)
        .where($"event_type".isin("purchase", "click"))
        .withColumn("click_us",
          when($"event_type" === "click", unix_micros($"ts")))
        .withColumn("back_us", max($"click_us").over(wBack))
        .withColumn("fwd_us", min($"click_us").over(wFwd))
        .where($"event_type" === "purchase")
        .withColumn("us", unix_micros($"ts"))
        .withColumn("nearest_click_us",
          when($"back_us".isNull, $"fwd_us")
            .when($"fwd_us".isNull, $"back_us")
            .when($"us" - $"back_us" <= $"fwd_us" - $"us", $"back_us")
            .otherwise($"fwd_us"))
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"nearest_click_us",
          ($"nearest_click_us" - $"us").as("signed_gap_us"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, ts, nearest_click_us,
        |  nearest_click_us - us AS signed_gap_us
        |FROM (
        |  SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS us,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
        |  FROM events WHERE event_type IN ('purchase', 'click'))
        |CROSS JOIN LATERAL (SELECT
        |  CASE WHEN back_us IS NULL THEN fwd_us
        |       WHEN fwd_us IS NULL THEN back_us
        |       WHEN us - back_us <= fwd_us - us THEN back_us
        |       ELSE fwd_us END AS nearest_click_us)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin))

  /** q_join_asof_forward — the FORWARD direction of the as-of family
    * (merge_asof direction='forward'), completing the direction set
    * with backward (#13/#13b), backward+tolerance and nearest: each
    * purchase matches the FIRST signup at-or-after it within the user
    * — "what does this user do next", the lead-conversion counterpart
    * of backward's attribution lookup.
    *
    * Mirror of #13's window formulation: first non-null signup ts over
    * the (current row → unbounded following) frame of the SAME
    * per-user sort. Ties at the purchase's exact microsecond follow
    * the (ts, event_id) window order identically in both engines —
    * the frame starts AT the current row, so a same-microsecond signup
    * with a larger event_id is the match.
    *
    * Scale: one keyed window sort per user, no join node — the
    * per-entity series is the unit of parallelism (same argument as
    * q_join_asof_nearest). */
  val qJoinAsofForward: Q = Q(
    "q_join_asof_forward",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      Tables.events(s, dir)
        .where($"event_type".isin("purchase", "signup"))
        .withColumn("signup_ts",
          when($"event_type" === "signup", $"ts"))
        .withColumn("next_signup_ts",
          first($"signup_ts", ignoreNulls = true).over(w))
        .where($"event_type" === "purchase")
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"next_signup_ts".cast("timestamp_ntz").as("next_signup_ts"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, ts, next_signup_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    first_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_signup_ts
        |  FROM events WHERE event_type IN ('purchase','signup')
        |) WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin))

  /** q_join_null_safe — NULL-SAFE equality join (Spark `<=>` /
    * SQL IS NOT DISTINCT FROM): the join a dimension lookup needs when
    * the key itself can be missing and "missing" is a real bucket, not
    * a dropped row — plain equi-join semantics silently discard every
    * NULL-keyed fact. The fixtures have no NULL keys (FIXTURES.md), so
    * the row plants them with the md5 gate (~10% of events lose their
    * user bucket — deterministic, both engines null the SAME rows),
    * then joins against an 11-row bucket dim whose last row IS the
    * NULL key. The planted rows land in 'missing' — the oracle proves
    * both the match semantics and that no row vanished (Σn = |events|).
    * Scale: the dim is literal-sized → broadcast; narrow fact scan. */
  val qJoinNullSafe: Q = Q(
    "q_join_null_safe",
    (s, dir) => {
      import s.implicits._
      val dim = ((0 until 10).map(i => (Some(i.toLong), s"bucket_$i")) :+
        (Option.empty[Long], "missing")).toDF("k", "bucket_label")
      val facts = Tables.events(s, dir)
        .select($"event_id",
          when(md5Gate($"event_id", "1a"), lit(null))
            .otherwise(pmod($"user_id", lit(10L))).as("k"))
      facts.join(broadcast(dim), facts("k") <=> dim("k"))
        .groupBy($"bucket_label")
        .agg(count(lit(1)).as("n"))
        .orderBy($"bucket_label")
    },
    oracle = Some(
      s"""WITH dim AS (
         |  SELECT * FROM (VALUES
         |    (0, 'bucket_0'), (1, 'bucket_1'), (2, 'bucket_2'),
         |    (3, 'bucket_3'), (4, 'bucket_4'), (5, 'bucket_5'),
         |    (6, 'bucket_6'), (7, 'bucket_7'), (8, 'bucket_8'),
         |    (9, 'bucket_9'), (NULL, 'missing')) d(k, bucket_label)),
         |facts AS (
         |  SELECT event_id,
         |    CASE WHEN ${md5GateSql("event_id", "1a")} THEN NULL
         |         ELSE user_id % 10 END AS k
         |  FROM events)
         |SELECT bucket_label, COUNT(*) AS n
         |FROM facts JOIN dim ON facts.k IS NOT DISTINCT FROM dim.k
         |GROUP BY bucket_label
         |ORDER BY bucket_label""".stripMargin))

  /** q_join_pit — POINT-IN-TIME (PIT) dimension lookup against the
    * SCD2 version table: each purchase reads the user's attribute
    * VERSION that was valid at the purchase instant (valid_from ≤ ts <
    * valid_to) — the temporally-correct enrichment that prevents
    * FEATURE LEAKAGE in training data (joining today's dim row onto
    * last year's facts lets the future leak into the features; every
    * feature-store "time-travel join" is this operator). The version
    * table is q_dim_scd2's (signup events version `value` per user).
    *
    * Spark side: NO join at all — the union-window as-of form: signups
    * and purchases interleave in one per-user window ordered by
    * (ts, kind, event_id) with signup-before-purchase on exact-ts ties
    * (matching interval semantics, where a version starting AT the
    * purchase instant already applies), and `last(attr, ignoreNulls)`
    * carries the current version onto each purchase row. The DuckDB
    * twin is the textbook INTERVAL LEFT JOIN against the materialized
    * SCD2 table — a completely different algorithm, so the hash match
    * PROVES window-carry ≡ interval semantics (including empty
    * zero-width versions, which the interval form excludes and the
    * window form overwrites at the same instant). Pre-signup purchases
    * surface with NULL version (LEFT semantics) — dropped rows would
    * hide the coverage gap.
    *
    * Scale (100 TB): one event_type-pruned scan, one user-keyed window
    * — per-key state, no global sort, no join shuffle at all vs the
    * interval join's range-bucketed O(facts × versions/user) work; the
    * same shape streams (the as-of family argument). */
  val qJoinPit: Q = Q(
    "q_join_pit",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .where($"event_type".isin("signup", "purchase"))
        .select($"user_id", $"ts", $"event_id",
          when($"event_type" === "purchase", 1L).otherwise(0L).as("kind"),
          $"value")
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"kind", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev
        .withColumn("attr",
          last(when($"kind" === 0, $"value"), ignoreNulls = true).over(w))
        .withColumn("version_event_id",
          last(when($"kind" === 0, $"event_id"), ignoreNulls = true).over(w))
        .where($"kind" === 1)
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"attr", $"version_event_id")
        .orderBy($"event_id")
    },
    oracle = Some(
      """WITH scd2 AS (
        |  SELECT user_id, event_id, value AS attr,
        |    ts AS valid_from,
        |    lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  d.attr, d.event_id AS version_event_id
        |FROM p LEFT JOIN scd2 d
        |  ON p.user_id = d.user_id
        |  AND p.ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR p.ts < d.valid_to)
        |ORDER BY p.event_id""".stripMargin))

  val all: Vector[Q] = Vector(
    qJoinInner, qJoinBroadcast, qJoinMultiway, qJoinLeftOuter,
    qJoinFullOuter, qJoinSemi, qJoinAnti, qJoinThetaRange,
    qJoinSelfAsof, qJoinSelfAsofNative, qJoinAsofTolerance, qJoinInterval,
    qJoinBucketed, qJoinBloom, qJoinAsofNearest, qJoinAsofForward,
    qJoinNullSafe, qJoinPit)
}
