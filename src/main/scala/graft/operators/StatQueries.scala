package graft
package operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Dsl._

/** Statistical / financial analytics rows (SURVEY.md §2.10b additions, r8):
  * the indicator math a market-data (crypto-ETL-shaped) pipeline derives
  * from a tick/event stream, plus classical categorical statistics.
  *
  * Reference basis: /root/reference contains no code (SURVEY.md §0), so
  * these rows derive from the survey's north star — time-series analytics
  * over an event log — not from any reference file.
  *
  * Determinism strategy (SURVEY.md §2 rules): every moment (Σx, Σx²,
  * Σxy) is an EXACT decimal sum (fixture numerics are 2-dp exact,
  * FIXTURES.md); derived ratios are computed with a textually identical
  * IEEE double expression in both engines and rounded once. No raw
  * double aggregate is ever emitted.
  */
object StatQueries {

  /** q_ts_drawdown — per-user running-peak drawdown over the cumulative
    * value series: cum(t) = Σ value so far, peak(t) = max cum so far,
    * drawdown(t) = peak − cum; report each user's max drawdown, peak and
    * final total. THE risk metric for any cumulative-PnL series.
    *
    * Shape: one keyed window sort per user (two stacked frames over the
    * same ordering — Spark plans a single sort+window node), then a
    * partial-agg shuffle on user_id. All arithmetic stays in
    * DECIMAL(28,2) (running sums of 2-dp values): subtraction and max
    * are exact, so the result is bit-identical in any engine, any order.
    * Scale: windows partition by user_id — at 100 TB the per-user
    * series is the unit of parallelism (no global sort); skewed users
    * would shard by (user, day) with per-shard partials merged by the
    * same monoid. */
  val qTsDrawdown: Q = Q(
    "q_ts_drawdown",
    (s, dir) => {
      import s.implicits._
      val run = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("cum", sum(dec2($"value")).over(run))
        .withColumn("peak", max($"cum").over(run))
        .groupBy($"user_id")
        .agg(
          count(lit(1)).as("n_events"),
          max($"peak" - $"cum").cast(DoubleType).as("max_drawdown"),
          max($"peak").cast(DoubleType).as("peak"),
          max($"cum").cast(DoubleType).as("peak_check"),
          sum(dec2($"value")).cast(DoubleType).as("total"))
        .drop("peak_check")
        .orderBy($"user_id")
    },
    oracle = Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(MAX(peak - cum) AS DOUBLE) AS max_drawdown,
        |  CAST(MAX(peak) AS DOUBLE) AS peak,
        |  CAST(SUM(v) AS DOUBLE) AS total
        |FROM (
        |  SELECT user_id, v, cum,
        |    MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS peak
        |  FROM (
        |    SELECT user_id, ts, event_id, v,
        |      SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS cum
        |    FROM (SELECT user_id, ts, event_id,
        |            CAST(value AS DECIMAL(18,2)) AS v FROM events)))
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin))

  /** q_win_bollinger — Bollinger bands over a trailing 7-row frame per
    * user: rolling mean ± 2σ from EXACT decimal moments (Σv, Σv² over
    * the frame), plus a band-breach flag. The canonical rolling
    * volatility indicator.
    *
    * Determinism: frame sums are decimal-exact; mean/σ/bands use the
    * identical double expression in both engines (IEEE + correctly
    * rounded sqrt ⇒ same bits), surfaced via round(·,6). The variance is
    * clamped at 0 (greatest) because a constant frame can land the FP
    * expression at a tiny negative, where Spark's sqrt yields NaN but
    * DuckDB's errors — the clamp pins the contract identically.
    * The breach flag compares value against UNROUNDED band expressions —
    * both engines evaluate the same FP comparison, so the flag cannot
    * disagree with the displayed bands' unrounded ancestors.
    * Scale: same per-user window unit as q_ts_drawdown; the frame is
    * O(1) rows, so state per key is constant. */
  val qWinBollinger: Q = Q(
    "q_win_bollinger",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-6, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(dec2($"value")).over(w).cast(DoubleType))
        .withColumn("ss",
          sum(dec2($"value") * dec2($"value")).over(w).cast(DoubleType))
        .withColumn("mean", $"s" / $"n")
        .withColumn("sd",
          sqrt(greatest($"ss" / $"n" - ($"s" / $"n") * ($"s" / $"n"), lit(0.0))))
        .select(
          $"event_id", $"user_id", $"value",
          round($"mean", 6).as("mid"),
          round($"mean" + $"sd" * 2.0, 6).as("upper"),
          round($"mean" - $"sd" * 2.0, 6).as("lower"),
          when($"value" > $"mean" + $"sd" * 2.0 ||
               $"value" < $"mean" - $"sd" * 2.0, 1)
            .otherwise(0).cast(IntegerType).as("breach"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, value,
        |  ROUND(s/n, 6) AS mid,
        |  ROUND(s/n + 2.0 * sqrt(greatest(ss/n - (s/n)*(s/n), 0.0)), 6) AS upper,
        |  ROUND(s/n - 2.0 * sqrt(greatest(ss/n - (s/n)*(s/n), 0.0)), 6) AS lower,
        |  CAST(CASE WHEN value > s/n + 2.0 * sqrt(greatest(ss/n - (s/n)*(s/n), 0.0))
        |         OR value < s/n - 2.0 * sqrt(greatest(ss/n - (s/n)*(s/n), 0.0))
        |       THEN 1 ELSE 0 END AS INTEGER) AS breach
        |FROM (
        |  SELECT event_id, user_id, value,
        |    COUNT(*) OVER w AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         OVER w AS DOUBLE) AS ss
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |ORDER BY event_id""".stripMargin))

  /** q_agg_corr — grouped Pearson correlation from exact moments:
    * corr(l_quantity, l_discount) and corr(l_quantity, l_tax) per
    * returnflag, computed as (nΣxy − ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))
    * where every Σ is an exact decimal sum.
    *
    * Built-in `corr` is deliberately NOT used: both engines implement it
    * as an order-sensitive streaming double fold (Welford-style), so its
    * low bits depend on partitioning — unusable under a bit-equality
    * oracle (SURVEY §2 rule 2). The moment form costs one extra column
    * per pair and is exactly mergeable, which is also why it is the
    * 100 TB shape: moments are monoid partials (map-side combine, one
    * keyed shuffle, 3-group output), where a Welford merge tree is not
    * reproducible run-to-run.
    *
    * Bounds: x ≤ ~50 (2-dp), y ≤ ~0.1 (2-dp) ⇒ Σxy over 6e5 rows ≤ 3e6
    * at scale 4 — far inside both DECIMAL(38,4) and double's 2⁵³ exact
    * range, so the decimal→double surfacing is exact (no ulp hazard). */
  val qAggCorr: Q = Q(
    "q_agg_corr",
    (s, dir) => {
      import s.implicits._
      def corrOf(x: Column, y: Column): Column = {
        val n  = count(lit(1)).cast(DoubleType)
        val sx = sum(dec2(x)).cast(DoubleType)
        val sy = sum(dec2(y)).cast(DoubleType)
        val sxx = sum(dec2(x) * dec2(x)).cast(DoubleType)
        val syy = sum(dec2(y) * dec2(y)).cast(DoubleType)
        val sxy = sum(dec2(x) * dec2(y)).cast(DoubleType)
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      }
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          corrOf($"l_quantity", $"l_discount").as("corr_qty_disc"),
          corrOf($"l_quantity", $"l_tax").as("corr_qty_tax"))
        .orderBy($"l_returnflag")
    },
    oracle = Some {
      def c(x: String, y: String) =
        s"""ROUND((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST($x AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS DOUBLE)
           |  - CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST($y AS DECIMAL(18,2))) AS DOUBLE))
           | / (sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST($x AS DECIMAL(18,2)) * CAST($x AS DECIMAL(18,2))) AS DOUBLE)
           |      - CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE))
           |  * sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(CAST($y AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS DOUBLE)
           |      - CAST(SUM(CAST($y AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST($y AS DECIMAL(18,2))) AS DOUBLE))), 6)""".stripMargin
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${c("l_quantity", "l_discount")} AS corr_qty_disc,
         |  ${c("l_quantity", "l_tax")} AS corr_qty_tax
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin
    })

  /** q_events_markov — first-order event-type transition matrix: for
    * each user's time-ordered event stream, count (prev → next) pairs
    * and the transition probability per source state. Sequence-mining /
    * next-action-model groundwork over any clickstream.
    *
    * Shape: one window sort per user for the lag, then a 25-group agg
    * (5×5 state pairs) with map-side partials; the per-source totals
    * come from a second tiny window over the 25-row AGGREGATE, not the
    * event table. p = cnt/total is one double division of two exact
    * longs — identical IEEE result in both engines — rounded once. */
  val qEventsMarkov: Q = Q(
    "q_events_markov",
    (s, dir) => {
      import s.implicits._
      val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val counts = Tables.events(s, dir)
        .withColumn("prev_type", lag($"event_type", 1).over(seq))
        .where($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type")
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("total", sum($"cnt").over(Window.partitionBy($"prev_type")))
        .select(
          $"prev_type", $"event_type", $"cnt",
          round($"cnt".cast(DoubleType) / $"total".cast(DoubleType), 6).as("p"))
        .orderBy($"prev_type", $"event_type")
    },
    oracle = Some(
      """SELECT prev_type, event_type, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        |FROM (
        |  SELECT prev_type, event_type, COUNT(*) AS cnt
        |  FROM (
        |    SELECT event_type,
        |      lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |    FROM events)
        |  WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type)
        |ORDER BY prev_type, event_type""".stripMargin))

  /** q_ab_chisquare — chi-square contingency diagnostics for an A/B
    * split: cohort = user_id % 2 crossed with event_type; per cell the
    * observed count, expected count under independence, and the cell's
    * χ² contribution. The experimentation-analysis primitive.
    *
    * The SCALAR χ² statistic (Σ over cells) is deliberately NOT emitted:
    * it would sum 10 doubles in engine-dependent order (rule 2). The
    * per-cell table carries strictly more information, and each cell's
    * expected/contrib derive from exact integer margins (row_tot ×
    * col_tot < 2⁵³) through one identical double expression. Shape: one
    * 10-group agg with partials; margins via windows over the 10-row
    * aggregate — nothing wide ever re-shuffles. */
  val qAbChisquare: Q = Q(
    "q_ab_chisquare",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.events(s, dir)
        .withColumn("cohort", ($"user_id" % 2).cast(IntegerType))
        .groupBy($"cohort", $"event_type")
        .agg(count(lit(1)).as("obs"))
      val withMargins = cells
        .withColumn("row_tot", sum($"obs").over(Window.partitionBy($"cohort")))
        .withColumn("col_tot", sum($"obs").over(Window.partitionBy($"event_type")))
        .withColumn("n", sum($"obs").over(Window.partitionBy()))
      withMargins
        .withColumn("expected",
          ($"row_tot" * $"col_tot").cast(DoubleType) / $"n".cast(DoubleType))
        .select(
          $"cohort", $"event_type", $"obs",
          round($"expected", 6).as("expected"),
          round(($"obs".cast(DoubleType) - $"expected") *
                ($"obs".cast(DoubleType) - $"expected") / $"expected", 6)
            .as("contrib"))
        .orderBy($"cohort", $"event_type")
    },
    oracle = Some(
      """SELECT cohort, event_type, obs,
        |  ROUND(expected, 6) AS expected,
        |  ROUND((CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected) / expected, 6) AS contrib
        |FROM (
        |  SELECT cohort, event_type, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY cohort) * SUM(obs) OVER (PARTITION BY event_type) AS DOUBLE)
        |      / CAST(SUM(obs) OVER () AS DOUBLE) AS expected
        |  FROM (
        |    SELECT CAST(user_id % 2 AS INTEGER) AS cohort, event_type, COUNT(*) AS obs
        |    FROM events GROUP BY 1, 2))
        |ORDER BY cohort, event_type""".stripMargin))

  /** q_skyline — Pareto frontier (skyline) per brand over
    * (p_retailprice ↓, p_size ↓): parts not dominated by any same-brand
    * part that is ≤ on both axes and < on at least one. Multi-objective
    * "best offers" — the classic non-join-expressible operator.
    *
    * Technique: the O(n log n) sweep, NOT the O(n²) NOT EXISTS the
    * oracle uses. Sort each brand by price (cents, exact long); a row
    * survives iff its size is strictly below the min size over all
    * STRICTLY cheaper rows (RANGE frame to −1 cent — dominance via
    * cheaper-or-equal-size) AND it has the min size within its own
    * price point (equal-price dominance; ties on both axes survive —
    * no strict edge). Two window frames over one sort, zero self-joins.
    * Scale: partitioned by brand; an unpartitioned skyline would
    * range-repartition on price, compute per-partition frontiers, then
    * merge frontiers (each O(output)) — same sweep, one extra exchange. */
  val qSkyline: Q = Q(
    "q_skyline",
    (s, dir) => {
      import s.implicits._
      val cents = (dec2($"p_retailprice") * 100).cast(LongType)
      val cheaper = Window.partitionBy($"p_brand").orderBy($"cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val samePrice = Window.partitionBy($"p_brand", $"cents")
      Tables.part(s, dir)
        .withColumn("cents", cents)
        .withColumn("min_size_cheaper", min($"p_size").over(cheaper))
        .withColumn("min_size_same", min($"p_size").over(samePrice))
        .where(($"min_size_cheaper".isNull ||
                $"p_size" < $"min_size_cheaper") &&
               $"p_size" === $"min_size_same")
        .select($"p_brand", $"p_partkey", $"p_retailprice", $"p_size")
        .orderBy($"p_brand", $"p_partkey")
    },
    oracle = Some(
      """SELECT p_brand, p_partkey, p_retailprice, p_size
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_brand = p.p_brand
        |    AND q.p_retailprice <= p.p_retailprice
        |    AND q.p_size <= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))
        |ORDER BY p_brand, p_partkey""".stripMargin))

  /** q_events_attribution (added r8) — LAST-TOUCH attribution: every
    * purchase credited to the user's most recent preceding click, with
    * the click-to-convert latency. The core marketing/behavioral join
    * that [[qEventsMarkov]] (aggregate transitions) and q_funnel
    * (fixed stage order) don't answer: WHICH interaction gets credit
    * for THIS conversion, per conversion.
    *
    * Expressed as a running `max(CASE click THEN ts END)` over the
    * user's ordered stream — a conditional cumulative window, not a
    * join: the as-of-join formulation ([[q_join_self_asof]] family)
    * would shuffle clicks and purchases separately and merge; here one
    * keyed exchange orders the stream once and every purchase reads
    * its answer from O(1) running state. Purchases with no prior click
    * surface NULL credit (first-session conversions — kept, not
    * dropped: their count is the direct-traffic metric).
    *
    * Determinism: timestamps compare as exact integer micros
    * (unix_micros/epoch_us), the latency is exact integer subtraction,
    * and NULL propagates identically through both engines. */
  val qEventsAttribution: Q = Q(
    "q_events_attribution",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("last_click_us",
          max(when($"event_type" === "click", unix_micros($"ts"))).over(w))
        .where($"event_type" === "purchase")
        .select($"event_id", $"user_id",
          $"ts".cast("timestamp_ntz").as("ts"),
          $"last_click_us",
          (unix_micros($"ts") - $"last_click_us").as("gap_us"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id, user_id, ts, last_click_us,
        |  epoch_us(ts) - last_click_us AS gap_us
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_click_us
        |  FROM events)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin))

  /** One dimension of [[bucketNtiles]]: `bucket` must be a coarsening
    * of the leading sort key and `ties` the remaining total order within
    * a bucket — together they form the total order the DuckDB twin's
    * `ntile(k) OVER (ORDER BY ...)` names. The tile lands in `out`. */
  private[graft] final case class NtileDim(bucket: Column, ties: Seq[Column],
      out: String)

  /** Global NTILE over an unbounded entity table WITHOUT a global
    * single-partition window, for any number of sort orders at once:
    * global rank = per-bucket offset (computed on the BUCKET histogram,
    * whose size is the value domain, not the entity count) + row_number
    * within the bucket (a DISTRIBUTED window, partitioned by bucket).
    * The ntile bucket formula then mirrors the SQL-standard split (first
    * n%k tiles get one extra row), so the twin writes plain ntile(k).
    *
    * Every dimension's bucket is stacked (a union of one-column reads)
    * into `(dim, bucket)` rows and ONE histogram is aggregated over them;
    * one small window partitioned by dim turns it into each bucket's
    * offset and its dimension's `n`, folded into a single-row
    * `(dim, bucket) -> (off, n)` map. That row is broadcast once and each
    * entity row looks its offsets up before any rank step, so the rank
    * windows run as a chain over the same rows: no join back on an
    * entity key. (One broadcast join of an offsets table per dimension
    * would aggregate the histogram once per join when the input is a
    * cached frame: AQE does not reuse an exchange above a table-cache
    * stage.) Everything stays lazy: building the frame starts no job.
    *
    * At 100 TB the histogram stays bounded because buckets are
    * value-range domains (days, counts, $100 spend buckets), which do
    * not grow with row count. */
  private[graft] def bucketNtiles(df: DataFrame, k: Int,
      dims: NtileDim*): DataFrame = {
    val bkts = dims.indices.map(i => s"__bkt$i")
    val withB = df.select(col("*") +: dims.zip(bkts).map { case (d, b) =>
      d.bucket.cast(LongType).as(b) }: _*)
    val byDim = Window.partitionBy("dim")
    val offsets = bkts.zipWithIndex
      .map { case (b, i) => withB.select(lit(i).as("dim"), col(b).as("bkt")) }
      .reduce(_ union _)
      .groupBy("dim", "bkt").agg(count(lit(1)).as("c"))
      .select(struct("dim", "bkt").as("key"), struct(
        (sum("c").over(byDim.orderBy("bkt").rowsBetween(
          Window.unboundedPreceding, Window.currentRow)) - col("c")).as("off"),
        sum("c").over(byDim).as("n")).as("value"))
      .agg(map_from_entries(collect_list(struct("key", "value"))).as("__offs"))
    // Look every dimension up at once, so the map never reaches a shuffle.
    val looked = withB.crossJoin(broadcast(offsets))
      .select(col("*") +: bkts.zipWithIndex.map { case (b, i) =>
        col("__offs")(struct(lit(i).as("dim"), col(b).as("bkt"))).as(s"__o$i")
      }: _*).drop("__offs")
    dims.zip(bkts).zipWithIndex.foldLeft(looked) { case (d, ((dim, b), i)) =>
      d.withColumn("__rn", row_number().over(Window.partitionBy(b)
          .orderBy(dim.ties: _*)).cast(LongType) + col(s"__o$i.off"))
        .withColumn("__base", expr(s"__o$i.n div $k"))
        .withColumn("__extra", col(s"__o$i.n") % k)
        // CaseWhen evaluates only the branch taken: when n < k every
        // rn <= extra, so the `div __base` (base 0) branch never runs.
        .withColumn(dim.out, expr("CAST(CASE WHEN __rn <= (__base + 1) * " +
          "__extra THEN (__rn - 1) div (__base + 1) + 1 ELSE __extra + " +
          "(__rn - 1 - (__base + 1) * __extra) div __base + 1 END AS BIGINT)"))
        .drop("__rn", "__base", "__extra")
    }.drop(bkts ++ dims.indices.map(i => s"__o$i"): _*)
  }

  /** q_events_rfm — RFM customer scoring (Recency / Frequency /
    * Monetary, the classic direct-marketing segmentation): per user,
    * days since last purchase (relative to the stream's last purchase —
    * a data-relative anchor, so the row is frozen-fixture stable),
    * purchase count, and exact spend; each dimension quintiled 1–5 and
    * composed into the 111–555 RFM cell. Score convention: 5 = best
    * (most recent / most frequent / highest spend).
    *
    * Determinism: recency is integer day math on micros; monetary
    * ranks by EXACT cents (sum of DECIMAL(18,2) × 100 as long) so
    * quintile boundaries never sit on a float; every tie inside a
    * quintile sort is broken by user_id — a total order, which is what
    * makes ntile deterministic in both engines.
    *
    * Scale (100 TB): the fact table collapses to per-user aggregates
    * in one partial-agg shuffle. The three global quintiles then come
    * from ONE [[bucketNtiles]] call — NO single-partition window ever
    * sees the user table: one histogram over the stacked (dimension,
    * bucket) values of the bounded domains (31 days / small counts /
    * $100 spend buckets) gives every offset, and three bucket-partitioned
    * rank windows run as a chain over the user rows, with no join back
    * on user_id. The DuckDB twin writes plain ntile(5) windows; the
    * hash-match proves the decomposition. */
  /** Per-user RFM aggregate, persisted per (session, dir): each call
    * reads it four times (one bucket column per dimension into the
    * histogram, and the rank chain's rows), so an un-persisted plan
    * would re-derive the purchase aggregation in every read. */
  private val rfmAggCache = new graft.Memo[(SparkSession, String), DataFrame]

  val qEventsRfm: Q = Q(
    "q_events_rfm",
    (s, dir) => {
      import s.implicits._
      val agg = rfmAggCache((s, dir)) {
        val p = Tables.events(s, dir)
          .where($"event_type" === "purchase")
          .select($"user_id", unix_micros($"ts").as("us"), $"value")
        val anchor = p.agg(max($"us").as("now_us"))
        p.groupBy($"user_id")
          .agg(max($"us").as("last_us"),
            count(lit(1)).as("frequency"),
            sum(dec2($"value")).as("sv"))
          .crossJoin(broadcast(anchor))
          .select($"user_id",
            expr("(now_us - last_us) div 86400000000").as("recency_days"),
            $"frequency",
            ($"sv" * 100).cast(LongType).as("mon_cents"),
            $"sv".cast(DoubleType).as("monetary"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      bucketNtiles(agg, 5,
        NtileDim($"recency_days", Seq($"user_id"), "qr"),
        NtileDim($"frequency", Seq($"user_id"), "qf"),
        NtileDim(expr("mon_cents div 10000"), Seq($"mon_cents", $"user_id"),
          "qm"))
        .select($"user_id", $"recency_days", $"frequency", $"monetary",
          (lit(6L) - $"qr").as("r_score"),
          $"qf".as("f_score"),
          $"qm".as("m_score"),
          ((lit(6L) - $"qr") * 100 + $"qf" * 10 + $"qm").as("rfm_cell"))
        .orderBy($"user_id")
    },
    oracle = Some(
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |anchor AS (SELECT MAX(us) AS now_us FROM p),
        |agg AS (
        |  SELECT user_id,
        |    (a.now_us - MAX(us)) // 86400000000 AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(v) * 100 AS BIGINT) AS mon_cents,
        |    CAST(SUM(v) AS DOUBLE) AS monetary
        |  FROM p, anchor a GROUP BY user_id, a.now_us),
        |sc AS (
        |  SELECT user_id, recency_days, frequency, monetary,
        |    ntile(5) OVER (ORDER BY recency_days, user_id) AS qr,
        |    ntile(5) OVER (ORDER BY frequency, user_id) AS qf,
        |    ntile(5) OVER (ORDER BY mon_cents, user_id) AS qm
        |  FROM agg)
        |SELECT user_id, recency_days, frequency, monetary,
        |  6 - qr AS r_score, qf AS f_score, qm AS m_score,
        |  (6 - qr) * 100 + qf * 10 + qm AS rfm_cell
        |FROM sc ORDER BY user_id""".stripMargin))

  /** q_agg_moments — per-group skewness and excess kurtosis from EXACT
    * decimal power sums, completing the moment family (q_agg_stats has
    * mean/stddev, q_agg_corr the cross-moment). Spark's built-in
    * `skewness`/`kurtosis` stream doubles in partition order — banned
    * by the determinism rules — so the operator aggregates Σx, Σx²,
    * Σx³, Σx⁴ as decimals (l_quantity is 2-dp exact; x⁴ ≤ 50⁴ needs
    * scale-8 headroom DECIMAL(38,8) gives trivially), converts each
    * exact sum to double ONCE, and derives the central moments with a
    * TEXTUALLY IDENTICAL IEEE expression in both engines — including
    * m2^1.5 written as m2·sqrt(m2), because sqrt is correctly rounded
    * by IEEE 754 while libm pow is not and may differ between engines.
    *
    * Scale: one partial-agg shuffle to |groups| rows; the power sums
    * are the mergeable monoid state, so this is also the shape you'd
    * stream or incrementalize. */
  val qAggMoments: Q = Q(
    "q_agg_moments",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec2($"l_quantity")).as("s1"),
          sum(dec2($"l_quantity") * dec2($"l_quantity")).as("s2"),
          sum(dec2($"l_quantity") * dec2($"l_quantity") * dec2($"l_quantity"))
            .as("s3"),
          sum(dec2($"l_quantity") * dec2($"l_quantity") * dec2($"l_quantity")
            * dec2($"l_quantity")).as("s4"))
        .select($"l_returnflag", $"n",
          expr(
            """round((CAST(s3 AS DOUBLE) / n
              |  - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              |  + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
              |    * (CAST(s1 AS DOUBLE) / n))
              | / ((CAST(s2 AS DOUBLE) / n
              |    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              |   * sqrt(CAST(s2 AS DOUBLE) / n
              |    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))), 6)"""
              .stripMargin).as("skewness"),
          expr(
            """round((CAST(s4 AS DOUBLE) / n
              |  - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
              |  + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
              |    * (CAST(s2 AS DOUBLE) / n)
              |  - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
              |    * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              | / ((CAST(s2 AS DOUBLE) / n
              |    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              |   * (CAST(s2 AS DOUBLE) / n
              |    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
              | - 3, 6)""".stripMargin).as("kurtosis"))
        .orderBy($"l_returnflag")
    },
    oracle = Some(
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS s2,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS s3,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS s4
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ROUND((CAST(s3 AS DOUBLE) / n
        |    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
        |    + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |      * (CAST(s1 AS DOUBLE) / n))
        |   / ((CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |     * sqrt(CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))), 6)
        |    AS skewness,
        |  ROUND((CAST(s4 AS DOUBLE) / n
        |    - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
        |    + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |      * (CAST(s2 AS DOUBLE) / n)
        |    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
        |      * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |   / ((CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |     * (CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
        |   - 3, 6) AS kurtosis
        |FROM m ORDER BY l_returnflag""".stripMargin))

  /** q_ts_cross_corr — LAGGED CROSS-CORRELATION between the daily
    * view-count and purchase-count series (lags 0–3 days): does view
    * traffic lead purchases, the standard lead-lag screen before any
    * causal claim. Completes the correlation family: q_agg_corr is
    * same-key Pearson, q_ts_autocorr is one series against itself,
    * this is two series with a shift.
    *
    * Determinism: both series are COUNTS, so every Pearson ingredient
    * (n, Σx, Σy, Σxy, Σx², Σy²) is exact integer; r touches floating
    * point exactly once in a textually identical expression — the
    * numerator/denominators assembled in exact arithmetic, converted
    * to double, with m2^0.5 via IEEE-correct sqrt (the q_agg_moments
    * discipline). Scale: the raw scan collapses to the DAY domain in
    * one partial-agg shuffle; the lag self-join and the per-lag aggs
    * run on that bounded domain table (30 rows here, ~10³ for years of
    * data) — broadcast-sized regardless of event volume. */
  val qTsCrossCorr: Q = Q(
    "q_ts_cross_corr",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg(
          sum(when($"event_type" === "view", 1L).otherwise(0L)).as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      val lags = Seq(0, 1, 2, 3).toDF("lag")
      val pairs = daily.select($"day", $"x").crossJoin(broadcast(lags))
        .join(daily.select($"day".as("yday"), $"y"),
          expr("yday = date_add(day, lag)"))
      val m = pairs.groupBy($"lag").agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      m.select($"lag", $"n".as("n_days"),
          pearsonR($"n", $"sx", $"sy", $"sxy", $"sxx", $"syy").as("r"))
        .orderBy($"lag")
    },
    oracle = Some(
      s"""WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(0, 4)),
        |pairs AS (
        |  SELECT l.lag, a.x, b.y
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON b.day = a.day + l.lag),
        |m AS (
        |  SELECT lag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY lag)
        |SELECT lag, n AS n_days,
        |  ${pearsonRSql("n", "sx", "sy", "sxy", "sxx", "syy")} AS r
        |FROM m
        |ORDER BY lag""".stripMargin))

  /** q_ts_vwap — VOLUME-WEIGHTED AVERAGE PRICE per ship month, THE
    * canonical market aggregate of the reference's stated crypto-ETL
    * domain (README.md:1 is its entire content; the metric is the
    * public idiom): vwap = Σ(notional)/Σ(quantity), here exact decimal
    * sums of the 2-dp fixture columns with ONE double division at the
    * end, rounded at 6 dp — the same expression text both engines, no
    * per-row float anywhere. One partial-agg shuffle collapsing to the
    * month domain. */
  val qTsVwap: Q = Q(
    "q_ts_vwap",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy(date_trunc("month", $"l_shipdate").cast(DateType).as("month"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(dec2($"l_extendedprice")).cast(DoubleType).as("notional"),
          sum(dec2($"l_quantity")).cast(DoubleType).as("volume"))
        .withColumn("vwap", round($"notional" / $"volume", 6))
        .orderBy($"month")
    },
    oracle = Some(
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS notional,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
        |    AS vwap
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY month""".stripMargin))

  /** q_ts_log_returns — daily LOG RETURNS of total traded value with a
    * trailing 7-day VOLATILITY, the risk pair every market pipeline
    * derives next after VWAP. Determinism: daily value is exact cents;
    * the return quantizes ln(v_d/v_{d−1}) ONCE to integer micro-nats
    * (the perplexity device — everything downstream is exact long
    * sums); volatility is the population σ of the 7 window returns,
    * assembled from exact Σr/Σr² window sums with the one float
    * expression at the end — sqrt(greatest(·,0)) because float
    * cancellation can dip ~−1ulp below zero, where Spark would return
    * NaN but DuckDB 1.0 ABORTS on sqrt of a negative. Warm-up rows
    * (first return, incomplete 7-windows) are suppressed. The day
    * windows are unpartitioned but run over the bounded DAY domain
    * (30 rows here, ~10³ for years) — the documented boundedness
    * pattern, not a fact-table sort. */
  val qTsLogReturns: Q = Q(
    "q_ts_log_returns",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg((sum(dec2($"value")) * 100).cast(LongType).as("v"))
      val wLag = Window.orderBy($"day")
      val rets = daily
        .withColumn("v_prev", lag($"v", 1).over(wLag))
        .where($"v_prev".isNotNull)
        .select($"day",
          expr("CAST(floor(ln(CAST(v AS DOUBLE) / v_prev) * 1000000) AS BIGINT)")
            .as("ret_micro"))
      val w7 = Window.orderBy($"day").rowsBetween(-6, Window.currentRow)
      val wRk = Window.orderBy($"day")
      rets.select($"day", $"ret_micro",
          count(lit(1)).over(w7).as("k"),
          sum($"ret_micro").over(w7).as("s"),
          sum($"ret_micro" * $"ret_micro").over(w7).as("q"),
          row_number().over(wRk).as("rk"))
        .where($"rk" >= 7)
        .select($"day", $"ret_micro",
          round(sqrt(greatest(
            $"q".cast(DoubleType) / $"k" -
              ($"s".cast(DoubleType) / $"k") * ($"s".cast(DoubleType) / $"k"),
            lit(0.0))), 6).as("vol7_micro"))
        .orderBy($"day")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |rets AS (
        |  SELECT day,
        |    CAST(floor(ln(CAST(v AS DOUBLE) / v_prev) * 1000000) AS BIGINT)
        |      AS ret_micro
        |  FROM (SELECT day, v, lag(v, 1) OVER (ORDER BY day) AS v_prev
        |        FROM daily)
        |  WHERE v_prev IS NOT NULL),
        |framed AS (
        |  SELECT day, ret_micro,
        |    COUNT(*) OVER w AS k,
        |    CAST(SUM(ret_micro) OVER w AS BIGINT) AS s,
        |    CAST(SUM(ret_micro * ret_micro) OVER w AS BIGINT) AS q,
        |    row_number() OVER (ORDER BY day) AS rk
        |  FROM rets
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT day, ret_micro,
        |  ROUND(sqrt(greatest(
        |    CAST(q AS DOUBLE) / k -
        |      (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k), 0.0)), 6)
        |    AS vol7_micro
        |FROM framed
        |WHERE rk >= 7
        |ORDER BY day""".stripMargin))

  /** q_ts_macd — MACD (Moving Average Convergence/Divergence) over the
    * daily traded-value series: EMA12 − EMA26 plus the EMA9 signal line
    * and histogram — the momentum-indicator capstone of the market
    * family (drawdown/bollinger/vwap/log-returns). THREE coupled
    * integer recurrences in micro-cents (the q_ts_ewma / q_ts_holt
    * fixed-point discipline): eₙ += 2·(v·10⁶ − eₙ) div (n+1) for
    * n = 12, 26, then sig += 2·(macd − sig) div 10 where macd is the
    * step's NEW e12 − e26. All operands exact longs; the divisions
    * truncate toward zero identically (Scala `/` ≡ DuckDB `//`, the
    * empirically pinned Holt lesson — macd goes negative on falling
    * series, so sign behavior is load-bearing).
    *
    * Scale: the fact stream collapses to the bounded DAY domain in one
    * partial agg; the sequential chain then runs single-pass over that
    * ~10³-row series via sortWithinPartitions + mapPartitions with
    * O(1) state — sequential-by-construction work sized to the domain,
    * not the data (the EWMA scale argument; per-symbol series would
    * partition by symbol). The twin replays every step of all three
    * chains via WITH RECURSIVE. */
  val qTsMacd: Q = Q(
    "q_ts_macd",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg((sum(dec2($"value")) * 100).cast(LongType).as("v"))
      daily.coalesce(1).sortWithinPartitions($"day")
        .as[(java.sql.Date, Long)]
        .mapPartitions { it =>
          var e12 = 0L; var e26 = 0L; var sig = 0L; var first = true
          it.map { case (day, v) =>
            val vm = v * 1000000L
            if (first) { e12 = vm; e26 = vm; sig = 0L; first = false }
            else {
              e12 = e12 + (2L * (vm - e12)) / 13L
              e26 = e26 + (2L * (vm - e26)) / 27L
              sig = sig + (2L * ((e12 - e26) - sig)) / 10L
            }
            (day, e12 - e26, sig, e12 - e26 - sig)
          }
        }
        .toDF("day", "macd_micro", "signal_micro", "hist_micro")
        .orderBy($"day")
    },
    oracle = Some(
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |seq AS (
        |  SELECT day, v, row_number() OVER (ORDER BY day) AS i FROM daily),
        |rec AS (
        |  SELECT i, day, v * 1000000 AS e12, v * 1000000 AS e26,
        |    CAST(0 AS BIGINT) AS sig
        |  FROM seq WHERE i = 1
        |  UNION ALL
        |  SELECT s.i, s.day,
        |    r.e12 + (2 * (s.v * 1000000 - r.e12)) // 13,
        |    r.e26 + (2 * (s.v * 1000000 - r.e26)) // 27,
        |    r.sig + (2 * (((r.e12 + (2 * (s.v * 1000000 - r.e12)) // 13)
        |                 - (r.e26 + (2 * (s.v * 1000000 - r.e26)) // 27))
        |                 - r.sig)) // 10
        |  FROM rec r JOIN seq s ON s.i = r.i + 1)
        |SELECT day, e12 - e26 AS macd_micro, sig AS signal_micro,
        |  e12 - e26 - sig AS hist_micro
        |FROM rec
        |ORDER BY day""".stripMargin))

  /** q_ts_rsi — WILDER'S RSI-14 over the daily traded-value series,
    * closing the indicator family (drawdown / bollinger / momentum /
    * vwap / log-returns / macd): average gain vs average loss, seeded
    * with the plain mean of the first 14 changes, then Wilder's
    * smoothing avg_i = (avg_{i−1}·13 + x_i) div 14 — two coupled
    * integer recurrences in exact cents, truncating division identical
    * in both engines (all operands non-negative here, but the macd
    * discipline applies regardless). RSI itself stays integer too:
    * rsi_ppm = ag·10⁶ div (ag+al), with the flat-series ag+al = 0 case
    * decided in exact integers and yielding NULL in both engines.
    *
    * Scale: same as [[qTsMacd]] — one partial agg to the bounded day
    * domain, then a single-pass O(1)-state chain over that ~10³-row
    * series; the twin replays the seed window and every smoothing step
    * via WITH RECURSIVE. */
  val qTsRsi: Q = Q(
    "q_ts_rsi",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg((sum(dec2($"value")) * 100).cast(LongType).as("v"))
      daily.coalesce(1).sortWithinPartitions($"day")
        .as[(java.sql.Date, Long)]
        .mapPartitions { it =>
          var prev = Option.empty[Long]
          var i = 0L // day index (1-based)
          var sumG = 0L; var sumL = 0L // seed accumulation, changes 2..15
          var ag = 0L; var al = 0L
          it.flatMap { case (day, v) =>
            i += 1
            val out = prev match {
              case None => None
              case Some(p) =>
                val g = math.max(v - p, 0L)
                val l = math.max(p - v, 0L)
                if (i <= 15L) { sumG += g; sumL += l }
                if (i == 15L) { ag = sumG / 14L; al = sumL / 14L }
                else if (i > 15L) {
                  ag = (ag * 13L + g) / 14L
                  al = (al * 13L + l) / 14L
                }
                if (i >= 15L) {
                  val rsi =
                    if (ag + al == 0L) None
                    else Some(ag * 1000000L / (ag + al))
                  Some((day, ag, al, rsi))
                } else None
            }
            prev = Some(v)
            out
          }
        }
        .toDF("day", "avg_gain_cents", "avg_loss_cents", "rsi_ppm")
        .orderBy($"day")
    },
    oracle = Some(
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |seq AS (
        |  SELECT day, v, row_number() OVER (ORDER BY day) AS i FROM daily),
        |chg AS (
        |  SELECT s.i, s.day,
        |    greatest(s.v - p.v, 0) AS g, greatest(p.v - s.v, 0) AS l
        |  FROM seq s JOIN seq p ON p.i = s.i - 1),
        |rec AS (
        |  SELECT 15 AS i,
        |    (SELECT day FROM chg WHERE i = 15) AS day,
        |    CAST((SELECT SUM(g) FROM chg WHERE i <= 15) AS BIGINT) // 14 AS ag,
        |    CAST((SELECT SUM(l) FROM chg WHERE i <= 15) AS BIGINT) // 14 AS al
        |  WHERE EXISTS (SELECT 1 FROM chg WHERE i = 15)
        |  UNION ALL
        |  SELECT c.i, c.day,
        |    (r.ag * 13 + c.g) // 14, (r.al * 13 + c.l) // 14
        |  FROM rec r JOIN chg c ON c.i = r.i + 1)
        |SELECT day, ag AS avg_gain_cents, al AS avg_loss_cents,
        |  CASE WHEN ag + al = 0 THEN NULL
        |       ELSE ag * 1000000 // (ag + al) END AS rsi_ppm
        |FROM rec
        |ORDER BY day""".stripMargin))

  /** q_ts_stochastic — STOCHASTIC OSCILLATOR %K/%D over daily traded
    * value: %K = (v − min₁₄)/(max₁₄ − min₁₄) against the trailing
    * 14-day range, %D its 3-day moving average — unlike the
    * MACD/RSI recurrences this one is PURE WINDOW FRAMES (min/max/avg
    * over trailing rows), the form that parallelizes trivially.
    * Integers end to end: k_ppm = (v − lo)·10⁶ div (hi − lo) with the
    * flat-range hi = lo case decided exactly → NULL; %D averages the
    * three k_ppm ints (div 3) and is NULL if any constituent is (SQL
    * AVG would skip NULLs — an explicit 3-term sum keeps both engines
    * honest). Warm-up rows suppressed. Windows run over the bounded
    * day domain. */
  val qTsStochastic: Q = Q(
    "q_ts_stochastic",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg((sum(dec2($"value")) * 100).cast(LongType).as("v"))
      val w14 = Window.orderBy($"day").rowsBetween(-13, Window.currentRow)
      val wRk = Window.orderBy($"day")
      val k = daily.select($"day", $"v",
          min($"v").over(w14).as("lo"), max($"v").over(w14).as("hi"),
          row_number().over(wRk).as("rk"))
        .select($"day", $"rk",
          when($"hi" === $"lo", lit(null))
            .otherwise(expr("(v - lo) * 1000000 div (hi - lo)")).as("k_ppm"))
      val wLag = Window.orderBy($"day")
      k.select($"day", $"rk", $"k_ppm",
          lag($"k_ppm", 1).over(wLag).as("k1"),
          lag($"k_ppm", 2).over(wLag).as("k2"))
        .where($"rk" >= 16)
        // `div`, not `/`: Column./ is ALWAYS float division (then a
        // double→long cast truncates) while DuckDB's double→BIGINT
        // cast ROUNDS — integer division on both sides avoids the
        // cast-semantics fork entirely.
        .select($"day", $"k_ppm",
          expr("(k_ppm + k1 + k2) div 3").as("d_ppm"))
        .orderBy($"day")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |k AS (
        |  SELECT day,
        |    row_number() OVER (ORDER BY day) AS rk,
        |    CASE WHEN hi = lo THEN NULL
        |         ELSE (v - lo) * 1000000 // (hi - lo) END AS k_ppm
        |  FROM (SELECT day, v,
        |          MIN(v) OVER w AS lo, MAX(v) OVER w AS hi
        |        FROM daily
        |        WINDOW w AS (ORDER BY day
        |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)))
        |SELECT day, k_ppm,
        |  (k_ppm + lag(k_ppm, 1) OVER (ORDER BY day)
        |         + lag(k_ppm, 2) OVER (ORDER BY day)) // 3 AS d_ppm
        |FROM k
        |QUALIFY rk >= 16
        |ORDER BY day""".stripMargin))

  /** q_ts_obv — ON-BALANCE VOLUME: the running total of event COUNT
    * (the "volume") signed by the day-over-day direction of traded
    * value — volume flows toward the price trend, the classic
    * accumulation/distribution signal. A lag for the direction + one
    * cumulative window SUM of exact integers; flat days contribute 0
    * (sign(0) — identical both engines). Bounded day domain. */
  val qTsObv: Q = Q(
    "q_ts_obv",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          (sum(dec2($"value")) * 100).cast(LongType).as("v"))
      val wLag = Window.orderBy($"day")
      val wCum = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.select($"day", $"n", $"v",
          lag($"v", 1).over(wLag).as("v_prev"))
        .select($"day",
          (signum(($"v" - $"v_prev").cast(DoubleType)).cast(LongType) * $"n")
            .as("flow"))
        .where($"flow".isNotNull)
        .select($"day", $"flow", sum($"flow").over(wCum).as("obv"))
        .orderBy($"day")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM events GROUP BY 1),
        |flows AS (
        |  SELECT day,
        |    CAST(sign(v - lag(v) OVER (ORDER BY day)) AS BIGINT)
        |      * n AS flow
        |  FROM daily)
        |SELECT day, flow,
        |  CAST(SUM(flow) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS obv
        |FROM flows
        |WHERE flow IS NOT NULL
        |ORDER BY day""".stripMargin))

  /** q_ts_atr — AVERAGE TRUE RANGE (Wilder) over daily value bars: the
    * volatility measure that, unlike close-to-close σ
    * ([[qTsLogReturns]]), sees INTRADAY range and overnight gaps —
    * TR = max(high−low, |high−prevClose|, |low−prevClose|), TR₁ =
    * high−low, then the same Wilder smoothing as [[qTsRsi]]. Bars come
    * from one partial agg (high/low = extremes of exact 2-dp values;
    * close = max_by on the unique event_id — the q_ts_ohlc
    * determinism rule); everything after is exact integer cents with
    * truncating division. Single-pass O(1)-state chain over the
    * bounded day domain; the twin replays seed + every smoothing step
    * via WITH RECURSIVE. */
  val qTsAtr: Q = Q(
    "q_ts_atr",
    (s, dir) => {
      import s.implicits._
      val bars = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg(
          (dec2(max($"value")) * 100).cast(LongType).as("h"),
          (dec2(min($"value")) * 100).cast(LongType).as("l"),
          (dec2(max_by($"value", $"event_id")) * 100).cast(LongType).as("c"))
      bars.coalesce(1).sortWithinPartitions($"day")
        .as[(java.sql.Date, Long, Long, Long)]
        .mapPartitions { it =>
          var prevC = Option.empty[Long]
          var i = 0L
          var sumTr = 0L
          var atr = 0L
          it.flatMap { case (day, h, l, c) =>
            i += 1
            val tr = prevC match {
              case None => h - l
              case Some(pc) =>
                math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))
            }
            prevC = Some(c)
            if (i <= 14L) sumTr += tr
            if (i == 14L) atr = sumTr / 14L
            else if (i > 14L) atr = (atr * 13L + tr) / 14L
            if (i >= 14L) Some((day, tr, atr)) else None
          }
        }
        .toDF("day", "tr_cents", "atr_cents")
        .orderBy($"day")
    },
    oracle = Some(
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(CAST(MAX(value) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |    CAST(CAST(MIN(value) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |    CAST(CAST(max_by(value, event_id) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |seq AS (
        |  SELECT day, h, l, c, row_number() OVER (ORDER BY day) AS i
        |  FROM daily),
        |tr AS (
        |  SELECT s.i, s.day,
        |    CASE WHEN p.c IS NULL THEN s.h - s.l
        |         ELSE greatest(s.h - s.l, abs(s.h - p.c), abs(s.l - p.c))
        |    END AS tr
        |  FROM seq s LEFT JOIN seq p ON p.i = s.i - 1),
        |rec AS (
        |  SELECT 14 AS i, (SELECT day FROM tr WHERE i = 14) AS day,
        |    (SELECT tr FROM tr WHERE i = 14) AS tr,
        |    CAST((SELECT SUM(tr) FROM tr WHERE i <= 14) AS BIGINT) // 14 AS atr
        |  WHERE EXISTS (SELECT 1 FROM tr WHERE i = 14)
        |  UNION ALL
        |  SELECT t.i, t.day, t.tr, (r.atr * 13 + t.tr) // 14
        |  FROM rec r JOIN tr t ON t.i = r.i + 1)
        |SELECT day, tr AS tr_cents, atr AS atr_cents
        |FROM rec
        |ORDER BY day""".stripMargin))

  /** Shared scaffold of the TREND TRIPLE (OLS / Mann-Kendall /
    * Theil-Sen): exact daily cents per (event_type, day) with the
    * 1-based day rank `i` — ONE definition, so a fix to the
    * quantization or rank basis cannot drift between the three rows
    * (r10 review #4). The SQL twin text lives in [[trendSeqSql]]. */
  private[operators] def trendSeq(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type", to_date(date_trunc("day", $"ts")).as("day"))
      .agg((dec2(sum(dec2($"value"))) * 100).cast(LongType).as("y"))
      .withColumn("i", row_number()
        .over(Window.partitionBy($"event_type").orderBy($"day"))
        .cast(LongType))
  }

  /** Ordered (ia < ib) day pairs of [[trendSeq]] — the bounded
    * all-pairs frame Mann-Kendall and Theil-Sen both rank over. */
  private[operators] def trendPairs(seq: org.apache.spark.sql.DataFrame) = {
    val a = seq.select(col("event_type"), col("i").as("ia"), col("y").as("ya"))
    val b = seq.select(col("event_type"), col("i").as("ib"), col("y").as("yb"))
    a.join(b, "event_type").where(col("ia") < col("ib"))
  }

  /** The twins' shared daily+seq CTE text (byte-identical across the
    * three oracles for the same one-definition reason). */
  private[operators] val trendSeqSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
      |      * 100 AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |seq AS (
      |  SELECT event_type, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS i
      |  FROM daily)""".stripMargin

  /** q_stat_ols — per-type ORDINARY LEAST SQUARES trend of daily traded
    * value against the day index: slope (cents/day) and intercept
    * (cents), the "is this series drifting" primitive under every
    * forecast baseline and KPI trend arrow. All five moments (n, Σx,
    * Σy, Σx², Σxy) are EXACT integers — x is the 1..n day rank, y exact
    * daily cents — so slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) and intercept =
    * (ΣyΣx²−ΣxΣxy)/(nΣx²−(Σx)²) are each ONE double division of exact
    * longs, textually identical in both engines, rounded once
    * (headroom: nΣxy ≲ 31²·31·2e7 ≈ 6e11 at sf0.1 — widen via the
    * pearsonR DECIMAL rule past ~1e7× that). A single-day series has a
    * zero denominator → NULL in both engines by the shared guard.
    * Scale: the fact scan collapses to (type × day) in one partial
    * agg; ranks and moments run on that bounded domain. */
  val qStatOls: Q = Q(
    "q_stat_ols",
    (s, dir) => {
      import s.implicits._
      trendSeq(s, dir).groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          sum($"i").as("sx"), sum($"y").as("sy"),
          sum($"i" * $"i").as("sxx"), sum($"i" * $"y").as("sxy"))
        .select($"event_type", $"n_days",
          when($"n_days" * $"sxx" === $"sx" * $"sx", lit(null))
            .otherwise(round(($"n_days" * $"sxy" - $"sx" * $"sy")
              .cast(DoubleType) /
              ($"n_days" * $"sxx" - $"sx" * $"sx").cast(DoubleType), 6))
            .as("slope_cents"),
          when($"n_days" * $"sxx" === $"sx" * $"sx", lit(null))
            .otherwise(round(($"sy" * $"sxx" - $"sx" * $"sxy")
              .cast(DoubleType) /
              ($"n_days" * $"sxx" - $"sx" * $"sx").cast(DoubleType), 6))
            .as("intercept_cents"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$trendSeqSql,
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(i) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(i * i) AS BIGINT) AS sxx,
        |    CAST(SUM(i * y) AS BIGINT) AS sxy
        |  FROM seq GROUP BY event_type)
        |SELECT event_type, n_days,
        |  CASE WHEN n_days * sxx = sx * sx THEN NULL
        |    ELSE ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_days * sxx - sx * sx AS DOUBLE), 6) END AS slope_cents,
        |  CASE WHEN n_days * sxx = sx * sx THEN NULL
        |    ELSE ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |      / CAST(n_days * sxx - sx * sx AS DOUBLE), 6) END
        |    AS intercept_cents
        |FROM m
        |ORDER BY event_type""".stripMargin))

  /** q_stat_mann_kendall — MANN-KENDALL trend test per event type over
    * the daily value series: S = Σ_{i<j} sign(y_j − y_i) and Kendall's
    * τ in ppm — the standard NONPARAMETRIC "is there a monotone trend"
    * companion to [[qStatOls]]'s parametric slope (robust to outliers
    * and any monotone transform). EVERYTHING is exact integer
    * arithmetic: sign ∈ {−1,0,1}, S a bounded sum, τ_ppm =
    * S·10⁶ div (n(n−1)/2) with the truncate-toward-zero division both
    * engines share. Scale: the pair join runs on the BOUNDED (type ×
    * day) domain (n ≤ 31 days → ≤ 465 pairs/type), never the fact
    * table — the classic all-pairs statistic made safe by aggregating
    * FIRST (the q_win_rolling_corr discipline). */
  val qStatMannKendall: Q = Q(
    "q_stat_mann_kendall",
    (s, dir) => {
      import s.implicits._
      val pairs = trendPairs(trendSeq(s, dir))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(signum(($"yb" - $"ya").cast(DoubleType)).cast(LongType))
            .as("s_stat"))
      pairs.select($"event_type", $"n_pairs", $"s_stat",
          expr("s_stat * 1000000 div n_pairs").as("tau_ppm"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$trendSeqSql,
        |pairs AS (
        |  SELECT a.event_type, COUNT(*) AS n_pairs,
        |    CAST(SUM(sign(b.y - a.y)) AS BIGINT) AS s_stat
        |  FROM seq a JOIN seq b
        |    ON a.event_type = b.event_type AND a.i < b.i
        |  GROUP BY a.event_type)
        |SELECT event_type, n_pairs, s_stat,
        |  s_stat * 1000000 // n_pairs AS tau_ppm
        |FROM pairs
        |ORDER BY event_type""".stripMargin))

  /** q_stat_theilsen — THEIL–SEN robust slope per event type: the
    * (lower) median of all pairwise daily slopes — completing the trend
    * triple with [[qStatOls]] (parametric) and [[qStatMannKendall]]
    * (test): up to ~29 % outlier days cannot move this estimate, where
    * one corrupted day drags the OLS slope arbitrarily. Exactness
    * devices: each pairwise slope quantizes ONCE to integer
    * micro-cents/day ((y_j−y_i)·10⁶ div (j−i), shared
    * truncate-toward-zero division), and the median is the exact ORDER
    * STATISTIC at rank (n+1) div 2 via a per-type rank window — no
    * interpolation, no float, no .5 ties. Scale: the pair join and the
    * median window both run on the bounded (type × day) domain (≤465
    * pairs/type), aggregated FIRST from the fact scan. */
  val qStatTheilsen: Q = Q(
    "q_stat_theilsen",
    (s, dir) => {
      import s.implicits._
      val slopes = trendPairs(trendSeq(s, dir))
        .select($"event_type",
          expr("(yb - ya) * 1000000 div (ib - ia)").as("s_micro"))
      // Tiebreak note: row_number over the non-unique s_micro is fine
      // HERE — equal values are interchangeable for an order statistic,
      // so any physical tiebreak selects the same VALUE at the target
      // rank (the one window shape where a non-unique sort key cannot
      // leak). `div`, not `/`: Column./ is float division and an even
      // pair count would yield rank k.5 matching nothing.
      val ranked = slopes
        .withColumn("rk", row_number().over(Window.partitionBy($"event_type")
          .orderBy($"s_micro")).cast(LongType))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      ranked.where($"rk" === expr("(n + 1) div 2"))
        .select($"event_type", $"n".as("n_pairs"),
          $"s_micro".as("slope_microcents"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$trendSeqSql,
        |slopes AS (
        |  SELECT a.event_type,
        |    (b.y - a.y) * 1000000 // (b.i - a.i) AS s_micro
        |  FROM seq a JOIN seq b
        |    ON a.event_type = b.event_type AND a.i < b.i),
        |ranked AS (
        |  SELECT event_type, s_micro,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY s_micro) AS BIGINT) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM slopes)
        |SELECT event_type, n AS n_pairs, s_micro AS slope_microcents
        |FROM ranked
        |WHERE rk = (n + 1) // 2
        |ORDER BY event_type""".stripMargin))

  /** q_events_lorenz — LORENZ/DECILE CONCENTRATION of purchase spend:
    * users ranked into spend deciles, each decile's exact spend, share
    * and CUMULATIVE share in integer ppm — the decile view of what
    * StatTestQueries.qStatGini compresses to one number ("decile 10
    * holds X% of revenue" is the sentence the Gini coefficient can't
    * say), and the whale-concentration report every monetization
    * review opens with. Only purchasing users enter (spend is
    * undefined, not zero, for users with no purchase event).
    * Determinism: per-user spend is exact cents; decile assignment
    * ranks by the total (cents, user_id) order so no boundary sits on
    * a tie or a float; shares are exact integer ppm of exact Long
    * sums. Scale (100 TB): the fact scan partial-aggs to per-user
    * rows; the global decile uses [[bucketNtiles]] ($100 spend
    * buckets) — NO single-partition window ever sees the user table
    * (the RFM argument); the twin's plain ntile(10) hash-match proves
    * the decomposition. Everything after is a 10-row domain. */
  val qEventsLorenz: Q = Q(
    "q_events_lorenz",
    (s, dir) => {
      import s.implicits._
      val perUser = Tables.events(s, dir)
        .where($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg((sum(dec2($"value")) * 100).cast(LongType).as("cents"))
      val dec = bucketNtiles(perUser, 10,
        NtileDim(expr("cents div 10000"), Seq($"cents", $"user_id"), "decile"))
      val per = dec.groupBy($"decile")
        .agg(count(lit(1)).as("users"), sum($"cents").as("sumc"))
      val wAll = Window.partitionBy()
      val wCum = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per
        .withColumn("total", sum($"sumc").over(wAll))
        .withColumn("cumc", sum($"sumc").over(wCum))
        .select($"decile", $"users",
          ($"sumc".cast(DoubleType) / 100).as("spend"),
          expr("sumc * 1000000 div total").as("share_ppm"),
          expr("cumc * 1000000 div total").as("cum_share_ppm"))
        .orderBy($"decile")
    },
    oracle = Some(
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (
        |  SELECT user_id, cents,
        |    CAST(ntile(10) OVER (ORDER BY cents, user_id) AS BIGINT) AS decile
        |  FROM pu),
        |per AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS users,
        |    CAST(SUM(cents) AS BIGINT) AS sumc
        |  FROM d GROUP BY 1),
        |t AS (
        |  SELECT *, CAST(SUM(sumc) OVER () AS BIGINT) AS total,
        |    CAST(SUM(sumc) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cumc
        |  FROM per)
        |SELECT decile, users, CAST(sumc AS DOUBLE) / 100 AS spend,
        |  sumc * 1000000 // total AS share_ppm,
        |  cumc * 1000000 // total AS cum_share_ppm
        |FROM t
        |ORDER BY decile""".stripMargin))

  /** q_ts_hurst — HURST EXPONENT by rescaled-range (R/S) analysis of
    * each type's daily value series: the long-memory diagnostic
    * (H ≈ 0.5 random walk, > 0.5 trending/persistent, < 0.5 mean-
    * reverting) that tells a forecasting pipeline whether
    * [[qStatOls]]-style trend extrapolation is even admissible. Method:
    * for window sizes w ∈ {5, 10, 15}, split the day-rank series into
    * full blocks of w; per block the range R of mean-centered
    * cumulative deviations over the std S; H = OLS slope of ln(R/S) on
    * ln(w) over ALL blocks (the every-block fit — no per-w averaging,
    * which would need a float mean whose truncating-div twin diverges
    * on negative sums).
    *
    * Exactness: deviations clear the mean-fraction by w-SCALING —
    * Z'_t = w·cum_t − pos·Σy is an exact Long, so R' = max Z' − min Z'
    * is exact; S'² = w·Σy² − (Σy)² is exact (both in w-scaled units,
    * and R/S = R'/√S'² because the w's cancel); ln(R/S) =
    * ½·ln(R'²/S'²) quantizes ONCE per block to integer micro-nats
    * (floor(ln·5e5) — the WOE device with the ½ folded in), making the
    * OLS moments exact Long sums; the slope is one double division
    * (q_stat_ols closed form), round 6. A constant block (S'² = 0, and
    * then R' = 0 too) is decided in integer space → NULL, excluded.
    * Overflow: Σy² ≤ d·y_max² ≈ 30·4e14 ≈ 1.2e16, ×w ≈ 1.8e17 — inside
    * Long with ~50× headroom, then DECIMAL(38,0).
    *
    * Scale: the fact scan collapses to (type × day) once; the ×3
    * window-size expansion and every window partition by
    * (type, w, block) on that bounded domain. */
  val qTsHurst: Q = Q(
    "q_ts_hurst",
    (s, dir) => {
      import s.implicits._
      val ws = Seq(5L, 10L, 15L).toDF("w")
      val e = trendSeq(s, dir).crossJoin(broadcast(ws))
        .withColumn("blk", expr("(i - 1) div w"))
        .withColumn("pos", expr("(i - 1) % w + 1"))
      val wpart = Window.partitionBy($"event_type", $"w", $"blk")
      val wrun = wpart.orderBy($"i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val z = e
        .withColumn("cum", sum($"y").over(wrun))
        .withColumn("sy", sum($"y").over(wpart))
        .withColumn("syy", sum($"y" * $"y").over(wpart))
        .withColumn("cnt", count(lit(1)).over(wpart))
        .where($"cnt" === $"w")
        .withColumn("z", $"w" * $"cum" - $"pos" * $"sy")
      val blocks = z.groupBy($"event_type", $"w", $"blk", $"sy", $"syy")
        .agg((max($"z") - min($"z")).as("r1"))
        .withColumn("s2", expr("w * syy - sy * sy"))
        .withColumn("lnrs",
          when($"s2" === 0, lit(null)).otherwise(expr(
            "CAST(floor(ln(CAST(r1 AS DOUBLE) * r1 / CAST(s2 AS DOUBLE)) * 500000) AS BIGINT)")))
        .where($"lnrs".isNotNull)
        .withColumn("x", expr(
          "CAST(floor(ln(CAST(w AS DOUBLE)) * 1000000) AS BIGINT)"))
      blocks.groupBy($"event_type")
        .agg(count(lit(1)).as("n_blocks"),
          sum($"x").as("sx"), sum($"lnrs").as("sy2"),
          sum($"x" * $"lnrs").as("sxy"), sum($"x" * $"x").as("sxx"))
        .select($"event_type", $"n_blocks",
          when($"n_blocks" * $"sxx" === $"sx" * $"sx", lit(null))
            .otherwise(round(($"n_blocks" * $"sxy" - $"sx" * $"sy2")
              .cast(DoubleType) /
              ($"n_blocks" * $"sxx" - $"sx" * $"sx").cast(DoubleType), 6))
            .as("hurst"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$trendSeqSql,
        |ws AS (SELECT * FROM (VALUES (5), (10), (15)) t(w)),
        |e AS (
        |  SELECT event_type, y, i, CAST(w AS BIGINT) AS w,
        |    (i - 1) // CAST(w AS BIGINT) AS blk,
        |    (i - 1) % CAST(w AS BIGINT) + 1 AS pos
        |  FROM seq, ws),
        |z AS (
        |  SELECT *,
        |    CAST(SUM(y) OVER (PARTITION BY event_type, w, blk ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(y) OVER (PARTITION BY event_type, w, blk) AS BIGINT)
        |      AS sy,
        |    CAST(SUM(y * y) OVER (PARTITION BY event_type, w, blk)
        |      AS BIGINT) AS syy,
        |    COUNT(*) OVER (PARTITION BY event_type, w, blk) AS cnt
        |  FROM e),
        |blocks AS (
        |  SELECT event_type, w, blk, sy, syy,
        |    MAX(w * cum - pos * sy) - MIN(w * cum - pos * sy) AS r1,
        |    w * syy - sy * sy AS s2
        |  FROM z WHERE cnt = w
        |  GROUP BY event_type, w, blk, sy, syy),
        |pts AS (
        |  SELECT event_type,
        |    CAST(floor(ln(CAST(w AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(r1 AS DOUBLE) * r1 / CAST(s2 AS DOUBLE))
        |      * 500000) AS BIGINT) AS lnrs
        |  FROM blocks WHERE s2 <> 0),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_blocks,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(lnrs) AS BIGINT) AS sy2,
        |    CAST(SUM(x * lnrs) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT event_type, n_blocks,
        |  CASE WHEN n_blocks * sxx = sx * sx THEN NULL
        |    ELSE ROUND(CAST(n_blocks * sxy - sx * sy2 AS DOUBLE)
        |      / CAST(n_blocks * sxx - sx * sx AS DOUBLE), 6) END AS hurst
        |FROM m
        |ORDER BY event_type""".stripMargin))

  /** q_ts_kalman — 1-D KALMAN FILTER (local-level model) over the
    * daily traded-value series: x_t = x_{t−1} + w (process var Q),
    * y_t = x_t + v (obs var R) — the optimal online smoother the EWMA
    * family approximates with a FIXED gain; the Kalman gain ADAPTS,
    * starting high (trust the data while uncertain) and converging to
    * the steady state √(Q/R)-ish — the estimator a streaming pipeline
    * runs as mapGroupsWithState, here in its batch-replay form.
    *
    * Exact-integer discipline (the q_ts_macd device, one step further:
    * the recurrence has a data-independent VARIANCE chain feeding a
    * data-dependent LEVEL chain): level in exact milli-cents; P, Q, R
    * in dollar² units (the gain is scale-free, so variance units are
    * free to choose and keep every product < 2⁶³); per step
    *   Pp = P + Q;  k_ppm = Pp·10⁶ div (Pp + R);
    *   L += k_ppm·(y_milli − L) div 10⁶;  P = (10⁶ − k_ppm)·Pp div 10⁶
    * seeded L₁ = y₁_milli, P₁ = R, k₁ = 0. All operands exact Longs;
    * the only signed division is k·innovation, truncation toward zero
    * identical in both engines (the Holt lesson). Headroom: k·innov
    * needs |y| ≤ 9.2e12 milli-cents ≈ $9.2B/day; past that, drop to
    * centi-cents or promote via DECIMAL(38,0). Q = 10⁶, R = 10⁸
    * (a 1:100 signal-to-noise prior → steady-state gain ≈ 0.095).
    *
    * Scale: one partial agg to the bounded day domain, then the
    * single-pass O(1)-state chain (sortWithinPartitions +
    * mapPartitions); per-symbol series would partition by symbol. The
    * twin replays every (P, k, L) step via WITH RECURSIVE. */
  /** The filter chain itself, factored so the batch row and the
    * streaming maintenance row ([[graft.streaming.StreamingQueries]]'s
    * q_stream_kalman) run the IDENTICAL integer recurrence over a
    * (day, v-cents) frame — one definition, one oracle text. */
  private[graft] def kalmanChain(s: SparkSession, daily: DataFrame)
      : DataFrame = {
    import s.implicits._
    daily.coalesce(1).sortWithinPartitions($"day")
      .as[(java.sql.Date, Long)]
      .mapPartitions { it =>
        var lvl = 0L; var p = 0L; var first = true
        it.map { case (day, v) =>
          val ym = v * 1000L
          var k = 0L
          if (first) { lvl = ym; p = 100000000L; first = false }
          else {
            val pp = p + 1000000L
            k = pp * 1000000L / (pp + 100000000L)
            lvl = lvl + k * (ym - lvl) / 1000000L
            p = (1000000L - k) * pp / 1000000L
          }
          (day, lvl, k, p)
        }
      }
      .toDF("day", "level_milli", "gain_ppm", "p_var")
      .orderBy($"day")
  }

  /** The twin text, shared verbatim by q_ts_kalman and q_stream_kalman
    * (the streaming row's oracle IS the batch recompute — the
    * q_stream_daily_agg monoid argument extended through a derived
    * estimator). */
  private[graft] val kalmanOracle: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
      |  FROM events GROUP BY 1),
      |seq AS (
      |  SELECT day, v, row_number() OVER (ORDER BY day) AS i FROM daily),
      |rec AS (
      |  SELECT i, day, v * 1000 AS lvl, CAST(0 AS BIGINT) AS k,
      |    CAST(100000000 AS BIGINT) AS p
      |  FROM seq WHERE i = 1
      |  UNION ALL
      |  SELECT s.i, s.day,
      |    r.lvl + ((r.p + 1000000) * 1000000 // (r.p + 1000000 + 100000000))
      |      * (s.v * 1000 - r.lvl) // 1000000,
      |    (r.p + 1000000) * 1000000 // (r.p + 1000000 + 100000000),
      |    (1000000 - (r.p + 1000000) * 1000000
      |        // (r.p + 1000000 + 100000000))
      |      * (r.p + 1000000) // 1000000
      |  FROM rec r JOIN seq s ON s.i = r.i + 1)
      |SELECT day, lvl AS level_milli, k AS gain_ppm, p AS p_var
      |FROM rec
      |ORDER BY day""".stripMargin

  val qTsKalman: Q = Q(
    "q_ts_kalman",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg((sum(dec2($"value")) * 100).cast(LongType).as("v"))
      kalmanChain(s, daily)
    },
    oracle = Some(kalmanOracle))

  val all: Vector[Q] = Vector(
    qTsDrawdown, qWinBollinger, qAggCorr, qEventsMarkov,
    qAbChisquare, qSkyline, qEventsAttribution, qEventsRfm, qAggMoments,
    qTsCrossCorr, qTsVwap, qTsLogReturns, qTsMacd, qTsRsi, qTsStochastic,
    qTsObv, qTsAtr, qStatOls, qStatMannKendall, qStatTheilsen,
    qEventsLorenz, qTsHurst, qTsKalman)
}
