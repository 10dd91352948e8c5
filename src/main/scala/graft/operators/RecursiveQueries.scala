package graft
package operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Recursive-query execution (SURVEY.md §2.10b) — Spark 4.1 runs ANSI
  * `WITH RECURSIVE` natively (UNION ALL linear recursion; probed this
  * session: UNION-distinct recursion raises
  * UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, so cycle-safe reachability
  * stays with the level-synchronous DataFrame loop of q_graph_bfs).
  * Until now the engine expressed sequential recurrences with the
  * O(1)-state mapPartitions device (q_ts_macd / q_ts_rsi) and only the
  * DuckDB twins replayed them via WITH RECURSIVE; this row runs the
  * RECURSION ITSELF on the Spark side, pinning the engine's recursive
  * execution semantically equal to DuckDB's on a path-dependent
  * computation no closed form can shortcut.
  *
  * Reference basis: /root/reference contains no code (SURVEY.md §0);
  * the row derives from the survey's crypto-ETL domain (a compounded
  * index series is the canonical "portfolio NAV from daily returns").
  *
  * Scale (100 TB): the fact table collapses to the bounded
  * (type × day) domain in ONE partial agg before any recursion; each
  * recursive step then joins the |types|-row frontier to that bounded
  * seq table — iterations = day count, work per iteration independent
  * of fact rows. Spark executes each step as a separate plan stage, so
  * for very long series (10⁵+ steps) the mapPartitions chain device
  * remains the production form; this row is the semantic-parity
  * contract for the moderate-length series where SQL recursion is the
  * clearer tool.
  */
object RecursiveQueries {

  /** q_sql_recursive_compound — COMPOUNDED VALUE INDEX per event type
    * via native WITH RECURSIVE: each type starts at 1000.000000 index
    * points (10⁹ micro-points) on its first trading day and compounds
    * daily by the ppm-truncated return
    * r_i = (y_i − y_{i−1})·10⁶ div y_{i−1},
    * nav_i = nav_{i−1}·(10⁶ + r_i) div 10⁶.
    * The truncation at EVERY step makes the series path-dependent —
    * nav_n ≠ nav_0·y_n/y_1 — which is precisely what forces a true
    * sequential recursion and makes the parity check meaningful.
    * Determinism: y is exact daily cents ([[StatQueries.trendSeqSql]]);
    * returns and navs are exact Long arithmetic with truncating
    * integer division (Spark `div` ≡ DuckDB `//`, verified incl.
    * negatives); no float exists anywhere in the row. Overflow:
    * nav·(10⁶+r) ≤ 10⁹·G·10⁶·(1+R) for cumulative growth G and max
    * daily ratio R — Long-safe while G·(1+R) < 9.2e3; past that ANSI
    * raises ARITHMETIC_OVERFLOW rather than wrapping (the PcaSpec
    * lesson) and the nav would move to DECIMAL(38,0)/HUGEINT. */
  val qSqlRecursiveCompound: Q = Q(
    "q_sql_recursive_compound",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.LongType
      import graft.Dsl._
      // MATERIALIZE the bounded seq table before recursing: Spark's
      // recursive execution re-derives every non-recursive CTE each
      // iteration, so an inline `daily` would re-scan the fact table
      // once PER DAY (measured 11.2 s at sf0.1; 0.35 s materialized).
      // One partition — 150 rows, the playbook near-empty-partition
      // rule; localCheckpoint truncates lineage so each recursive step
      // plans against the checkpoint, not the events scan.
      val seq = Tables.events(s, dir)
        .groupBy($"event_type", to_date(date_trunc("day", $"ts")).as("day"))
        .agg((dec2(sum(dec2($"value"))) * 100).cast(LongType).as("y"))
        .withColumn("i", row_number()
          .over(Window.partitionBy($"event_type").orderBy($"day"))
          .cast(LongType))
        .coalesce(1).localCheckpoint()
      seq.createOrReplaceTempView("rec_seq_v")
      // BLOCKED recursion (r16, guide §1.2 "the distributed algorithm"):
      // Spark executes each recursive step as its own job, so the
      // day-per-step form paid ~150 job round-trips of pure scheduling
      // for microseconds of work each (Tool probe: 159 jobs, 2.8 s of
      // job time under 4–5 s of inter-job driver gaps). One step now
      // advances a BLOCK of 16 days: the bounded seq table is
      // pre-grouped into per-type blocks of (i, day, y) triples
      // (i ≥ 2; block b = (i−2) div 16, i-sorted), and the recursive
      // term folds a block with `aggregate` — the SAME truncating Long
      // recurrence nav_i = nav_{i−1}·(10⁶ + (y_i − y_{i−1})·10⁶ div
      // y_{i−1}) div 10⁶ applied element-by-element in i order inside
      // ONE codegen'd expression — carrying every day's nav out in an
      // array the outer SELECT explodes. Rounds drop from ~150 to
      // ~⌈149/16⌉ ≈ 10 with bit-identical per-day values (the fold IS
      // the old per-step join sequence, reassociated over nothing —
      // each step still reads exactly its predecessor's y and v).
      val blockDays = 16
      seq.where($"i" >= 2)
        .groupBy($"event_type",
          expr(s"(i - 2) div $blockDays").as("b"))
        .agg(sort_array(collect_list(struct($"i", $"day", $"y"))).as("ys"))
        .coalesce(1).localCheckpoint()
        .createOrReplaceTempView("rec_blk_v")
      val outT = "ARRAY<STRUCT<i: BIGINT, day: DATE, y: BIGINT, v: BIGINT>>"
      val navStep =
        "acc.v * (1000000 + (e.y - acc.y) * 1000000 div acc.y) div 1000000"
      s.sql(
        s"""WITH RECURSIVE nav(event_type, b, y, v, outs) AS (
           |  SELECT event_type, CAST(-1 AS BIGINT), y,
           |    CAST(1000000000 AS BIGINT),
           |    array(named_struct('i', i, 'day', day, 'y', y,
           |      'v', CAST(1000000000 AS BIGINT)))
           |  FROM rec_seq_v WHERE i = 1
           |  UNION ALL
           |  SELECT event_type, b, element_at(outs, -1).y,
           |    element_at(outs, -1).v, outs
           |  FROM (
           |    SELECT /*+ BROADCAST(s) */ n.event_type, s.b,
           |      aggregate(s.ys,
           |        named_struct('y', n.y, 'v', n.v,
           |          'outs', CAST(array() AS $outT)),
           |        (acc, e) -> named_struct(
           |          'y', e.y,
           |          'v', $navStep,
           |          'outs', array_append(acc.outs, named_struct(
           |            'i', e.i, 'day', e.day, 'y', e.y,
           |            'v', $navStep)))).outs AS outs
           |    FROM nav n JOIN rec_blk_v s
           |      ON s.event_type = n.event_type AND s.b = n.b + 1))
           |SELECT event_type, o.day AS day, o.y AS day_cents,
           |  o.v AS nav_micro
           |FROM nav LATERAL VIEW explode(outs) t AS o
           |ORDER BY event_type, day""".stripMargin)
    },
    oracle = Some(
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |seq AS (
        |  SELECT event_type, day, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM daily),
        |nav(event_type, day, i, y, v) AS (
        |  SELECT event_type, day, i, y, CAST(1000000000 AS BIGINT)
        |  FROM seq WHERE i = 1
        |  UNION ALL
        |  SELECT s.event_type, s.day, s.i, s.y,
        |    n.v * (1000000 + (s.y - n.y) * 1000000 // n.y) // 1000000
        |  FROM nav n JOIN seq s
        |    ON s.event_type = n.event_type AND s.i = n.i + 1)
        |SELECT event_type, day, y AS day_cents, v AS nav_micro
        |FROM nav
        |ORDER BY event_type, day""".stripMargin))

  val all: Vector[Q] = Vector(qSqlRecursiveCompound)
}
