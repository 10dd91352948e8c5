package graft.streaming

import graft.{Q, Tables}
import graft.Dsl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming joins — the two join shapes Structured Streaming supports,
  * each with an oracle-checked batch twin (SURVEY.md §2.9 extension, r7).
  *
  * The reference repo contains no code (SURVEY §0); these rows derive
  * from the north star's incremental-ETL shape: a fact stream enriched
  * by a slowly-changing dimension (stream-static) and a conversion
  * funnel correlating two event streams in a bounded time window
  * (stream-stream). Both replay the events fixture end-to-end through
  * file-stream sources under Trigger.AvailableNow, exactly like the
  * other timed streaming rows.
  *
  * Scale notes (100 TB): the stream-static join is STATELESS — the dim
  * side is broadcast per micro-batch, so state is zero and throughput is
  * the stateless-map rate; re-broadcast per trigger is what picks up dim
  * updates. The stream-stream join keeps both sides' unmatched rows in
  * state; the watermark plus the explicit time-range predicate bound
  * that state to the interval width (1 h here) × arrival rate — without
  * the range condition state grows forever, which is why the batch twin
  * carries the same predicate. Both sides shuffle on the equi key
  * (user_id), so the join state is hash-partitioned across executors.
  */
object StreamJoinQueries {

  /** The broadcastable customer dimension: user_id joins c_custkey
    * directly (events.user_id ⊂ customer.c_custkey at every SF,
    * FIXTURES.md). */
  private def customerDim(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("user_id"), col("c_mktsegment"))

  /** The enrich transform shared by the batch twin and the replay:
    * join the (streaming or batch) events frame to the static customer
    * dim, then 1-hour tumbling counts/sums per market segment. */
  private def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), "user_id")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        sumMoney(col("value")).as("sum_value"))
      .select(col("w.start").as("win_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  /** q_enrich_batch — the oracle-checked batch twin of the stream-static
    * enrichment: per (hour, market segment) counts and exact value sums
    * over events joined to the customer dim. */
  val qEnrichBatch: Q = Q(
    "q_enrich_batch",
    (s, dir) => {
      import s.implicits._
      enrich(Tables.events(s, dir), customerDim(s, dir))
        .withColumn("win_start", $"win_start".cast("timestamp_ntz"))
        .orderBy($"win_start", $"c_mktsegment")
    },
    oracle = Some(
      """SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS win_start,
        |  c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY win_start, c_mktsegment
        |ORDER BY win_start, c_mktsegment""".stripMargin))

  /** q_stream_static_enrich — the same enrichment run as a STREAM: the
    * events replay joined per-micro-batch to the broadcast customer dim,
    * then the watermarked windowed agg (complete mode — watermarks never
    * close windows in a one-shot replay). StreamJoinSpec pins the landed
    * result equal to the batch twin. */
  val qStreamStaticEnrich: Q = Q(
    "q_stream_static_enrich",
    (s, dir) => {
      val dim = customerDim(s, dir)
      StreamingQueries.Replay.run(s, dir, "q_stream_static_enrich", "complete") {
        src => enrich(src.withWatermark("ts", "10 minutes"), dim)
      }
    })

  /** The funnel pair projection both twins share: view→purchase pairs of
    * the same user within one hour, with the exact µs delay.
    * `joinType` "inner" for the matched funnel, "left_outer" for the
    * abandonment variant (views with no purchase emit null-padded). */
  private def pairs(views: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val v = views
      .where(col("event_type") === "view")
      .select(col("event_id").as("view_event_id"), col("user_id"),
        col("ts").as("v_ts"))
    val p = purchases
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    v.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("view_event_id"), col("purchase_event_id"),
        col("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
          .as("delay_us"))
  }

  /** q_join_event_pairs — the oracle-checked batch twin of the
    * stream-stream join: every (view, purchase) pair of the same user
    * with the purchase at most one hour after the view. Equi key
    * (user_id) drives the shuffle; the range predicate filters inside
    * each key group — the plan a 100 TB funnel join wants (SMJ on
    * user_id, not a broadcast-nested-loop over the range). */
  val qJoinEventPairs: Q = Q(
    "q_join_event_pairs",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      pairs(ev, ev).orderBy($"view_event_id", $"purchase_event_id")
    },
    oracle = Some(
      """SELECT v.event_id AS view_event_id, p.event_id AS purchase_event_id,
        |  v.user_id, epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_event_id, purchase_event_id""".stripMargin))

  /** q_stream_stream_join — the same funnel as a true STREAM-STREAM
    * inner join: two independent file-stream sources over the events
    * fixture, both watermarked, joined on user_id with the 1-hour range
    * condition (append mode — inner-join matches emit as soon as both
    * sides arrive; the watermark + range bound the buffered state).
    * The landed pairs are re-sorted batch-side; StreamJoinSpec pins
    * them equal to the batch twin row-for-row. */
  val qStreamStreamJoin: Q = Q(
    "q_stream_stream_join",
    (s, dir) => {
      import s.implicits._
      StreamingQueries.Replay.run(s, dir, "q_stream_stream_join", "append") { src =>
        val views = src.withWatermark("ts", "10 minutes")
        val purchases = StreamingQueries.Replay.eventsSource(s, dir)
          .withWatermark("ts", "10 minutes")
        pairs(views, purchases)
      }.orderBy($"view_event_id", $"purchase_event_id")
    })

  /** q_stream_stream_outer — the LEFT OUTER form replayed end-to-end:
    * views with no purchase within the hour emit null-padded, but ONLY
    * once the global watermark proves no match can still arrive
    * (v_ts + 1 h < final watermark) — the no-data micro-batch after the
    * file replay performs exactly that state eviction, the same
    * mechanism q_stream_stateful_tws demonstrates for timers. Views
    * newer than the horizon are dropped with the query, unemitted:
    * landed output ⊊ the batch left join BY DESIGN, and StreamJoinSpec
    * pins the landed set to the exact watermark-derived expectation. */
  val qStreamStreamOuter: Q = Q(
    "q_stream_stream_outer",
    (s, dir) => {
      import s.implicits._
      StreamingQueries.Replay.run(s, dir, "q_stream_stream_outer", "append",
        watermarkBatch = true) { src =>
        val views = src.withWatermark("ts", "10 minutes")
        val purchases = StreamingQueries.Replay.eventsSource(s, dir)
          .withWatermark("ts", "10 minutes")
        pairs(views, purchases, "left_outer")
      }.orderBy($"view_event_id",
        $"purchase_event_id".asc_nulls_first)
    })

  val all: Vector[Q] = Vector(
    qEnrichBatch, qStreamStaticEnrich, qJoinEventPairs, qStreamStreamJoin,
    qStreamStreamOuter)
}
