package graft
package operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Dsl._

/** Hypothesis-testing / concentration statistics over the event log —
  * the A/B-decision family (SURVEY.md §2.10b): Welch's t
  * (parametric, unequal variances), Mann-Whitney U (nonparametric
  * rank-sum), two-sample Kolmogorov-Smirnov (distribution-shape), and
  * the Gini concentration coefficient. With [[StatQueries.qAbChisquare]]
  * (categorical) this covers the four standard "did the metric move"
  * tests an experimentation pipeline runs.
  *
  * Reference basis: /root/reference contains no code (SURVEY.md §0);
  * these rows derive from the survey's north star, not a reference file.
  *
  * Determinism strategy (SURVEY.md §2 rules): every statistic is built
  * from EXACT integer aggregates — cents, counts, rank-sums doubled to
  * clear the midrank .5 (2·midrank = 2·cnt_less + cnt_eq + 1 is always
  * an integer), KS distances cross-multiplied to integers
  * (|F_a − F_b|·n_a·n_b) — and only the final z / t / D / G value runs
  * through ONE textually identical IEEE double expression, rounded at
  * 6 dp. No raw double is ever aggregated.
  *
  * Shared scaffold: [[centsLadder]] — the distinct-cents ladder with
  * per-value counts and a cumulative prefix — feeds Mann-Whitney (ranks
  * ARE prefix counts), KS (ECDFs ARE prefix counts) and Gini (sorted
  * index sums decompose over runs of equal values). One definition, one
  * oracle CTE text, the trendSeq/trendPairs convention.
  *
  * Scale (100 TB): the ladder is VALUE-DOMAIN-bounded, not row-bounded —
  * a 2-dp metric under 500.00 has ≤ 50,000 distinct cents values no
  * matter how many fact rows exist, so the unpartitioned cumulative
  * window runs over a domain table (the bounded-domain exception the
  * bucketNtiles device documents); per-(type,value) partial aggregation
  * happens BEFORE anything touches the ladder, so the fact table is
  * scanned once with map-side combine and shuffled only as ≤ |types|·|V|
  * grouped rows. For an unbounded-domain metric the ladder would be
  * range-binned first (the coarse-bin offset device of q_prep_bucketize),
  * trading exact ranks for binned ranks.
  */
object StatTestQueries {

  /** events → (event_type, c): the metric in exact integer cents. */
  private[graft] def cents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", (dec2($"value") * 100).cast(LongType).as("c"))
  }

  /** Distinct-cents ladder: per value its count `cv` and the cumulative
    * count `cum` (rows ≤ value). Bounded by the value domain (see class
    * doc); the unpartitioned window is over this domain table only. */
  private def centsLadder(cents: DataFrame): DataFrame = {
    val vc = cents.groupBy(col("c")).agg(count(lit(1)).as("cv"))
    vc.withColumn("cum",
      sum(col("cv")).over(Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Oracle CTE twin of [[cents]] + [[centsLadder]] + the per-(type,
    * value) counts — byte-shared by the three rank-family rows. */
  private val ladderSql =
    """WITH cents AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |vc AS (SELECT c, COUNT(*) AS cv FROM cents GROUP BY 1),
      |lad AS (
      |  SELECT c, cv,
      |    SUM(cv) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM vc),
      |tv AS (
      |  SELECT event_type, c, COUNT(*) AS k FROM cents GROUP BY 1, 2)""".stripMargin

  /** q_stat_welch_t — WELCH'S UNEQUAL-VARIANCE t TEST between every
    * pair of event types on the value metric: t statistic plus the
    * Welch–Satterthwaite effective degrees of freedom. The default
    * parametric two-sample test (Student's equal-variance t is the
    * special case nobody should use). Exactness: per-type moments
    * (n, Σc, Σc²) are exact Long sums of cents; means, variances, t and
    * df derive through one identical double expression per output,
    * rounded at 6 dp. The n·(Σc/n)² products run in DOUBLE (cast before
    * multiply), so no Long-product overflow cliff exists here — the
    * binding limit is Σc² itself (c ≤ 50k cents → ~3.8e9/row of
    * headroom; past that the DECIMAL(38,0) promotion of q_vec_pca).
    * Shape: one 5-group moment agg with map-side partials, then a
    * 10-row broadcast self-join of the bounded type table — the fact
    * table is scanned ONCE regardless of how many pairs are tested. */
  val qStatWelchT: Q = Q(
    "q_stat_welch_t",
    (s, dir) => {
      import s.implicits._
      val m = cents(s, dir).groupBy($"event_type")
        .agg(count(lit(1)).cast(LongType).as("n"),
          sum($"c").as("s1"), sum($"c" * $"c").as("s2"))
      val a = m.select($"event_type".as("type_a"), $"n".as("na"),
        $"s1".as("s1a"), $"s2".as("s2a"))
      val b = m.select($"event_type".as("type_b"), $"n".as("nb"),
        $"s1".as("s1b"), $"s2".as("s2b"))
      a.join(broadcast(b), $"type_a" < $"type_b")
        .withColumn("va", expr(
          "(CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE)"))
        .withColumn("vb", expr(
          "(CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)"))
        .withColumn("se2", expr("va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)"))
        .select($"type_a", $"type_b", $"na", $"nb",
          expr("ROUND(CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE), 6)").as("mean_a"),
          expr("ROUND(CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE), 6)").as("mean_b"),
          expr("ROUND((CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt(se2), 6)").as("t_stat"),
          expr("ROUND(se2 * se2 / ((va / CAST(na AS DOUBLE)) * (va / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) + (vb / CAST(nb AS DOUBLE)) * (vb / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)), 6)").as("df"))
        .orderBy($"type_a", $"type_b")
    },
    oracle = Some(
      """WITH cents AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
        |  FROM cents GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n AS na, b.n AS nb, a.s1 AS s1a, b.s1 AS s1b,
        |    a.s2 AS s2a, b.s2 AS s2b
        |  FROM m a JOIN m b ON a.event_type < b.event_type),
        |v AS (
        |  SELECT *,
        |    (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) AS va,
        |    (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE) AS vb
        |  FROM p),
        |w AS (
        |  SELECT *, va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) AS se2
        |  FROM v)
        |SELECT type_a, type_b, na, nb,
        |  ROUND(CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE), 6) AS mean_a,
        |  ROUND(CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS mean_b,
        |  ROUND((CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt(se2), 6) AS t_stat,
        |  ROUND(se2 * se2 / ((va / CAST(na AS DOUBLE)) * (va / CAST(na AS DOUBLE)) / CAST(na - 1 AS DOUBLE) + (vb / CAST(nb AS DOUBLE)) * (vb / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)), 6) AS df
        |FROM w
        |ORDER BY type_a, type_b""".stripMargin))

  /** q_stat_mann_whitney — MANN-WHITNEY U (Wilcoxon rank-sum) for each
    * event type AGAINST THE POOLED REST: the nonparametric companion to
    * [[qStatWelchT]] — detects a location shift without any normality
    * assumption, immune to outliers that drag a mean. Tie handling is
    * the textbook MIDRANK, made exact by working in DOUBLED rank units:
    * 2·midrank(v) = 2·cnt_less(v) + cnt_eq(v) + 1 is an integer read
    * straight off the ladder (2·cum − cv + 1), so the per-type rank sum
    * r2 and the doubled statistic u2 = 2·U = r2 − nt·(nt+1) are exact
    * Longs. The normal-approximation z applies the standard tie
    * correction (Σ(t³−t) over ladder counts, an exact Long) in one
    * identical double expression, rounded at 6 dp. All five one-vs-rest
    * tests share ONE global ladder — the same midranks serve every
    * split, so the fact table is scanned once, not 5×.
    * Overflow headroom: r2 ≤ n·(2n+1) — Long-safe to n ≈ 2.1e9 rows,
    * then the DECIMAL(38,0) promotion; tie3 ≤ n³ binds earlier for a
    * fully-tied corpus (n ≈ 2.1e6) but tie3 ≤ n·max_tie² in practice. */
  val qStatMannWhitney: Q = Q(
    "q_stat_mann_whitney",
    (s, dir) => {
      import s.implicits._
      val cs = cents(s, dir)
      val lad = centsLadder(cs)
      val tv = cs.groupBy($"event_type", $"c").agg(count(lit(1)).as("k"))
      val per = tv.join(lad, "c")
        .groupBy($"event_type")
        .agg(sum($"k").as("nt"),
          sum($"k" * (lit(2) * $"cum" - $"cv" + 1)).as("r2"))
      val gl = lad.agg(sum($"cv").as("n"),
        sum($"cv" * $"cv" * $"cv" - $"cv").as("tie3"))
      per.crossJoin(broadcast(gl))
        .select($"event_type", $"nt", ($"n" - $"nt").as("nr"),
          expr("r2 - nt * (nt + 1)").as("u2"),
          expr("ROUND((CAST(r2 - nt * (nt + 1) AS DOUBLE) - CAST(nt AS DOUBLE) * CAST(n - nt AS DOUBLE)) / (2.0 * sqrt(CAST(nt AS DOUBLE) * CAST(n - nt AS DOUBLE) / 12.0 * (CAST(n + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))), 6)").as("z"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$ladderSql,
        |gl AS (
        |  SELECT CAST(SUM(cv) AS BIGINT) AS n,
        |    CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie3
        |  FROM vc),
        |per AS (
        |  SELECT tv.event_type, CAST(SUM(tv.k) AS BIGINT) AS nt,
        |    CAST(SUM(tv.k * (2 * lad.cum - lad.cv + 1)) AS BIGINT) AS r2
        |  FROM tv JOIN lad USING (c) GROUP BY 1)
        |SELECT event_type, nt, n - nt AS nr,
        |  r2 - nt * (nt + 1) AS u2,
        |  ROUND((CAST(r2 - nt * (nt + 1) AS DOUBLE) - CAST(nt AS DOUBLE) * CAST(n - nt AS DOUBLE)) / (2.0 * sqrt(CAST(nt AS DOUBLE) * CAST(n - nt AS DOUBLE) / 12.0 * (CAST(n + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))), 6) AS z
        |FROM per, gl
        |ORDER BY event_type""".stripMargin))

  /** q_stat_ks — two-sample KOLMOGOROV-SMIRNOV distance for each event
    * type vs the pooled rest: D = sup_x |F_t(x) − F_rest(x)| — the
    * shape-sensitive test that fires when means match but the
    * DISTRIBUTION moved (variance, bimodality, tail weight), which both
    * t and U miss. Exactness: the supremum is attained at ladder
    * values, and each candidate is CROSS-MULTIPLIED to the integer
    * d = |cum_t·(n−nt) − (cum_rest)·nt| — an exact Long max; only the
    * final division by nt·(n−nt) is floating, rounded at 6 dp. The
    * 5-type ECDF grid is the ladder × the bounded type table with
    * zero-fill (a type missing a value still steps its competitor's
    * ECDF), cumulated per type. One fact scan, one ladder, all types.
    * Overflow: cum·n ≤ n² — Long-safe to n ≈ 3e9 rows, then DECIMAL. */
  val qStatKs: Q = Q(
    "q_stat_ks",
    (s, dir) => {
      import s.implicits._
      val cs = cents(s, dir)
      val lad = centsLadder(cs).withColumnRenamed("cum", "cum_all")
      val tv = cs.groupBy($"event_type", $"c").agg(count(lit(1)).as("k"))
      val types = cs.select($"event_type").distinct()
      val nn = cs.groupBy($"event_type").agg(count(lit(1)).cast(LongType).as("nt"))
      val gl = lad.agg(sum($"cv").as("n"))
      val grid = lad.crossJoin(broadcast(types))
        .join(tv, Seq("event_type", "c"), "left")
        .withColumn("k0", coalesce($"k", lit(0L)))
      val cumt = grid.withColumn("cum_t",
        sum($"k0").over(Window.partitionBy($"event_type").orderBy($"c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cumt.join(broadcast(nn), "event_type").crossJoin(broadcast(gl))
        .groupBy($"event_type", $"nt", $"n")
        .agg(max(abs($"cum_t" * ($"n" - $"nt") - ($"cum_all" - $"cum_t") * $"nt"))
          .as("d_num"))
        .select($"event_type", $"nt", ($"n" - $"nt").as("nr"), $"d_num",
          expr("ROUND(CAST(d_num AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST(n - nt AS DOUBLE)), 6)").as("d"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$ladderSql,
        |types AS (SELECT DISTINCT event_type FROM cents),
        |nn AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt
        |  FROM cents GROUP BY 1),
        |gl AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM vc),
        |grid AS (
        |  SELECT t.event_type, lad.c, lad.cum AS cum_all,
        |    COALESCE(tv.k, 0) AS k0
        |  FROM lad CROSS JOIN types t
        |  LEFT JOIN tv ON tv.event_type = t.event_type AND tv.c = lad.c),
        |cumt AS (
        |  SELECT event_type, c, cum_all,
        |    SUM(k0) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS cum_t
        |  FROM grid)
        |SELECT g.event_type, nt, n - nt AS nr,
        |  CAST(MAX(ABS(cum_t * (n - nt) - (cum_all - cum_t) * nt)) AS BIGINT)
        |    AS d_num,
        |  ROUND(CAST(MAX(ABS(cum_t * (n - nt) - (cum_all - cum_t) * nt)) AS DOUBLE)
        |    / (CAST(nt AS DOUBLE) * CAST(n - nt AS DOUBLE)), 6) AS d
        |FROM cumt g JOIN nn ON g.event_type = nn.event_type CROSS JOIN gl
        |GROUP BY g.event_type, nt, n
        |ORDER BY g.event_type""".stripMargin))

  /** q_stat_gini — GINI CONCENTRATION COEFFICIENT of value per event
    * type: G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the ascending sort —
    * the standard "how whale-dominated is this metric" inequality
    * measure (G=0 all equal, →1 one row holds everything). Runs of
    * equal values decompose exactly over the per-type ladder:
    * Σ i·x for a run of k copies of value c starting after prefix p is
    * c·(k·p + k·(k+1)/2) — k·(k+1) is always even so the halving is
    * exact integer division. Everything is an exact Long until the one
    * final division, rounded at 6 dp; a zero-sum group is decided in
    * integer space and yields NULL in both engines (the pearsonR guard
    * discipline). Shape: per-(type,value) partial agg off one fact
    * scan, per-type cumulative window over the bounded ladder, one
    * 5-row final agg. Overflow: Σi·x ≤ x_max·n²/2 — Long-safe to
    * n ≈ 19M rows/type at 50k-cent values, then DECIMAL(38,0). */
  val qStatGini: Q = Q(
    "q_stat_gini",
    (s, dir) => {
      import s.implicits._
      val cs = cents(s, dir)
      val tv = cs.groupBy($"event_type", $"c").agg(count(lit(1)).as("k"))
      val w = Window.partitionBy($"event_type").orderBy($"c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = tv.withColumn("cum", sum($"k").over(w))
        .withColumn("p", $"cum" - $"k")
      runs.groupBy($"event_type")
        .agg(sum($"k").as("n"),
          sum($"c" * $"k").as("sumx"),
          sum($"c" * ($"k" * $"p" + expr("(k * (k + 1)) div 2"))).as("sumix"))
        .select($"event_type", $"n",
          expr("CAST(sumx AS DOUBLE) / 100.0").as("total"),
          when($"sumx" === 0, lit(null))
            .otherwise(expr("ROUND(CAST(2 * sumix - (n + 1) * sumx AS DOUBLE) / CAST(n * sumx AS DOUBLE), 6)"))
            .as("gini"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""$ladderSql,
        |runs AS (
        |  SELECT event_type, c, k,
        |    SUM(k) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) - k AS p
        |  FROM tv),
        |agg AS (
        |  SELECT event_type, CAST(SUM(k) AS BIGINT) AS n,
        |    CAST(SUM(c * k) AS BIGINT) AS sumx,
        |    CAST(SUM(c * (k * p + (k * (k + 1)) // 2)) AS BIGINT) AS sumix
        |  FROM runs GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(sumx AS DOUBLE) / 100.0 AS total,
        |  CASE WHEN sumx = 0 THEN NULL
        |    ELSE ROUND(CAST(2 * sumix - (n + 1) * sumx AS DOUBLE)
        |      / CAST(n * sumx AS DOUBLE), 6) END AS gini
        |FROM agg
        |ORDER BY event_type""".stripMargin))

  /** q_stat_pettitt — PETTITT CHANGE-POINT TEST on each type's daily
    * traded-value series: the rank-based (distribution-free) locator
    * of a single abrupt level shift, the standard companion to
    * Mann-Kendall ("IS there a trend" → "WHERE did the level break").
    * K_t = Σ_{i≤t<j} sign(y_j − y_i); the change point is argmax |K_t|
    * over 1 ≤ t < n. Exactness: computed via the telescoping identity
    * K_t − K_{t−1} = Σ_j sign(y_j − y_t) — each ordered pair of
    * [[StatQueries.trendPairs]] contributes +sign to V_{ia} and −sign
    * to V_{ib} (sign as a 3-branch CASE, never the double-typed
    * sign()), so V, the running K, and |K| are exact Longs end to end;
    * there is no floating value anywhere in this row. Ties on |K|
    * break to the EARLIEST day (deterministic total order).
    * Scale: the fact table collapses to the bounded (type × day)
    * domain in one partial agg; the all-pairs frame is ≤ C(d,2) rows
    * per type on that bounded domain (the Mann-Kendall argument), and
    * the running-K window partitions by type. Overflow: |K| ≤ C(d,2) —
    * a 10⁶-day series would still fit Long with 6 orders to spare. */
  val qStatPettitt: Q = Q(
    "q_stat_pettitt",
    (s, dir) => {
      import s.implicits._
      val seq = StatQueries.trendSeq(s, dir)
      val pairs = StatQueries.trendPairs(seq)
      val sgn = when($"yb" > $"ya", 1L).when($"yb" < $"ya", -1L).otherwise(0L)
      val contrib =
        pairs.select($"event_type", $"ia".as("t"), sgn.as("sg"))
          .unionAll(pairs.select($"event_type", $"ib".as("t"), (-sgn).as("sg")))
      val v = contrib.groupBy($"event_type", $"t").agg(sum($"sg").as("v"))
      val nDays = seq.groupBy($"event_type").agg(max($"i").as("n_days"))
      val k = v.withColumn("k",
          sum($"v").over(Window.partitionBy($"event_type").orderBy($"t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(seq.select($"event_type", $"i".as("t"), $"day"),
          Seq("event_type", "t"))
        .join(nDays, "event_type")
        .where($"t" < $"n_days")
      k.withColumn("rn", row_number().over(
          Window.partitionBy($"event_type")
            .orderBy(abs($"k").desc, $"day".asc)))
        .where($"rn" === 1)
        .select($"event_type", $"n_days", abs($"k").as("k_stat"),
          $"day".as("change_day"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""${StatQueries.trendSeqSql},
        |seqd AS (
        |  SELECT event_type, day,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM daily),
        |pairs AS (
        |  SELECT a.event_type, a.i AS ia, a.y AS ya, b.i AS ib, b.y AS yb
        |  FROM seq a JOIN seq b
        |    ON a.event_type = b.event_type AND a.i < b.i),
        |contrib AS (
        |  SELECT event_type, ia AS t,
        |    CASE WHEN yb > ya THEN 1 WHEN yb < ya THEN -1 ELSE 0 END AS sg
        |  FROM pairs
        |  UNION ALL
        |  SELECT event_type, ib AS t,
        |    CASE WHEN yb > ya THEN -1 WHEN yb < ya THEN 1 ELSE 0 END AS sg
        |  FROM pairs),
        |v AS (
        |  SELECT event_type, t, CAST(SUM(sg) AS BIGINT) AS v
        |  FROM contrib GROUP BY 1, 2),
        |nd AS (SELECT event_type, MAX(i) AS n_days FROM seq GROUP BY 1),
        |kk AS (
        |  SELECT v.event_type, v.t,
        |    CAST(SUM(v.v) OVER (PARTITION BY v.event_type ORDER BY v.t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k,
        |    s.day, nd.n_days
        |  FROM v
        |  JOIN seqd s ON s.event_type = v.event_type AND s.i = v.t
        |  JOIN nd ON nd.event_type = v.event_type
        |  WHERE v.t < nd.n_days),
        |pick AS (
        |  SELECT event_type, n_days, ABS(k) AS k_stat, day AS change_day,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ABS(k) DESC, day ASC) AS rn
        |  FROM kk)
        |SELECT event_type, n_days, k_stat, change_day
        |FROM pick WHERE rn = 1
        |ORDER BY event_type""".stripMargin))

  /** q_stat_kruskal — KRUSKAL-WALLIS H across ALL event types at once:
    * the k-sample generalization of [[qStatMannWhitney]] (one-way ANOVA
    * on ranks) — the omnibus "did ANY variant move" gate an experiment
    * with more than two arms runs before pairwise tests. Reuses the
    * SAME global ladder and doubled-midrank identity: per-type rank
    * sums r2 are exact Longs; the per-type term R_t²/n_t = r2²/(4·n_t)
    * is quantized ONCE by exact integer division — r2² runs in
    * DECIMAL(38,0) (twin: HUGEINT — r2 ≤ n(2n+1) ≈ 2e10 at sf0.1
    * squares to 4e20, past Long) and the `div` floor loses < 1 rank
    * unit on a ~1e15 value (relative 1e-15, identical in both engines
    * since both floor the same exact integer ratio) — so the cross-type
    * SUM is an exact Long sum, never a float sum whose order could
    * differ between engines. H and the tie-corrected H/C then derive
    * in one textually identical double expression, rounded at 6 dp; a
    * single-distinct-value corpus (C = 0) is decided in integer space
    * (nv = 1) → NULL both engines. One fact scan; everything after the
    * per-(type,value) partial agg runs on the bounded ladder. */
  val qStatKruskal: Q = Q(
    "q_stat_kruskal",
    (s, dir) => {
      import s.implicits._
      val cs = cents(s, dir)
      val lad = centsLadder(cs)
      val tv = cs.groupBy($"event_type", $"c").agg(count(lit(1)).as("k"))
      val per = tv.join(lad, "c")
        .groupBy($"event_type")
        .agg(sum($"k").as("nt"),
          sum($"k" * (lit(2) * $"cum" - $"cv" + 1)).as("r2"))
        .withColumn("term", expr(
          "CAST(r2 AS DECIMAL(38,0)) * CAST(r2 AS DECIMAL(38,0)) div (4 * nt)"))
      val gl = lad.agg(sum($"cv").as("n"),
        sum($"cv" * $"cv" * $"cv" - $"cv").as("tie3"),
        count(lit(1)).as("nv"))
      per.agg(count(lit(1)).as("k_groups"), sum($"term").as("s"))
        .crossJoin(broadcast(gl))
        .select($"k_groups", $"n",
          expr("ROUND(12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE), 6)").as("h"),
          when($"nv" === 1, lit(null)).otherwise(expr(
            "ROUND((12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE)) / (1.0 - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)"))
            .as("h_tie_corrected"))
    },
    oracle = Some(
      s"""$ladderSql,
        |gl AS (
        |  SELECT CAST(SUM(cv) AS BIGINT) AS n,
        |    CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie3,
        |    COUNT(*) AS nv
        |  FROM vc),
        |per AS (
        |  SELECT tv.event_type, CAST(SUM(tv.k) AS BIGINT) AS nt,
        |    CAST(SUM(tv.k * (2 * lad.cum - lad.cv + 1)) AS BIGINT) AS r2
        |  FROM tv JOIN lad USING (c) GROUP BY 1),
        |terms AS (
        |  SELECT event_type, nt, r2,
        |    CAST(CAST(r2 AS HUGEINT) * r2 // (4 * nt) AS BIGINT) AS term
        |  FROM per),
        |top AS (
        |  SELECT COUNT(*) AS k_groups, CAST(SUM(term) AS BIGINT) AS s
        |  FROM terms)
        |SELECT k_groups, n,
        |  ROUND(12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE), 6) AS h,
        |  CASE WHEN nv = 1 THEN NULL
        |    ELSE ROUND((12.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) - 3.0 * CAST(n + 1 AS DOUBLE)) / (1.0 - CAST(tie3 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6) END
        |    AS h_tie_corrected
        |FROM top, gl""".stripMargin))

  /** q_stat_anova — ONE-WAY ANOVA F across the event types: the
    * parametric omnibus companion to [[qStatKruskal]] — partitions the
    * total sum of squares into between-group and within-group parts
    * and reports F = (SSB/df1)/(SSW/df2). Exactness: per-type moments
    * (n_t, Σc, Σc²) are exact Longs off ONE fact scan; SSB and SSW are
    * assembled ENTIRELY in exact integer cents² — each s1_t²/n_t term
    * and the grand s1²/n correction quantize once by exact integer
    * division (products in DECIMAL(38,0)/HUGEINT: s1_t ≤ ~5e9 cents at
    * sf0.1 squares past Long), so ssb = Σ⌊s1_t²/n_t⌋ − ⌊s1²/n⌋ and
    * ssw = Σc² − Σ⌊s1_t²/n_t⌋ are exact Longs in both engines (floor
    * error < k units on ~1e13 values, identically floored both sides).
    * Only F itself is floating — one identical expression, round 6.
    * The all-groups-constant degenerate case (SSW = 0) is decided on
    * the INTEGER ssw → NULL F in both engines. Shape: one 5-group
    * partial agg, then arithmetic on the bounded type table. */
  val qStatAnova: Q = Q(
    "q_stat_anova",
    (s, dir) => {
      import s.implicits._
      val m = cents(s, dir).groupBy($"event_type")
        .agg(count(lit(1)).cast(LongType).as("nt"),
          sum($"c").as("s1"), sum($"c" * $"c").as("s2"))
        .withColumn("t1", expr(
          "CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)) div nt"))
      m.agg(count(lit(1)).as("k_groups"), sum($"nt").as("n"),
          sum($"s1").as("gs1"), sum($"s2").as("gs2"), sum($"t1").as("s1sq"))
        .select($"k_groups", $"n",
          ($"k_groups" - 1).as("df1"), ($"n" - $"k_groups").as("df2"),
          ($"s1sq" - expr("CAST(gs1 AS DECIMAL(38,0)) * CAST(gs1 AS DECIMAL(38,0)) div n")).as("ssb_cents2"),
          ($"gs2" - $"s1sq").as("ssw_cents2"))
        .withColumn("f_stat",
          when($"ssw_cents2" === 0, lit(null)).otherwise(expr(
            "ROUND((CAST(ssb_cents2 AS DOUBLE) / CAST(df1 AS DOUBLE)) / (CAST(ssw_cents2 AS DOUBLE) / CAST(df2 AS DOUBLE)), 6)")))
    },
    oracle = Some(
      """WITH cents AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
        |  FROM cents GROUP BY 1),
        |t AS (
        |  SELECT *, CAST(CAST(s1 AS HUGEINT) * s1 // nt AS BIGINT) AS t1
        |  FROM m),
        |g AS (
        |  SELECT COUNT(*) AS k_groups, CAST(SUM(nt) AS BIGINT) AS n,
        |    CAST(SUM(s1) AS BIGINT) AS gs1, CAST(SUM(s2) AS BIGINT) AS gs2,
        |    CAST(SUM(t1) AS BIGINT) AS s1sq
        |  FROM t)
        |SELECT k_groups, n, k_groups - 1 AS df1, n - k_groups AS df2,
        |  s1sq - CAST(CAST(gs1 AS HUGEINT) * gs1 // n AS BIGINT) AS ssb_cents2,
        |  gs2 - s1sq AS ssw_cents2,
        |  CASE WHEN gs2 - s1sq = 0 THEN NULL
        |    ELSE ROUND((CAST(s1sq - CAST(CAST(gs1 AS HUGEINT) * gs1 // n AS BIGINT) AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE)) / (CAST(gs2 - s1sq AS DOUBLE) / CAST(n - k_groups AS DOUBLE)), 6) END
        |    AS f_stat
        |FROM g""".stripMargin))

  /** q_stat_spearman — SPEARMAN RANK CORRELATION per event type between
    * daily event count and daily traded cents: the monotone-association
    * measure — Pearson on midranks — that q_win_rolling_corr's linear r
    * cannot replace when the coupling is monotone but curved (and that
    * outlier days cannot drag). Midranks are made exact in DOUBLED
    * units by the window identity 2·midrank = 2·rank() + peers − 1
    * (rank() counts strictly-less + 1; the per-(type,value) peer count
    * supplies the tie average) — both windows run over the bounded
    * (type × day) domain, never fact rows, and both engines compute
    * the same exact integers. Pearson over the doubled ranks is the
    * shared [[Dsl.pearsonR]]: exact Long moments (Σr² ≤ 4d³ — tiny),
    * integer-decided zero-variance guard (an all-tied side → NULL both
    * engines), one identical double expression, round 6.
    * Shape: one fact scan collapses to (type, day); two rank windows +
    * one moment agg on that domain. */
  val qStatSpearman: Q = Q(
    "q_stat_spearman",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type",
          to_date(date_trunc("day", $"ts")).as("day"))
        .agg(count(lit(1)).as("nn"),
          (dec2(sum(dec2($"value"))) * 100).cast(LongType).as("v"))
      val r2n = lit(2) * rank().over(
          Window.partitionBy($"event_type").orderBy($"nn")).cast(LongType) +
        count(lit(1)).over(Window.partitionBy($"event_type", $"nn")) - 1
      val r2v = lit(2) * rank().over(
          Window.partitionBy($"event_type").orderBy($"v")).cast(LongType) +
        count(lit(1)).over(Window.partitionBy($"event_type", $"v")) - 1
      daily.select($"event_type", r2n.as("rx"), r2v.as("ry"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          sum($"rx").as("sx"), sum($"ry").as("sy"),
          sum($"rx" * $"ry").as("sxy"),
          sum($"rx" * $"rx").as("sxx"), sum($"ry" * $"ry").as("syy"))
        .select($"event_type", $"n_days",
          Dsl.pearsonR($"n_days", $"sx", $"sy", $"sxy", $"sxx", $"syy")
            .as("rho"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS nn,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type,
        |    2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY nn)
        |      AS BIGINT) + COUNT(*) OVER (PARTITION BY event_type, nn) - 1
        |      AS rx,
        |    2 * CAST(rank() OVER (PARTITION BY event_type ORDER BY v)
        |      AS BIGINT) + COUNT(*) OVER (PARTITION BY event_type, v) - 1
        |      AS ry
        |  FROM daily),
        |mo AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
        |    CAST(SUM(rx * ry) AS BIGINT) AS sxy,
        |    CAST(SUM(rx * rx) AS BIGINT) AS sxx,
        |    CAST(SUM(ry * ry) AS BIGINT) AS syy
        |  FROM ranked GROUP BY 1)
        |SELECT event_type, n_days,
        |  ${Dsl.pearsonRSql("n_days", "sx", "sy", "sxy", "sxx", "syy")} AS rho
        |FROM mo
        |ORDER BY event_type""".stripMargin))

  /** q_stat_levene — BROWN-FORSYTHE variance-homogeneity test (Levene's
    * test with the MEDIAN center, the robust form): one-way ANOVA F on
    * the absolute deviations d = |c − median_type| — the gate that
    * validates [[qStatAnova]]'s equal-variance assumption before anyone
    * trusts its F (and a location-free dispersion comparison in its own
    * right). A pure composition of two existing devices: the per-type
    * ceil-rank MEDIAN selected off the value-domain-bounded ladder
    * (q_prep_robust_scale's fit — no interpolation, no float), and the
    * exact-integer ANOVA assembly (each Σd²-term and s1²/n quantized
    * once by DECIMAL(38,0)/HUGEINT integer division), so both sums of
    * squares are exact Longs and only W itself floats — one identical
    * expression, round 6; SSW = 0 decided on the integer → NULL.
    * Shape: ladder fit + broadcast 5-row medians + one narrow
    * deviation scan with a 5-group moment agg — two fact scans total
    * (fit + transform, the robust-scale shape). */
  val qStatLevene: Q = Q(
    "q_stat_levene",
    (s, dir) => {
      import s.implicits._
      val base = cents(s, dir)
      val tv = base.groupBy($"event_type", $"c").agg(count(lit(1)).as("k"))
      val lad = tv.withColumn("cum",
        sum($"k").over(Window.partitionBy($"event_type").orderBy($"c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val med = lad
        .withColumn("n", sum($"k").over(Window.partitionBy($"event_type")))
        .groupBy($"event_type")
        .agg(min(when($"cum" >= expr("(n + 1) div 2"), $"c")).as("med"))
      val m = base.join(broadcast(med), "event_type")
        .select($"event_type", abs($"c" - $"med").as("d"))
        .groupBy($"event_type")
        .agg(count(lit(1)).cast(LongType).as("nt"),
          sum($"d").as("s1"), sum($"d" * $"d").as("s2"))
        .withColumn("t1", expr(
          "CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)) div nt"))
      m.agg(count(lit(1)).as("k_groups"), sum($"nt").as("n"),
          sum($"s1").as("gs1"), sum($"s2").as("gs2"), sum($"t1").as("s1sq"))
        .select($"k_groups", $"n",
          ($"k_groups" - 1).as("df1"), ($"n" - $"k_groups").as("df2"),
          ($"s1sq" - expr("CAST(gs1 AS DECIMAL(38,0)) * CAST(gs1 AS DECIMAL(38,0)) div n")).as("ssb_cents2"),
          ($"gs2" - $"s1sq").as("ssw_cents2"))
        .withColumn("w_stat",
          when($"ssw_cents2" === 0, lit(null)).otherwise(expr(
            "ROUND((CAST(ssb_cents2 AS DOUBLE) / CAST(df1 AS DOUBLE)) / (CAST(ssw_cents2 AS DOUBLE) / CAST(df2 AS DOUBLE)), 6)")))
    },
    oracle = Some(
      """WITH cents AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |tv AS (
        |  SELECT event_type, c, COUNT(*) AS k FROM cents GROUP BY 1, 2),
        |lad AS (
        |  SELECT event_type, c, k,
        |    SUM(k) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(k) OVER (PARTITION BY event_type) AS n
        |  FROM tv),
        |med AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS med
        |  FROM lad GROUP BY 1),
        |m AS (
        |  SELECT b.event_type, CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(ABS(b.c - med.med)) AS BIGINT) AS s1,
        |    CAST(SUM(ABS(b.c - med.med) * ABS(b.c - med.med)) AS BIGINT)
        |      AS s2
        |  FROM cents b JOIN med ON b.event_type = med.event_type
        |  GROUP BY 1),
        |t AS (
        |  SELECT *, CAST(CAST(s1 AS HUGEINT) * s1 // nt AS BIGINT) AS t1
        |  FROM m),
        |g AS (
        |  SELECT COUNT(*) AS k_groups, CAST(SUM(nt) AS BIGINT) AS n,
        |    CAST(SUM(s1) AS BIGINT) AS gs1, CAST(SUM(s2) AS BIGINT) AS gs2,
        |    CAST(SUM(t1) AS BIGINT) AS s1sq
        |  FROM t)
        |SELECT k_groups, n, k_groups - 1 AS df1, n - k_groups AS df2,
        |  s1sq - CAST(CAST(gs1 AS HUGEINT) * gs1 // n AS BIGINT)
        |    AS ssb_cents2,
        |  gs2 - s1sq AS ssw_cents2,
        |  CASE WHEN gs2 - s1sq = 0 THEN NULL
        |    ELSE ROUND((CAST(s1sq - CAST(CAST(gs1 AS HUGEINT) * gs1 // n AS BIGINT) AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE)) / (CAST(gs2 - s1sq AS DOUBLE) / CAST(n - k_groups AS DOUBLE)), 6) END
        |    AS w_stat
        |FROM g""".stripMargin))

  /** q_stat_friedman — FRIEDMAN TEST per event type on the daily value
    * series, blocked by calendar week: the repeated-measures companion
    * to [[qStatKruskal]] — "does the day-of-week matter once the week's
    * level is removed" — i.e. the SIGNIFICANCE test behind
    * q_ts_seasonal's weekday profile (a profile always shows bumps;
    * Friedman says whether they beat noise). Blocks = absolute epoch
    * weeks (epoch-day div 7 — deterministic, no locale), treatments =
    * the 7 within-week positions; only FULL weeks enter (a partial
    * block would rank 5 days against 7). Ranks are doubled midranks
    * from two windows over the bounded (type × day) domain (the
    * Spearman device, partitioned by block); the per-treatment rank
    * sums R2_j and their squares are exact Longs (R2 ≤ 14·weeks —
    * centuries fit), so χ²_F = 3·ΣR2²/(n·k·(k+1)) − 3·n·(k+1) is one
    * identical double expression, round 6. Ties inside a week take the
    * standard midrank (cent-exact daily totals essentially never tie;
    * when they do, both engines compute the same midrank). A
    * single-full-week corpus still evaluates (n = 1 is a valid, weak
    * test); zero full weeks yields no row for that type by
    * construction. */
  val qStatFriedman: Q = Q(
    "q_stat_friedman",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type",
          to_date(date_trunc("day", $"ts")).as("day"))
        .agg((dec2(sum(dec2($"value"))) * 100).cast(LongType).as("y"))
        .withColumn("ed", datediff($"day", lit("1970-01-01")).cast(LongType))
        .withColumn("blk", expr("ed div 7"))
      val full = daily
        .withColumn("bsz", count(lit(1))
          .over(Window.partitionBy($"event_type", $"blk")))
        .where($"bsz" === 7)
      val ranked = full.withColumn("r2",
        lit(2) * rank().over(Window.partitionBy($"event_type", $"blk")
          .orderBy($"y")).cast(LongType) +
          count(lit(1)).over(
            Window.partitionBy($"event_type", $"blk", $"y")) - 1)
        .withColumn("j", expr("ed % 7"))
      val perTreat = ranked.groupBy($"event_type", $"j")
        .agg(sum($"r2").as("r2j"), countDistinct($"blk").as("nb"))
      perTreat.groupBy($"event_type")
        .agg(min($"nb").as("n_weeks"),
          sum($"r2j" * $"r2j").as("sr2"))
        .select($"event_type", $"n_weeks",
          expr("ROUND(3.0 * CAST(sr2 AS DOUBLE) / (CAST(n_weeks AS DOUBLE) * 7.0 * 8.0) - 3.0 * CAST(n_weeks AS DOUBLE) * 8.0, 6)")
            .as("chi2_f"))
        .orderBy($"event_type")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ed AS (
        |  SELECT *, CAST(day - DATE '1970-01-01' AS BIGINT) AS ed,
        |    CAST(day - DATE '1970-01-01' AS BIGINT) // 7 AS blk
        |  FROM daily),
        |full_b AS (
        |  SELECT * FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY event_type, blk) AS bsz
        |    FROM ed)
        |  WHERE bsz = 7),
        |ranked AS (
        |  SELECT event_type, blk, ed % 7 AS j,
        |    2 * CAST(rank() OVER (PARTITION BY event_type, blk ORDER BY y)
        |      AS BIGINT)
        |      + COUNT(*) OVER (PARTITION BY event_type, blk, y) - 1 AS r2
        |  FROM full_b),
        |pt AS (
        |  SELECT event_type, j, CAST(SUM(r2) AS BIGINT) AS r2j,
        |    COUNT(DISTINCT blk) AS nb
        |  FROM ranked GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, CAST(MIN(nb) AS BIGINT) AS n_weeks,
        |    CAST(SUM(r2j * r2j) AS BIGINT) AS sr2
        |  FROM pt GROUP BY 1)
        |SELECT event_type, n_weeks,
        |  ROUND(3.0 * CAST(sr2 AS DOUBLE) / (CAST(n_weeks AS DOUBLE) * 7.0 * 8.0) - 3.0 * CAST(n_weeks AS DOUBLE) * 8.0, 6) AS chi2_f
        |FROM agg
        |ORDER BY event_type""".stripMargin))

  /** Shared IEEE text for the Jarque–Bera assembly: central moments
    * from exact power sums, S = m3/(m2·√m2) (sqrt, not pow — sqrt is
    * correctly rounded, libm pow is not), K = m4/m2² − 3, then
    * JB = n/6·(S² + K²/4). ONE string so the Spark expr and the DuckDB
    * twin are textually identical (the q_agg_moments device). */
  private val jbSql: String =
    """ROUND(CAST(n AS DOUBLE) / 6.0 * (
      |  ((CAST(s3 AS DOUBLE) / n
      |    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
      |    + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |      * (CAST(s1 AS DOUBLE) / n))
      |   / ((CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |     * sqrt(CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))))
      |  * ((CAST(s3 AS DOUBLE) / n
      |    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
      |    + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |      * (CAST(s1 AS DOUBLE) / n))
      |   / ((CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |     * sqrt(CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))))
      |  + ((CAST(s4 AS DOUBLE) / n
      |    - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
      |    + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |      * (CAST(s2 AS DOUBLE) / n)
      |    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |      * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |   / ((CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |     * (CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
      |   - 3)
      |  * ((CAST(s4 AS DOUBLE) / n
      |    - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
      |    + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |      * (CAST(s2 AS DOUBLE) / n)
      |    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |      * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |   / ((CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |     * (CAST(s2 AS DOUBLE) / n
      |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
      |   - 3) / 4.0), 6)""".stripMargin

  /** q_stat_jarque_bera — JARQUE–BERA NORMALITY TEST per event type on
    * the cents value distribution: JB = n/6·(S² + K²/4) — the decision
    * statistic behind q_agg_moments' profile (a skew/kurtosis PROFILE
    * says what the shape is; JB says whether the departure from
    * normality beats sampling noise, the gate a pipeline checks before
    * trusting q_stat_welch_t's t or q_ts_bollinger's ±2σ bands).
    *
    * Determinism: power sums Σc..Σc⁴ are EXACT — c² and c³ computed
    * per-row in Long (c³ holds to c ≤ 2.1M cents ≈ $21k), c⁴ as
    * (c²)·(c²) through DECIMAL(38,0)/HUGEINT because the fixture's
    * $560 max already passes the $551 Long bound for a 4th power (the
    * q_vec_pca promotion device, here load-bearing, not latent); all
    * sums are DECIMAL(38,0)/HUGEINT (a Long SUM would wrap after a
    * handful of rows). Each sum converts to double ONCE inside [[jbSql]], shared
    * textually by both engines; S and K are scale-free (cents-power
    * ratios), so no /100 ever appears. Zero variance is decided on the
    * exact integers (n·s2 − s1² = 0 → NULL), never on a float.
    *
    * Scale: one partial-agg shuffle to |types| rows — the same
    * mergeable-monoid shape as q_agg_moments; nothing else moves. */
  val qStatJarqueBera: Q = Q(
    "q_stat_jarque_bera",
    (s, dir) => {
      import s.implicits._
      cents(s, dir)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"c".cast(DecimalType(38, 0))).as("s1"),
          sum(($"c" * $"c").cast(DecimalType(38, 0))).as("s2"),
          sum(($"c" * $"c" * $"c").cast(DecimalType(38, 0))).as("s3"),
          sum(($"c" * $"c").cast(DecimalType(38, 0)) * ($"c" * $"c"))
            .cast(DecimalType(38, 0)).as("s4"))
        .select($"event_type", $"n",
          when($"n" * $"s2" - $"s1" * $"s1" === 0, lit(null))
            .otherwise(expr(jbSql)).as("jb"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""WITH m AS (
         |  SELECT event_type, COUNT(*) AS n,
         |    SUM(CAST(c AS HUGEINT)) AS s1,
         |    SUM(CAST(c * c AS HUGEINT)) AS s2,
         |    SUM(CAST(c * c * c AS HUGEINT)) AS s3,
         |    SUM(CAST(c * c AS HUGEINT) * (c * c)) AS s4
         |  FROM (SELECT event_type,
         |          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |        FROM events)
         |  GROUP BY 1)
         |SELECT event_type, n,
         |  CASE WHEN n * s2 - s1 * s1 = 0 THEN NULL ELSE
         |$jbSql END AS jb
         |FROM m ORDER BY event_type""".stripMargin))

  /** q_stat_runs — WALD–WOLFOWITZ RUNS TEST per event type on the
    * daily-total direction sequence: is the up/down pattern of the
    * daily cents series RANDOM, or does it trend/mean-revert? The
    * independence check the autocorrelation family (q_ts_autocorr,
    * q_ts_hurst) assumes away: too FEW runs = momentum, too MANY =
    * oscillation, z locates the corpus on that axis. Zero-change days
    * are excluded (the standard treatment — a tie is neither up nor
    * down).
    *
    * Determinism: direction bits and run starts are integer window
    * output over the bounded (type × day) domain; R, n₁, n₂ are exact
    * Longs; μ = 2n₁n₂/(n₁+n₂)+1 and σ² =
    * 2n₁n₂(2n₁n₂−n₁−n₂)/((n₁+n₂)²(n₁+n₂−1)) feed ONE shared double
    * expression, round 6. A one-sided sequence (n₁=0 or n₂=0) or a
    * single observation makes the variance numerator 0 — decided on
    * the exact integer → NULL.
    *
    * Scale: the two stacked windows run over the bounded daily domain
    * (≤ |types|·|days| rows) AFTER the fact table collapses through
    * one partial-agg shuffle — the q_ts_* family shape. */
  val qStatRuns: Q = Q(
    "q_stat_runs",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"event_type",
          to_date(date_trunc("day", $"ts")).as("day"))
        .agg((dec2(sum(dec2($"value"))) * 100).cast(LongType).as("y"))
      val seq0 = Window.partitionBy($"event_type").orderBy($"day")
      val dirs = daily
        .withColumn("d", $"y" - lag($"y", 1).over(seq0))
        .where($"d".isNotNull && $"d" =!= 0)
        .withColumn("up", when($"d" > 0, 1L).otherwise(0L))
      val runs = dirs
        .withColumn("prev_up", lag($"up", 1).over(seq0))
        .withColumn("start",
          when($"prev_up".isNull || $"prev_up" =!= $"up", 1L).otherwise(0L))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_obs"), sum($"up").as("n_up"),
          (count(lit(1)) - sum($"up")).as("n_down"),
          sum($"start").as("runs"))
      runs.select($"event_type", $"n_obs", $"n_up", $"n_down", $"runs",
        when(lit(2) * $"n_up" * $"n_down" *
          (lit(2) * $"n_up" * $"n_down" - $"n_up" - $"n_down") <= 0,
          lit(null)).otherwise(expr(
          """ROUND((CAST(runs AS DOUBLE)
            |  - (2.0 * n_up * n_down / CAST(n_obs AS DOUBLE) + 1.0))
            | / sqrt(2.0 * n_up * n_down
            |    * (2.0 * n_up * n_down - n_up - n_down)
            |   / (CAST(n_obs AS DOUBLE) * CAST(n_obs AS DOUBLE)
            |      * (CAST(n_obs AS DOUBLE) - 1.0))), 6)""".stripMargin))
          .as("z"))
        .orderBy($"event_type")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |dirs AS (
        |  SELECT * FROM (
        |    SELECT event_type,
        |      CASE WHEN y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) > 0
        |        THEN 1 ELSE 0 END AS up,
        |      y - lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS d,
        |      day
        |    FROM daily)
        |  WHERE d IS NOT NULL AND d <> 0),
        |marked AS (
        |  SELECT event_type, up,
        |    CASE WHEN lag(up, 1) OVER (PARTITION BY event_type ORDER BY day)
        |      IS DISTINCT FROM up THEN 1 ELSE 0 END AS start
        |  FROM dirs),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_obs,
        |    CAST(SUM(up) AS BIGINT) AS n_up,
        |    COUNT(*) - CAST(SUM(up) AS BIGINT) AS n_down,
        |    CAST(SUM(start) AS BIGINT) AS runs
        |  FROM marked GROUP BY 1)
        |SELECT event_type, n_obs, n_up, n_down, runs,
        |  CASE WHEN 2 * n_up * n_down
        |      * (2 * n_up * n_down - n_up - n_down) <= 0 THEN NULL ELSE
        |    ROUND((CAST(runs AS DOUBLE)
        |      - (2.0 * n_up * n_down / CAST(n_obs AS DOUBLE) + 1.0))
        |     / sqrt(2.0 * n_up * n_down
        |        * (2.0 * n_up * n_down - n_up - n_down)
        |       / (CAST(n_obs AS DOUBLE) * CAST(n_obs AS DOUBLE)
        |          * (CAST(n_obs AS DOUBLE) - 1.0))), 6) END AS z
        |FROM agg
        |ORDER BY event_type""".stripMargin))

  /** q_stat_cramers_v — CRAMÉR'S V effect size for the hour-of-day ×
    * event-type contingency: V = √(χ²/n / min(r−1, c−1)) — the
    * n-invariant companion to [[StatQueries.qAbChisquare]]'s per-cell
    * table. χ² grows linearly with n, so at corpus scale EVERYTHING is
    * "significant"; V is what tells a 100 TB pipeline whether the
    * association is material (V ≥ 0.1) or a significant-but-trivial
    * artifact — the classic large-n trap this row exists to close.
    *
    * Determinism: the scalar χ² sums per-cell doubles in engine
    * order — banned — so each cell's contribution is QUANTIZED ONCE to
    * an exact integer first: contrib·n·10⁶ = (obs·n − r·c)²·10⁶ div
    * (r·c) in DECIMAL(38,0)/HUGEINT (floor division, identical in both
    * engines; the BM25 idf device applied to χ²). The quantized terms
    * sum exactly in any order; χ² and V then come from ONE shared
    * double expression, round 6. Headroom: terms ≤ n²·10⁶ (1e16 at
    * sf0.1, 1e26 < 10³⁸ at n = 10¹⁰).
    *
    * The χ² sum is over the FULL DENSE grid, in closed form (r11): an
    * empty (hour, type) cell's textbook term is (0 − E)²/E = E =
    * rt·ct/n, and since Σ_r rt = Σ_c ct = n the absent cells' total
    * quantized mass is exactly 10⁶·(n² − Σ_observed rt·ct) — so the
    * statistic matches its definition even when a type never fires in
    * some hour, WITHOUT materializing a dense grid or re-scanning
    * anything (the first densified form cross-joined margin tables and
    * quadrupled the fact scan — PlanAuditSpec caught it; the identity
    * above restores the one-scan window plan). A level absent from an
    * entire margin stays absent — its expected counts are all 0 and
    * contribute nothing by definition. n² crosses Long at n = 3e9
    * rows, so the absent-mass product runs in DECIMAL(38,0)/HUGEINT
    * like the per-cell terms.
    *
    * Scale: one partial-agg shuffle to the ≤ 24·|types| cell table;
    * margins via windows over that bounded domain table; one scalar
    * agg. The fact table is scanned once. */
  val qStatCramersV: Q = Q(
    "q_stat_cramers_v",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.events(s, dir)
        .groupBy(hour($"ts").cast(LongType).as("hod"), $"event_type")
        .agg(count(lit(1)).as("obs"))
      val m = cells
        .withColumn("rt", sum($"obs").over(Window.partitionBy($"hod")))
        .withColumn("ct", sum($"obs").over(Window.partitionBy($"event_type")))
        .withColumn("n", sum($"obs").over(Window.partitionBy()))
        .withColumn("num", $"obs" * $"n" - $"rt" * $"ct")
        .withColumn("term", expr(
          "CAST(num AS DECIMAL(38,0)) * num * 1000000 div (rt * ct)"))
      m.groupBy()
        .agg(countDistinct($"hod").as("r_levels"),
          countDistinct($"event_type").as("c_levels"),
          max($"n").as("n"),
          sum($"term").cast(DecimalType(38, 0)).as("obs_q"),
          sum(expr("CAST(rt AS DECIMAL(38,0)) * ct")).as("rc"))
        .withColumn("chi2_q", expr(
          "obs_q + (CAST(n AS DECIMAL(38,0)) * n - rc) * 1000000"))
        .select($"r_levels", $"c_levels", $"n",
          expr("ROUND(CAST(chi2_q AS DOUBLE) / 1e6 / n, 6)").as("chi2"),
          expr(
            """ROUND(sqrt(CAST(chi2_q AS DOUBLE) / 1e6 / n / n
              | / CASE WHEN r_levels < c_levels THEN r_levels - 1
              |        ELSE c_levels - 1 END), 6)""".stripMargin)
            .as("cramers_v"))
    },
    oracle = Some(
      """WITH cells AS (
        |  SELECT CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hod, event_type,
        |    COUNT(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT *, obs * n - rt * ct AS num,
        |    CAST(obs * n - rt * ct AS HUGEINT)
        |      * (obs * n - rt * ct) * 1000000 // (rt * ct) AS term
        |  FROM (
        |    SELECT hod, event_type, obs,
        |      CAST(SUM(obs) OVER (PARTITION BY hod) AS BIGINT) AS rt,
        |      CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
        |      CAST(SUM(obs) OVER () AS BIGINT) AS n
        |    FROM cells)),
        |agg AS (
        |  SELECT COUNT(DISTINCT hod) AS r_levels,
        |    COUNT(DISTINCT event_type) AS c_levels,
        |    MAX(n) AS n,
        |    SUM(term)
        |      + (CAST(MAX(n) AS HUGEINT) * MAX(n)
        |         - SUM(CAST(rt AS HUGEINT) * ct)) * 1000000 AS chi2_q
        |  FROM m)
        |SELECT r_levels, c_levels, n,
        |  ROUND(CAST(chi2_q AS DOUBLE) / 1e6 / n, 6) AS chi2,
        |  ROUND(sqrt(CAST(chi2_q AS DOUBLE) / 1e6 / n / n
        |   / CASE WHEN r_levels < c_levels THEN r_levels - 1
        |          ELSE c_levels - 1 END), 6) AS cramers_v
        |FROM agg""".stripMargin))

  /** Shared CASE text mapping a 4-hex-digit md5 prefix (uniform on
    * [0, 65536)) through the Poisson(1) inverse CDF — cutoffs are the
    * exact floor(CDF·65536) hex constants, so weight assignment is a
    * STRING comparison decided identically in both engines (the
    * md5Gate device, extended from keep/drop to an integer weight). */
  private def poissonW(h: String): String =
    s"""(CASE WHEN $h < '5e2d' THEN 0 WHEN $h < 'bc5a' THEN 1
       | WHEN $h < 'eb71' THEN 2 WHEN $h < 'fb23' THEN 3
       | WHEN $h < 'ff10' THEN 4 WHEN $h < 'ffd9' THEN 5
       | ELSE 6 END)""".stripMargin

  /** q_stat_bootstrap — POISSON BOOTSTRAP confidence interval for the
    * per-type mean value: 64 deterministic replicates, each reweighting
    * every row by an independent Poisson(1) draw — the
    * large-scale-bootstrap construction (resampling WITH replacement ≈
    * independent Poisson(1) multiplicities when n is large), the
    * production answer to "what's the error bar" when the data cannot
    * be collected to one machine for a classical resample (the
    * Chamandy-et-al streaming-bootstrap idea, in batch form).
    *
    * Determinism: the draw for (row, replicate b) is 4 md5 hex digits
    * — window (b−1)%8 of md5("event_id-⌈b/8⌉"), so one digest serves 8
    * replicates — pushed through [[poissonW]]'s exact
    * string-compare inverse CDF — a pure function of the row, identical
    * across engines/partitionings/retries, auditable per row (the
    * md5Gate contract). Replicate means are quantized ONCE to exact
    * integer micro-cents (swc·10⁶ div sw — the BM25 idf device), so the
    * p5/p50/p95 order statistics over the 64 means are integer
    * ROW_NUMBER picks under the unique (mean, b) sort — no float ever
    * orders anything. sw = 0 (a replicate zeroing out every row —
    * impossible at any real n, possible at n ≲ 10) yields no mean and
    * the ROW_NUMBER picks shift accordingly, identically in both
    * engines.
    *
    * Scale: the 64× fan-out happens in the PROJECTION (narrow explode),
    * then partial aggregation collapses to |types|·64 rows BEFORE the
    * only shuffle — map-side combine absorbs the multiplication, the
    * shuffle carries 320 rows no matter how many events exist. The
    * order-statistic windows run over that bounded table. Headroom:
    * Σw·c ≤ 6·n·c_max needs n ≲ 2.7e13 rows/type at $560 values before
    * DECIMAL promotion. */
  val qStatBootstrap: Q = Q(
    "q_stat_bootstrap",
    (s, dir) => {
      import s.implicits._
      // 64 draws from 8 md5's per row, not 64: digest g ∈ 1..8 yields 8
      // independent 4-hex windows j ∈ 1..8 (b = (g−1)·8 + j) — md5
      // dominates the fan-out cost and disjoint windows of one digest
      // are uniform under the same assumption the per-b digest already
      // made (measured 3.8 → ~1 s at sf0.1). The md5 computes BELOW the
      // second explode, once per (row, g).
      // Repartition BEFORE the fan-out (r16, guide §2.5 input skew):
      // the events parquet at bench scale is ONE split, so the whole
      // 64× explode + md5 + partial agg ran as ONE task (Tool probe:
      // a 1.7 s single-task job inside a 2.0 s row). The exchange
      // moves only the narrow (type, id, c) base rows — the 64×
      // multiplication happens after, spread across the cores — and
      // sizes itself from the scheduler, not a local constant.
      val weighted = Tables.events(s, dir)
        .select($"event_type", $"event_id",
          (dec2($"value") * 100).cast(LongType).as("c"))
        .repartition(s.sparkContext.defaultParallelism)
        .select($"event_type", $"event_id", $"c",
          explode(sequence(lit(1), lit(8))).as("g"))
        .withColumn("hh", md5(concat($"event_id".cast(StringType),
          lit("-"), $"g".cast(StringType))))
        .select($"event_type", $"c", $"g", $"hh",
          explode(sequence(lit(1), lit(8))).as("j"))
        .select($"event_type", (($"g" - 1) * 8 + $"j").as("b"), $"c",
          expr("substring(hh, (j - 1) * 4 + 1, 4)").as("h"))
        .withColumn("w", expr(poissonW("h")))
      val reps = weighted.groupBy($"event_type", $"b")
        .agg(sum($"w").as("sw"), sum($"w" * $"c").as("swc"))
        .where($"sw" > 0)
        .withColumn("mean_micro", expr("swc * 1000000 div sw"))
      val ranked = reps.withColumn("rk",
        row_number().over(Window.partitionBy($"event_type")
          .orderBy($"mean_micro", $"b")))
        .withColumn("nb", count(lit(1))
          .over(Window.partitionBy($"event_type")))
      ranked.groupBy($"event_type")
        .agg(max($"nb").as("n_reps"),
          min(when($"rk" === expr("CAST(ceil(nb * 0.05) AS BIGINT)"),
            $"mean_micro")).as("p5_micro"),
          min(when($"rk" === expr("CAST(ceil(nb * 0.50) AS BIGINT)"),
            $"mean_micro")).as("p50_micro"),
          min(when($"rk" === expr("CAST(ceil(nb * 0.95) AS BIGINT)"),
            $"mean_micro")).as("p95_micro"))
        .orderBy($"event_type")
    },
    oracle = Some(
      s"""WITH weighted AS (
         |  SELECT event_type, (g - 1) * 8 + j AS b,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         |    ${poissonW("substring(md5(CAST(event_id AS VARCHAR) || '-' || CAST(g AS VARCHAR)), (j - 1) * 4 + 1, 4)")} AS w
         |  FROM events
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS g)
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS j)),
         |reps AS (
         |  SELECT event_type, b, CAST(SUM(w) AS BIGINT) AS sw,
         |    CAST(SUM(w * c) AS BIGINT) AS swc
         |  FROM weighted GROUP BY 1, 2),
         |mm AS (
         |  SELECT event_type, b, swc * 1000000 // sw AS mean_micro
         |  FROM reps WHERE sw > 0),
         |ranked AS (
         |  SELECT event_type, mean_micro,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY mean_micro, b) AS rk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nb
         |  FROM mm)
         |SELECT event_type, MAX(nb) AS n_reps,
         |  MIN(CASE WHEN rk = CAST(ceil(nb * 0.05) AS BIGINT)
         |    THEN mean_micro END) AS p5_micro,
         |  MIN(CASE WHEN rk = CAST(ceil(nb * 0.50) AS BIGINT)
         |    THEN mean_micro END) AS p50_micro,
         |  MIN(CASE WHEN rk = CAST(ceil(nb * 0.95) AS BIGINT)
         |    THEN mean_micro END) AS p95_micro
         |FROM ranked GROUP BY event_type
         |ORDER BY event_type""".stripMargin))

  /** q_stat_wilcoxon — WILCOXON SIGNED-RANK test on PAIRED daily
    * totals (purchase vs click cents, paired by day): the
    * nonparametric paired-sample slot the battery still lacked —
    * Mann-Whitney compares two INDEPENDENT samples, Friedman needs
    * ≥3 repeated treatments; the matched-pairs two-treatment case is
    * exactly this test. "Did purchases move relative to clicks,
    * day-matched" is the paired experiment shape.
    *
    * Exactness: differences are exact integer cents; zero differences
    * drop (the standard Wilcoxon rule, integer-decided identically);
    * |d| ranks use the doubled-midrank identity (2·midrank = 2·rank +
    * peers − 1 — the file's ladder device), so W⁺ doubles to an exact
    * Long and the tie term Σ(t³−t) is exact. The normal approximation
    * z = (W₂ − n(n+1)/2) / √(n(n+1)(2n+1)/6 − T/12) — the doubled-W
    * rescale of the textbook moments — is ONE identical double
    * expression, round 6; the all-tied degenerate (variance 0) is
    * integer-decided → NULL in both engines.
    *
    * Shape: one fact scan collapses to the ≤31-row day domain; the
    * unpartitioned rank window runs on that bounded domain only (the
    * bucketNtiles discipline's allowance). */
  val qStatWilcoxon: Q = Q(
    "q_stat_wilcoxon",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date(date_trunc("day", $"ts")).as("day"))
        .agg(
          coalesce(sum(when($"event_type" === "purchase",
            (dec2($"value") * 100).cast(LongType))), lit(0L)).as("p"),
          coalesce(sum(when($"event_type" === "click",
            (dec2($"value") * 100).cast(LongType))), lit(0L)).as("c"))
        .select($"day", ($"p" - $"c").as("d"))
        .where($"d" =!= 0L)
        .withColumn("ad", abs($"d"))
      // One windowed frame yields ranks AND the tie term: a tie group of
      // size t contributes t³−t, i.e. t²−1 PER ROW — so Σ_groups(t³−t)
      // = Σ_rows(t²−1) and no second scan/grouping is needed.
      val tCnt = count(lit(1)).over(Window.partitionBy($"ad"))
      val r2 = lit(2) * rank().over(Window.orderBy($"ad")).cast(LongType) +
        tCnt - 1
      val ranked = daily.select($"d", r2.as("r2"), tCnt.as("t"))
      ranked.agg(count(lit(1)).as("n_pairs"),
        sum(when($"d" > 0, $"r2").otherwise(lit(0L))).as("w2_plus"),
        coalesce(sum($"t" * $"t" - 1), lit(0L)).as("tsum"))
        .select($"n_pairs", $"w2_plus",
          when(lit(2L) * $"n_pairs" * ($"n_pairs" + 1) *
            (lit(2L) * $"n_pairs" + 1) - $"tsum" <= 0L, lit(null))
            .otherwise(expr(
              "ROUND((CAST(w2_plus AS DOUBLE) " +
                "- CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 2.0) " +
                "/ sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1) " +
                "* (2 * n_pairs + 1) / 6.0 " +
                "- CAST(tsum AS DOUBLE) / 12.0), 6)"))
            .as("z_score"))
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0)
        |      AS p,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN
        |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0)
        |      AS c
        |  FROM events GROUP BY 1),
        |diffs AS (
        |  SELECT day, CAST(p - c AS BIGINT) AS d, CAST(abs(p - c) AS BIGINT) AS ad
        |  FROM daily WHERE p - c <> 0),
        |ranked AS (
        |  SELECT d,
        |    2 * rank() OVER (ORDER BY ad)
        |      + COUNT(*) OVER (PARTITION BY ad) - 1 AS r2,
        |    COUNT(*) OVER (PARTITION BY ad) AS t
        |  FROM diffs),
        |core AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS w2_plus,
        |    CAST(COALESCE(SUM(t * t - 1), 0) AS BIGINT) AS tsum
        |  FROM ranked)
        |SELECT n_pairs, w2_plus,
        |  CASE WHEN 2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - tsum
        |      <= 0 THEN NULL
        |    ELSE ROUND((CAST(w2_plus AS DOUBLE)
        |      - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 2.0)
        |      / sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
        |      * (2 * n_pairs + 1) / 6.0
        |      - CAST(tsum AS DOUBLE) / 12.0), 6) END AS z_score
        |FROM core""".stripMargin))

  val all: Vector[Q] =
    Vector(qStatWelchT, qStatMannWhitney, qStatKs, qStatGini, qStatPettitt,
      qStatKruskal, qStatAnova, qStatSpearman, qStatLevene, qStatFriedman,
      qStatJarqueBera, qStatRuns, qStatCramersV, qStatBootstrap,
      qStatWilcoxon)
}
