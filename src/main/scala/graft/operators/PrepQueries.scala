package graft.operators

import graft.{Q, Tables}
import graft.Dsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Feature-preparation operators — the last mile between analytics and
  * model training (LLM-data north star: a training-data pipeline ends
  * by materializing FEATURES, not reports). Two canonical ops every
  * tabular-ML ingest runs: missing-value imputation and min-max
  * scaling.
  *
  * The fixtures carry no NULLs (FIXTURES.md), so the imputation row
  * plants them deterministically with the md5 gate — the same
  * auditable pure-function-of-the-row device the sampling family uses,
  * so both engines null the SAME rows and the oracle checks the whole
  * repair path, not just the arithmetic.
  *
  * Scale (100 TB): each op is one tiny statistics aggregation
  * (group-means / column min-max — partial-agg shuffles collapsing to
  * the group or 1-row domain, broadcast back) + one narrow repair
  * scan. Nothing driver-side, nothing quadratic; this is the shape of
  * a production `Imputer`/`MinMaxScaler` fit+transform pair.
  */
object PrepQueries {

  /** q_prep_impute_mean — per-group MEAN IMPUTATION: plant ~10% NULLs
    * in l_quantity (md5 gate < '1a' ≈ 26/256 of rows, keyed by the
    * full physical row key so duplicate (orderkey, linenumber) pairs
    * gate independently), then fill each NULL with its l_returnflag
    * group's mean of the SURVIVING values. The mean divides the exact
    * decimal sum by the non-null count and rounds once at 4 dp (the
    * avgMoney discipline, count(q) not count(*)); filled values are
    * therefore bit-identical in both engines. was_imputed makes the
    * repair auditable row by row. */
  val qPrepImputeMean: Q = Q(
    "q_prep_impute_mean",
    (s, dir) => {
      import s.implicits._
      val key = concat_ws("-", $"l_orderkey", $"l_linenumber",
        $"l_partkey", $"l_suppkey")
      val base = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey",
          $"l_returnflag",
          when(md5Gate(key, "1a"), lit(null)).otherwise($"l_quantity")
            .as("q"))
      val means = base.groupBy($"l_returnflag")
        .agg(round(sum(dec2($"q")).cast(DoubleType) / count($"q"), 4)
          .as("m"))
      base.join(broadcast(means), "l_returnflag")
        .select($"l_orderkey", $"l_linenumber", $"l_partkey",
          coalesce($"q", $"m").as("quantity_filled"),
          $"q".isNull.as("was_imputed"))
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey",
          $"quantity_filled", $"was_imputed")
    },
    oracle = Some(
      s"""WITH base AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag,
         |    CASE WHEN ${ImputeGate.sql} THEN NULL ELSE l_quantity END AS q
         |  FROM lineitem),
         |means AS (
         |  SELECT l_returnflag,
         |    ROUND(CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE)
         |      / COUNT(q), 4) AS m
         |  FROM base GROUP BY l_returnflag)
         |SELECT l_orderkey, l_linenumber, l_partkey,
         |  COALESCE(q, m) AS quantity_filled,
         |  (q IS NULL) AS was_imputed
         |FROM base JOIN means USING (l_returnflag)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin))

  /** Twin-side gate text, built from the shared helper so the Spark
    * and SQL gates can never drift apart. */
  private object ImputeGate {
    val sql: String = md5GateSql(
      "concat_ws('-', l_orderkey, l_linenumber, l_partkey, l_suppkey)",
      "1a")
  }

  /** q_prep_scale_minmax — MIN-MAX feature scaling of two numeric
    * columns to [0, 1]: scaled = (x − min) / (max − min). min/max are
    * exact decimal aggregates of 2-dp values; numerator and
    * denominator are exact decimal differences converted to double
    * once, divided, rounded at 6 dp — the one float op per value, same
    * expression text both engines. The 1-row (min, max) model
    * broadcasts into a narrow repair scan — the fit+transform shape of
    * a production MinMaxScaler. */
  val qPrepScaleMinmax: Q = Q(
    "q_prep_scale_minmax",
    (s, dir) => {
      import s.implicits._
      val stats = Tables.lineitem(s, dir).agg(
        min(dec2($"l_quantity")).as("qlo"),
        max(dec2($"l_quantity")).as("qhi"),
        min(dec2($"l_extendedprice")).as("plo"),
        max(dec2($"l_extendedprice")).as("phi"))
      Tables.lineitem(s, dir)
        .crossJoin(broadcast(stats))
        .select($"l_orderkey", $"l_linenumber", $"l_partkey",
          round((dec2($"l_quantity") - $"qlo").cast(DoubleType)
            / ($"qhi" - $"qlo").cast(DoubleType), 6).as("q_scaled"),
          round((dec2($"l_extendedprice") - $"plo").cast(DoubleType)
            / ($"phi" - $"plo").cast(DoubleType), 6).as("p_scaled"))
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey",
          $"q_scaled", $"p_scaled")
    },
    oracle = Some(
      """WITH stats AS (
        |  SELECT
        |    MIN(CAST(l_quantity AS DECIMAL(18,2))) AS qlo,
        |    MAX(CAST(l_quantity AS DECIMAL(18,2))) AS qhi,
        |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS plo,
        |    MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS phi
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |  ROUND(CAST(CAST(l_quantity AS DECIMAL(18,2)) - qlo AS DOUBLE)
        |    / CAST(qhi - qlo AS DOUBLE), 6) AS q_scaled,
        |  ROUND(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) - plo AS DOUBLE)
        |    / CAST(phi - plo AS DOUBLE), 6) AS p_scaled
        |FROM lineitem, stats
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin))

  /** q_prep_standardize — per-group Z-SCORE standardization of
    * events.value, the scaling most models expect (complement of
    * [[qPrepScaleMinmax]]'s min-max). Fit: per event_type, exact
    * integer-cents moments (n, Σc, Σc²) — value is 2-dp exact
    * (FIXTURES.md), so c = value·100 is an exact Long and both sums are
    * exact BIGINT in both engines (headroom: Σc² tops out ≈1.1e14 at
    * sf0.1; the decimal-widening path documented on
    * [[graft.functions.TypedAggs]] applies past ~8e8 rows/group).
    * Transform: z = (c − μ)/σ with μ = Σc/n and σ = √(Σc²/n − μ²)
    * computed in double with the IDENTICAL expression text in both
    * engines (population σ; cents cancel, so z of cents = z of value),
    * rounded once at 6 dp. Scale: fit is one partial-agg shuffle
    * collapsing to 5 groups, broadcast back into a narrow scan — the
    * StandardScaler fit+transform shape. */
  val qPrepStandardize: Q = Q(
    "q_prep_standardize",
    (s, dir) => {
      import s.implicits._
      val base = Tables.events(s, dir).select(
        $"event_id", $"event_type",
        (dec2($"value") * 100).cast(LongType).as("c"))
      val stats = base.groupBy($"event_type").agg(
        count(lit(1)).as("n"), sum($"c").as("sc"), sum($"c" * $"c").as("sq"))
      // Zero variance (a constant column) is decided in EXACT integer
      // space (n·Σc² = (Σc)²) and yields NULL z in both engines —
      // unguarded, Spark's x/0.0 is NaN/Inf while DuckDB 1.0 returns
      // NULL, and the oracle would diverge on degenerate data. The
      // guard's products are WIDENED to DECIMAL(38,0) (twin: HUGEINT):
      // in Long they'd overflow once n·c_max exceeds ~3e9 — far before
      // the ~8e8-rows/group bound on the SUMS themselves — and Spark's
      // default ANSI mode would kill the whole query on a guard that
      // exists only for degenerate groups. Decimal(19,0)² → (38,0)
      // holds to ~1e38; the comparison is exact integer, no float
      // involved, so the widening cannot move any non-degenerate
      // answer.
      val d19 = DecimalType(19, 0)
      val model = stats.select(
        $"event_type",
        ($"sc".cast(DoubleType) / $"n").as("mu"),
        when($"n".cast(d19) * $"sq".cast(d19) ===
          $"sc".cast(d19) * $"sc".cast(d19), lit(null))
          .otherwise(sqrt($"sq".cast(DoubleType) / $"n" -
            ($"sc".cast(DoubleType) / $"n") * ($"sc".cast(DoubleType) / $"n")))
          .as("sig"))
      base.join(broadcast(model), "event_type")
        .select($"event_id", $"event_type",
          round(($"c" - $"mu") / $"sig", 6).as("z"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |stats AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(c) AS sc, SUM(c*c) AS sq
        |  FROM base GROUP BY event_type),
        |model AS (
        |  SELECT event_type,
        |    CAST(sc AS DOUBLE) / n AS mu,
        |    CASE WHEN CAST(n AS HUGEINT) * sq = CAST(sc AS HUGEINT) * sc
        |      THEN NULL
        |      ELSE sqrt(CAST(sq AS DOUBLE) / n -
        |        (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n)) END AS sig
        |  FROM stats)
        |SELECT event_id, event_type, ROUND((c - mu) / sig, 6) AS z
        |FROM base JOIN model USING (event_type)
        |ORDER BY event_id""".stripMargin))

  /** q_prep_bucketize — EXACT QUANTILE BINNING (equal-frequency
    * quartiles) of l_extendedprice, the discretization step behind
    * decile features and monotonic binning. The naive form is
    * NTILE(4) OVER (ORDER BY …) — a single-partition global window, the
    * one shape that cannot scale. Here the global rank is assembled
    * scalably instead (the q_win_distribution device): cents div 30000
    * coarse-bins rows into a ≤400-row BOUNDED price-range domain, the
    * cumulative window runs over THAT domain only, and the true rank is
    * per-bin offset + a bin-partitioned row_number (total tiebreak on
    * the unique physical key). Bucket assignment is then pure integer
    * arithmetic, qb = (rank−1)·4 div n + 1, identical in both engines —
    * the twin keeps the naive global row_number form, so the hash match
    * proves the decomposition exact. Everything downstream of the scan
    * is integer cents; the only doubles are final /100 presentations of
    * <2^53 integers (exact). */
  val qPrepBucketize: Q = Q(
    "q_prep_bucketize",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, dir).select(
        $"l_orderkey", $"l_linenumber", $"l_partkey",
        (dec2($"l_extendedprice") * 100).cast(LongType).as("c"))
        .withColumn("bin", expr("c div 30000"))
      val cnts = base.groupBy($"bin").agg(count(lit(1)).as("nb"))
      val offs = cnts.withColumn("off",
        coalesce(sum($"nb").over(Window.orderBy($"bin")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val rn = row_number().over(Window.partitionBy($"bin")
        .orderBy($"c", $"l_orderkey", $"l_linenumber", $"l_partkey"))
      val n = base.agg(count(lit(1)).as("n"))
      base.withColumn("rn", rn)
        .join(broadcast(offs.select($"bin", $"off")), "bin")
        .crossJoin(broadcast(n))
        .withColumn("bucket", expr("((off + rn - 1) * 4) div n + 1"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_rows"),
          (min($"c").cast(DoubleType) / 100).as("min_price"),
          (max($"c").cast(DoubleType) / 100).as("max_price"),
          (sum($"c").cast(DoubleType) / 100).as("sum_price"))
        .orderBy($"bucket")
    },
    oracle = Some(
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem),
        |r AS (
        |  SELECT c,
        |    row_number() OVER
        |      (ORDER BY c, l_orderkey, l_linenumber, l_partkey) AS rank,
        |    COUNT(*) OVER () AS n
        |  FROM base)
        |SELECT ((rank - 1) * 4) // n + 1 AS bucket, COUNT(*) AS n_rows,
        |  CAST(MIN(c) AS DOUBLE) / 100 AS min_price,
        |  CAST(MAX(c) AS DOUBLE) / 100 AS max_price,
        |  CAST(SUM(c) AS DOUBLE) / 100 AS sum_price
        |FROM r GROUP BY bucket
        |ORDER BY bucket""".stripMargin))

  /** q_prep_onehot — ONE-HOT ENCODING of the event_type categorical
    * into five 0/1 indicator columns (the closed 5-value domain is a
    * fixture contract, FIXTURES.md). Pure narrow projection — encoding
    * 100 TB costs one scan, no shuffle, and the indicators are
    * codegen'd CASE expressions. Unknown categories surface as all-zero
    * rows rather than silently vanishing (the is_other audit column
    * counts them — 0 on the fixtures, a canary on drifted data). */
  val qPrepOnehot: Q = Q(
    "q_prep_onehot",
    (s, dir) => {
      import s.implicits._
      val cats = Seq("click", "error", "purchase", "signup", "view")
      val flags = cats.map(c =>
        when($"event_type" === c, 1).otherwise(0).as(s"is_$c"))
      val other = when(not($"event_type".isin(cats: _*)), 1).otherwise(0)
        .as("is_other")
      Tables.events(s, dir)
        .select($"event_id" +: flags :+ other: _*)
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
        |  CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_signup,
        |  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
        |  CASE WHEN event_type NOT IN
        |    ('click','error','purchase','signup','view')
        |    THEN 1 ELSE 0 END AS is_other
        |FROM events
        |ORDER BY event_id""".stripMargin))

  /** q_prep_split — deterministic TRAIN/TEST SPLIT, the step every
    * training run starts with. The md5 gate on event_id ('cc'/256 ≈
    * 79.7% train) is a pure function of the row — the split is
    * reproducible across engines, runs, partitionings and retries, and
    * any row's assignment is auditable after the fact, none of which
    * holds for RNG splits. Output is the per-(split, class) profile —
    * counts and exact-cents value sums — i.e. the balance check that
    * decides whether the split is usable. One partial-agg shuffle to
    * 10 groups; splitting 100 TB costs one scan. */
  val qPrepSplit: Q = Q(
    "q_prep_split",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(
          when(md5Gate($"event_id", "cc"), "train").otherwise("test")
            .as("split"),
          $"event_type", dec2($"value").as("v"))
        .groupBy($"split", $"event_type")
        .agg(count(lit(1)).as("n"), sum($"v").cast(DoubleType).as("sum_value"))
        .orderBy($"split", $"event_type")
    },
    oracle = Some(
      s"""SELECT
         |  CASE WHEN ${md5GateSql("event_id", "cc")}
         |    THEN 'train' ELSE 'test' END AS split,
         |  event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin))

  /** q_prep_hash_features — the HASHING TRICK (feature hashing):
    * project the unbounded (event_type × props.k) categorical cross —
    * 500 live combinations here, unbounded in production — into a FIXED
    * 8-bucket count vector per user, the representation that lets
    * downstream models take categorical streams without a vocabulary
    * build. The bucket function must be identical in both engines, so
    * it avoids each engine's native hash (Spark murmur3 ≠ DuckDB hash):
    * ascii(first hex char of md5(feature)) % 8 — md5 hex is
    * byte-identical everywhere and ascii/% are portable. Per-user
    * vectors via SUM(CASE) — ONE partial-agg shuffle on user_id
    * carrying 8 ints per user; no pivot machinery, no second pass. */
  val qPrepHashFeatures: Q = Q(
    "q_prep_hash_features",
    (s, dir) => {
      import s.implicits._
      val feat = concat($"event_type", lit("#"),
        get_json_object($"props", "$.k"))
      val bucket = ascii(substring(md5(feat), 1, 1)) % 8
      val flags = (0 until 8).map(i =>
        sum(when($"b" === i, 1L).otherwise(0L)).as(s"f$i"))
      Tables.events(s, dir)
        .select($"user_id", bucket.as("b"))
        .groupBy($"user_id")
        .agg(flags.head, flags.tail: _*)
        .orderBy($"user_id")
    },
    oracle = Some {
      val b = "ascii(substring(md5(event_type || '#' || (props->>'k')), 1, 1)) % 8"
      val cols = (0 until 8)
        .map(i =>
          s"  CAST(SUM(CASE WHEN $b = $i THEN 1 ELSE 0 END) AS BIGINT) AS f$i")
        .mkString(",\n")
      s"""SELECT user_id,
         |$cols
         |FROM events
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin
    })

  /** q_prep_calendar — CALENDAR FEATURE extraction from the event
    * timestamp (ISO day-of-week, hour, weekend flag): the features
    * every temporal model starts with. The trap this row exists to pin:
    * day-of-week NUMBERING is engine-specific (Spark dayofweek 1=Sun,
    * DuckDB dow 0=Sun, ISO 1=Mon) — so the dow derives from epoch-day
    * arithmetic instead, dow_iso = (days_since_epoch + 3) % 7 + 1
    * (1970-01-01 was a Thursday), a pure integer expression identical
    * in both engines — with the twin's modulo DOUBLE-WRAPPED
    * (((x % 7) + 7) % 7) because DuckDB's % is NEGATIVE for negative
    * operands while Spark's pmod is not: without the wrap, pre-1970
    * timestamps would give dow_iso ≤ 0 on the DuckDB side only.
    * hour() agrees cross-engine (UTC session). Narrow codegen'd scan,
    * no shuffle. */
  val qPrepCalendar: Q = Q(
    "q_prep_calendar",
    (s, dir) => {
      import s.implicits._
      val days = datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
        .cast(LongType)
      Tables.events(s, dir)
        .select($"event_id",
          (pmod(days + 3, lit(7L)) + 1).as("dow_iso"),
          hour($"ts").cast(LongType).as("hr"),
          (pmod(days + 3, lit(7L)) + 1 >= 6).as("is_weekend"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """SELECT event_id,
        |  (((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7
        |    + 7) % 7) + 1 AS dow_iso,
        |  CAST(hour(ts) AS BIGINT) AS hr,
        |  ((((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7
        |    + 7) % 7) + 1 >= 6) AS is_weekend
        |FROM events
        |ORDER BY event_id""".stripMargin))

  /** q_prep_quantile_transform — QUANTILE (rank-uniform) TRANSFORM fit
    * over events.value: map each distinct value to its midrank
    * quantile in [0,1] — the robust scaler that erases any marginal
    * distribution (heavy tails, spikes) before distance-based models,
    * where min-max/z-score keep outlier leverage. Emitted as the FIT
    * artifact (value → quantile mapping + multiplicity), the exact
    * analogue of sklearn's QuantileTransformer model; serving is a
    * broadcast join of this bounded table against the fact stream.
    * Exactness: midrank in doubled units 2m = 2·cum − cv + 1 (the
    * Mann-Whitney ladder identity) is an exact Long per distinct
    * value; quantile = (2m − 2)/(2n − 2) is ONE double division,
    * round 6; the degenerate single-distinct-value corpus is decided
    * in integer space → NULL both engines.
    * Scale (100 TB): the ladder is VALUE-DOMAIN-bounded (≤50k rows
    * for a 2-dp metric under 500 at any corpus size); per-value
    * counts partial-agg before the one unpartitioned window, which
    * therefore runs over the bounded domain table only (the
    * bucketNtiles exception). */
  val qPrepQuantileTransform: Q = Q(
    "q_prep_quantile_transform",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val vc = Tables.events(s, dir)
        .select((dec2($"value") * 100).cast(LongType).as("c"))
        .groupBy($"c").agg(count(lit(1)).as("cv"))
      vc.withColumn("cum",
          sum($"cv").over(Window.orderBy($"c")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(vc.agg(sum($"cv").as("n"))))
        .select($"c".as("value_cents"), $"cv".as("n_rows"),
          when($"n" === 1, lit(null)).otherwise(
            expr("ROUND(CAST(2 * cum - cv - 1 AS DOUBLE) / CAST(2 * n - 2 AS DOUBLE), 6)"))
            .as("quantile"))
        .orderBy($"value_cents")
    },
    oracle = Some(
      """WITH cents AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |vc AS (SELECT c, COUNT(*) AS cv FROM cents GROUP BY 1),
        |lad AS (
        |  SELECT c, cv,
        |    SUM(cv) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM vc),
        |gl AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM vc)
        |SELECT c AS value_cents, CAST(cv AS BIGINT) AS n_rows,
        |  CASE WHEN n = 1 THEN NULL
        |    ELSE ROUND(CAST(2 * cum - cv - 1 AS DOUBLE)
        |      / CAST(2 * n - 2 AS DOUBLE), 6) END AS quantile
        |FROM lad, gl
        |ORDER BY value_cents""".stripMargin))

  /** q_prep_target_encode — M-ESTIMATE TARGET ENCODING of part brand
    * against line revenue-per-item (l_extendedprice): the categorical
    * encoder for high-cardinality keys where one-hot explodes —
    * enc(b) = (Σ_b + m·μ_global)/(n_b + m), shrinking small brands
    * toward the global mean (m = 100 virtual rows). Exactness: both
    * the numerator and μ_global are ratios of exact Long cent sums,
    * so enc is computed CROSS-MULTIPLIED —
    * (s_b·gn + m·gs) / ((n_b + m)·gn) — one double division of exact
    * Longs, round 6; the raw per-brand mean divides exact Longs the
    * same way. Headroom: s_b·gn ≈ 1.4e15 at sf0.1 — Long-safe to
    * ~80× that, then the DECIMAL(38,0) widening rule.
    * Scale (100 TB): one fact-side partial agg to the 25-brand
    * domain (the part join broadcasts the dim), one 1-row global agg
    * broadcast back — no shuffle touches fact rows twice; serving is
    * a broadcast join of the 25-row model. */
  val qPrepTargetEncode: Q = Q(
    "q_prep_target_encode",
    (s, dir) => {
      import s.implicits._
      val j = Tables.lineitem(s, dir)
        .select($"l_partkey", (dec2($"l_extendedprice") * 100)
          .cast(LongType).as("c"))
        .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
      val per = j.groupBy($"p_brand")
        .agg(count(lit(1)).cast(LongType).as("nb"), sum($"c").as("sb"))
      val gl = j.agg(count(lit(1)).cast(LongType).as("gn"),
        sum($"c").as("gs"))
      per.crossJoin(broadcast(gl))
        .select($"p_brand", $"nb".as("n"),
          expr("ROUND(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6)")
            .as("mean_price"),
          expr("ROUND(CAST(sb * gn + 100 * gs AS DOUBLE) / (CAST((nb + 100) * gn AS DOUBLE) * 100.0), 6)")
            .as("encoded"))
        .orderBy($"p_brand")
    },
    oracle = Some(
      """WITH j AS (
        |  SELECT p_brand,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |per AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(c) AS BIGINT) AS sb
        |  FROM j GROUP BY 1),
        |gl AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS gn, CAST(SUM(c) AS BIGINT) AS gs
        |  FROM j)
        |SELECT p_brand, nb AS n,
        |  ROUND(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6)
        |    AS mean_price,
        |  ROUND(CAST(sb * gn + 100 * gs AS DOUBLE)
        |    / (CAST((nb + 100) * gn AS DOUBLE) * 100.0), 6) AS encoded
        |FROM per, gl
        |ORDER BY p_brand""".stripMargin))

  /** q_prep_woe — WEIGHT-OF-EVIDENCE ENCODING of part brand against
    * the return outcome (l_returnflag = 'R'), with the per-category
    * INFORMATION VALUE contribution — the credit-scoring-standard
    * categorical encoder (monotone in the outcome rate, naturally
    * handles rare levels, and IV ranks features before any model is
    * fit). woe(b) = ln[(good_b/G)/(bad_b/B)]; iv_b = (good_b/G −
    * bad_b/B)·woe(b). Determinism: counts are exact Longs; the odds
    * ratio is formed CROSS-MULTIPLIED as (good_b·B)/(bad_b·G) so a
    * single ln quantizes it ONCE to integer micro-nats; the iv
    * contribution multiplies the exact integer share difference
    * (good_b·B − bad_b·G) by that quantized Long — one identical
    * double expression, round 6. A zero cell (brand with no goods or
    * no bads) is decided in integer space → NULL woe/iv in both
    * engines (ln(0)/ln(∞) never evaluated — the KM guard rule).
    * Scale (100 TB): one fact scan partial-aggs to the 25-brand
    * domain (broadcast dim join); the totals row broadcasts back.
    * Headroom: good_b·B Long-safe to ~3e9 rows per class, then
    * DECIMAL(38,0). */
  val qPrepWoe: Q = Q(
    "q_prep_woe",
    (s, dir) => {
      import s.implicits._
      val j = Tables.lineitem(s, dir)
        .select($"l_partkey",
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("bad"))
        .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
      val per = j.groupBy($"p_brand")
        .agg(sum(lit(1L) - $"bad").as("good"), sum($"bad").as("bad"))
      val gl = per.agg(sum($"good").as("g"), sum($"bad").as("b"))
      per.crossJoin(broadcast(gl))
        .withColumn("woe_micro",
          when($"good" === 0 || $"bad" === 0, lit(null)).otherwise(
            expr("CAST(floor(ln(CAST(good AS DOUBLE) * b / (CAST(bad AS DOUBLE) * g)) * 1000000) AS BIGINT)")))
        .select($"p_brand", ($"good" + $"bad").as("n"), $"bad".as("n_bad"),
          $"woe_micro",
          expr("""ROUND(CAST(good * b - bad * g AS DOUBLE)
            / (CAST(g AS DOUBLE) * b)
            * (CAST(woe_micro AS DOUBLE) / 1000000), 6)""").as("iv_part"))
        .orderBy($"p_brand")
    },
    oracle = Some(
      """WITH j AS (
        |  SELECT p_brand,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |per AS (
        |  SELECT p_brand, CAST(SUM(1 - bad) AS BIGINT) AS good,
        |    CAST(SUM(bad) AS BIGINT) AS bad
        |  FROM j GROUP BY 1),
        |gl AS (
        |  SELECT CAST(SUM(good) AS BIGINT) AS g, CAST(SUM(bad) AS BIGINT) AS b
        |  FROM per),
        |w AS (
        |  SELECT p_brand, good, bad, g, b,
        |    CASE WHEN good = 0 OR bad = 0 THEN NULL
        |      ELSE CAST(floor(ln(CAST(good AS DOUBLE) * b
        |        / (CAST(bad AS DOUBLE) * g)) * 1000000) AS BIGINT) END
        |      AS woe_micro
        |  FROM per, gl)
        |SELECT p_brand, good + bad AS n, bad AS n_bad, woe_micro,
        |  ROUND(CAST(good * b - bad * g AS DOUBLE)
        |    / (CAST(g AS DOUBLE) * b)
        |    * (CAST(woe_micro AS DOUBLE) / 1000000), 6) AS iv_part
        |FROM w
        |ORDER BY p_brand""".stripMargin))

  /** q_prep_robust_scale — ROBUST (median/IQR) feature scaling per
    * event type: rs = (x − median)/(Q3 − Q1), sklearn RobustScaler —
    * the scaler that survives the outliers which wreck
    * [[qPrepStandardize]]'s mean/σ (breakdown point 50% vs 0%). The
    * fit is pure ORDER STATISTICS, all in exact integer cents: the
    * per-type distinct-cents ladder (value-domain-bounded — the
    * StatTestQueries.centsLadder argument) carries cumulative counts,
    * and each quantile is "the smallest value whose cumulative count
    * reaches the ceil-rank" — Q1 at ⌈n/4⌉ = (n+3) div 4, median at
    * ⌈n/2⌉ = (n+1) div 2, Q3 at ⌈3n/4⌉ = (3n+3) div 4 (type-1/lower
    * quantiles, the q_anomaly_mad convention) — an integer selection
    * with NO interpolation, so no float exists in the fit. The
    * transform is one narrow scan against the broadcast 5-row model;
    * the single division rounds at 6 dp, and a zero IQR (over half the
    * group on one value) is decided in integer space → NULL both
    * engines. Shape: one partial-agg scan to the ladder + one
    * transform scan — the standardize fit/transform shape with ranks
    * in place of moments. */
  val qPrepRobustScale: Q = Q(
    "q_prep_robust_scale",
    (s, dir) => {
      import s.implicits._
      val base = Tables.events(s, dir).select(
        $"event_id", $"event_type",
        (dec2($"value") * 100).cast(LongType).as("c"))
      val tv = base.groupBy($"event_type", $"c").agg(count(lit(1)).as("k"))
      val lad = tv.withColumn("cum",
        sum($"k").over(Window.partitionBy($"event_type").orderBy($"c")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val model = lad
        .withColumn("n", sum($"k").over(Window.partitionBy($"event_type")))
        .groupBy($"event_type")
        .agg(
          min(when($"cum" >= expr("(n + 3) div 4"), $"c")).as("q1"),
          min(when($"cum" >= expr("(n + 1) div 2"), $"c")).as("med"),
          min(when($"cum" >= expr("(3 * n + 3) div 4"), $"c")).as("q3"))
      base.join(broadcast(model), "event_type")
        .select($"event_id", $"event_type",
          when($"q3" === $"q1", lit(null))
            .otherwise(round(($"c" - $"med").cast(DoubleType) /
              ($"q3" - $"q1").cast(DoubleType), 6))
            .as("rs"))
        .orderBy($"event_id")
    },
    oracle = Some(
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |tv AS (
        |  SELECT event_type, c, COUNT(*) AS k FROM base GROUP BY 1, 2),
        |lad AS (
        |  SELECT event_type, c, k,
        |    SUM(k) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(k) OVER (PARTITION BY event_type) AS n
        |  FROM tv),
        |model AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN cum >= (n + 3) // 4 THEN c END) AS q1,
        |    MIN(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS med,
        |    MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN c END) AS q3
        |  FROM lad GROUP BY 1)
        |SELECT b.event_id, b.event_type,
        |  CASE WHEN m.q3 = m.q1 THEN NULL
        |    ELSE ROUND(CAST(b.c - m.med AS DOUBLE)
        |      / CAST(m.q3 - m.q1 AS DOUBLE), 6) END AS rs
        |FROM base b JOIN model m ON b.event_type = m.event_type
        |ORDER BY b.event_id""".stripMargin))

  /** q_prep_loo_encode (added r13) — LEAVE-ONE-OUT target encoding:
    * each row's category encodes as the mean target of the OTHER rows
    * in its category, (Σ_cat − own) / (n_cat − 1) — the leakage-safe
    * variant of q_prep_target_encode (plain mean encoding leaks each
    * row's own label into its feature; LOO is what competition-grade
    * and production feature pipelines actually ship). A singleton
    * category has no "others" → NULL in both engines, decided on the
    * exact integer count.
    *
    * Exactness: targets quantize once to cents (exact Longs); the
    * subtraction Σ−own and the n−1 are integer; one final division,
    * round 6. Scale (100 TB): one partial agg to the category domain
    * + a broadcast join back onto the scan — per-row output with NO
    * window and NO self-join (the naive formulation windows over each
    * category, serializing it; the Σ-minus-own identity is what makes
    * LOO a broadcast). Headroom: Σ cents ≤ 6·10⁷/row — Long-safe to
    * ~1.5·10¹¹ rows per category, then DECIMAL(38,0). */
  val qPrepLooEncode: Q = Q(
    "q_prep_loo_encode",
    (s, dir) => {
      import s.implicits._
      val base = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderpriority",
          (dec2($"o_totalprice") * 100).cast(LongType).as("c"))
      val per = base.groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast(LongType).as("n"), sum($"c").as("sc"))
      base.join(broadcast(per), Seq("o_orderpriority"))
        .select($"o_orderkey", $"o_orderpriority",
          when($"n" === 1L, lit(null).cast("double"))
            .otherwise(expr(
              "ROUND(CAST(sc - c AS DOUBLE) / CAST(n - 1 AS DOUBLE)" +
                " / 100.0, 6)"))
            .as("loo_price"))
        .orderBy($"o_orderkey")
    },
    oracle = Some(
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |per AS (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS sc
        |  FROM base GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN n = 1 THEN NULL
        |    ELSE ROUND(CAST(sc - c AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |      / 100.0, 6) END AS loo_price
        |FROM base JOIN per USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin))

  val all: Vector[Q] = Vector(
    qPrepImputeMean, qPrepScaleMinmax, qPrepStandardize, qPrepBucketize,
    qPrepOnehot, qPrepSplit, qPrepHashFeatures, qPrepCalendar,
    qPrepQuantileTransform, qPrepTargetEncode, qPrepWoe, qPrepRobustScale,
    qPrepLooEncode)
}
