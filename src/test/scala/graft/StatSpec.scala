package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the statistical/indicator family
  * (StatQueries) — value-level truth is pinned by each row's DuckDB
  * oracle; these tests assert what the oracle can't see: agreement with
  * an independent brute-force reference (the skyline sweep vs O(n²)
  * dominance, drawdown vs a sequential fold) and the distribution
  * identities (probabilities sum to 1, χ² margins reconcile, |corr| ≤ 1).
  */
class StatSpec extends AnyFunSuite with SparkFixture {

  test("skyline sweep equals brute-force dominance on the full fixture") {
    import spark.implicits._
    val swept = Catalog.byName("q_skyline").build(spark, sfDir)
      .select("p_brand", "p_partkey").as[(String, Long)].collect().toSet
    // Independent O(n²) reference, computed driver-side on the 200-row
    // fixture: p survives iff no same-brand q with q ≤ p on both axes
    // and < on at least one (ties on both axes survive).
    val parts = Tables.part(spark, sfDir)
      .select("p_brand", "p_partkey", "p_retailprice", "p_size")
      .as[(String, Long, Double, Int)].collect()
    val brute = parts.filter { case (b, _, price, size) =>
      !parts.exists { case (b2, _, price2, size2) =>
        b2 == b && price2 <= price && size2 <= size &&
          (price2 < price || size2 < size)
      }
    }.map(p => (p._1, p._2)).toSet
    assert(swept == brute,
      s"sweep minus brute: ${swept -- brute}; brute minus sweep: ${brute -- swept}")
    assert(brute.nonEmpty && brute.size < parts.length,
      "fixture must make the skyline non-trivial")
  }

  test("drawdown matches a sequential per-user fold, and peak >= drawdown >= 0") {
    import spark.implicits._
    val got = Catalog.byName("q_ts_drawdown").build(spark, sfDir)
      .select("user_id", "max_drawdown", "peak", "total")
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Sequential reference: exact cents arithmetic over the (ts,
    // event_id)-ordered series — the definitionally correct single-pass
    // form the windowed plan must reproduce.
    val ref = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "value")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
      .sortBy(e => (e._2.getTime, e._3))
      .groupBy(_._1)
      .map { case (uid, es) =>
        var cum, peak, dd = 0L // cents
        es.foreach { e =>
          cum += math.round(e._4 * 100)
          peak = math.max(peak, cum)
          dd = math.max(dd, peak - cum)
        }
        uid -> ((dd / 100.0, peak / 100.0, cum / 100.0))
      }
    assert(got.keySet == ref.keySet)
    got.foreach { case (uid, (dd, peak, total)) =>
      val (rdd, rpeak, rtotal) = ref(uid)
      assert(dd == rdd && peak == rpeak && total == rtotal,
        s"user $uid: got ($dd,$peak,$total) want ($rdd,$rpeak,$rtotal)")
      assert(dd >= 0.0 && peak >= total - 1e-9)
    }
  }

  test("bollinger bands bracket the mid and flag exactly the outliers") {
    import spark.implicits._
    val rows = Catalog.byName("q_win_bollinger").build(spark, sfDir)
      .select("value", "mid", "upper", "lower", "breach")
      .as[(Double, Double, Double, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, mid, up, lo, breach) =>
      assert(up >= mid && mid >= lo, s"band order violated: $lo $mid $up")
      // The flag compares against UNROUNDED bands; displayed bands are
      // round(·,6) of the same expressions, so any disagreement with the
      // displayed interval can only sit within the rounding quantum.
      if (v > up + 1e-6 || v < lo - 1e-6) assert(breach == 1)
      if (v <= up - 1e-6 && v >= lo + 1e-6) assert(breach == 0)
    }
    assert(rows.exists(_._5 == 1), "fixture must produce some breaches")
    assert(rows.count(_._5 == 1) < rows.length / 4,
      "a 2-sigma band must flag a minority of points")
  }

  test("grouped correlation is within [-1,1] and matches a double-pass reference") {
    import spark.implicits._
    val got = Catalog.byName("q_agg_corr").build(spark, sfDir)
      .select("l_returnflag", "corr_qty_disc")
      .as[(String, Double)].collect().toMap
    val data = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_quantity", "l_discount")
      .as[(String, Double, Double)].collect().groupBy(_._1)
    got.foreach { case (flag, c) =>
      assert(math.abs(c) <= 1.0)
      val xs = data(flag).map(_._2); val ys = data(flag).map(_._3)
      val n = xs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(x => x * x).sum
      val syy = ys.map(y => y * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val ref = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      // Reference sums raw doubles (order-sensitive low bits) vs the
      // query's exact decimal moments — agree to analytic tolerance.
      assert(math.abs(c - ref) < 1e-6, s"$flag: $c vs $ref")
    }
  }

  test("markov transition rows: probabilities sum to 1 per source, counts reconcile") {
    import spark.implicits._
    val rows = Catalog.byName("q_events_markov").build(spark, sfDir)
      .select("prev_type", "cnt", "p").as[(String, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (src, grp) =>
      val psum = grp.map(_._3).sum
      assert(math.abs(psum - 1.0) < 1e-4, s"$src: p sums to $psum")
    }
    val events = Tables.events(spark, sfDir)
    val expectedTransitions =
      events.count() - events.select("user_id").distinct().count()
    assert(rows.map(_._2).sum == expectedTransitions,
      "every non-first event is exactly one transition")
  }

  test("chi-square cells: margins reconcile and contributions are non-negative") {
    import spark.implicits._
    val rows = Catalog.byName("q_ab_chisquare").build(spark, sfDir)
      .select("cohort", "obs", "expected", "contrib")
      .as[(Int, Long, Double, Double)].collect()
    assert(rows.map(_._1).distinct.sorted.sameElements(Array(0, 1)))
    rows.foreach { case (_, _, exp, contrib) =>
      assert(exp > 0.0 && contrib >= 0.0)
    }
    // Under independence the expected counts per cohort sum to that
    // cohort's observed margin (rounding quantum only).
    rows.groupBy(_._1).foreach { case (_, grp) =>
      assert(math.abs(grp.map(_._3).sum - grp.map(_._2).sum) < 1e-3)
    }
    assert(rows.map(_._2).sum == Tables.events(spark, sfDir).count())
  }
  test("OLS slope/intercept match a driver-side least-squares recompute") {
    import spark.implicits._
    // Independent reference: collect the daily cents series and fit
    // with the textbook normal equations in plain doubles.
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.date_trunc("day", $"ts")).as("day"))
      .agg((graft.Dsl.dec2(org.apache.spark.sql.functions.sum(
        graft.Dsl.dec2($"value"))) * 100)
        .cast(org.apache.spark.sql.types.LongType).as("y"))
      .select("event_type", "day", "y")
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2.toString).map(_._3.toDouble).toSeq }
    val got = Catalog.byName("q_stat_ols").build(spark, sfDir)
      .select("event_type", "slope_cents", "intercept_cents")
      .as[(String, Double, Double)].collect()
    got.foreach { case (t, slope, intercept) =>
      val ys = daily(t)
      val n = ys.size.toDouble
      val xs = (1 to ys.size).map(_.toDouble)
      val xbar = xs.sum / n; val ybar = ys.sum / n
      val m = xs.zip(ys).map { case (x, y) => (x - xbar) * (y - ybar) }.sum /
        xs.map(x => (x - xbar) * (x - xbar)).sum
      val b = ybar - m * xbar
      assert(math.abs(slope - m) < 1e-4, s"$t slope $slope vs $m")
      assert(math.abs(intercept - b) < 1e-2, s"$t intercept $intercept vs $b")
    }
  }

  test("Mann-Kendall: planted monotone series saturate tau; sign agrees " +
    "with the OLS slope on the fixture") {
    import spark.implicits._
    // Planted: strictly increasing -> S = n(n-1)/2, tau_ppm = 1e6;
    // constant -> S = 0. Computed through the same pair-sign fold the
    // query uses, driver-side.
    def mk(ys: Seq[Long]): (Long, Long) = {
      val pairs = for { i <- ys.indices; j <- i + 1 until ys.size }
        yield math.signum(ys(j) - ys(i)).toLong
      (pairs.sum, pairs.size.toLong)
    }
    assert(mk(Seq(1L, 2L, 3L, 4L)) == (6L, 6L))
    assert(mk(Seq(5L, 5L, 5L))._1 == 0L)
    val tau = Catalog.byName("q_stat_mann_kendall").build(spark, sfDir)
      .select("event_type", "s_stat").as[(String, Long)].collect().toMap
    val slopes = Catalog.byName("q_stat_ols").build(spark, sfDir)
      .select("event_type", "slope_cents").as[(String, Double)].collect().toMap
    tau.foreach { case (t, s) =>
      // Both measure monotone drift; on a 30-day series they may
      // legitimately disagree near zero, so only pin CLEAR trends.
      if (math.abs(s) > 100)
        assert(s.sign.toDouble == slopes(t).sign,
          s"$t: MK S=$s vs OLS slope ${slopes(t)}")
    }
  }
  test("Theil-Sen equals a driver-side median recompute and shrugs off " +
    "a planted outlier that drags OLS") {
    import spark.implicits._
    // Shared driver-side formula (same quantization as the query).
    def theilsen(ys: Seq[Long]): Long = {
      // Precondition stated, not discovered via IndexOutOfBounds(-1):
      // a single-day type yields zero pairs and no query row either.
      require(ys.size >= 2, s"theilsen needs >= 2 days, got ${ys.size}")
      val slopes = (for {
        i <- ys.indices; j <- i + 1 until ys.size
      } yield (ys(j) - ys(i)) * 1000000L / (j - i)).sorted
      slopes((slopes.size + 1) / 2 - 1) // lower median, 1-based rank
    }
    // Fixture agreement per event type.
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.date_trunc("day", $"ts")).as("day"))
      .agg((graft.Dsl.dec2(org.apache.spark.sql.functions.sum(
        graft.Dsl.dec2($"value"))) * 100)
        .cast(org.apache.spark.sql.types.LongType).as("y"))
      .select("event_type", "day", "y")
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2.toString).map(_._3).toSeq }
    val got = Catalog.byName("q_stat_theilsen").build(spark, sfDir)
      .select("event_type", "slope_microcents")
      .as[(String, Long)].collect().toMap
    daily.foreach { case (t, ys) =>
      // Zero-pair types emit no query row by construction; today every
      // fixture type has a month of days, so this filter is
      // regeneration insurance, not a silent skip of live data.
      if (ys.size >= 2) assert(got(t) == theilsen(ys), s"$t")
      else assert(!got.contains(t), s"$t should emit no row with < 2 days")
    }
    // Robustness: a clean slope-100 series with ONE corrupted day.
    // Theil-Sen is unmoved (the corrupt day touches < 1/2 the pairs);
    // the OLS slope on the same data moves by over 50%.
    val clean = (1 to 21).map(i => 100L * i)
    // Corrupt an END day: the center point has zero OLS leverage
    // (symmetric x — the first attempt there moved the slope by 1e-13),
    // while an endpoint has the maximum.
    val dirty = clean.updated(20, 1000000L)
    assert(math.abs(theilsen(dirty) - theilsen(clean)) <= 5L * 1000000 / 100,
      "one outlier day must not move the Theil-Sen slope")
    def ols(ys: Seq[Long]): Double = {
      val n = ys.size.toDouble
      val xs = (1 to ys.size).map(_.toDouble)
      val xbar = xs.sum / n; val ybar = ys.map(_.toDouble).sum / n
      xs.zip(ys).map { case (x, y) => (x - xbar) * (y - ybar) }.sum /
        xs.map(x => (x - xbar) * (x - xbar)).sum
    }
    assert(math.abs(ols(dirty) - ols(clean)) > 0.5 * math.abs(ols(clean)),
      "the planted outlier should visibly drag OLS (the contrast the row exists for)")
  }

  test("q_ts_hurst equals a naive sequential R/S recompute per type") {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy($"event_type", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.date_trunc("day", $"ts")).as("day"))
      .agg((Dsl.dec2(org.apache.spark.sql.functions.sum(Dsl.dec2($"value")))
        * 100).cast("long").as("y"))
      .as[(String, java.sql.Date, Long)].collect()
    val got = Catalog.byName("q_ts_hurst").build(spark, sfDir)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.size == 5)
    got.foreach { case (t, (nbGot, hGot)) =>
      val ys = daily.filter(_._1 == t).sortBy(_._2.toString).map(_._3)
      // every full block of each window size contributes one
      // (ln w, quantized ln R/S) point; OLS slope over all points
      val pts = for {
        w <- Seq(5, 10, 15)
        blk <- ys.grouped(w).toSeq if blk.length == w
      } yield {
        val sy = blk.sum
        val cums = blk.scanLeft(0L)(_ + _).tail
        val zs = cums.zipWithIndex.map { case (c, p) =>
          w * c - (p + 1).toLong * sy
        }
        val r1 = zs.max - zs.min
        val s2 = w * blk.map(v => v * v).sum - sy * sy
        if (s2 == 0) None
        else Some((math.floor(math.log(w.toDouble) * 1e6).toLong,
          math.floor(math.log(r1.toDouble * r1 / s2.toDouble) * 5e5).toLong))
      }
      val good = pts.flatten
      assert(nbGot == good.size, s"$t: n_blocks $nbGot != ${good.size}")
      val n = good.size.toLong
      val sx = good.map(_._1).sum; val sy2 = good.map(_._2).sum
      val sxy = good.map(p => p._1 * p._2).sum
      val sxx = good.map(p => p._1 * p._1).sum
      val h = (n * sxy - sx * sy2).toDouble / (n * sxx - sx * sx).toDouble
      assert(math.abs(hGot - h) < 1e-5, s"$t: hurst $hGot != naive $h")
      assert(hGot > -0.5 && hGot < 1.5, s"$t: implausible hurst $hGot")
    }
  }

  test("kalman level/gain/variance equal an exact sequential integer replay") {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.date_trunc("day", $"ts")).as("day"))
      .agg((Dsl.dec2(org.apache.spark.sql.functions.sum(Dsl.dec2($"value")))
        * 100).cast("long").as("v"))
      .as[(java.sql.Date, Long)].collect()
      .sortBy(_._1.toLocalDate.toEpochDay)
    val got = Catalog.byName("q_ts_kalman").build(spark, sfDir)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.length == daily.length && got.nonEmpty)
    var lvl = 0L; var p = 0L
    val naive = daily.zipWithIndex.map { case ((day, v), i) =>
      val ym = v * 1000L
      var k = 0L
      if (i == 0) { lvl = ym; p = 100000000L }
      else {
        val pp = p + 1000000L
        k = pp * 1000000L / (pp + 100000000L)
        lvl = lvl + k * (ym - lvl) / 1000000L
        p = (1000000L - k) * pp / 1000000L
      }
      (day.toString, lvl, k, p)
    }
    assert(got.toSeq == naive.toSeq)
    // the adaptive-gain property EWMA lacks: gain decays from its
    // uncertain start toward the steady state, never increasing
    val gains = got.map(_._3).drop(1)
    assert(gains.zip(gains.drop(1)).forall { case (a, b) => b <= a })
    assert(gains.head > 400000L && gains.last < 110000L)
  }

  test("bucketNtiles equals ntile(k) OVER (ORDER BY ...) on one and " +
    "three dimensions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.StatQueries.{NtileDim, bucketNtiles}
    // Under ANSI division a `div 0` raises, so the n < k case shows the
    // `div __base` branch is never evaluated.
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // Each dimension: its bucket, its tie order, and the total order the
    // plain ntile names (the bucket coarsens the order's leading key).
    val dims = Seq(
      NtileDim(expr("x div 10"), Seq($"x", $"id"), "tx") -> Seq($"x", $"id"),
      NtileDim($"y", Seq($"id"), "ty") -> Seq($"y", $"id"),
      NtileDim(expr("z div 4"), Seq($"z", $"id"), "tz") -> Seq($"z", $"id"))
    def check(why: String, k: Int, rows: Seq[(Long, Long, Long, Long)]) =
      for (ds <- Seq(dims.take(1), dims)) {
        val df = rows.toDF("id", "x", "y", "z")
        val got = bucketNtiles(df, k, ds.map(_._1): _*)
        val outs = ds.map(_._1.out)
        assert(got.columns.toSeq == df.columns.toSeq ++ outs, why)
        val want = ds.map { case (d, order) =>
          df.select($"id", ntile(k).over(Window.orderBy(order: _*))
            .cast("long").as(d.out))
        }.reduce(_.join(_, "id"))
        def tiles(f: org.apache.spark.sql.DataFrame) =
          f.select("id", outs: _*).collect()
            .map(r => r.getLong(0) -> (1 to outs.size).map(r.getLong)).toMap
        assert(tiles(got) == tiles(want), s"$why, ${ds.size} dimension(s)")
      }
    val rnd = new scala.util.Random(11)
    check("n < k", 5, Seq((1L, 3L, 2L, 9L), (2L, 40L, 2L, 1L), (3L, 41L, 7L, 5L)))
    check("n % k == 0", 5, (1L to 20L).map(i =>
      (i, rnd.nextInt(60).toLong, rnd.nextInt(3).toLong, rnd.nextInt(30).toLong)))
    check("gaps in the bucket domain", 4, (1L to 13L).map(i =>
      (i, Seq(1L, 2L, 35L, 37L, 91L)(rnd.nextInt(5)),
        Seq(0L, 8L, 1000L)(rnd.nextInt(3)), Seq(0L, 50L)(rnd.nextInt(2)))))
    check("ties inside a bucket", 3, (1L to 17L).map(i =>
      (i, 20L + rnd.nextInt(2), 4L, 7L)))
    check("a single bucket", 5, (1L to 9L).map(i => (i, 9L - i, 1L, i % 4)))
    check("an empty frame", 5, Nil)
  }
}
