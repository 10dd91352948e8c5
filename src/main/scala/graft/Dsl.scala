package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Determinism helpers implementing SURVEY.md §2's oracle rules.
  *
  * Rule 2: never emit a raw floating aggregate — Spark and DuckDB sum
  * doubles in different orders. Fixture money columns are exact 2-dp values
  * and rate columns exact 4-dp (profiled in FIXTURES.md), so casting to
  * DECIMAL before SUM gives bit-identical exact arithmetic in both engines.
  * Rule 3: no decimal division — divide as double after the exact sum.
  * Rule 4: final projections carry primitives only, so exact decimal sums
  * are surfaced as doubles (one deterministic conversion).
  */
object Dsl {
  /** Cast an exact-2-decimal double column to DECIMAL(18,2). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Cast an exact-4-decimal double column to DECIMAL(18,4). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact SUM of a money column, surfaced as double. */
  def sumMoney(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact SUM of a 4-dp rate column, surfaced as double. */
  def sumRate(c: Column): Column = sum(dec4(c)).cast(DoubleType)

  /** Deterministic average: exact decimal sum / count, divided in double,
    * rounded — identical in Spark and DuckDB regardless of row order.
    *
    * Residual boundary risk (documented, accepted): round(·, 4) half-up
    * differs between engines only when the true quotient has exactly 5
    * decimal digits ending in 5 AND is binary-inexact — requiring a
    * group count of the form 2^a·5^b (b ≥ 1) with a sum landing the
    * quotient on that boundary. Verified absent at all three fixture
    * SFs (and fixtures are frozen, driver-generated); arbitrary data
    * would use round(6) like the distribution-ratio rule. */
  def avgMoney(c: Column): Column = round(sumMoney(c) / count(lit(1)), 4)
  def avgRate(c: Column): Column  = round(sumRate(c) / count(lit(1)), 4)

  /** Deterministic sampling gate: keep a row iff the first md5 byte of
    * the key falls under `thresh` (two lowercase hex digits; rate ≈
    * parseInt(thresh,16)/256). A pure function of the row — identical
    * across engines, runs, partitionings and retries, and any row's
    * membership is auditable after the fact (unlike RNG TABLESAMPLE).
    * Shared by reproducible sampling, stratified sampling, benchmark
    * decontamination, and GDPR erasure; [[md5GateSql]] is the DuckDB
    * twin (same gate, same threshold, byte-identical md5 hex). */
  def md5Gate(key: Column, thresh: String): Column =
    md5Gate(key, lit(thresh))

  /** Column-threshold variant (per-stratum rates, e.g. stratified
    * sampling's per-language thresholds). */
  def md5Gate(key: Column, thresh: Column): Column =
    substring(md5(key.cast(StringType)), 1, 2) < thresh

  def md5GateSql(keyExpr: String, thresh: String): String =
    s"substring(md5(CAST($keyExpr AS VARCHAR)), 1, 2) < '$thresh'"

  /** Pearson r from EXACT-INTEGER power sums (n, Σx, Σy, Σxy, Σx², Σy²),
    * shared by q_ts_cross_corr / q_win_rolling_corr /
    * q_graph_assortativity — ONE definition because the whole
    * determinism contract is that the Spark and DuckDB expressions are
    * textually identical, and hand-maintained copies invite a one-sided
    * edit. The only float ops are the final conversion, two
    * IEEE-correct sqrts, and one division, in a fixed shape; a
    * ZERO-VARIANCE side is decided in exact integer space FIRST and
    * yields NULL in both engines (Spark would produce NaN/±Inf, DuckDB
    * 1.0 returns NULL for float x/0 — they disagree unless guarded).
    * Result rounded at 6 dp. [[pearsonRSql]] is the byte-equivalent
    * DuckDB text.
    *
    * Overflow bound: the products n·Σxx etc. run in LONG, so callers
    * must keep n·max(Σxx, Σyy) under ~9.2e18 — a TIGHTER bound than the
    * sums' own headroom, and the inputs enter squared, so the safe
    * input-magnitude multiple is the square root of the apparent slack
    * (q_win_rolling_corr: ~40× daily volume, not ~1800×). Past the
    * bound Spark's default ANSI mode raises ARITHMETIC_OVERFLOW
    * (PcaSpec verifies empirically) and DuckDB aborts — a dead job,
    * not a wrong r; widen every moment column to DECIMAL(38,0)/HUGEINT
    * as in q_prep_standardize's guard BEFORE calling this (the final
    * CASTs to double then convert the same exact integers, so results
    * are unchanged where both representations hold the value). */
  def pearsonR(n: Column, sx: Column, sy: Column, sxy: Column,
      sxx: Column, syy: Column): Column =
    when(n * sxx - sx * sx === 0 || n * syy - sy * sy === 0, lit(null))
      .otherwise(round((n * sxy - sx * sy).cast(DoubleType) /
        (sqrt((n * sxx - sx * sx).cast(DoubleType)) *
         sqrt((n * syy - sy * sy).cast(DoubleType))), 6))

  def pearsonRSql(n: String, sx: String, sy: String, sxy: String,
      sxx: String, syy: String): String =
    s"""CASE WHEN $n*$sxx - $sx*$sx = 0 OR $n*$syy - $sy*$sy = 0 THEN NULL
       |  ELSE ROUND(CAST($n*$sxy - $sx*$sy AS DOUBLE) /
       |    (sqrt(CAST($n*$sxx - $sx*$sx AS DOUBLE)) *
       |     sqrt(CAST($n*$syy - $sy*$sy AS DOUBLE))), 6) END""".stripMargin

  /** Exact SUM of price·(1−discount) revenue. The scale-8 product sum can
    * exceed double's 53-bit exact-integer range at sf0.1+ (≈5e17 in 1e-8
    * units), where Spark's and DuckDB's decimal→double conversions differ
    * by one ulp — so round to scale 2 in decimal space first, which
    * converts exactly. Twin-side note: DuckDB's downscaling decimal CAST
    * *truncates*, so twins must write ROUND(sum, 2) (half-away-from-zero,
    * = Spark's HALF_UP cast for positive values). */
  def sumRevenue(price: Column, discount: Column): Column =
    sum(dec4(price) * (lit(1).cast(DecimalType(18, 4)) - dec4(discount)))
      .cast(DecimalType(18, 2)).cast(DoubleType)
}
