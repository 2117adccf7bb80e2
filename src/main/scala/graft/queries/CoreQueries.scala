package graft.queries

import graft.Harness.Gate
import graft.core.Tables
import graft.core.Tables.b100
import graft.functions.{Geo, Stats, TimeDomain}
import graft.operators.{AsOf, Sessionize, Windows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core windowed/sequential feature queries over the `events` table
  * (entity = user_id, event time = ts, signal = value) — each with a
  * DuckDB-equivalent oracle in [[gate]].
  *
  * Cross-engine determinism rule: `value` has exactly 2 decimals, so all
  * moment-family aggregates are computed over b = round(value·100) — an
  * EXACT integer in doubles. Integer sums < 2^53 are bit-exact in any
  * summation order (Spark partial aggs vs DuckDB), cube/quartic sums go
  * through decimal/hugeint, and the final scalar expression trees are
  * written identically on both sides — so both engines produce the same
  * double bit-for-bit and the shared 6-dp rounding can never straddle a
  * boundary. Irrational outputs (sqrt/ln/asin chains) are safely rounded
  * as-is. This mirrors the reference's float64 numpy math for the engine
  * API (tests assert allclose separately); the integer scaling here exists
  * only for the oracle hash-compare.
  */
object CoreQueries {

  private val sqrt2 = sqrt(lit(2.0))

  /** Per-user rolling 16-row stats (reference rolling_apply family,
    * windows.py:54-119 — multi-agg single scan). */
  def qRollingStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("b", b100(col("value")))
    val w = Tables.byUserTs
    val f = w.rowsBetween(-15, 0)
    val s1 = sum(col("b")).over(f)
    val s2 = sum(col("b") * col("b")).over(f)
    val nf = count(lit(1)).over(f)
    val m = s1 / nf
    ev.select(
      col("user_id"), col("event_id"),
      (s1 / nf / 100).as("roll_mean"),
      (sqrt(s2 / nf - m * m) / 100).as("roll_std"),
      (min(col("b")).over(f) / 100).as("roll_min"),
      (max(col("b")).over(f) / 100).as("roll_max"),
      ((max(col("b")).over(f) - min(col("b")).over(f)) / 100)
        .as("roll_range"),
      (sum(col("b")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)) / 100).as("cum_sum"),
      row_number().over(w).cast("long").as("rn")
    ).orderBy(col("user_id"), col("event_id"))
  }

  /** Lag/lead projections: diff, central-difference gradient with one-sided
    * edges (timedom.py:11-31), strict local-max peaks (qrs.py:200-212),
    * centered moving average with zero-pad semantics (qrs.py:19-22),
    * pt_differentiate bug-for-bug (qrs.py:12-16). */
  def qLagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Tables.byUserTs
    val v = col("value")
    ev.select(
      col("user_id"), col("event_id"),
      round(TimeDomain.diff1(v, w), 6).as("dv"),
      round(TimeDomain.gradient(v, w), 6).as("grad"),
      TimeDomain.isPeak(v, w).as("is_peak"),
      round(TimeDomain.movingAverage(v, 5, w), 6).as("ma5"),
      round(TimeDomain.ptDifferentiate(v), 6).as("ptdiff"),
      // slope_sum (ppg.py:28-42) telescoped to v[i] − v[i−w], w = 8:
      // positions i < w and the LAST position stay 0 (the reference
      // loop's `range(w, len(x)-1)` bound — quirk preserved)
      round(when(row_number().over(w) > 8 &&
          row_number().over(w) <
            count(lit(1)).over(Window.partitionBy(col("user_id"))),
        v - lag(v, 8).over(w)).otherwise(0.0), 6).as("slope_sum8")
    ).orderBy(col("user_id"), col("event_id"))
  }

  /** Per-user full-series statistical profile (stats.py — SURVEY §2.3):
    * population moments, exact percentiles, raw-moment skew/kurt with
    * zero-variance guards (0 resp. −3). */
  def qStatsProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("b", b100(col("value")))
    val bd = col("b").cast(DecimalType(38, 0))
    val agg = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("b")).as("s1"),
      sum(col("b") * col("b")).as("s2"),
      sum(bd * bd * bd).cast("double").as("s3"),
      sum(bd * bd * bd * bd).cast("double").as("s4"),
      (max(col("b")) - min(col("b"))).as("rng"),
      percentile(col("b"), lit(0.25)).as("p25"),
      percentile(col("b"), lit(0.5)).as("p50"),
      percentile(col("b"), lit(0.75)).as("p75"))
    val n = col("n")
    val m1 = col("s1") / n
    val m2 = col("s2") / n - m1 * m1
    val m3 = col("s3") / n - lit(3) * m1 * (col("s2") / n) + lit(2) * m1 * m1 * m1
    val m4 = col("s4") / n - lit(4) * m1 * (col("s3") / n) +
      lit(6) * (m1 * m1) * (col("s2") / n) - lit(3) * (m1 * m1) * (m1 * m1)
    val kurt = when(m2 === 0.0, 0.0).otherwise(m4 / (m2 * m2))
    agg.select(
      col("user_id"), n,
      (m1 / 100).as("mean"),
      (sqrt(m2) / 100).as("std_pop"),
      (m2 / 10000).as("var_pop"),
      (col("rng") / 100).as("drange"),
      ((col("p75") - col("p25")) / 100).as("iqr"),
      (col("p50") / 100).as("median"),
      round(when(m2 === 0.0, 0.0).otherwise(m3 / (sqrt(m2) * m2)), 6)
        .as("skew"),
      round(kurt, 6).as("kurt"),
      round(kurt - 3.0, 6).as("kurt_excess"),
      (sqrt(m2) / m1).as("coeff_var")
    ).orderBy(col("user_id"))
  }

  /** HRV-style interval features treating `value` as an nni series per user
    * (hrv.py — SURVEY §2.3): sdnn/rmssd/ssd/sdsd/pnnX + Poincaré sd1/sd2
    * and Lorenz csi/cvi/mcsi. */
  def qHrv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("b", b100(col("value")))
    val w = Tables.byUserTs
    val d = ev.select(col("user_id"), col("b"),
      (col("b") - lag(col("b"), 1).over(w)).as("dv"),
      (col("b") + lag(col("b"), 1).over(w)).as("pv"))
    val agg = d.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("b")).as("s1"), sum(col("b") * col("b")).as("s2"),
      count(col("dv")).as("nd"),
      sum(col("dv")).as("d1"), sum(col("dv") * col("dv")).as("d2"),
      sum(col("pv")).as("q1"), sum(col("pv") * col("pv")).as("q2"),
      sum(when(abs(col("dv")) > 5000, 1).otherwise(0)).as("big"))
    val n = col("n")
    val sd1 = sqrt(col("d2") / col("nd") -
      (col("d1") / col("nd")) * (col("d1") / col("nd"))) / 100 / sqrt2
    val sd2 = sqrt(col("q2") / col("nd") -
      (col("q1") / col("nd")) * (col("q1") / col("nd"))) / 100 / sqrt2
    agg.select(
      col("user_id"),
      (sqrt(col("s2") / n - (col("s1") / n) * (col("s1") / n)) / 100)
        .as("sdnn"),
      (sqrt(col("d2") / col("nd")) / 100).as("rmssd"),
      (col("d1") / 100).as("ssd"),
      (sqrt(col("d2") / col("nd") -
        (col("d1") / col("nd")) * (col("d1") / col("nd"))) / 100)
        .as("sdsd"),
      (col("big") / (n - lit(1.0))).as("pnn50"),
      sd1.as("csi_sd1"),
      sd2.as("csi_sd2"),
      (sd1 / sd2).as("lorenz_csi"),
      round(log10(sd1 * sd2), 6).as("lorenz_cvi"),
      (sd1 * sd1 / sd2).as("lorenz_mcsi")
    ).orderBy(col("user_id"))
  }

  /** Gap-threshold sessionization (gaps-and-islands; north-rule op).
    * Gap = 6h of event time. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("b", b100(col("value")))
    val gapMicros = 6L * 3600 * 1000000
    Sessionize.withSessionId(ev, "user_id", "ts", gapMicros,
        tieCols = Seq("event_id"))
      .groupBy(col("user_id"), col("session_id")).agg(
        count(lit(1)).as("n_events"),
        (sum(col("b")) / 100).as("sum_value"),
        unix_micros(min(col("ts")).cast("timestamp")).as("start_us"),
        unix_micros(max(col("ts")).cast("timestamp")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Gap-aware backfill: value is NULLed on 'error' events and backfilled
    * with the last non-null value of the same user AND session — fills
    * never cross a session gap (north-rule op). */
  def qBackfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val gapMicros = 6L * 3600 * 1000000
    val nulled = ev.withColumn("v0",
      when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")))
    val sess = Sessionize.withSessionId(nulled, "user_id", "ts", gapMicros,
      tieCols = Seq("event_id"))
    Sessionize.backfillWithinSession(sess, "user_id", "ts", "v0",
      tieCols = Seq("event_id"))
      .select(col("user_id"), col("event_id"), col("session_id"),
        col("value_filled").as("v_filled"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Point-in-time as-of join: every non-error event gets the latest
    * preceding error value of the same user (backward, inclusive, no
    * future rows). Oracle: DuckDB native ASOF JOIN. */
  def qAsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val left = ev.where(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val right = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("value").as("err_value"))
    AsOf.joinBackward(left, right, "user_id", "ts", rightPrefix = "last_")
      .select(col("user_id"), col("event_id"),
        col("last_err_value"),
        unix_micros(col("last_ts").cast("timestamp")).as("last_err_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Time-anchored grid windows (get_indices semantics, windows.py:162-178):
    * grid starts at each user's first event, wsize 24h, wstep 12h,
    * left-closed/right-open, full grid incl. empty windows, features NULL
    * under min_window_len=2. */
  def qAnchoredWindows(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        b100(col("value")).as("b"))
    val wsize = 24L * 3600 * 1000000
    val wstep = 12L * 3600 * 1000000
    val s1 = sum(col("b"))
    val s2 = sum(col("b") * col("b"))
    val nn = count(col("b"))
    val m = s1 / nn
    Windows.anchoredWindows(ev, "user_id", "tus", wsize, wstep, 2,
      Seq((s1 / nn / 100).as("w_mean"),
        (sqrt(s2 / nn - m * m) / 100).as("w_std"),
        ((max(col("b")) - min(col("b"))) / 100).as("w_range")))
      .orderBy(col("user_id"), col("window_start"))
  }

  /** Count-based windows (rolling_apply/view semantics, windows.py:20-95):
    * size 32 step 8 over per-user row positions, trailing partials
    * dropped. */
  def qCountWindows(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("b", b100(col("value")))
    Windows.countWindows(ev, "user_id", "event_id", 32, 8, f => {
      val s1 = sum(col("b")).over(f)
      val s2 = sum(col("b") * col("b")).over(f)
      val nf = count(lit(1)).over(f)
      val m = s1 / nf
      Seq(
        (s1 / nf / 100).as("w_mean"),
        (sqrt(s2 / nf - m * m) / 100).as("w_std"),
        (min(col("b")).over(f) / 100).as("w_min"),
        (max(col("b")).over(f) / 100).as("w_max"))
    })
      .select(col("user_id"), col("window_index"), col("event_id"),
        col("w_mean"), col("w_std"), col("w_min"), col("w_max"))
      .orderBy(col("user_id"), col("window_index"))
  }

  /** Shannon entropy of each user's event_type distribution with the
    * reference's epsilon-inside-the-sum form (information.py:10-20). */
  def qEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val counts = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("c"))
    val w = Window.partitionBy(col("user_id"))
    counts
      .withColumn("total", sum(col("c")).over(w))
      .groupBy(col("user_id"))
      .agg(round(sum(Stats.entropyTerm(col("c"), col("total"))), 6)
        .as("type_entropy"))
      .orderBy(col("user_id"))
  }

  /** Haversine chain: deterministic synthetic lat/lon from event_id,
    * per-user successive travel distance (features.py:87-113) +
    * location_variance (distribution.py:16-39, no-log code semantics). */
  def qGeo(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("lat",
        (col("event_id") * 37 % 17000).cast("double") / 100.0 - 85.0)
      .withColumn("lon",
        (col("event_id") * 73 % 36000).cast("double") / 100.0 - 180.0)
    val w = Tables.byUserTs
    ev.select(col("user_id"), col("lat"), col("lon"),
      Geo.successiveDistance(col("lat"), col("lon"), w).as("d"))
      .groupBy(col("user_id"))
      .agg(round(sum(col("d")), 4).as("travel_km"),
        round(Geo.locationVariance(col("lat"), col("lon")), 4)
          .as("loc_var"))
      .orderBy(col("user_id"))
  }

  /** Semi-structured property extraction: parse the events table's JSON
    * `props` column with a declared schema (`from_json`, codegen'd — the
    * production path for event payloads; schema-on-read, malformed rows
    * become NULL instead of failing the scan) and aggregate the extracted
    * field per event type. Plan: scan → project(parse) → partial agg →
    * 5-group final agg — the parse is map-side, so payload strings never
    * enter the exchange; only (event_type, partial sums) shuffle. The
    * oracle extracts via DuckDB's JSON path functions — different parser,
    * same values. k_avg is one division of exact integer aggregates. */
  def qJsonProps(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
        sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .withColumn("k_avg", col("k_sum") / col("n_parsed"))
      .orderBy(col("event_type"))
  }

  /** q_asof_join's oracle, also q_asof_stream's: the streaming as-of
    * must reproduce the batch result exactly. */
  private[queries] val asOfJoinOracle: String =
    """WITH l AS (
      |  SELECT user_id, ts, event_id FROM events
      |  WHERE event_type <> 'error'),
      |r AS (
      |  SELECT user_id, ts, value FROM events WHERE event_type = 'error')
      |SELECT l.user_id, l.event_id,
      |  r.value AS last_err_value,
      |  epoch_us(r.ts) AS last_err_us
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.user_id, l.event_id""".stripMargin

  val gate: Map[String, Gate] = Map(
    "q_json_props" -> Gate(qJsonProps,
      """WITH e AS (
        |  SELECT event_type,
        |    json_extract_string(props, '$.k')::BIGINT AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_parsed,
        |  sum(k)::BIGINT AS k_sum, min(k) AS k_min, max(k) AS k_max,
        |  sum(k)::BIGINT / count(k) AS k_avg
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_rolling_stats" -> Gate(qRollingStats,
      """WITH v AS (SELECT user_id, event_id, ts, round(value*100) AS b
        |  FROM events)
        |SELECT user_id, event_id,
        |  sum(b) OVER f / count(*) OVER f / 100 AS roll_mean,
        |  sqrt(sum(b*b) OVER f / count(*) OVER f
        |    - (sum(b) OVER f / count(*) OVER f)
        |      * (sum(b) OVER f / count(*) OVER f)) / 100 AS roll_std,
        |  min(b) OVER f / 100 AS roll_min,
        |  max(b) OVER f / 100 AS roll_max,
        |  (max(b) OVER f - min(b) OVER f) / 100 AS roll_range,
        |  sum(b) OVER c / 100 AS cum_sum,
        |  row_number() OVER o AS rn
        |FROM v
        |WINDOW
        |  o AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  f AS (o ROWS BETWEEN 15 PRECEDING AND CURRENT ROW),
        |  c AS (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    "q_lag_features" -> Gate(qLagFeatures,
      """SELECT user_id, event_id,
        |  round(value - lag(value) OVER o, 6) AS dv,
        |  round(CASE
        |    WHEN lag(value) OVER o IS NULL AND lead(value) OVER o IS NULL THEN 0.0
        |    WHEN lag(value) OVER o IS NULL THEN lead(value) OVER o - value
        |    WHEN lead(value) OVER o IS NULL THEN value - lag(value) OVER o
        |    ELSE (lead(value) OVER o - lag(value) OVER o) / 2.0 END, 6) AS grad,
        |  (lag(value) OVER o IS NOT NULL AND lead(value) OVER o IS NOT NULL
        |    AND value > lag(value) OVER o AND value > lead(value) OVER o) AS is_peak,
        |  round((sum(value) OVER (o ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) / 5.0, 6) AS ma5,
        |  round(value / 8.0, 6) AS ptdiff,
        |  round(CASE WHEN row_number() OVER o > 8
        |      AND row_number() OVER o < count(*) OVER (PARTITION BY user_id)
        |    THEN value - lag(value, 8) OVER o ELSE 0.0 END, 6) AS slope_sum8
        |FROM events
        |WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin),
    "q_stats_profile" -> Gate(qStatsProfile,
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    (round(value*100))::BIGINT::HUGEINT AS h
        |  FROM events),
        |a AS (
        |  SELECT user_id, count(*) AS n, sum(b) AS s1, sum(b*b) AS s2,
        |    (sum(h*h*h))::DOUBLE AS s3, (sum(h*h*h*h))::DOUBLE AS s4,
        |    max(b) - min(b) AS rng,
        |    quantile_cont(b, 0.25) AS p25, quantile_cont(b, 0.5) AS p50,
        |    quantile_cont(b, 0.75) AS p75
        |  FROM v GROUP BY user_id)
        |SELECT user_id, n,
        |  s1/n/100 AS mean,
        |  sqrt(s2/n - (s1/n)*(s1/n))/100 AS std_pop,
        |  (s2/n - (s1/n)*(s1/n))/10000 AS var_pop,
        |  rng/100 AS drange,
        |  (p75 - p25)/100 AS iqr,
        |  p50/100 AS median,
        |  round(CASE WHEN s2/n - (s1/n)*(s1/n) = 0 THEN 0.0 ELSE
        |    (s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
        |    / (sqrt(s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) END, 6)
        |    AS skew,
        |  round(CASE WHEN s2/n - (s1/n)*(s1/n) = 0 THEN 0.0 ELSE
        |    (s4/n - 4*(s1/n)*(s3/n) + 6*((s1/n)*(s1/n))*(s2/n)
        |      - 3*((s1/n)*(s1/n))*((s1/n)*(s1/n)))
        |    / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) END, 6)
        |    AS kurt,
        |  round(CASE WHEN s2/n - (s1/n)*(s1/n) = 0 THEN 0.0 ELSE
        |    (s4/n - 4*(s1/n)*(s3/n) + 6*((s1/n)*(s1/n))*(s2/n)
        |      - 3*((s1/n)*(s1/n))*((s1/n)*(s1/n)))
        |    / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) END - 3.0, 6)
        |    AS kurt_excess,
        |  sqrt(s2/n - (s1/n)*(s1/n)) / (s1/n) AS coeff_var
        |FROM a ORDER BY user_id""".stripMargin),
    "q_hrv" -> Gate(qHrv,
      """WITH v AS (
        |  SELECT user_id, ts, event_id, round(value*100) AS b FROM events),
        |d AS (
        |  SELECT user_id, b, b - lag(b) OVER o AS dv, b + lag(b) OVER o AS pv
        |  FROM v WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (
        |  SELECT user_id, count(*) AS n, sum(b) AS s1, sum(b*b) AS s2,
        |    count(dv) AS nd, sum(dv) AS d1, sum(dv*dv) AS d2,
        |    sum(pv) AS q1, sum(pv*pv) AS q2,
        |    sum(CASE WHEN abs(dv) > 5000 THEN 1 ELSE 0 END) AS big
        |  FROM d GROUP BY user_id)
        |SELECT user_id,
        |  sqrt(s2/n - (s1/n)*(s1/n))/100 AS sdnn,
        |  sqrt(d2/nd)/100 AS rmssd,
        |  d1/100 AS ssd,
        |  sqrt(d2/nd - (d1/nd)*(d1/nd))/100 AS sdsd,
        |  big/(n - 1.0) AS pnn50,
        |  sqrt(d2/nd - (d1/nd)*(d1/nd))/100/sqrt(2.0) AS csi_sd1,
        |  sqrt(q2/nd - (q1/nd)*(q1/nd))/100/sqrt(2.0) AS csi_sd2,
        |  (sqrt(d2/nd - (d1/nd)*(d1/nd))/100/sqrt(2.0))
        |    / (sqrt(q2/nd - (q1/nd)*(q1/nd))/100/sqrt(2.0)) AS lorenz_csi,
        |  round(log10((sqrt(d2/nd - (d1/nd)*(d1/nd))/100/sqrt(2.0))
        |    * (sqrt(q2/nd - (q1/nd)*(q1/nd))/100/sqrt(2.0))), 6) AS lorenz_cvi,
        |  (sqrt(d2/nd - (d1/nd)*(d1/nd))/100/sqrt(2.0))
        |    * (sqrt(d2/nd - (d1/nd)*(d1/nd))/100/sqrt(2.0))
        |    / (sqrt(q2/nd - (q1/nd)*(q1/nd))/100/sqrt(2.0)) AS lorenz_mcsi
        |FROM a ORDER BY user_id""".stripMargin),
    "q_sessionize" -> Gate(qSessionize,
      """WITH v AS (
        |  SELECT user_id, ts, event_id, round(value*100) AS b,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 21600000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, b,
        |    (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS session_id
        |  FROM v)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  sum(b)/100 AS sum_value,
        |  min(epoch_us(ts)) AS start_us,
        |  max(epoch_us(ts)) AS end_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
    "q_backfill" -> Gate(qBackfill,
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) > 21600000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT *, (sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS session_id
        |  FROM g)
        |SELECT user_id, event_id, session_id,
        |  last_value(CASE WHEN event_type = 'error' THEN NULL
        |      ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM s ORDER BY user_id, event_id""".stripMargin),
    "q_asof_join" -> Gate(qAsOfJoin, asOfJoinOracle),
    "q_anchored_windows" -> Gate(qAnchoredWindows,
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS t, round(value*100) AS b
        |  FROM events),
        |bounds AS (
        |  SELECT user_id, min(t) AS f, max(t) AS l
        |  FROM p GROUP BY user_id),
        |g AS (
        |  SELECT user_id, f,
        |    unnest(generate_series(0::BIGINT,
        |      ((l - f - 1) // 43200000000)::BIGINT)) AS k
        |  FROM bounds WHERE l > f),
        |j AS (
        |  SELECT g.user_id, g.k, g.f,
        |    count(p.b) AS n, sum(p.b) AS s1, sum(p.b*p.b) AS s2,
        |    max(p.b) - min(p.b) AS rng
        |  FROM g LEFT JOIN p ON p.user_id = g.user_id
        |    AND p.t >= g.f + g.k * 43200000000
        |    AND p.t <  g.f + g.k * 43200000000 + 86400000000
        |  GROUP BY g.user_id, g.k, g.f)
        |SELECT user_id, f + k * 43200000000 AS window_start,
        |  n AS n_points,
        |  CASE WHEN n >= 2 THEN s1/n/100 END AS w_mean,
        |  CASE WHEN n >= 2 THEN
        |    sqrt(s2/n - (s1/n)*(s1/n))/100 END AS w_std,
        |  CASE WHEN n >= 2 THEN rng/100 END AS w_range
        |FROM j ORDER BY user_id, window_start""".stripMargin),
    "q_count_windows" -> Gate(qCountWindows,
      """WITH v AS (
        |  SELECT user_id, event_id, round(value*100) AS b FROM events),
        |s AS (
        |  SELECT user_id, event_id,
        |    row_number() OVER o - 1 AS rn0,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(b) OVER w AS s1, sum(b*b) OVER w AS s2,
        |    count(*) OVER w AS nf,
        |    min(b) OVER w AS mn, max(b) OVER w AS mx
        |  FROM v
        |  WINDOW o AS (PARTITION BY user_id ORDER BY event_id),
        |    w AS (o ROWS BETWEEN CURRENT ROW AND 31 FOLLOWING))
        |SELECT user_id, rn0 // 8 AS window_index, event_id,
        |  s1/nf/100 AS w_mean,
        |  sqrt(s2/nf - (s1/nf)*(s1/nf))/100 AS w_std,
        |  mn/100 AS w_min, mx/100 AS w_max
        |FROM s WHERE rn0 % 8 = 0 AND rn0 <= n - 32
        |ORDER BY user_id, window_index""".stripMargin),
    "q_entropy" -> Gate(qEntropy,
      """WITH c AS (
        |  SELECT user_id, event_type, count(*)::DOUBLE AS c
        |  FROM events GROUP BY user_id, event_type),
        |t AS (
        |  SELECT user_id, event_type, c,
        |    sum(c) OVER (PARTITION BY user_id) AS total FROM c)
        |SELECT user_id,
        |  round(sum(-(c/total + 1e-30) * ln(c/total + 1e-30)), 6)
        |    AS type_entropy
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q_geo" -> Gate(qGeo,
      """WITH p AS (
        |  SELECT user_id, ts, event_id,
        |    ((event_id * 37) % 17000)::DOUBLE / 100.0 - 85.0 AS lat,
        |    ((event_id * 73) % 36000)::DOUBLE / 100.0 - 180.0 AS lon
        |  FROM events),
        |d AS (
        |  SELECT user_id, lat, lon,
        |    coalesce(12742.018 * asin(sqrt(
        |      sin((radians(lat) - radians(lag(lat) OVER o)) / 2.0)^2
        |      + cos(radians(lag(lat) OVER o)) * cos(radians(lat))
        |        * sin((radians(lon) - radians(lag(lon) OVER o)) / 2.0)^2)),
        |      0.0) AS dist
        |  FROM p
        |  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, round(sum(dist), 4) AS travel_km,
        |  round(var_pop(lat) + var_pop(lon), 4) AS loc_var
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
