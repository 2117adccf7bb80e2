package graft.queries

import graft.Harness.Gate
import graft.core.Tables
import graft.core.Tables.b100
import graft.functions.Geo
import graft.operators.Fractal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second battery of reference-operator queries over `events`: mode,
  * OLS line fit, Hurst exponent, two-level HRV aggregates (sdann/sdnni),
  * time-domain/Hjorth features, RQA recurrence, and home-stay location
  * features. Same cross-engine determinism discipline as CoreQueries
  * (exact integer sums, identical expression trees, round only libm
  * outputs).
  */
object SeqQueries {

  /** mode with tie → smallest value (stats.py:62-94): value-counts +
    * deterministic rank. */
  def qMode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("bi", b100(col("value")).cast("long"))
    val counts = ev.groupBy(col("user_id"), col("bi"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("bi").asc)
    counts.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("user_id"), (col("bi") / 100.0).as("mode_value"),
        col("cnt").as("mode_count"))
      .orderBy(col("user_id"))
  }

  /** o1fit + o1fit_multiple: closed-form OLS lines per user over a SHARED
    * x = row index (timedom.py:262-299 — o1fit returns intercept A and
    * slope b; o1fit_multiple fits m columns against one x). Columns:
    * y1 = b (the value lattice), y2 = b² (exact, < 2^53 in every partial
    * sum), y3 = |b − 25000|. Explicit integer-sum normal equations so
    * both engines agree bitwise; x-side sums are computed once and shared
    * across columns, exactly like the reference's shared-x loop.
    *
    * Exactness scope: every partial sum stays below 2^53 (hence
    * order-independent) for per-user series up to ~30k rows — the
    * sum(x·y2) partials are the binding term (|b| ≤ ~5·10^4 → x·b² ≤
    * n·2.5·10^9). That covers the gate (sf0.01, ~66 rows/user) and bench
    * (sf0.1, ~666) with 40x headroom; beyond sf≈5 the y2 sums must move
    * to decimal(38,0) / HUGEINT on both engines to keep the hash parity
    * (the DuckDB side already aggregates in HUGEINT). */
  def qO1fit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("b", b100(col("value")))
      .withColumn("y2", col("b") * col("b"))
      .withColumn("y3", abs(col("b") - 25000))
      .withColumn("x", row_number().over(Tables.byUserTs).cast("double"))
    val agg = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("b")).as("sy"), sum(col("x") * col("b")).as("sxy"),
      sum(col("y2")).as("sy2"), sum(col("x") * col("y2")).as("sxy2"),
      sum(col("y3")).as("sy3"), sum(col("x") * col("y3")).as("sxy3"))
    def slopeOf(sy: Column, sxy: Column): Column =
      (col("n") * sxy - col("sx") * sy) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
    def interceptOf(sy: Column, sxy: Column): Column =
      (sy - slopeOf(sy, sxy) * col("sx")) / col("n")
    agg.select(col("user_id"),
      (slopeOf(col("sy"), col("sxy")) / 100).as("slope"),
      (interceptOf(col("sy"), col("sxy")) / 100).as("intercept"),
      slopeOf(col("sy2"), col("sxy2")).as("slope_sq"),
      interceptOf(col("sy2"), col("sxy2")).as("intercept_sq"),
      slopeOf(col("sy3"), col("sxy3")).as("slope_absdev"),
      interceptOf(col("sy3"), col("sxy3")).as("intercept_absdev"))
      .orderBy(col("user_id"))
  }

  /** Hurst exponent (timedom.py:238-259) over the reference's DEFAULT
    * lags arange(2,64) = 2..63 (timedom.py:249), through
    * [[graft.operators.Fractal.hurst]] (plan and measured shapes in its
    * scaladoc) on the b lattice, ties in ts broken by event_id. Lags
    * whose diff series has exactly zero variance (single diff, or all
    * diffs equal — decidable exactly on the integer lattice: s2·nd ==
    * s1²) are dropped on BOTH engines; the reference would produce
    * ln(0) = −inf there (Spark's log returns NULL, DuckDB −inf — not
    * hash-comparable). */
  def qHurst(spark: SparkSession, dir: String): DataFrame =
    Fractal.hurst(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        b100(col("value")).as("b")),
      "user_id", "ts", "b", tieCols = Seq("event_id"))
      .select(col("user_id"), round(col("hurst"), 6).as("hurst"))
      .orderBy(col("user_id"))

  /** sdann + sdnni (hrv.py:65-108): tumbling 1-day segments anchored at
    * each user's first event; sdann = std_pop of segment means, sdnni =
    * mean of segment std_pops. Two-level aggregation, second level tiny. */
  def qSdann(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val we = Window.partitionBy(col("user_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"),
        b100(col("value")).as("b"))
      .withColumn("seg",
        floor((col("t") - min(col("t")).over(we)) / dayUs).cast("long"))
    val segs = ev.groupBy(col("user_id"), col("seg")).agg(
      count(lit(1)).as("n"),
      sum(col("b")).as("s1"), sum(col("b") * col("b")).as("s2"))
      .select(col("user_id"),
        (col("s1") / col("n")).as("m"),
        sqrt(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n"))).as("sd"))
    segs.groupBy(col("user_id")).agg(
      round(sqrt(greatest(avg(col("m") * col("m")) -
        avg(col("m")) * avg(col("m")), lit(0.0))) / 100, 6).as("sdann"),
      round(avg(col("sd")) / 100, 6).as("sdnni"),
      count(lit(1)).as("n_segments"))
      .orderBy(col("user_id"))
  }

  /** Time-domain features (timedom.py): zero-crossing count with clamp
    * threshold, line length, Hjorth activity/mobility/complexity via
    * integer-scaled central-difference gradients (2·grad stays integral:
    * edges 2·one-sided, interior lead−lag). */
  def qTimedom(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables.byUserTs
    def grad2(c: Column): Column = {
      val p = lag(c, 1).over(w)
      val nx = lead(c, 1).over(w)
      when(p.isNull && nx.isNull, lit(0.0))
        .when(p.isNull, (nx - c) * 2)
        .when(nx.isNull, (c - p) * 2)
        .otherwise(nx - p)
    }
    val ev = Tables.events(spark, dir)
      .withColumn("b", b100(col("value")))
      .withColumn("x", col("b") - 25000)
      .withColumn("xc", when(abs(col("b") - 25000) <= 10000, 0.0)
        .otherwise(col("b") - 25000))
      .withColumn("g1", grad2(col("b")))
    val ev2 = ev.withColumn("g2", grad2(col("g1")))
      .withColumn("pos", col("xc") > 0)
      .withColumn("flip",
        when(lag(col("xc") > 0, 1).over(w).isNull, 0)
          .when((col("xc") > 0) =!= lag(col("xc") > 0, 1).over(w), 1)
          .otherwise(0))
      .withColumn("ad", abs(col("b") - lag(col("b"), 1).over(w)))
    val agg = ev2.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("flip")).as("zc"),
      sum(col("ad")).as("ll"),
      sum(col("b")).as("s1"), sum(col("b") * col("b")).as("s2"),
      sum(col("g1")).as("t1"), sum(col("g1") * col("g1")).as("t2"),
      sum(col("g2")).as("u1"), sum(col("g2") * col("g2")).as("u2"))
    val n = col("n")
    val vb = col("s2") / n - (col("s1") / n) * (col("s1") / n)
    val v1 = (col("t2") / n - (col("t1") / n) * (col("t1") / n)) / 4
    val v2 = (col("u2") / n - (col("u1") / n) * (col("u1") / n)) / 16
    agg.select(col("user_id"),
      col("zc").as("zero_crossings"),
      (col("ll") / 100).as("line_length"),
      (vb / 10000).as("hjorth_activity"),
      sqrt(v1 / vb).as("hjorth_mobility"),
      (sqrt(v2 / v1) / sqrt(v1 / vb)).as("hjorth_complexity"))
      .orderBy(col("user_id"))
  }

  /** RQA (rqa.py:9-187): recurrence pairs |x_i − x_j| <= r over each
    * user's first 64 events; recurrence rate incl. the always-true
    * diagonal; determinism = fraction of strict-upper recurrent points
    * with a diagonal neighbor. Windowed theta self-join — pair rows,
    * never a materialized matrix. */
  def qRqa(spark: SparkSession, dir: String): DataFrame = {
    // cached: both self-join sides and the nPts agg consume pts — the
    // events scan + rank window otherwise run three times
    val pts = graft.core.Caches.cached(Tables.events(spark, dir)
      .select(col("user_id"), b100(col("value")).as("b"),
        row_number().over(Tables.byUserTs).as("rn"))
      .where(col("rn") <= 64))
    val a = pts.select(col("user_id"), col("rn").as("i"), col("b").as("bi"))
    val b = pts.select(col("user_id").as("u2"), col("rn").as("j"),
      col("b").as("bj"))
    // cached: the recurrence pair table feeds the neighbor semi-join
    // (both sides) and the nPairs agg — the bounded theta self-join
    // otherwise runs three times (≤ 64 rows/entity, a query constant)
    val pairs = graft.core.Caches.cached(
      a.join(b, col("user_id") === col("u2") && col("i") < col("j"))
        .where(abs(col("bi") - col("bj")) <= 2000)
        .select(col("user_id"), col("i"), col("j")))
    val p2 = pairs.select(col("user_id").as("u3"), col("i").as("i2"),
      col("j").as("j2"))
    val connected = pairs.join(p2,
      col("user_id") === col("u3") &&
        ((col("i2") === col("i") - 1 && col("j2") === col("j") - 1) ||
          (col("i2") === col("i") + 1 && col("j2") === col("j") + 1)),
      "left_semi")
    val nPts = pts.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val nPairs = pairs.groupBy(col("user_id")).agg(count(lit(1)).as("np"))
    val nConn = connected.groupBy(col("user_id")).agg(count(lit(1)).as("nc"))
    nPts.join(nPairs, Seq("user_id"), "left")
      .join(nConn, Seq("user_id"), "left")
      .select(col("user_id"), col("n"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        ((coalesce(col("np"), lit(0L)) * 2 + col("n")) /
          (col("n") * col("n")).cast("double")).as("rec_rate"),
        when(coalesce(col("np"), lit(0L)) > 0,
          coalesce(col("nc"), lit(0L)) /
            coalesce(col("np"), lit(0L)).cast("double")).as("determinism"))
      .orderBy(col("user_id"))
  }

  /** Home-stay location features (features.py:11-84): home = median
    * coordinate of night points (23:00–06:00 inclusive, wrapping
    * midnight), distance-from-home via haversine, proportion of points
    * within 100 km. */
  def qHomeStay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("lat",
        (col("event_id") * 37 % 17000).cast("double") / 100.0 - 85.0)
      .withColumn("lon",
        (col("event_id") * 73 % 36000).cast("double") / 100.0 - 180.0)
      .withColumn("hh", hour(col("ts")))
    val night = ev.where(col("hh") >= 23 || col("hh") <= 6)
      .groupBy(col("user_id"))
      .agg(percentile(col("lat"), lit(0.5)).as("home_lat"),
        percentile(col("lon"), lit(0.5)).as("home_lon"))
    val d = Geo.haversine(col("home_lat"), col("home_lon"),
      col("lat"), col("lon"))
    ev.join(night, Seq("user_id"))
      .select(col("user_id"), col("home_lat"), col("home_lon"),
        (d < 100.0).cast("int").as("near"))
      .groupBy(col("user_id"))
      .agg(first(col("home_lat")).as("home_lat"),
        first(col("home_lon")).as("home_lon"),
        (sum(col("near")) / count(lit(1)).cast("double"))
          .as("prop_home_stay"))
      .orderBy(col("user_id"))
  }

  /** All-pairs haversine (the reference's haversine_outer_product,
    * distance.py — SURVEY §2.4): pairwise distances between each user's
    * anchor coordinate (derived from the first event id, same synthetic
    * mapping as q_geo). One row per user pair — the broadcast
    * nested-loop shape: the anchor table is 1 row/entity (tiny at any
    * scale), so the small side broadcasts and the pair count is
    * entities², an analysis-tier output, not a data-scale one. */
  def qGeoPairs(spark: SparkSession, dir: String): DataFrame = {
    // cached: both pair sides read the anchor table — the events
    // min-agg otherwise runs once per side (1 row/entity, tiny)
    val anchors = graft.core.Caches.cachedCompact(Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(min(col("event_id")).as("eid"))
      .select(col("user_id"),
        ((col("eid") * 37 % 17000).cast("double") / 100.0 - 85.0).as("lat"),
        ((col("eid") * 73 % 36000).cast("double") / 100.0 - 180.0).as("lon")))
    val a = anchors.select(col("user_id").as("u1"), col("lat").as("lat1"),
      col("lon").as("lon1"))
    val b = anchors.select(col("user_id").as("u2"), col("lat").as("lat2"),
      col("lon").as("lon2"))
    broadcast(a).join(b, col("u1") < col("u2"))
      .select(col("u1"), col("u2"),
        round(Geo.haversine(col("lat1"), col("lon1"),
          col("lat2"), col("lon2")), 4).as("dist_km"))
      .orderBy(col("u1"), col("u2"))
  }

  val gate: Map[String, Gate] = Map(
    "q_geo_pairs" -> Gate(qGeoPairs,
      """WITH p AS (
        |  SELECT user_id, min(event_id) AS eid FROM events
        |  GROUP BY user_id),
        |c AS (
        |  SELECT user_id,
        |    ((eid * 37) % 17000)::DOUBLE / 100.0 - 85.0 AS lat,
        |    ((eid * 73) % 36000)::DOUBLE / 100.0 - 180.0 AS lon
        |  FROM p)
        |SELECT a.user_id AS u1, b.user_id AS u2,
        |  round(12742.018 * asin(sqrt(
        |    sin((radians(b.lat) - radians(a.lat)) / 2.0)^2
        |    + cos(radians(a.lat)) * cos(radians(b.lat))
        |      * sin((radians(b.lon) - radians(a.lon)) / 2.0)^2)), 4)
        |    AS dist_km
        |FROM c a JOIN c b ON a.user_id < b.user_id
        |ORDER BY u1, u2""".stripMargin),
    "q_mode" -> Gate(qMode,
      """WITH c AS (
        |  SELECT user_id, (round(value*100))::BIGINT AS bi, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, bi, cnt,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY cnt DESC, bi ASC) AS rk
        |  FROM c)
        |SELECT user_id, bi / 100.0 AS mode_value, cnt AS mode_count
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin),
    "q_o1fit" -> Gate(qO1fit,
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    round(value*100) * round(value*100) AS y2,
        |    abs(round(value*100) - 25000) AS y3,
        |    (row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id))::DOUBLE AS x
        |  FROM events),
        |a AS (
        |  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x*x) AS sxx,
        |    sum(b) AS sy, sum(x*b) AS sxy,
        |    sum(y2) AS sy2, sum(x*y2) AS sxy2,
        |    sum(y3) AS sy3, sum(x*y3) AS sxy3
        |  FROM v GROUP BY user_id)
        |SELECT user_id,
        |  (n*sxy - sx*sy) / (n*sxx - sx*sx) / 100 AS slope,
        |  (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n / 100
        |    AS intercept,
        |  (n*sxy2 - sx*sy2) / (n*sxx - sx*sx) AS slope_sq,
        |  (sy2 - (n*sxy2 - sx*sy2) / (n*sxx - sx*sx) * sx) / n
        |    AS intercept_sq,
        |  (n*sxy3 - sx*sy3) / (n*sxx - sx*sx) AS slope_absdev,
        |  (sy3 - (n*sxy3 - sx*sy3) / (n*sxx - sx*sx) * sx) / n
        |    AS intercept_absdev
        |FROM a ORDER BY user_id""".stripMargin),
    "q_hurst" -> Gate(qHurst,
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |lagged AS (
        |  SELECT v.user_id, v.rn, v.b, u.l
        |  FROM v, unnest(generate_series(2, 63)) AS u(l)),
        |diffs AS (
        |  SELECT lagged.user_id, lagged.l, lagged.b - v2.b AS d
        |  FROM lagged JOIN v v2 ON v2.user_id = lagged.user_id
        |    AND v2.rn = lagged.rn - lagged.l),
        |tau AS (
        |  SELECT user_id, ln(l::DOUBLE) AS lx,
        |    ln(sqrt(sqrt(sum(d*d)/count(*)
        |      - (sum(d)/count(*))*(sum(d)/count(*))))) AS ly
        |  FROM diffs GROUP BY user_id, l
        |  HAVING sum(d*d) * count(*) <> sum(d) * sum(d)),
        |fit AS (
        |  SELECT user_id, count(*) AS k, sum(lx) AS sx, sum(lx*lx) AS sxx,
        |    sum(ly) AS sy, sum(lx*ly) AS sxy
        |  FROM tau GROUP BY user_id)
        |SELECT user_id,
        |  round((k*sxy - sx*sy) / (k*sxx - sx*sx) * 2.0, 6) AS hurst
        |FROM fit ORDER BY user_id""".stripMargin),
    "q_sdann" -> Gate(qSdann,
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS t, round(value*100) AS b
        |  FROM events),
        |s AS (
        |  SELECT user_id, b,
        |    floor((t - min(t) OVER (PARTITION BY user_id)) / 86400000000)
        |      ::BIGINT AS seg
        |  FROM v),
        |segs AS (
        |  SELECT user_id, seg, sum(b)/count(*) AS m,
        |    sqrt(sum(b*b)/count(*) - (sum(b)/count(*))*(sum(b)/count(*)))
        |      AS sd
        |  FROM s GROUP BY user_id, seg)
        |SELECT user_id,
        |  round(sqrt(greatest(avg(m*m) - avg(m)*avg(m), 0.0)) / 100, 6) AS sdann,
        |  round(avg(sd) / 100, 6) AS sdnni,
        |  count(*) AS n_segments
        |FROM segs GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q_timedom" -> Gate(qTimedom,
      """WITH v AS (
        |  SELECT user_id, ts, event_id, round(value*100) AS b,
        |    CASE WHEN abs(round(value*100) - 25000) <= 10000 THEN 0.0
        |      ELSE round(value*100) - 25000 END AS xc
        |  FROM events),
        |g1t AS (
        |  SELECT user_id, ts, event_id, b, xc,
        |    CASE
        |      WHEN lag(b) OVER o IS NULL AND lead(b) OVER o IS NULL THEN 0.0
        |      WHEN lag(b) OVER o IS NULL THEN (lead(b) OVER o - b) * 2
        |      WHEN lead(b) OVER o IS NULL THEN (b - lag(b) OVER o) * 2
        |      ELSE lead(b) OVER o - lag(b) OVER o END AS g1
        |  FROM v WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g2t AS (
        |  SELECT user_id, b, xc, g1,
        |    CASE
        |      WHEN lag(g1) OVER o IS NULL AND lead(g1) OVER o IS NULL THEN 0.0
        |      WHEN lag(g1) OVER o IS NULL THEN (lead(g1) OVER o - g1) * 2
        |      WHEN lead(g1) OVER o IS NULL THEN (g1 - lag(g1) OVER o) * 2
        |      ELSE lead(g1) OVER o - lag(g1) OVER o END AS g2,
        |    CASE WHEN lag(xc > 0) OVER o IS NULL THEN 0
        |      WHEN (xc > 0) <> lag(xc > 0) OVER o THEN 1 ELSE 0 END AS flip,
        |    abs(b - lag(b) OVER o) AS ad
        |  FROM g1t WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (
        |  SELECT user_id, count(*) AS n, sum(flip) AS zc, sum(ad) AS ll,
        |    sum(b) AS s1, sum(b*b) AS s2,
        |    sum(g1) AS t1, sum(g1*g1) AS t2,
        |    sum(g2) AS u1, sum(g2*g2) AS u2
        |  FROM g2t GROUP BY user_id)
        |SELECT user_id, zc::BIGINT AS zero_crossings, ll/100 AS line_length,
        |  (s2/n - (s1/n)*(s1/n))/10000 AS hjorth_activity,
        |  sqrt(((t2/n - (t1/n)*(t1/n))/4) / (s2/n - (s1/n)*(s1/n)))
        |    AS hjorth_mobility,
        |  sqrt(((u2/n - (u1/n)*(u1/n))/16) / ((t2/n - (t1/n)*(t1/n))/4))
        |    / sqrt(((t2/n - (t1/n)*(t1/n))/4) / (s2/n - (s1/n)*(s1/n)))
        |    AS hjorth_complexity
        |FROM a ORDER BY user_id""".stripMargin),
    "q_rqa" -> Gate(qRqa,
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |pts AS (SELECT * FROM v WHERE rn <= 64),
        |pairs AS (
        |  SELECT a.user_id, a.rn AS i, bb.rn AS j
        |  FROM pts a JOIN pts bb ON a.user_id = bb.user_id AND a.rn < bb.rn
        |  WHERE abs(a.b - bb.b) <= 2000),
        |conn AS (
        |  SELECT DISTINCT p.user_id, p.i, p.j
        |  FROM pairs p JOIN pairs p2 ON p.user_id = p2.user_id
        |    AND ((p2.i = p.i - 1 AND p2.j = p.j - 1)
        |      OR (p2.i = p.i + 1 AND p2.j = p.j + 1))),
        |npts AS (SELECT user_id, count(*) AS n FROM pts GROUP BY user_id),
        |np AS (SELECT user_id, count(*) AS np FROM pairs GROUP BY user_id),
        |nc AS (SELECT user_id, count(*) AS nc FROM conn GROUP BY user_id)
        |SELECT npts.user_id, n,
        |  coalesce(np.np, 0) AS n_pairs,
        |  (coalesce(np.np, 0) * 2 + n) / (n * n)::DOUBLE AS rec_rate,
        |  CASE WHEN coalesce(np.np, 0) > 0 THEN
        |    coalesce(nc.nc, 0) / coalesce(np.np, 0)::DOUBLE END AS determinism
        |FROM npts
        |LEFT JOIN np ON np.user_id = npts.user_id
        |LEFT JOIN nc ON nc.user_id = npts.user_id
        |ORDER BY npts.user_id""".stripMargin),
    "q_home_stay" -> Gate(qHomeStay,
      """WITH p AS (
        |  SELECT user_id, ts,
        |    ((event_id * 37) % 17000)::DOUBLE / 100.0 - 85.0 AS lat,
        |    ((event_id * 73) % 36000)::DOUBLE / 100.0 - 180.0 AS lon,
        |    hour(ts) AS hh
        |  FROM events),
        |night AS (
        |  SELECT user_id, quantile_cont(lat, 0.5) AS home_lat,
        |    quantile_cont(lon, 0.5) AS home_lon
        |  FROM p WHERE hh >= 23 OR hh <= 6 GROUP BY user_id),
        |d AS (
        |  SELECT p.user_id, night.home_lat, night.home_lon,
        |    CASE WHEN 12742.018 * asin(sqrt(
        |      sin((radians(p.lat) - radians(night.home_lat)) / 2.0)^2
        |      + cos(radians(night.home_lat)) * cos(radians(p.lat))
        |        * sin((radians(p.lon) - radians(night.home_lon)) / 2.0)^2))
        |      < 100.0 THEN 1 ELSE 0 END AS near
        |  FROM p JOIN night ON night.user_id = p.user_id)
        |SELECT user_id, min(home_lat) AS home_lat, min(home_lon) AS home_lon,
        |  sum(near) / count(*)::DOUBLE AS prop_home_stay
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
