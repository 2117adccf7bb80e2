package graft.queries

import graft.Harness.Gate
import graft.api.MHealth
import graft.core.Tables
import graft.functions.{Accel, Stats}
import graft.signal.Butterworth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Accelerometer + location-distribution operator queries (reference:
  * pymhealth src/mhealth/inertial/accelerometer.py,
  * src/mhealth/location/distribution.py — SURVEY.md §2.2/2.3).
  * Tri-axial signals and coordinates are derived deterministically from
  * `events` integer columns, so both engines compute identical inputs.
  * HDBSCAN clustering is substituted per SURVEY.md §7.6: a deterministic
  * 5°-grid label feeds the downstream cluster features (count, totals,
  * entropy — reference semantics), and grid-DBSCAN (q_location_dbscan,
  * [[graft.operators.GridDbscan]]) provides the density-based
  * core/border/noise labeling itself.
  */
object InertialQueries {

  /** roll / pitch / row magnitude + per-user magnitude_dot. */
  def qAccel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_id"),
      ((col("event_id") * 31 % 2001) / 1000.0 - 1.0).as("ax"),
      ((col("event_id") * 57 % 2001) / 1000.0 - 1.0).as("ay"),
      ((col("event_id") * 89 % 2001) / 1000.0 - 1.0).as("az"))
    // + 0.0 normalizes IEEE negative zero: Spark round() drops the sign
    // (BigDecimal) but DuckDB keeps it, and atan2(-0.0, y) IS -0.0 when
    // ax == 0 — the strings "0.0" vs "-0.0" would hash-mismatch
    val perRow = ev.select(col("user_id"), col("event_id"),
      (round(Accel.roll(col("ay"), col("az")), 6) + 0.0).as("roll"),
      (round(Accel.pitch(col("ax"), col("ay"), col("az")), 6) + 0.0)
        .as("pitch"),
      round(Accel.magnitude(col("ax"), col("ay"), col("az")), 6)
        .as("magnitude"))
      .where(col("event_id") % 7 === 0)
    val perUser = ev.groupBy(col("user_id")).agg(
      round(Accel.magnitudeDot(col("ax"), col("ay"), col("az")), 6)
        .as("magnitude_dot"))
    perRow.join(perUser, Seq("user_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** location_variance + grid-cluster features: num_clusters,
    * cluster entropy (epsilon-inside form), normalized entropy. */
  def qLocationClusters(spark: SparkSession, dir: String): DataFrame = {
    // integer-lattice coordinates (lat = li/100 − 85): variance is
    // computed on EXACT integer sums so both engines agree bitwise
    // (float var_pop summation order differs between engines)
    val pts = Tables.events(spark, dir).select(
      col("user_id"),
      (col("event_id") * 37 % 17000).as("li"),
      (col("event_id") * 73 % 36000).as("lo"))
      .withColumn("cl",
        floor((col("li") / 100.0 - 85.0) / 5) * 100 +
          floor((col("lo") / 100.0 - 180.0) / 5))
    val n = count(lit(1))
    def varInt(c: org.apache.spark.sql.Column) =
      (sum(c * c) / n - (sum(c) / n) * (sum(c) / n)) / 10000.0
    val locVar = pts.groupBy(col("user_id")).agg(
      round(varInt(col("li")) + varInt(col("lo")), 6)
        .as("location_variance"),
      count(lit(1)).as("n_points"))
    val counts = pts.groupBy(col("user_id"), col("cl"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("user_id")).agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("n_clusters"))
    val ent = counts.join(totals, Seq("user_id"))
      .select(col("user_id"), col("n_clusters"),
        Stats.entropyTerm(col("cnt").cast("double"),
          col("total").cast("double")).as("term"))
      .groupBy(col("user_id"), col("n_clusters"))
      .agg(round(sum(col("term")), 6).as("cluster_entropy"),
        round(sum(col("term")) /
          log(col("n_clusters").cast("double")), 6)
          .as("norm_cluster_entropy"))
    locVar.join(ent, Seq("user_id"))
      .select(col("user_id"), col("location_variance"), col("n_points"),
        col("n_clusters"), col("cluster_entropy"),
        col("norm_cluster_entropy"))
      .orderBy(col("user_id"))
  }

  /** The tri-axial series per user at row-number positions: (uid, rn,
    * x, y, z), the deterministic axis values of [[qAccel]]. */
  private def axes(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(Tables.byUserTs).cast("long"))
      .select(col("user_id").cast("string").as("uid"), col("rn"),
        ((col("event_id") * 31 % 2001) / 1000.0 - 1.0).as("x"),
        ((col("event_id") * 57 % 2001) / 1000.0 - 1.0).as("y"),
        ((col("event_id") * 89 % 2001) / 1000.0 - 1.0).as("z"))
  }

  /** The per-(user, axis) filter output in the oracle's shape. */
  private def axisOut(filtered: DataFrame, outCol: String): DataFrame =
    filtered.select(col("uid").as("entity_id"), col("axis"),
      // + 0.0 after round: filtered values cross zero, and a y in
      // (−5e-7, 0) rounds to "−0.0" in DuckDB but "0.0" in Spark
      col("rn").as("t"), (round(col("filtered"), 6) + 0.0).as(outCol))
      .orderBy(col("entity_id"), col("axis"), col("t"))

  /** linear_filter (accelerometer.py:77-124): per-axis HIGHPASS
    * filtfilt, default cutoff 0.5 Hz, order 5, at fs = 128 — the
    * non-gravitational component — through
    * [[graft.api.MHealth.AccelApi.linearFilter]]. Hash-checked against
    * the recursive-CTE filtfilt replay over the same stacked series
    * (bit-exact). */
  def qLinearFilter(spark: SparkSession, dir: String): DataFrame =
    axisOut(MHealth.AccelApi.linearFilter(axes(spark, dir), "uid", "rn",
      Seq("x", "y", "z"), freq = 128, spark = spark), "linear")

  /** gravity_filter (accelerometer.py:142-185): per-axis LOWPASS
    * filtfilt, cutoff 0.5 Hz, order 5 — the gravitational component. */
  def qGravityFilter(spark: SparkSession, dir: String): DataFrame =
    axisOut(MHealth.AccelApi.gravityFilter(axes(spark, dir), "uid", "rn",
      Seq("x", "y", "z"), freq = 128, spark = spark), "gravity")

  /** Rounds of min-label propagation for grid-DBSCAN — the mirrored
    * constant in the unrolled DuckDB oracle. Both engines compute the
    * identical fixed-round function, so the gate is exact regardless of
    * convergence; GridDbscanSpec asserts the rounds suffice (labels at
    * R == labels at R+1) on the test corpora. */
  private val DbscanRounds = 8

  /** Deterministic clustered coordinates: 60% of events at a per-user
    * HOME blob (1.2° spread), 20% at a WORK blob, 20% uniform scatter —
    * all integer-lattice arithmetic (li/100-85 = lat), so DuckDB
    * replays the exact coordinates. Yields genuine density structure:
    * home cells are dense (core), work cells are borderline
    * (core/border mix), scatter is noise. */
  private def dbscanPoints(spark: SparkSession, dir: String): DataFrame = {
    val m = col("event_id") % 10
    val li = when(m < 6,
      lit(8000) + col("user_id") * 97 % 1000 + col("event_id") * 13 % 120)
      .when(m < 8,
        lit(3000) + col("user_id") * 53 % 1000 + col("event_id") * 17 % 120)
      .otherwise(col("event_id") * 37 % 17000)
    val lo = when(m < 6,
      lit(20000) + col("user_id") * 61 % 1000 + col("event_id") * 19 % 120)
      .when(m < 8,
        lit(30000) + col("user_id") * 41 % 1000 + col("event_id") * 23 % 120)
      .otherwise(col("event_id") * 73 % 36000)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), li.as("li"), lo.as("lo"))
      .withColumn("cx", expr("li DIV 100") - 85) // 1° cells, lat axis
      .withColumn("cy", expr("lo DIV 100") - 180)
  }

  /** Density-based `cluster_locations` (distribution.py:42-61): grid-
    * DBSCAN per user over 1° cells with the reference's default
    * min_samples = 1 + n/20 — the deterministic, partitionable
    * replacement for HDBSCAN (see [[graft.operators.GridDbscan]]).
    * Output: one row per point with its cluster label (min cell code of
    * the component; -1 = noise) and core flag. */
  def qLocationDbscan(spark: SparkSession, dir: String): DataFrame =
    graft.operators.GridDbscan
      .label(dbscanPoints(spark, dir), "user_id", rounds = DbscanRounds)
      .select(col("user_id"), col("event_id"), col("cluster"),
        col("is_core"))
      .orderBy(col("user_id"), col("event_id"))

  /** The stacked tri-axial series as the filtfilt chain's sig contract:
    * (user:axis) entities, 0-based position i, deterministic axis values
    * — identical expressions to [[axes]]. */
  private def axisSig: String =
    """sig AS (
      |  SELECT e.user_id::VARCHAR || ':' || ax.axis AS user_id,
      |    row_number() OVER (PARTITION BY e.user_id, ax.axis
      |      ORDER BY e.ts, e.event_id) - 1 AS i,
      |    CASE ax.axis
      |      WHEN 'x' THEN ((e.event_id * 31) % 2001) / 1000.0 - 1.0
      |      WHEN 'y' THEN ((e.event_id * 57) % 2001) / 1000.0 - 1.0
      |      ELSE ((e.event_id * 89) % 2001) / 1000.0 - 1.0 END AS x,
      |    count(*) OVER (PARTITION BY e.user_id, ax.axis) AS n
      |  FROM events e, (SELECT unnest(['x','y','z']) AS axis) ax)"""
      .stripMargin

  private def axisFilterOracle(c: Butterworth.Coeffs,
                               outCol: String): String =
    SqlGen.filtfiltChain(c, axisSig) + s"""
      |SELECT split_part(user_id, ':', 1) AS entity_id,
      |  split_part(user_id, ':', 2) AS axis,
      |  idx0 + 1 AS t, round(y, 6) + 0.0 AS $outCol
      |FROM ff ORDER BY entity_id, axis, t""".stripMargin

  /** q_location_dbscan oracle: the identical fixed-round min-label
    * propagation, unrolled as [[DbscanRounds]] chained CTEs (the 8-
    * neighborhood as a BETWEEN join — same neighbor set as the engine's
    * offset explode). */
  private def dbscanOracle: String = {
    val rounds = (1 to DbscanRounds).map { r =>
      s"""l$r AS (
        |  SELECT t.user_id, t.cx, t.cy, min(s.label) AS label
        |  FROM core t JOIN l${r - 1} s ON s.user_id = t.user_id
        |    AND s.cx BETWEEN t.cx - 1 AND t.cx + 1
        |    AND s.cy BETWEEN t.cy - 1 AND t.cy + 1
        |  GROUP BY t.user_id, t.cx, t.cy)""".stripMargin
    }.mkString(",\n")
    val last = s"l$DbscanRounds"
    s"""WITH pts AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_id % 10 < 6
      |           THEN 8000 + (user_id * 97) % 1000 + (event_id * 13) % 120
      |         WHEN event_id % 10 < 8
      |           THEN 3000 + (user_id * 53) % 1000 + (event_id * 17) % 120
      |         ELSE (event_id * 37) % 17000 END AS li,
      |    CASE WHEN event_id % 10 < 6
      |           THEN 20000 + (user_id * 61) % 1000 + (event_id * 19) % 120
      |         WHEN event_id % 10 < 8
      |           THEN 30000 + (user_id * 41) % 1000 + (event_id * 23) % 120
      |         ELSE (event_id * 73) % 36000 END AS lo
      |  FROM events),
      |cells0 AS (
      |  SELECT user_id, event_id, li // 100 - 85 AS cx, lo // 100 - 180 AS cy
      |  FROM pts),
      |cells AS (
      |  SELECT user_id, cx, cy, count(*) AS cnt FROM cells0 GROUP BY 1, 2, 3),
      |tot AS (SELECT user_id, count(*) AS n FROM cells0 GROUP BY 1),
      |core AS (
      |  SELECT c.user_id, c.cx, c.cy,
      |    ((c.cx + 1000000) * 2000000 + (c.cy + 1000000))::BIGINT AS label
      |  FROM cells c JOIN tot t ON t.user_id = c.user_id
      |  WHERE c.cnt >= 1 + t.n // 20),
      |l0 AS (SELECT * FROM core),
      |$rounds,
      |nbmin AS (
      |  SELECT l.user_id, l.cx + d.dx AS cx, l.cy + d.dy AS cy,
      |    min(l.label) AS ml
      |  FROM $last l CROSS JOIN (
      |    SELECT a.dx, b.dy FROM (SELECT unnest([-1, 0, 1]) AS dx) a
      |    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) b) d
      |  GROUP BY 1, 2, 3),
      |noncore AS (
      |  SELECT cc.user_id, cc.cx, cc.cy FROM cells cc
      |  ANTI JOIN core k ON k.user_id = cc.user_id AND k.cx = cc.cx
      |    AND k.cy = cc.cy),
      |cl AS (
      |  SELECT user_id, cx, cy, label, true AS is_core FROM $last
      |  UNION ALL
      |  SELECT c.user_id, c.cx, c.cy,
      |    coalesce(nb.ml, (-1)::BIGINT) AS label, false AS is_core
      |  FROM noncore c LEFT JOIN nbmin nb ON nb.user_id = c.user_id
      |    AND nb.cx = c.cx AND nb.cy = c.cy)
      |SELECT p.user_id, p.event_id, cl.label AS cluster, cl.is_core
      |FROM cells0 p JOIN cl ON cl.user_id = p.user_id AND cl.cx = p.cx
      |  AND cl.cy = p.cy
      |ORDER BY p.user_id, p.event_id""".stripMargin
  }

  val gate: Map[String, Gate] = Map(
    "q_location_dbscan" -> Gate(qLocationDbscan, dbscanOracle),
    "q_linear_filter" -> Gate(qLinearFilter, axisFilterOracle(
      Butterworth.design(5, Seq(0.5 / 64), Butterworth.Highpass), "linear")),
    "q_gravity_filter" -> Gate(qGravityFilter, axisFilterOracle(
      Butterworth.design(5, Seq(0.5 / 64), Butterworth.Lowpass), "gravity")),
    "q_accel" -> Gate(qAccel,
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |    ((event_id * 31) % 2001) / 1000.0 - 1.0 AS ax,
        |    ((event_id * 57) % 2001) / 1000.0 - 1.0 AS ay,
        |    ((event_id * 89) % 2001) / 1000.0 - 1.0 AS az
        |  FROM events),
        |pu AS (
        |  SELECT user_id,
        |    round(sqrt(sum(ax*ax) + sum(ay*ay) + sum(az*az)), 6)
        |      AS magnitude_dot
        |  FROM ev GROUP BY user_id)
        |SELECT ev.user_id, event_id,
        |  round(atan2(ay, az) * 180 / pi(), 6) + 0.0 AS roll,
        |  round(atan2(-ax, sqrt(ay*ay + az*az)) * 180 / pi(), 6) + 0.0
        |    AS pitch,
        |  round(sqrt(ax*ax + ay*ay + az*az), 6) AS magnitude,
        |  pu.magnitude_dot
        |FROM ev JOIN pu ON pu.user_id = ev.user_id
        |WHERE event_id % 7 = 0
        |ORDER BY ev.user_id, event_id""".stripMargin),
    "q_location_clusters" -> Gate(qLocationClusters,
      """WITH p AS (
        |  SELECT user_id,
        |    (event_id * 37) % 17000 AS li,
        |    (event_id * 73) % 36000 AS lo
        |  FROM events),
        |pc AS (
        |  SELECT user_id, li, lo,
        |    floor((li / 100.0 - 85.0) / 5) * 100
        |      + floor((lo / 100.0 - 180.0) / 5) AS cl
        |  FROM p),
        |lv AS (
        |  SELECT user_id,
        |    round(((sum(li*li)/count(*)
        |        - (sum(li)/count(*))*(sum(li)/count(*))) / 10000.0)
        |      + ((sum(lo*lo)/count(*)
        |        - (sum(lo)/count(*))*(sum(lo)/count(*))) / 10000.0), 6)
        |      AS location_variance,
        |    count(*) AS n_points
        |  FROM pc GROUP BY user_id),
        |c AS (
        |  SELECT user_id, cl, count(*) AS cnt
        |  FROM pc GROUP BY user_id, cl),
        |t AS (
        |  SELECT user_id, sum(cnt) AS total, count(*) AS n_clusters
        |  FROM c GROUP BY user_id),
        |e AS (
        |  SELECT c.user_id, t.n_clusters,
        |    round(sum(-(c.cnt::DOUBLE / t.total + 1e-30)
        |      * ln(c.cnt::DOUBLE / t.total + 1e-30)), 6) AS cluster_entropy,
        |    round(sum(-(c.cnt::DOUBLE / t.total + 1e-30)
        |      * ln(c.cnt::DOUBLE / t.total + 1e-30))
        |      / ln(t.n_clusters::DOUBLE), 6) AS norm_cluster_entropy
        |  FROM c JOIN t ON t.user_id = c.user_id
        |  GROUP BY c.user_id, t.n_clusters)
        |SELECT lv.user_id, location_variance, n_points, e.n_clusters,
        |  cluster_entropy, norm_cluster_entropy
        |FROM lv JOIN e ON e.user_id = lv.user_id
        |ORDER BY lv.user_id""".stripMargin)
  )
}
