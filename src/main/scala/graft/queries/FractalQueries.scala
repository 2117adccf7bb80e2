package graft.queries

import graft.Harness.Gate
import graft.core.Tables
import graft.operators.Dfa
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Detrended fluctuation analysis as a driver-gate query (reference:
  * pymhealth src/mhealth/generic/timedom.py:196-235). Overlap 0 ⇒ step
  * = size ⇒ each profile row belongs to exactly one window per size, so
  * the DuckDB oracle expresses the identical plan with no explode.
  * Integer-exact profile: b = round(value·100), mean as rational of
  * integer sums, cumulative sum evaluated in ts order on both engines.
  */
object FractalQueries {

  private val Sizes = Seq(4, 8, 16, 32)

  def qDfa(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir)
      .withColumn("b", Tables.b100(col("value")))
      .withColumn("i", (row_number().over(Tables.byUserTs) - 1).cast("long"))
      .select(col("user_id").as("entity_id"), col("i").as("pos"),
        col("b"))
    Dfa.exponent(pts, "entity_id", "pos", "b", Sizes)
      .select(col("entity_id").as("user_id"),
        round(col("dfa_exponent"), 6).as("dfa_exponent"),
        col("n_window_sizes"))
      .orderBy(col("user_id"))
  }

  val gate: Map[String, Gate] = Map(
    "q_dfa" -> Gate(qDfa, {
      // NB: DuckDB `/` on integers is FLOAT division and ::BIGINT casts
      // ROUND — `//` is the floor division the window index needs.
      val branches = Sizes.map { w =>
        s"""SELECT user_id, $w AS w, i // $w AS k,
          |    (i % $w)::DOUBLE AS x, p AS y
          |  FROM prof WHERE i // $w <= (n - $w) // $w"""
          .stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER ww - 1 AS i,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(round(value*100)) OVER (PARTITION BY user_id) AS s
        |  FROM events
        |  WINDOW ww AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |prof AS (
        |  SELECT user_id, i, n,
        |    sum(b - s / n) OVER (PARTITION BY user_id ORDER BY i
        |      ROWS UNBOUNDED PRECEDING) AS p
        |  FROM v),
        |wk AS (
        |  $branches),
        |g AS (
        |  SELECT user_id, w, k, count(*) AS m,
        |    sum(x) AS sx, sum(x*x) AS sxx,
        |    sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM wk GROUP BY user_id, w, k),
        |rms AS (
        |  SELECT user_id, w,
        |    sqrt(greatest((syy - sy*sy/m)
        |      - (sxy - sx*sy/m)*(sxy - sx*sy/m)/(sxx - sx*sx/m), 0.0)
        |      / w) AS r
        |  FROM g),
        |fw AS (
        |  SELECT user_id, w, avg(r) AS f FROM rms GROUP BY user_id, w)
        |SELECT user_id,
        |  round(regr_slope(ln(f), ln(w::DOUBLE)), 6) AS dfa_exponent,
        |  count(*) AS n_window_sizes
        |FROM fw GROUP BY user_id ORDER BY user_id""".stripMargin
    })
  )
}
