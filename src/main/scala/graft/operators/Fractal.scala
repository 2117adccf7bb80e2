package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Long-memory / fractal estimators (reference: pymhealth
  * src/mhealth/generic/timedom.py:238-299 — SURVEY.md §2.3).
  *
  * hurst: tau(l) = sqrt(stddev_pop(x[l:] − x[:−l])) for each lag l, then
  * H = 2 · OLS-slope of ln(tau) on ln(l) (the reference's o1fit,
  * timedom.py:262-279, as closed-form normal equations).
  *
  * Physical plan: ONE bounded window frame collects each point's
  * previous `maxLagExclusive − 1` values; one per-row transform builds
  * every lag difference the point has (d_l = v − p[size − l + 1] replays
  * lag(v, l), so no nulls); the posexploded diffs reduce map-side to
  * per-(entity, lag) moments, and the fit is a second tiny aggregate.
  * The points shuffle once, on the entity. Shapes measured for q_hurst
  * at sf0.1 when it was written: an (entity, rn − l) self-join 2.3 s
  * and 62× the shuffle volume; 62 lag frames in WindowExec 3.1 s; a
  * 62-wide struct-array projection 4.6 s (codegen fallback); this
  * shape 1.4 s.
  */
object Fractal {

  /** Hurst exponent per entity. Lags l in [minLag, maxLagExclusive) —
    * reference default arange(2, 64); `tieCols` break ties in
    * `orderCol`. A lag whose differences have zero variance (s2·n = s1²)
    * is dropped: the reference's ln(0) = −inf has no finite fit (Spark's
    * log would return NULL, and the fit would count the lag without
    * summing it). */
  def hurst(points: DataFrame, entityCol: String, orderCol: String,
            valueCol: String, minLag: Int = 2, maxLagExclusive: Int = 64,
            tieCols: Seq[String] = Nil): DataFrame = {
    require(1 <= minLag && minLag < maxLagExclusive, "no lags to fit")
    val maxLag = maxLagExclusive - 1
    val w = Window.partitionBy(col(entityCol))
      .orderBy((orderCol +: tieCols).map(col): _*)
    val p = col("__p")
    val dArr = when(size(p) >= minLag,
      transform(sequence(lit(minLag), least(lit(maxLag), size(p))), l =>
        col("__v") - element_at(p, size(p) - l + 1)))
      .otherwise(array().cast("array<double>"))
    val tau = points
      .select((entityCol +: orderCol +: tieCols).map(col) :+
        col(valueCol).cast("double").as("__v"): _*)
      .select(col(entityCol), col("__v"),
        collect_list(col("__v")).over(w.rowsBetween(-maxLag, -1)).as("__p"))
      .select(col(entityCol), posexplode(dArr).as(Seq("__pos", "__d")))
      .groupBy(col(entityCol), (col("__pos") + minLag).as("__l"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__d")).as("__s1"), sum(col("__d") * col("__d")).as("__s2"))
      .where(col("__s2") * col("__n") =!= col("__s1") * col("__s1"))
      .select(col(entityCol), log(col("__l").cast("double")).as("__lx"),
        log(sqrt(sqrt(col("__s2") / col("__n") -
          (col("__s1") / col("__n")) * (col("__s1") / col("__n"))))).as("__ly"))
    tau.groupBy(col(entityCol)).agg(
      count(lit(1)).as("__k"), sum(col("__lx")).as("__sx"),
      sum(col("__lx") * col("__lx")).as("__sxx"),
      sum(col("__ly")).as("__sy"),
      sum(col("__lx") * col("__ly")).as("__sxy"))
      .select(col(entityCol),
        ((col("__k") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__k") * col("__sxx") - col("__sx") * col("__sx")) * 2.0)
          .as("hurst"))
  }
}
