package graft

import graft.core.TokenGen
import graft.functions.TimeDomain
import graft.operators.Fractal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-domain features vs numpy goldens (fixtures/timedom.json; reference
  * pymhealth src/mhealth/generic/timedom.py, heart/qrs.py, heart/ppg.py). */
class TimeDomSpec extends SparkSpec {

  private val fx = fixture("timedom")
  private lazy val values =
    TokenGen.makeDoc(1, skewed = false).tokens.take(256).map(_.toDouble).toSeq
  private lazy val df = valuesDf(values)
  private val v = col("value")
  private def w = Window.partitionBy(col("entity_id")).orderBy(col("ts"))

  private def collectOrdered(c: org.apache.spark.sql.Column): IndexedSeq[Double] =
    df.select(col("ts"), c.as("out")).orderBy(col("ts"))
      .collect().map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
      .toIndexedSeq

  test("gradient: central difference with one-sided edges") {
    val g = collectOrdered(TimeDomain.gradient(v, w))
    assertAllClose(g.take(8), darr(fx.get("gradient_head")), "head")
    assertAllClose(g.takeRight(3), darr(fx.get("gradient_tail")), "tail")
    assertClose(g.sum, fx.get("gradient_sum").asDouble(), "sum")
  }

  test("zero crossings with clamp threshold") {
    val mean = scalar(df.agg(avg(v)))
    val xc = v - lit(mean)
    def count(th: Double): Long =
      df.select(TimeDomain.zeroCrossing(xc, th, w).cast("long").as("z"))
        .agg(sum(col("z"))).collect()(0).getLong(0)
    assert(count(0.0) == fx.get("zero_cross_count").asLong(), "th=0")
    assert(count(100.0) == fx.get("zero_cross_count_th100").asLong(),
      "th=100")
  }

  test("line length = sum |diff|") {
    val ll = scalar(df.select(TimeDomain.absDiff(v, w).as("d"))
      .agg(sum(col("d"))))
    assertClose(ll, fx.get("line_length").asDouble(), "line_length")
  }

  test("Hjorth activity / mobility / complexity") {
    val g1 = df.withColumn("g1", TimeDomain.gradient(v, w))
    val g2 = g1.withColumn("g2", TimeDomain.gradient(col("g1"), w))
    val row = g2.agg(
      TimeDomain.hjorthActivity(v),
      TimeDomain.hjorthMobility(v, col("g1")),
      TimeDomain.hjorthComplexity(v, col("g1"), col("g2"))).collect()(0)
    assertClose(row.getDouble(0), fx.get("hjorth_activity").asDouble(), "act")
    assertClose(row.getDouble(1), fx.get("hjorth_mobility").asDouble(), "mob")
    assertClose(row.getDouble(2), fx.get("hjorth_complexity").asDouble(),
      "comp")
  }

  test("hurst exponent, lags 2..63 (timedom.py:238-259)") {
    val h = scalar(Fractal.hurst(df, "entity_id", "ts", "value")
      .select(col("hurst")))
    // log/sqrt chains over 62 lag regressions: allow 1e-7 relative.
    assertClose(h, fx.get("hurst").asDouble(), "hurst", rtol = 1e-7)
  }

  test("hurst drops lags whose differences have zero variance") {
    // period 6: the differences at lags 6, 12, ..., 60 are all zero
    val xs = (1 to 200).map(i => (i % 2) * 10.0 + i % 3)
    val pts = (2 until 64).flatMap { l =>
      val d = xs.drop(l).zip(xs).map { case (a, b) => a - b }
      val m = d.sum / d.length
      val v = d.map(x => (x - m) * (x - m)).sum / d.length
      if (v == 0) None
      else Some((math.log(l.toDouble), math.log(math.sqrt(math.sqrt(v)))))
    }
    assert(pts.length == 52)
    val k = pts.length
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val exp = 2 * (k * sxy - sx * sy) / (k * sxx - sx * sx)
    assert(math.abs(exp - 0.0712) < 5e-4, s"brute-force fit $exp")
    val h = scalar(Fractal.hurst(valuesDf(xs), "entity_id", "ts", "value")
      .select(col("hurst")))
    assertClose(h, exp, "hurst")
  }

  test("o1fit: OLS line via regr_intercept/regr_slope built-ins") {
    val xy = df.select(col("ts").cast("double").as("x"), v.as("y"))
    val row = xy.agg(regr_intercept(col("y"), col("x")),
      regr_slope(col("y"), col("x"))).collect()(0)
    assertClose(row.getDouble(0), fx.get("o1fit_A").asDouble(), "A",
      rtol = 1e-7)
    assertClose(row.getDouble(1), fx.get("o1fit_b").asDouble(), "b",
      rtol = 1e-7)
  }

  test("moving average w=5 and w=4: centered, zero-padded edges") {
    for ((wsz, pre) <- Seq(5 -> "ma5", 4 -> "ma4")) {
      val ma = collectOrdered(TimeDomain.movingAverage(v, wsz, w))
      assertAllClose(ma.take(8), darr(fx.get(s"${pre}_head")), s"$pre head")
      assertAllClose(ma.takeRight(3), darr(fx.get(s"${pre}_tail")),
        s"$pre tail")
      assertClose(ma.sum, fx.get(s"${pre}_sum").asDouble(), s"$pre sum")
    }
  }

  test("slope_sum w=8 telescopes to x[i]−x[i−8] (ppg.py:28-42)") {
    val rn = row_number().over(w)
    val n = count(lit(1)).over(Window.partitionBy(col("entity_id")))
    val ss = collectOrdered(TimeDomain.slopeSum(v, 8, rn, n, w))
    assertAllClose(ss.take(12), darr(fx.get("ss8_head")), "head")
    assertAllClose(ss.takeRight(3), darr(fx.get("ss8_tail")), "tail")
    assertClose(ss.sum, fx.get("ss8_sum").asDouble(), "sum")
  }

  test("pt_differentiate: truncated kernel == x/8 (qrs.py:12-16)") {
    val pd = collectOrdered(TimeDomain.ptDifferentiate(v))
    assertAllClose(pd.take(8), darr(fx.get("pt_diff_head")), "head")
  }

  test("find_peaks: strict local maxima count (qrs.py:200-212)") {
    val n = df.select(TimeDomain.isPeak(v, w).cast("long").as("p"))
      .agg(sum(col("p"))).collect()(0).getLong(0)
    assert(n == fx.get("n_peaks").asLong())
  }
}
