package graft

import graft.api.MHealth
import graft.signal.{Butterworth, Qrs, Quality}
import org.apache.spark.sql.functions._

/** The migration facade (api.MHealth) vs the kernels it wraps: the
  * DataFrame surface must reproduce the array semantics per entity. */
class ApiSpec extends SparkSpec {

  import spark.implicits._

  private lazy val series: Seq[(String, Long, Double)] = {
    val a = graft.core.TokenGen.makeDoc(3, skewed = false)
      .tokens.take(400).map(_.toDouble)
    val b = graft.core.TokenGen.makeDoc(5, skewed = false)
      .tokens.take(300).map(_.toDouble)
    a.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) } ++
      b.zipWithIndex.map { case (v, i) => ("b", i.toLong, v) }
  }

  test("Filters.butterworth == per-entity filtfilt kernel") {
    implicit val s = spark
    val df = series.toDF("entity_id", "ts", "value")
    val got = MHealth.Filters.butterworth(df, "entity_id", "ts", "value",
      freq = 128, cutoff = Seq(3, 25), Butterworth.Bandpass)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val c = Butterworth.design(5, Seq(3.0 / 64, 25.0 / 64),
      Butterworth.Bandpass)
    Seq("a", "b").foreach { e =>
      val vs = series.filter(_._1 == e).sortBy(_._2).map(_._3).toArray
      val exp = Butterworth.filtfilt(c, vs)
      assert(vs.length >= 100, s"fixture too short for $e")
      exp.indices.foreach { i =>
        assert(got((e, i.toLong)) == exp(i), s"$e@$i not bit-equal")
      }
    }
  }

  test("QrsApi.rpeaksHamiltonTompkins == array kernel, per entity") {
    val df = series.toDF("entity_id", "ts", "value")
    val got = MHealth.QrsApi.rpeaksHamiltonTompkins(
      df, "entity_id", "ts", "value", fs = 128)
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted.toSeq).toMap
    Seq("a", "b").foreach { e =>
      val vs = series.filter(_._1 == e).sortBy(_._2).map(_._3).toArray
      val exp = Qrs.rpeaksHamiltonTompkins(vs, 128.0).map(_.toLong).toSeq
      assert(got.getOrElse(e, Nil) == exp, s"peaks differ for $e")
    }
  }

  test("QualityApi.beatCorrelation: no rows for an entity the kernel " +
    "cannot take, the kernel's output for the rest") {
    val short = graft.core.TokenGen.makeDoc(7, skewed = false)
      .tokens.take(40).map(_.toDouble)
    val long = graft.core.TokenGen.makeDoc(9, skewed = false)
      .tokens.take(200).map(_.toDouble)
    val df = (short.zipWithIndex.map { case (v, i) => ("s", i.toLong, v) } ++
      long.zipWithIndex.map { case (v, i) => ("l", i.toLong, v) }).toSeq
      .toDF("entity_id", "ts", "value")
    // odd positions, none below 48 samples (the q_quality peaks)
    val oddPeaks: Array[Double] => Array[Int] = vs =>
      if (vs.length < 48) Array.empty else (1 until vs.length by 2).toArray
    val peaks = oddPeaks(long.toArray)
    assert(long.length == 200 && peaks.length == 100, "fixture too short")
    Seq(false, true).foreach { bi =>
      val got = MHealth.QualityApi.beatCorrelation(df, "entity_id", "ts",
        "value", oddPeaks, 8, bidirectional = bi).collect()
      assert(got.forall(_.getString(0) == "l"), s"bi=$bi: short entity rows")
      val q = got.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val exp = if (bi) Quality.beatCorrelationBi(long.toArray, peaks, 8)
        else Quality.beatCorrelation(long.toArray, peaks, 8)
      assert(q.size == exp.length, s"bi=$bi: ${q.size} != ${exp.length}")
      exp.indices.foreach { i =>
        val g = q(i.toLong)
        assert(g == exp(i) || (g.isNaN && exp(i).isNaN), s"bi=$bi @$i")
      }
    }
  }

  test("HrvApi.timeDomain matches direct formulas on a known series") {
    val nni = Seq(800.0, 810.0, 790.0, 805.0, 795.0, 820.0, 780.0, 800.0)
    val df = nni.zipWithIndex.map { case (v, i) => ("e", i.toLong, v) }
      .toDF("entity_id", "ts", "nni")
    val row = MHealth.HrvApi.timeDomain(df, "entity_id", "ts", "nni")
      .head()
    val mean = nni.sum / nni.length
    val sdnn = math.sqrt(nni.map(v => (v - mean) * (v - mean)).sum /
      nni.length)
    val diffs = nni.zip(nni.tail).map { case (a, b) => b - a }
    val rmssd = math.sqrt(diffs.map(d => d * d).sum / diffs.length)
    assertClose(row.getAs[Double]("sdnn"), sdnn, "sdnn")
    assertClose(row.getAs[Double]("rmssd"), rmssd, "rmssd")
    assertClose(row.getAs[Double]("ssd"), diffs.sum, "ssd")
  }

  test("HrvApi.sdannSdnni == segment mean/SD replay over interval " +
    "windows anchored at each entity's first ts") {
    // beat times in ms = running sum of the nni, from unaligned starts
    def beats(e: String, t0: Long, n: Int, k: Int) =
      (0 until n).map(i => 800.0 + (i * k % 50)).scanLeft((t0, 0.0)) {
        case ((t, _), v) => (t + v.toLong, v)
      }.tail.map { case (t, v) => (e, t, v) }
    val rows = beats("a", 1234L, 40, 37) ++ beats("b", 98765L, 25, 13)
    val interval = 5000L
    val got = MHealth.HrvApi.sdannSdnni(rows.toDF("entity_id", "ts", "nni"),
      "entity_id", "ts", "nni", interval)
      .collect().map(r => r.getString(0) -> r).toMap
    def sdPop(xs: Seq[Double]) = {
      val m = xs.sum / xs.length
      math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length)
    }
    Seq("a", "b").foreach { e =>
      val pts = rows.filter(_._1 == e)
      val t0 = pts.map(_._2).min
      val segs = pts.groupBy(p => (p._2 - t0) / interval).values
        .map(_.map(_._3)).toSeq
      assert(segs.length >= 3, s"fixture too short for $e")
      val r = got(e)
      assertClose(r.getAs[Double]("sdann"),
        sdPop(segs.map(s => s.sum / s.length)), s"$e sdann")
      assertClose(r.getAs[Double]("sdnni"),
        segs.map(sdPop).sum / segs.length, s"$e sdnni")
      assert(r.getAs[Long]("n_segments") == segs.length, s"$e n_segments")
    }
  }

  test("SpectralApi.bandPower == direct-DFT band power, peak and " +
    "relative power on the first n samples; no row below n") {
    val (fs, n, lower, upper) = (64.0, 64, 8.0, 16.0)
    // 12 Hz in band, 5 Hz below it, token noise; "a" has a tail past n
    val noise = graft.core.TokenGen.makeDoc(4, skewed = false).tokens
      .map(t => (t % 7) * 0.05)
    val a = (0 until 80).map(i => math.sin(2 * math.Pi * 12 * i / fs) +
      0.7 * math.sin(2 * math.Pi * 5 * i / fs) + noise(i))
    val df = (a.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) } ++
      (0 until n - 1).map(i => ("short", i.toLong, noise(i))))
      .toDF("entity_id", "ts", "value")
    val got = MHealth.SpectralApi.bandPower(df, "entity_id", "ts", "value",
      fs, n, lower, upper).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a"), "short entity rows")
    // brute force: |DFT| of the de-meaned first n samples, bins < n/2
    val x = a.take(n)
    val mean = x.sum / n
    val mag = (0 until n / 2).map { k =>
      val terms = x.indices.map { j =>
        val ang = -2 * math.Pi * j * k / n
        ((x(j) - mean) * math.cos(ang), (x(j) - mean) * math.sin(ang))
      }
      math.hypot(terms.map(_._1).sum, terms.map(_._2).sum)
    }
    val freq = (0 until n / 2).map(_ * fs / n)
    val inBand = freq.indices.filter(i => freq(i) >= lower &&
      freq(i) <= upper)
    val band = inBand.map(mag).sum
    val peak = freq(freq.indices.filter(i => freq(i) >= lower &&
      freq(i) < upper).maxBy(mag))
    val r = got.head
    assertClose(r.getAs[Double]("band_power"), band, "band_power",
      rtol = 1e-9)
    assert(r.getAs[Double]("peak_freq") == peak && peak == 12.0,
      s"peak_freq ${r.getAs[Double]("peak_freq")} vs $peak")
    assertClose(r.getAs[Double]("rel_power"), band / mag.sum, "rel_power",
      rtol = 1e-9)
  }

  test("AccelApi.linearFilter == per-axis highpass filtfilt") {
    implicit val s = spark
    val n = 200
    val rows = (0 until n).map { i =>
      ("e", i.toLong, math.sin(i / 5.0) + 1.0, math.cos(i / 7.0),
        0.5 * math.sin(i / 3.0))
    }
    val df = rows.toDF("entity_id", "ts", "ax", "ay", "az")
    val got = MHealth.AccelApi.linearFilter(df, "entity_id", "ts",
      Seq("ax", "ay", "az"), freq = 128)
      .collect()
      .map(r => (r.getString(1), r.getLong(2)) -> r.getDouble(3)).toMap
    val c = Butterworth.design(5, Seq(0.5 / 64), Butterworth.Highpass)
    Seq("ax" -> rows.map(_._3), "ay" -> rows.map(_._4),
      "az" -> rows.map(_._5)).foreach { case (axis, vs) =>
      val exp = Butterworth.filtfilt(c, vs.toArray)
      (0 until n).foreach { i =>
        assert(got((axis, i.toLong)) == exp(i), s"$axis@$i differs")
      }
    }
  }

  test("AccelApi.axisFilter survives ':' inside entity ids " +
    "(axis-first key encoding)") {
    implicit val s = spark
    val rows = (0 until 60).map { i =>
      ("site:12", i.toLong, math.sin(i / 3.0), math.cos(i / 4.0))
    }
    val df = rows.toDF("entity_id", "ts", "ax", "ay")
    val got = MHealth.AccelApi.gravityFilter(df, "entity_id", "ts",
      Seq("ax", "ay"), freq = 64)
    val ents = got.select("entity_id").distinct()
      .collect().map(_.getString(0)).toSet
    val axes = got.select("axis").distinct()
      .collect().map(_.getString(0)).toSet
    assert(ents == Set("site:12"), s"entity mangled: $ents")
    assert(axes == Set("ax", "ay"), s"axes mangled: $axes")
  }

  test("StatsApi.profile and LocationApi distances are sane") {
    val df = Seq(("e", 1.0), ("e", 2.0), ("e", 3.0), ("e", 4.0))
      .toDF("entity_id", "v")
    val p = MHealth.StatsApi.profile(df, "entity_id", "v").head()
    assertClose(p.getAs[Double]("mean"), 2.5, "mean")
    assertClose(p.getAs[Double]("drange"), 3.0, "drange")
    assertClose(p.getAs[Double]("median"), 2.5, "median")

    val loc = Seq(("e", 0L, 51.5, -0.1), ("e", 1L, 51.5, -0.1),
      ("e", 2L, 51.6, -0.1))
      .toDF("entity_id", "ts", "lat", "lon")
    val d = MHealth.LocationApi.successiveDistance(
      loc, "entity_id", "ts", "lat", "lon")
      .where(col("ts") === 2).head().getAs[Double]("distance")
    assert(d > 10 && d < 12.5, s"0.1 deg lat should be ~11.1 km, got $d")
  }

  test("QrsApi.inferFs reads the first-gap spacing per entity " +
    "(qrs.py:102 semantics, irregular tail ignored)") {
    // entity a: 8 ms spacing in micros => 125 Hz; entity b: 4 ms =>
    // 250 Hz with an IRREGULAR later gap the reference would ignore too
    val df = Seq(
      ("a", 0L), ("a", 8000L), ("a", 16000L),
      ("b", 0L), ("b", 4000L), ("b", 50000L))
      .toDF("entity_id", "ts")
    val fs = MHealth.QrsApi.inferFs(df, "entity_id", "ts")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fs("a") == 125.0, s"a: ${fs("a")}")
    assert(fs("b") == 250.0, s"b: ${fs("b")}")
  }
}
