package graft

import graft.core.TokenGen
import graft.signal.{Butterworth, Ppg, Qrs, SampEn}

/** Signal package verification. The Butterworth oracle is ANALYTIC: the
  * bilinear transform preserves the closed-form Butterworth magnitude
  * response exactly, so no scipy goldens are needed (FIXTURES.md §
  * filtfilt policy). Decision rules are property-tested on synthetic
  * pulse trains; sampen is allclose vs the numpy fixture (two
  * independent formulations cross-checked at generation time). */
class SignalSpec extends SparkSpec {

  import Butterworth._

  private def butterMagSq(wNorm: Double, wc: Double, n: Int): Double =
    1.0 / (1.0 + math.pow(math.tan(math.Pi * wNorm / 2) /
      math.tan(math.Pi * wc / 2), 2 * n))

  test("lowpass design matches the analytic Butterworth response") {
    for (order <- Seq(1, 2, 3, 5); wc <- Seq(0.2, 0.5, 0.8)) {
      val c = design(order, Seq(wc), Lowpass)
      for (w <- Seq(0.05, 0.1, 0.3, 0.5, 0.7, 0.9, 0.99)) {
        val got = magSq(c, math.Pi * w)
        val want = butterMagSq(w, wc, order)
        assertClose(got, want, s"LP n=$order wc=$wc w=$w", rtol = 1e-8,
          atol = 1e-12)
      }
    }
  }

  test("highpass design matches the analytic response") {
    for (order <- Seq(1, 2, 4, 5); wc <- Seq(0.3, 0.6)) {
      val c = design(order, Seq(wc), Highpass)
      for (w <- Seq(0.05, 0.2, 0.5, 0.8, 0.95)) {
        val got = magSq(c, math.Pi * w)
        // HP = LP mirrored: |H|² = 1/(1+(tan(wc/2)/tan(w/2))^2N)
        val want = 1.0 / (1.0 + math.pow(math.tan(math.Pi * wc / 2) /
          math.tan(math.Pi * w / 2), 2 * order))
        assertClose(got, want, s"HP n=$order wc=$wc w=$w", rtol = 1e-8,
          atol = 1e-12)
      }
    }
  }

  test("bandpass design matches the analytic response") {
    for (order <- Seq(2, 5); (wl, wh) <- Seq((0.2, 0.6), (0.1, 0.3))) {
      val c = design(order, Seq(wl, wh), Bandpass)
      val vl = math.tan(math.Pi * wl / 2)
      val vh = math.tan(math.Pi * wh / 2)
      for (w <- Seq(0.05, 0.15, 0.25, 0.4, 0.5, 0.7, 0.9)) {
        val v = math.tan(math.Pi * w / 2)
        // analog BP prototype magnitude through the exact warp:
        // |H|² = 1/(1 + ((v² − vl·vh)/(v·(vh − vl)))^2N)
        val want = 1.0 / (1.0 +
          math.pow((v * v - vl * vh) / (v * (vh - vl)), 2 * order))
        val got = magSq(c, math.Pi * w)
        assertClose(got, want, s"BP n=$order [$wl,$wh] w=$w", rtol = 1e-7,
          atol = 1e-12)
      }
    }
  }

  test("lfilter equals the direct-form difference equation") {
    val c = design(3, Seq(0.4), Lowpass)
    val x = TokenGen.makeDoc(8, skewed = false).tokens.take(50)
      .map(_.toDouble / 1000)
    val got = lfilter(c, x, new Array[Double](
      math.max(c.a.length, c.b.length) - 1))
    val want = new Array[Double](x.length)
    for (i <- x.indices) {
      var s = 0.0
      for (j <- c.b.indices; if i - j >= 0) s += c.b(j) * x(i - j)
      for (j <- 1 until c.a.length; if i - j >= 0) s -= c.a(j) * want(i - j)
      want(i) = s / c.a(0)
    }
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assertClose(g, w, s"y[$i]", rtol = 1e-10)
    }
  }

  test("lfilter_zi: step input yields the DC gain from sample 0") {
    val c = design(4, Seq(0.3), Lowpass)
    val zi = lfilterZi(c)
    val ones = Array.fill(30)(1.0)
    val y = lfilter(c, ones, zi.clone())
    val dc = c.b.sum / c.a.sum
    y.foreach(v => assertClose(v, dc, "steady state", rtol = 1e-9))
  }

  test("filtfilt is zero-phase: reversal-invariant, passband-preserving," +
    " stopband-killing") {
    val c = design(4, Seq(0.5), Lowpass)
    val n = 512
    val pass = Array.tabulate(n)(i => math.sin(2 * math.Pi * 0.05 * i))
    val stop = Array.tabulate(n)(i => math.sin(2 * math.Pi * 0.45 * i))
    val mixed = Array.tabulate(n)(i => pass(i) + stop(i))

    val y = Butterworth.filtfilt(c, mixed)
    val yRev = Butterworth.filtfilt(c, mixed.reverse).reverse
    // edge transients are not reversal-symmetric (true of scipy too) —
    // assert symmetry away from the padded edges, where it is exact
    // up to float noise
    (n / 8 until 7 * n / 8).foreach { i =>
      assertClose(y(i), yRev(i), s"reversal symmetry@$i", rtol = 1e-9,
        atol = 1e-9)
    }
    // mid-signal: passband component intact (zero phase => same sign/shape)
    val mid = n / 4 until (3 * n / 4)
    val errPass = mid.map(i => math.abs(y(i) - pass(i))).max
    assert(errPass < 0.02, s"passband distortion $errPass")
  }

  test("filtfilt rejects inputs shorter than the padding") {
    val c = design(5, Seq(0.2, 0.6), Bandpass)
    intercept[IllegalArgumentException] {
      Butterworth.filtfilt(c, Array.fill(10)(1.0))
    }
  }

  test("sampen matches the numpy fixture (both formulations)") {
    val fx = fixture("signal")
    val x = TokenGen.makeDoc(6, skewed = false).tokens.take(200)
      .map(_.toDouble)
    assertClose(SampEn.sampen(x), fx.get("sampen").asDouble(), "sampen")
    val x2 = TokenGen.makeDoc(6, skewed = false).tokens.take(200)
      .map(t => 800.0 + (t % 50))
    assertClose(SampEn.sampen(x2), fx.get("sampen_smooth").asDouble(),
      "sampen smooth")
  }

  test("FractalApi.sampen on shuffled, repartitioned long-format points " +
    "matches the fixture") {
    val want = fixture("signal").get("sampen").asDouble()
    val x = TokenGen.makeDoc(6, skewed = false).tokens.take(200)
    import spark.implicits._
    // deliberately shuffled over 5 partitions: input order must not
    // change the result
    val pts = scala.util.Random.shuffle(
      x.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }.toList)
    val df = pts.map { case (t, v) => ("doc6", t, v) }
      .toDF("entity_id", "ts", "value").repartition(5)
    val got = scalar(graft.api.MHealth.FractalApi
      .sampen(df, "entity_id", "ts", "value", spark = spark)
      .select("sampen"))
    assertClose(got, want, "sampen")
  }

  test("DFA exponent matches the numpy fixture (timedom.py:196-235)") {
    val fx = fixture("signal")
    import org.apache.spark.sql.functions.col
    val x = TokenGen.makeDoc(1, skewed = false).tokens.take(256)
      .map(_.toDouble)
    val df = valuesDf(x)
    val got = scalar(graft.operators.Dfa
      .exponent(df, "entity_id", "ts", "value", Seq(4, 8, 16, 32, 64))
      .select(col("dfa_exponent")))
    assertClose(got, fx.get("dfa_exponent").asDouble(), "dfa", rtol = 1e-8)
    // 50% overlap exercises the multi-window explode path
    val got50 = scalar(graft.operators.Dfa
      .exponent(df, "entity_id", "ts", "value", Seq(8, 16, 32),
        overlap = 50.0)
      .select(col("dfa_exponent")))
    assertClose(got50, fx.get("dfa_overlap50").asDouble(), "dfa50",
      rtol = 1e-8)
  }

  test("QRS pipeline recovers a synthetic beat train") {
    val fs = 128.0
    val n = 128 * 30 // 30 s
    val period = 96 // 0.75 s => 80 bpm
    // ECG-ish: narrow triangular R spikes on a small baseline wobble
    val ecg = Array.tabulate(n) { i =>
      val ph = i % period
      val spike = if (ph < 4) 1.0 - 0.25 * ph
        else if (ph >= period - 3) 0.25 * (ph - (period - 4))
        else 0.0
      2.0 * spike + 0.1 * math.sin(2 * math.Pi * i / 256.0)
    }
    val peaks = Qrs.rpeaksHamiltonTompkins(ecg, fs)
    val expected = n / period
    assert(peaks.length >= expected / 2 && peaks.length <= expected + 2,
      s"got ${peaks.length} peaks for ~$expected beats")
    // inter-peak spacing concentrates at the true period (the filtered
    // hump carries candidate maxima at ±5 samples, so gaps jitter but
    // average out to the beat period)
    val gaps = peaks.sliding(2).collect { case Array(a, b) => b - a }.toSeq
    val near = gaps.count(g => math.abs(g - period) <= 8)
    assert(near >= (gaps.length * 9) / 10,
      s"only $near/${gaps.length} gaps near period $period: $gaps")
    val meanGap = gaps.sum.toDouble / gaps.length
    assert(math.abs(meanGap - period) <= 2.0,
      s"mean gap $meanGap far from period $period")
  }

  test("decision rules: structural invariants hold on random beat " +
    "trains with injected noise peaks (seeded)") {
    val fs = 128.0
    val rnd = new scala.util.Random(7)
    (0 until 4).foreach { trial =>
      val n = 1600 + rnd.nextInt(400)
      val period = 80 + rnd.nextInt(40)
      val sig = Array.tabulate(n) { i =>
        val ph = i % period
        val spike = if (ph < 4) 1.0 - 0.25 * ph else 0.0
        // injected noise peaks + baseline wobble
        2.0 * spike + 0.35 * rnd.nextDouble() +
          0.1 * math.sin(2 * math.Pi * i / 256.0)
      }
      val fecg = Qrs.filterHamiltonTompkins(sig, fs)
      val cand = Qrs.findPeaks(fecg)
      val acc = Qrs.decisionRuleHamiltonTompkins(fecg, cand, fs)
      val candSet = cand.toSet
      assert(acc.forall(candSet), s"trial $trial: accepted not in cand")
      assert(acc.sameElements(acc.sorted.distinct),
        s"trial $trial: accepted not strictly increasing")
      // the ±200 ms local-max gate is unconditional in the rule
      acc.foreach { p =>
        val lo = math.max(0, p - 25)
        val hi = math.min(fecg.length, p + 25)
        assert(fecg(p) >= fecg.slice(lo, hi).max,
          s"trial $trial: accepted $p not a ±200ms local max")
      }
      // homogeneity: every comparison in the rule is linear in the
      // signal scale, so an EXACT power-of-two rescale (fp-lossless)
      // must select the identical peak set — the invariant the
      // scale-free q_rpeaks oracle replay relies on
      val acc4 = Qrs.decisionRuleHamiltonTompkins(
        fecg.map(_ * 4.0), cand, fs)
      assert(acc4.sameElements(acc), s"trial $trial: not scale-invariant")

      // PPG rule on the same noisy train: onsets strictly increase with
      // the eye-closing minimum gap (next argmax window starts 38 past
      // the previous trigger => consecutive onsets differ by >= 20)
      val onsets = Ppg.pulseOnsetPhysionet(sig, fs.toInt)
      onsets.sliding(2).foreach {
        case Array(a, b) =>
          assert(b - a >= 20, s"trial $trial: onset gap ${b - a} < 20")
        case _ => ()
      }
      assert(onsets.forall(j => j >= 0 && j < n),
        s"trial $trial: onset out of range")
    }
  }

  test("PPG physionet rule fires on a synthetic pulse train") {
    val fsi = 64
    val n = 64 * 40
    val period = 64
    val ppg = Array.tabulate(n) { i =>
      val ph = (i % period) / period.toDouble
      math.exp(-0.5 * math.pow((ph - 0.3) / 0.08, 2))
    }
    val onsets = Ppg.pulseOnsetPhysionet(ppg, fsi)
    assert(onsets.nonEmpty, "no onsets detected")
    // detections beyond warm-up; spacing near the true period
    val gaps = onsets.sliding(2).collect { case Array(a, b) => b - a }.toSeq
    if (gaps.nonEmpty) {
      val near = gaps.count(g => math.abs(g - period) <= 6)
      assert(near >= gaps.length / 2,
        s"only $near/${gaps.length} onset gaps near $period")
    }
  }
}
