package graft.queries

import graft.api.MHealth
import graft.core.Tables
import graft.core.Tables.b100
import graft.signal.{Butterworth, SampEn, PerEntity, Spectral}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stateful signal-processing queries (SURVEY.md §2.6) over `events`,
  * each user's value series treated as a sampled signal: sequential
  * per-entity scans (IIR filtering, adaptive-threshold decision rules,
  * O(n²) entropy). Filters, detectors and beat quality run through
  * [[graft.api.MHealth]]; sampen and the two spectra keep their own
  * [[PerEntity]] scans. All 12 are hash-checked against DuckDB oracles
  * ([[oracle]]); SignalSpec covers the kernels' numerics.
  */
object SignalQueries {

  private val Fs = 128.0

  /** events as a per-user `value` series at row-number positions `t`. */
  private def series(spark: SparkSession, dir: String,
                     value: Column = col("value")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("user_id").cast("string").as("entity_id"),
        col("rn").as("t"), value.as("value"))
  }

  /** Longer deterministic series (up to 2048 samples @128 Hz) from the
    * synthetic tokens table — the QRS/PPG pipelines need fs ≥ 2·25 Hz
    * for their filter bands and >10 s of signal for the PPG warm-up,
    * which the sparse events series cannot supply. */
  private def tokenSeries(spark: SparkSession): DataFrame =
    graft.core.TokenGen.points(graft.core.TokenGen.docs(spark, 64))
      .select(col("entity_id"), col("ts").as("t"), col("value"))

  /** Zero-phase Butterworth lowpass (0.2·Nyquist, order 4) per user —
    * the reference's `butterworth`/`linear_filter`/`gravity_filter`
    * family (filters.py:8-35, accelerometer.py:77-195). At freq = 2 the
    * 0.2 Hz cutoff is exactly the normalised 0.2. */
  def qFiltfilt(spark: SparkSession, dir: String): DataFrame =
    byT(MHealth.Filters.butterworth(series(spark, dir), "entity_id", "t",
      "value", freq = 2.0, cutoff = Seq(0.2), Butterworth.Lowpass,
      order = 4, spark = spark), round(col("filtered"), 6).as("filtered"))

  /** Pan–Tompkins QRS pre-filter per user series (filter_pan_tompkins,
    * qrs.py:41-56): bandpass 5–15 Hz filtfilt → x/8 → square →
    * MA(0.2·fs). Hash-checked against the recursive-CTE oracle. Since
    * round 3 the oracle's MA is an ORDERED list fold (replays the kernel
    * loop bit-exactly), so 6 dp holds; +1e-9 on BOTH sides remains as
    * boundary insurance. */
  def qPtFilter(spark: SparkSession, dir: String): DataFrame =
    byT(MHealth.QrsApi.filterPanTompkins(series(spark, dir), "entity_id",
      "t", "value", Fs, spark),
      round(col("filtered") + 1e-9, 6).as("pt_filtered"))

  /** Hamilton–Tompkins QRS pre-filter (filter_hamilton_tompkins,
    * qrs.py:107-113): bandpass 3–25 Hz filtfilt → |x/8| → MA(0.08·fs). */
  def qHtFilter(spark: SparkSession, dir: String): DataFrame =
    byT(MHealth.QrsApi.filterHamiltonTompkins(series(spark, dir),
      "entity_id", "t", "value", Fs, spark),
      round(col("filtered") + 1e-9, 6).as("ht_filtered"))

  /** A same-length scan's output as (entity_id, t, out), in order. */
  private def byT(filtered: DataFrame, out: Column): DataFrame =
    filtered.select(col("entity_id"), col("t"), out)
      .orderBy(col("entity_id"), col("t"))

  /** Hamilton–Tompkins R-peak pipeline per doc series (qrs.py:59-197). */
  def qRpeaks(spark: SparkSession, dir: String): DataFrame =
    at(MHealth.QrsApi.rpeaksHamiltonTompkins(tokenSeries(spark),
      "entity_id", "t", "value", Fs, spark), "peak_pos")

  /** Physionet PPG pulse-onset pipeline per doc series (ppg.py:11-93). */
  def qPulseOnsets(spark: SparkSession, dir: String): DataFrame =
    at(MHealth.PpgApi.pulseOnsetPhysionet(tokenSeries(spark), "entity_id",
      "t", "value", Fs.toInt, spark), "onset_pos")

  /** A detector's selected samples as (entity_id, pos, value), in order. */
  private def at(picked: DataFrame, pos: String): DataFrame =
    picked.select(col("entity_id"), col("t").as(pos),
      round(col("value"), 6).as("value"))
      .orderBy(col("entity_id"), col(pos))

  /** Sample entropy per user (information.py:23-113): one O(n²) scan
    * over each bounded series. Runs on the exact-integer b = value·100
    * lattice with σ from the algebraic population-variance identity over
    * exact integer sums, so the Chebyshev match predicate |Δ| < 0.2σ is
    * bit-identical in the DuckDB oracle (sampen is scale-invariant, so
    * the lattice does not change the statistic). */
  def qSampen(spark: SparkSession, dir: String): DataFrame = {
    PerEntity.transform(spark, series(spark, dir, b100(col("value"))),
      "entity_id", "t", "value") { (_, vs) =>
      val n = vs.length
      var s1 = 0.0
      var s2 = 0.0
      vs.foreach { v => s1 += v; s2 += v * v } // exact: integers < 2^53
      val sigma = math.sqrt(s2 / n - (s1 / n) * (s1 / n))
      Iterator.single((0L, SampEn.sampen(vs, 2, 0.2, Some(sigma))))
    }.select(col("entity_id"),
      round(Tables.nanToNull(col("out")), 6).as("sampen"))
      .orderBy(col("entity_id"))
  }

  /** Frequency-domain HRV features (hrv.py:173-198 over a Breeze FFT;
    * SURVEY.md §2.8): band power 5–15 Hz, peak frequency, relative band
    * power, total |spectrum| — per user over the demeaned first 64
    * samples of the events series at fs = 128 Hz. Hash-checked against
    * a DIRECT-DFT DuckDB oracle (an independent O(N·K) evaluation of the
    * same spectrum); outputs are rounded to 4 dp because FFT and direct
    * DFT agree to ~1e-10 relative, not bitwise. */
  def qPowerBand(spark: SparkSession, dir: String): DataFrame = {
    val fs = Fs
    val ev = series(spark, dir, b100(col("value"))).where(col("t") <= 64)
    PerEntity.transform(spark, ev, "entity_id", "t", "value") { (_, vs) =>
      if (vs.length < 64) Iterator.empty // users with < 64 events
      else {
        var s = 0.0
        vs.foreach(s += _) // exact integer sum
        val mean = s / 64
        val x = vs.map(v => (v - mean) / 100.0) // back to value units
        val f = Spectral.fft(x)
        val freqs = Array.tabulate(32)(i => i * fs / 64)
        val psd = f.take(32).map(_.abs)
        // rank on a 4-dp-quantized psd (+1e-9 boundary shift): the FFT
        // and the oracle's direct DFT agree to ~1e-10, so a raw argmax
        // between two near-equal bins could flip engines — a whole-bin
        // divergence no output rounding absorbs. Quantized, near-equal
        // bins TIE and both engines break the tie by bin index.
        val psdQ = psd.map(v => math.floor((v + 1e-9) * 10000 + 0.5))
        Iterator(
          (0L, Spectral.powerBand(psd, freqs, 5, 15)),
          (1L, Spectral.peakFrequency(psdQ, freqs, 5, 15)),
          (2L, Spectral.relativePowerBand(psd, freqs, 5, 15)),
          (3L, psd.sum))
      }
    }.groupBy(col("entity_id")).pivot("t", Seq(0L, 1L, 2L, 3L))
      .agg(first(round(col("out"), 4)))
      .withColumnsRenamed(Map("0" -> "band_power", "1" -> "peak_freq",
        "2" -> "rel_power", "3" -> "total_power"))
      .orderBy(col("entity_id"))
  }

  /** Beat-quality scoring (quality.py:22-43 — SURVEY.md §2.6): each
    * user's b-lattice series is treated as a signal at sr = 8 with peaks
    * at every odd position; quality(i) = nanmean Pearson correlation of
    * beat i's ±sr/2 slice against the 24-slot beat ring buffer (future
    * beats 1..23 pre-filled, slot 0 NaN until beat 24 — reference quirks
    * preserved). Fully hash-checked: the buffer-slot contents at every
    * beat have a closed form (largest k < i with k ≡ s mod 24, else the
    * initial fill), and every moment sum is EXACT on both engines
    * because the slice mean divides an exact integer sum by 8 (a power
    * of two — exact in binary floating point), so only the final
    * 24-term mean needs the shared 6-dp rounding. */
  def qQuality(spark: SparkSession, dir: String): DataFrame =
    quality(spark, dir, bidirectional = false, "quality")

  /** Bidirectional beat quality (quality.py:46-101, interior semantics):
    * max of mean correlation vs the previous / following 12 beats; edge
    * beats NULL. Fully hash-checked — the prev/succ ring buffers have
    * closed forms like q_quality's (see the oracle SQL comments). */
  def qQualityBi(spark: SparkSession, dir: String): DataFrame =
    quality(spark, dir, bidirectional = true, "quality_bi")

  private def quality(spark: SparkSession, dir: String,
                      bidirectional: Boolean, outCol: String): DataFrame =
    MHealth.QualityApi.beatCorrelation(series(spark, dir, b100(col("value"))),
      "entity_id", "t", "value",
      // every odd position, none below 48 samples (the oracles'
      // count(*) >= 48: 24 peaks for the ring buffer)
      vs => if (vs.length < 48) Array.empty
        else (1 until vs.length by 2).toArray,
      8, bidirectional, spark)
      .select(col("entity_id"), col("peak_idx"),
        // +1e-9 before round (order-jitter boundary insurance, as
        // q_pt_filter); + 0.0 after round normalizes IEEE −0.0 (Spark's
        // round drops the sign, DuckDB's keeps it — see q_accel)
        (round(Tables.nanToNull(col("quality")) + 1e-9, 6) + 0.0)
          .as(outCol))
      .orderBy(col("entity_id"), col("peak_idx"))

  /** Multimodal plumbing: binary media column → fake decode → frame
    * sample → per-frame features. Hash-checked since round 3 against a
    * full splitmix64 + FNV-1a replay in DuckDB HUGEINT ([[mediaOracle]]);
    * +1e-9 before rounding is the shared boundary insurance (mean_px can
    * land on exact .xxxxx5 decimals when w·h is a power of two). */
  def qMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.functions.Multimodal.frameFeatures(
      graft.functions.Multimodal.mediaTable(spark, 200), frameStride = 2)
      .toDF()
      .select(col("doc_id"), col("frame"), col("width"), col("height"),
        round(col("mean_px") + 1e-9, 6).as("mean_px"), col("max_px"),
        col("frame_hash"))
      .orderBy(col("doc_id"), col("frame"))
  }

  /** RESIZE stage of the media pipeline (decode → frame-sample →
    * 2×2 mean-pool → features): exact quarter-integer arithmetic, so
    * the oracle compare is bit-exact unrounded
    * ([[graft.functions.Multimodal.resizedFeaturesOf]]). */
  def qMediaResize(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    graft.functions.Multimodal.resizedFeatures(
      graft.functions.Multimodal.mediaTable(spark, 200), frameStride = 2)
      .toDF()
      .orderBy(col("doc_id"), col("frame"))
  }

  /** Frequency-domain HRV over NON-UNIFORM samples (the reference's
    * NUFFT use case, SURVEY.md §2.8: PSD of an irregularly-timed nni
    * series): per user, event times map to [0, 2π), the type-1 NUFFT
    * gives the spectrum on a 32-bin grid (frequencies in cycles per
    * observation span), then band power / peak / relative features. */
  def qHrvFreq(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id").cast("string").as("entity_id"),
        unix_micros(col("ts").cast("timestamp")).as("t"),
        b100(col("value")).as("value"))
    PerEntity.transform(spark, ev, "entity_id", "t", "value") { (ts, vs) =>
      if (vs.length < 16) Iterator.empty
      else {
        val t0 = ts.head
        val span = (ts.last - t0).toDouble
        val x = ts.map(t => (t - t0) / span * 2 * math.Pi)
        var s = 0.0
        vs.foreach(s += _) // exact integer sum on the b lattice
        val mean = s / vs.length
        val c = vs.map(_ - mean)
        val m = 32
        val spec = Spectral.nufft1d1(x, c, m)
        // positive-frequency half of the centered grid, in value units
        val freqs = Spectral.nufftFreqs(m).drop(m / 2)
        val psd = spec.drop(m / 2).map(_.abs / 100.0)
        // quantized ranking — same argmax-tie insurance as q_power_band
        val psdQ = psd.map(v => math.floor((v + 1e-9) * 10000 + 0.5))
        Iterator(
          (0L, Spectral.powerBand(psd, freqs, 1, 4)),
          (1L, Spectral.peakFrequency(psdQ, freqs, 1, 8)),
          (2L, Spectral.relativePowerBand(psd, freqs, 1, 4)))
      }
    }.groupBy(col("entity_id")).pivot("t", Seq(0L, 1L, 2L))
      .agg(first(round(col("out"), 4)))
      .withColumnsRenamed(Map("0" -> "band_power_1_4",
        "1" -> "peak_freq_1_8", "2" -> "rel_power_1_4"))
      .orderBy(col("entity_id"))
  }

  val all: Map[String, CoreQueries.Q] = Map(
    "q_filtfilt" -> (qFiltfilt _),
    "q_pt_filter" -> (qPtFilter _),
    "q_ht_filter" -> (qHtFilter _),
    "q_rpeaks" -> (qRpeaks _),
    "q_pulse_onsets" -> (qPulseOnsets _),
    "q_media_resize" -> (qMediaResize _),
    "q_sampen" -> (qSampen _),
    "q_power_band" -> (qPowerBand _),
    "q_hrv_freq" -> (qHrvFreq _),
    "q_quality" -> (qQuality _),
    "q_quality_bi" -> (qQualityBi _),
    "q_media_features" -> (qMediaFeatures _)
  )

  /** DuckDB oracles. q_sampen is an exact pair count (template self-join
    * with the Chebyshev predicate on the bit-identical r = 0.2σ);
    * q_power_band / q_hrv_freq are DIRECT (NU)DFT evaluations — an
    * independent O(N·K) computation of the spectrum the fast kernels
    * approximate, compared at 4 dp; q_filtfilt replays both IIR passes
    * as recursive CTEs ([[SqlGen.filtfiltChain]]); q_quality/_bi
    * reconstruct the reference's ring buffers in closed form. Round 3
    * closed the last three rows-only queries: q_rpeaks and
    * q_pulse_onsets replay their adaptive decision automata as recursive
    * CTEs with LIST-typed ring-buffer state columns (bit-exact — every
    * uncontrolled-order float sum was replaced by an ordered list_reduce
    * on both... the engine side already summed in slot/index order), and
    * q_media_features replays splitmix64 in HUGEINT ([[SqlGen.mixCols]]).
    */
  private def filtfiltOracle: String =
    SqlGen.filtfiltChain(Butterworth.design(4, Seq(0.2), Butterworth.Lowpass),
      SqlGen.eventsSig) +
      s"""
         |SELECT user_id::VARCHAR AS entity_id, idx0 + 1 AS t,
         |  round(y, 6) AS filtered
         |FROM ff ORDER BY entity_id, t""".stripMargin

  /** Pan–Tompkins filter chain (qrs.py:41-56): bandpass 5–15 Hz
    * filtfilt → x/8 (the shipped differentiator bug) → square →
    * centered MA(0.2·fs = 25, zero-padded edges). Round 3: the MA is an
    * ORDERED per-row list fold instead of a window SUM (whose
    * segment-tree order was only ~1e−16-equal and forced 4 dp) — now
    * bit-exact, compared at 6 dp. */
  private def ptFilterOracle: String =
    SqlGen.filtfiltChain(Butterworth.design(5, Seq(5.0 / 64, 15.0 / 64),
      Butterworth.Bandpass), SqlGen.eventsSig) +
      s"""
         |, sq AS (SELECT user_id, idx0 AS g, (y/8.0)*(y/8.0) AS s FROM ff),
         |lw AS (
         |  SELECT user_id, g,
         |    list(s) OVER (PARTITION BY user_id ORDER BY g
         |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS w
         |  FROM sq)
         |SELECT user_id::VARCHAR AS entity_id, g + 1 AS t,
         |  round(${SqlGen.lsum("w")} / 25.0 + 1e-9, 6) AS pt_filtered
         |FROM lw ORDER BY entity_id, t""".stripMargin

  /** Hamilton–Tompkins filter chain (qrs.py:107-113): bandpass 3–25 Hz
    * filtfilt → |x/8| → centered MA(0.08·fs = 10; lo = 5, hi = 4) —
    * ordered-fold MA, bit-exact at 6 dp (as ptFilterOracle). */
  private def htFilterOracle: String =
    SqlGen.filtfiltChain(Butterworth.design(5, Seq(3.0 / 64, 25.0 / 64),
      Butterworth.Bandpass), SqlGen.eventsSig) +
      s"""
         |, av AS (SELECT user_id, idx0 AS g, abs(y/8.0) AS s FROM ff),
         |lw AS (
         |  SELECT user_id, g,
         |    list(s) OVER (PARTITION BY user_id ORDER BY g
         |      ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING) AS w
         |  FROM av)
         |SELECT user_id::VARCHAR AS entity_id, g + 1 AS t,
         |  round(${SqlGen.lsum("w")} / 10.0 + 1e-9, 6) AS ht_filtered
         |FROM lw ORDER BY entity_id, t""".stripMargin

  /** q_rpeaks oracle: the full Hamilton–Tompkins pipeline replayed in
    * SQL, BIT-EXACT end to end (qrs.py:59-197 semantics via the Scala
    * kernels). Stages:
    *   1. the TokenGen series re-derived in SQL (SqlGen.tokenSig);
    *   2. bandpass 3–25 Hz filtfilt as recursive CTEs (bit-exact);
    *   3. |y/8| then MA(10) via an ordered per-row list_reduce — the
    *      window SUM would be segment-tree-ordered (only ~1e-16-equal);
    *      folding the frame list left-to-right replays the Scala loop
    *      exactly, so fecg is bit-identical and every threshold compare
    *      downstream is safe;
    *   4. per-candidate gates precomputed with window frames:
    *      local-max-in-±200ms ([p-25, p+24] max), both-gradients /
    *      maxDiff over the diff series d on frame [p-5, p+5];
    *   5. the decision automaton as a recursive CTE over candidate
    *      peaks: LIST state columns for the two 12-slot ring buffers
    *      (QRS indices + QRS/noise fecg values), threshold dth,
    *      prev-peak, counts. Slot writes are indexed list_transform;
    *      buffer means fold in slot order (= the Scala bufMean loop);
    *      avg RR telescopes to (max−min)/11 exactly (integer indices).
    */
  private def rpeaksOracle: String =
    SqlGen.filtfiltChain(Butterworth.design(5, Seq(3.0 / 64, 25.0 / 64),
      Butterworth.Bandpass), SqlGen.tokenSig(64, 120)) + s"""
      |, dif AS (SELECT user_id, idx0 AS g, abs(y/8.0) AS s FROM ff),
      |lw AS (
      |  SELECT user_id, g,
      |    list(s) OVER (PARTITION BY user_id ORDER BY g
      |      ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING) AS w
      |  FROM dif),
      |fe AS MATERIALIZED (
      |  SELECT user_id, g AS i, ${SqlGen.lsum("w")} / 10.0 AS f
      |  FROM lw),
      |f2 AS (
      |  SELECT user_id, i, f,
      |    lag(f) OVER pw AS fl, lead(f) OVER pw AS fr,
      |    f - lag(f) OVER pw AS d
      |  FROM fe WINDOW pw AS (PARTITION BY user_id ORDER BY i)),
      |f3 AS (
      |  SELECT user_id, i, f, fl, fr,
      |    max(f) OVER (pv ROWS BETWEEN 25 PRECEDING AND 24 FOLLOWING) AS mx,
      |    max(CASE WHEN d > 0 THEN 1 ELSE 0 END)
      |      OVER (pv ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS anyup,
      |    max(CASE WHEN d < 0 THEN 1 ELSE 0 END)
      |      OVER (pv ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS anydn,
      |    max(d) OVER (pv ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS md
      |  -- window renamed pv: under WITH RECURSIVE, DuckDB scopes named
      |  -- windows per STATEMENT, not per SELECT ("pw already defined")
      |  FROM f2 WINDOW pv AS (PARTITION BY user_id ORDER BY i)),
      |cand AS MATERIALIZED (
      |  SELECT user_id, i AS p, f AS fp, (f >= mx) AS locmax,
      |    (anyup = 1 AND anydn = 1) AS bg, md,
      |    row_number() OVER (PARTITION BY user_id ORDER BY i) AS k
      |  FROM f3 WHERE f > fl AND f > fr),
      |f0 AS (SELECT user_id, f AS v0 FROM fe WHERE i = 0),
      |dec AS (
      |  SELECT user_id, 0::BIGINT AS k, FALSE AS acc, 0::BIGINT AS p,
      |    [0,0,0,0,0,0,0,0,0,0,0,0]::BIGINT[] AS bqi,
      |    [v0,v0,v0,v0,v0,v0,v0,v0,v0,v0,v0,v0]::DOUBLE[] AS bqv,
      |    [v0,v0,v0,v0,v0,v0,v0,v0,v0,v0,v0,v0]::DOUBLE[] AS bnv,
      |    0::BIGINT AS iq, 0::BIGINT AS inn, 0.0::DOUBLE AS dth,
      |    0::BIGINT AS prevp, 0.0::DOUBLE AS mdp, 0::BIGINT AS nq
      |  FROM f0
      |  UNION ALL
      |  SELECT c.user_id, c.k,
      |    (c.locmax AND ((c.fp > r.dth AND c.bg
      |        AND NOT (r.prevp != 0 AND (c.p - r.prevp) < 46.08
      |                 AND c.md < 0.5 * r.mdp))
      |      OR (r.nq > 1 AND c.fp > 0.5 * r.dth
      |          AND (c.p - r.prevp) >=
      |            1.5 * ((list_max(r.bqi) - list_min(r.bqi)) / 11.0))))
      |      AS acc2,
      |    c.p,
      |    CASE WHEN acc2 THEN list_transform(r.bqi,
      |        (x, s) -> CASE WHEN s = (r.iq % 12) + 1 THEN c.p ELSE x END)
      |      ELSE r.bqi END AS bqi2,
      |    CASE WHEN acc2 THEN list_transform(r.bqv,
      |        (x, s) -> CASE WHEN s = (r.iq % 12) + 1 THEN c.fp ELSE x END)
      |      ELSE r.bqv END AS bqv2,
      |    CASE WHEN acc2 THEN r.bnv ELSE list_transform(r.bnv,
      |        (x, s) -> CASE WHEN s = (r.inn % 12) + 1 THEN c.fp ELSE x END)
      |      END AS bnv2,
      |    r.iq + CASE WHEN acc2 THEN 1 ELSE 0 END,
      |    r.inn + CASE WHEN acc2 THEN 0 ELSE 1 END,
      |    ${SqlGen.lsum("bnv2")} / 12.0
      |      + 0.3125 * (${SqlGen.lsum("bqv2")} / 12.0
      |                  - ${SqlGen.lsum("bnv2")} / 12.0),
      |    CASE WHEN acc2 THEN c.p ELSE r.prevp END,
      |    CASE WHEN acc2 THEN c.md ELSE r.mdp END,
      |    r.nq + CASE WHEN acc2 THEN 1 ELSE 0 END
      |  FROM dec r JOIN cand c ON c.user_id = r.user_id AND c.k = r.k + 1)
      |SELECT d.user_id AS entity_id, d.p AS peak_pos, round(s.x, 6) AS value
      |FROM dec d JOIN sig s ON s.user_id = d.user_id AND s.i = d.p
      |WHERE d.acc
      |ORDER BY entity_id, peak_pos""".stripMargin

  /** q_pulse_onsets oracle: physionet PPG decision rule replayed in SQL,
    * bit-exact (ppg.py:11-93 semantics). Bandpass 0.5–20 Hz filtfilt
    * (recursive CTEs) → slope_sum telescoped to y[i]−y[i−19] → warm-up
    * threshold from the first 10 s via ORDERED list folds (mirrors the
    * Scala two-pass mean/std loops) → the scan itself as a recursive
    * CTE whose state is (scan index with data-dependent skips, adaptive
    * threshold, the 10-slot amplitude ring buffer as a LIST column).
    * The ±150 ms argmax is precomputed per index with a struct-packed
    * window max ((x, −i) — first max wins, like the Scala strict-> scan).
    */
  private def pulseOracle: String =
    SqlGen.filtfiltChain(Butterworth.design(5, Seq(0.5 / 64, 20.0 / 64),
      Butterworth.Bandpass), SqlGen.tokenSig(64, 1280)) + s"""
      |, ffn AS (
      |  SELECT f.user_id, f.idx0 AS i, f.y, s.n
      |  FROM ff f JOIN (SELECT user_id, max(n) AS n FROM sig GROUP BY 1) s
      |    USING (user_id)),
      |ss AS MATERIALIZED (
      |  SELECT a.user_id, a.i,
      |    CASE WHEN a.i >= 19 AND a.i < a.n - 1 THEN a.y - b.y
      |      ELSE 0.0 END AS x,
      |    a.n
      |  FROM ffn a LEFT JOIN ff b
      |    ON b.user_id = a.user_id AND b.idx0 = a.i - 19),
      |wl AS (
      |  SELECT user_id, list(x ORDER BY i) AS lx
      |  FROM ss WHERE i < 1280 GROUP BY user_id),
      |wst AS (
      |  SELECT user_id,
      |    ${SqlGen.lsum("lx")} / 1280.0 AS m0,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE, lx),
      |      (a, b) -> a + (b - m0) * (b - m0)) / 1280.0) AS sd0,
      |    2 * sd0 + m0 AS th0,
      |    th0 - sd0 AS tsub0
      |  FROM wl),
      |mxs AS (
      |  SELECT user_id, i, x, n,
      |    max(struct_pack(v := x, ni := -i)) OVER (PARTITION BY user_id
      |      ORDER BY i ROWS BETWEEN 19 PRECEDING AND 18 FOLLOWING) AS s
      |  FROM ss),
      |arg AS MATERIALIZED (
      |  SELECT user_id, i, x, n, s.v AS mxv, -s.ni AS mxi FROM mxs),
      |rec AS (
      |  SELECT user_id, 18::BIGINT AS i, FALSE AS fired, 0::BIGINT AS j,
      |    [th0,th0,th0,th0,th0,th0,th0,th0,th0,th0]::DOUBLE[] AS amps,
      |    th0 AS th, 0.0::DOUBLE AS am2, tsub0 AS tsub, 0::BIGINT AS aidx,
      |    19::BIGINT AS nxt
      |  FROM wst
      |  UNION ALL
      |  -- every lateral alias here MUST differ from the state columns
      |  -- (fired, am2, ...): an alias that shares a name resolves to the
      |  -- rec-table column — i.e. the PREVIOUS step's value
      |  SELECT a.user_id, a.i,
      |    (a.x > r.tsub) AS fire2,
      |    CASE WHEN fire2 THEN a.mxi ELSE r.j END AS j,
      |    CASE WHEN fire2 THEN list_transform(r.amps,
      |        (x, s) -> CASE WHEN s = ((r.aidx + 1) % 10) + 1 THEN a.mxv
      |                  ELSE x END)
      |      ELSE r.amps END AS amps2,
      |    CASE WHEN fire2
      |      THEN (list_sort(amps2)[5] + list_sort(amps2)[6]) / 2.0
      |      ELSE r.th END AS th2,
      |    CASE WHEN fire2 THEN ${SqlGen.lsum("amps2")} / 10.0
      |      ELSE 0.0 END AS amm,
      |    CASE WHEN fire2 THEN th2 - 2 * sqrt(
      |        list_reduce(list_prepend(0.0::DOUBLE, amps2),
      |          (a2, b2) -> a2 + (b2 - amm) * (b2 - amm)) / 10.0)
      |      ELSE r.tsub END AS tsub2,
      |    CASE WHEN fire2 THEN (r.aidx + 1) % 10 ELSE r.aidx END,
      |    CASE WHEN fire2 THEN a.i + 57 ELSE a.i + 1 END
      |  FROM rec r JOIN arg a ON a.user_id = r.user_id AND a.i = r.nxt
      |  WHERE r.nxt < a.n - 1280)
      |SELECT r.user_id AS entity_id, r.j AS onset_pos, round(s.x, 6) AS value
      |FROM rec r JOIN sig s ON s.user_id = r.user_id AND s.i = r.j
      |WHERE r.fired
      |ORDER BY entity_id, onset_pos""".stripMargin

  /** q_media_features oracle: the fake-codec media table AND the frame
    * kernel replayed in SQL — splitmix64 in HUGEINT with explicit
    * mod-2^64 wrapping multiplies (SqlGen.mixCols), per-frame FNV-1a as
    * an ordered list fold over the pixel stream, mean/max as plain
    * aggregates (integer sums — order-free). Mirrors
    * [[graft.functions.Multimodal.makeBlob]]/frameFeatures for
    * nDocs = 200, frameStride = 2. */
  /** Shared WITH-chain of the media replays, ending in
    * `pix(i, w, h, f, px, v)` — the decoded sampled-frame pixel stream. */
  private def mediaChain: String =
    s"""WITH di AS (SELECT unnest(generate_series(0, 199))::HUGEINT AS i),
       |dm AS (SELECT i, ${SqlGen.mixCols("i", "m")} FROM di),
       |d5 AS (SELECT i, ${SqlGen.mixCols("xor(5::HUGEINT, mr)", "w")} FROM dm),
       |d6 AS (SELECT i, ${SqlGen.mixCols("xor(6::HUGEINT, mr)", "h")} FROM dm),
       |d7 AS (SELECT i, ${SqlGen.mixCols("xor(7::HUGEINT, mr)", "f")} FROM dm),
       |da AS (SELECT i, ${SqlGen.mixCols("xor(11::HUGEINT, mr)", "a")} FROM dm),
       |dims AS (
       |  SELECT d5.i,
       |    8 + ((d5.wr // ${1L << 33}) % 25) AS w,
       |    8 + ((d6.hr // ${1L << 33}) % 25) AS h,
       |    1 + ((d7.fr // ${1L << 33}) % 6) AS frames,
       |    da.ar AS ai
       |  FROM d5 JOIN d6 ON d5.i = d6.i JOIN d7 ON d7.i = d5.i
       |    JOIN da ON da.i = d5.i),
       |fr AS (
       |  SELECT i, w, h, ai, fi.f
       |  FROM dims, (SELECT unnest(generate_series(0, 5)) AS f) fi
       |  WHERE fi.f < frames AND fi.f % 2 = 0),
       |px AS (
       |  SELECT fr.i, fr.w, fr.h, fr.f, fr.ai, p.px,
       |    (fr.f * 100000 + p.px)::HUGEINT AS pkey
       |  FROM fr, (SELECT unnest(generate_series(0, 1023)) AS px) p
       |  WHERE p.px < fr.w * fr.h),
       |pm AS (SELECT DISTINCT pkey FROM px),
       |pmx AS (SELECT pkey, ${SqlGen.mixCols("pkey", "p")} FROM pm),
       |pv AS (
       |  SELECT px.i, px.w, px.h, px.f, px.px,
       |    ${SqlGen.mixCols("xor(px.ai, pmx.pr)", "t")}
       |  FROM px JOIN pmx ON pmx.pkey = px.pkey),
       |pix AS (SELECT i, w, h, f, px, tr // ${1L << 56} AS v FROM pv)"""
      .stripMargin

  private def mediaOracle: String = {
    val m64 = "18446744073709551616"
    mediaChain + s""",
       |feat AS (
       |  SELECT i, w, h, f,
       |    sum(v) AS s, max(v) AS mx,
       |    list_reduce(
       |      list_prepend(1469598103934665603::HUGEINT, list(v ORDER BY px)),
       |      (acc, x) -> (xor(acc, x::HUGEINT) * 1099511628211) % $m64) AS hh
       |  FROM pix GROUP BY 1, 2, 3, 4)
       |SELECT 'doc_' || lpad(i::VARCHAR, 8, '0') AS doc_id,
       |  f::INT AS frame, w::INT AS width, h::INT AS height,
       |  round(s::DOUBLE / (w * h) + 1e-9, 6) AS mean_px,
       |  mx::INT AS max_px,
       |  (CASE WHEN hh >= ${BigInt(1) << 63} THEN hh - $m64 ELSE hh
       |    END)::BIGINT AS frame_hash
       |FROM feat ORDER BY doc_id, frame""".stripMargin
  }

  /** q_media_resize oracle: 2×2 mean pooling over the same decoded
    * pixel stream — every output is exact arithmetic (cell sums are
    * integers; pooled values are quarter-integers, whose sums are exact
    * in double in ANY order), so the compare is bit-exact unrounded. */
  private def mediaResizeOracle: String =
    mediaChain + """,
       |pool AS (
       |  SELECT i, f, (w // 2) AS w2, (h // 2) AS h2,
       |    (px % w) // 2 AS cx, (px // w) // 2 AS cy, v
       |  FROM pix
       |  WHERE (px % w) < 2 * (w // 2) AND (px // w) < 2 * (h // 2)),
       |cells AS (
       |  SELECT i, f, w2, h2, cx, cy, sum(v) AS cell
       |  FROM pool GROUP BY 1, 2, 3, 4, 5, 6),
       |feats AS (
       |  SELECT i, f, w2, h2,
       |    sum(cell / 4.0) / (w2 * h2) AS mean_pooled,
       |    max(cell / 4.0) AS max_pooled,
       |    sum(cell)::BIGINT AS pool_checksum
       |  FROM cells GROUP BY 1, 2, 3, 4)
       |SELECT 'doc_' || lpad(i::VARCHAR, 8, '0') AS doc_id,
       |  f::INT AS frame, w2::INT AS w2, h2::INT AS h2,
       |  mean_pooled, max_pooled, pool_checksum
       |FROM feats ORDER BY doc_id, frame""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_filtfilt" -> filtfiltOracle,
    "q_pt_filter" -> ptFilterOracle,
    "q_ht_filter" -> htFilterOracle,
    "q_rpeaks" -> rpeaksOracle,
    "q_pulse_onsets" -> pulseOracle,
    "q_media_features" -> mediaOracle,
    "q_media_resize" -> mediaResizeOracle,
    "q_sampen" ->
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - 1 AS i
        |  FROM events),
        |st AS (
        |  SELECT user_id, count(*) AS n,
        |    0.2 * sqrt(sum(b*b)/count(*)
        |      - (sum(b)/count(*))*(sum(b)/count(*))) AS r
        |  FROM v GROUP BY user_id),
        |tmpl AS (
        |  SELECT user_id, i, b AS x0,
        |    lead(b, 1) OVER (PARTITION BY user_id ORDER BY i) AS x1,
        |    lead(b, 2) OVER (PARTITION BY user_id ORDER BY i) AS x2
        |  FROM v),
        |p AS (
        |  SELECT a.user_id,
        |    sum(CASE WHEN abs(a.x0 - c.x0) < st.r AND abs(a.x1 - c.x1) < st.r
        |      THEN 1 ELSE 0 END) AS bb,
        |    sum(CASE WHEN abs(a.x0 - c.x0) < st.r AND abs(a.x1 - c.x1) < st.r
        |      AND abs(a.x2 - c.x2) < st.r THEN 1 ELSE 0 END) AS aa
        |  FROM tmpl a
        |  JOIN st ON st.user_id = a.user_id
        |  JOIN tmpl c ON c.user_id = a.user_id AND a.i < c.i
        |    AND c.i <= st.n - 3
        |  WHERE a.i <= st.n - 3
        |  GROUP BY a.user_id)
        |SELECT st.user_id::VARCHAR AS entity_id,
        |  CASE WHEN p.aa > 0 AND p.bb > 0
        |    THEN round(-ln(p.aa::DOUBLE / p.bb), 6) END AS sampen
        |FROM st LEFT JOIN p ON p.user_id = st.user_id
        |ORDER BY entity_id""".stripMargin,
    "q_power_band" ->
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - 1 AS i
        |  FROM events
        |  QUALIFY i < 64),
        |full64 AS (
        |  SELECT user_id FROM v GROUP BY user_id HAVING count(*) = 64),
        |x AS (
        |  SELECT v.user_id, v.i,
        |    (v.b - sum(v.b) OVER (PARTITION BY v.user_id) / 64) / 100.0 AS xn
        |  FROM v JOIN full64 USING (user_id)),
        |sp AS (
        |  SELECT x.user_id, ks.k, 2.0 * ks.k AS f,
        |    sqrt(pow(sum(x.xn * cos(2 * pi() * ks.k * x.i / 64.0)), 2)
        |       + pow(sum(x.xn * sin(2 * pi() * ks.k * x.i / 64.0)), 2)) AS psd
        |  FROM x, (SELECT unnest(generate_series(0, 31)) AS k) ks
        |  GROUP BY x.user_id, ks.k),
        |agg AS (
        |  SELECT user_id,
        |    sum(CASE WHEN f >= 5 AND f <= 15 THEN psd ELSE 0 END) AS band,
        |    sum(psd) AS total
        |  FROM sp GROUP BY user_id),
        |pk AS (
        |  SELECT user_id, f AS peak_f FROM (
        |    SELECT user_id, f, row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor((psd + 1e-9) * 10000 + 0.5) DESC, k) AS rk
        |    FROM sp WHERE f >= 5 AND f < 15) WHERE rk = 1)
        |SELECT agg.user_id::VARCHAR AS entity_id,
        |  round(band, 4) AS band_power,
        |  round(pk.peak_f, 4) AS peak_freq,
        |  round(band / total, 4) AS rel_power,
        |  round(total, 4) AS total_power
        |FROM agg JOIN pk USING (user_id)
        |ORDER BY entity_id""".stripMargin,
    // Ring-buffer closed form: before computing beat q, writes have
    // happened for beat indices k in [1, W] with W = q-1 (interior) or
    // P-2 (the last beat, computed after the loop); slot s therefore
    // holds the slice of peak s + 24·max(0, (W-s)//24) for s in 1..23
    // (falling back to the initial future-fill peak s) and of peak
    // 24·(W//24) for s = 0 when W >= 24, else the NaN row (excluded).
    // The beat-index range is decorrelated (DuckDB cannot LEFT JOIN
    // below a correlated unnest — see PLANS_r2.md) but its bound is
    // DERIVED from max(pcount), not a constant: a fixed 4095 silently
    // truncated users beyond 8191 events at large scale factors.
    // All slices are zero-padded ±4 windows around position 2·p+1; means
    // divide exact integer sums by 8, so rvv/sxy/yvv are exact.
    "q_quality" ->
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - 1 AS i
        |  FROM events),
        |nn AS (
        |  SELECT user_id, count(*) AS n, count(*) // 2 AS pcount
        |  FROM v GROUP BY user_id HAVING count(*) >= 48),
        |beats AS (
        |  SELECT nn.user_id, b.bi, nn.pcount
        |  FROM nn JOIN (SELECT unnest(generate_series(0,
        |      (SELECT coalesce(max(pcount), 1) FROM nn) - 1)) AS bi) b
        |    ON b.bi < nn.pcount),
        |bw AS (
        |  SELECT user_id, bi, pcount,
        |    CASE WHEN bi <= pcount - 2 THEN bi - 1 ELSE pcount - 2 END AS wmax
        |  FROM beats),
        |bufmap AS (
        |  SELECT b.user_id, b.bi, s.s,
        |    CASE WHEN s.s = 0 THEN
        |      CASE WHEN b.wmax >= 24 THEN 24 * (b.wmax // 24) END
        |    ELSE s.s + 24 * greatest(0, (b.wmax - s.s) // 24) END AS bp
        |  FROM bw b CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS s) s),
        |ys AS (
        |  SELECT b.user_id, b.bi, j.j, coalesce(vv.b, 0.0) AS yv
        |  FROM bw b
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
        |  LEFT JOIN v vv ON vv.user_id = b.user_id
        |    AND vv.i = 2 * b.bi - 3 + j.j),
        |ystat AS (
        |  SELECT user_id, bi, sum(yv) / 8 AS ym FROM ys GROUP BY 1, 2),
        |yvar AS (
        |  SELECT y.user_id, y.bi,
        |    sum((y.yv - t.ym) * (y.yv - t.ym)) AS yvv
        |  FROM ys y JOIN ystat t ON t.user_id = y.user_id AND t.bi = y.bi
        |  GROUP BY 1, 2),
        |rws AS (
        |  SELECT m.user_id, m.bi, m.s, j.j, coalesce(vv.b, 0.0) AS rv
        |  FROM bufmap m
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
        |  LEFT JOIN v vv ON vv.user_id = m.user_id
        |    AND vv.i = 2 * m.bp - 3 + j.j
        |  WHERE m.bp IS NOT NULL),
        |rstat AS (
        |  SELECT user_id, bi, s, sum(rv) / 8 AS rm FROM rws GROUP BY 1, 2, 3),
        |mom AS (
        |  SELECT r.user_id, r.bi, r.s,
        |    sum((r.rv - rs.rm) * (r.rv - rs.rm)) AS rvv,
        |    sum((r.rv - rs.rm) * (y.yv - t.ym)) AS sxy
        |  FROM rws r
        |  JOIN rstat rs ON rs.user_id = r.user_id AND rs.bi = r.bi
        |    AND rs.s = r.s
        |  JOIN ys y ON y.user_id = r.user_id AND y.bi = r.bi AND y.j = r.j
        |  JOIN ystat t ON t.user_id = r.user_id AND t.bi = r.bi
        |  GROUP BY 1, 2, 3),
        |corr AS (
        |  SELECT m.user_id, m.bi,
        |    CASE WHEN sqrt(m.rvv / 8) * (sqrt(yv.yvv / 8) * 8) = 0 THEN 0.0
        |      ELSE m.sxy / (sqrt(m.rvv / 8) * (sqrt(yv.yvv / 8) * 8)) END AS c
        |  FROM mom m JOIN yvar yv ON yv.user_id = m.user_id
        |    AND yv.bi = m.bi)
        |SELECT user_id::VARCHAR AS entity_id, bi AS peak_idx,
        |  round(sum(c) / count(*) + 1e-9, 6) + 0.0 AS quality
        |FROM corr GROUP BY user_id, bi
        |ORDER BY entity_id, peak_idx""".stripMargin,
    // Bidirectional variant: beats run over [11, B) with B the first
    // beat whose slice clips the signal; prev slot s holds the latest
    // processed beat ≡ s (mod 12), else the all-zero row (corr 0, NOT
    // excluded — unlike q_quality's NaN slot); succ slot s holds the
    // latest WRITE walking down the write regions — zero-write when the
    // source beat index reaches P−12, a real slice while it is below
    // T−12 (T = first peak within sr of the signal end), stale (skip
    // down 12) in between, initial future-fill peak s otherwise.
    // quality_bi = max(prev mean, succ mean) over 12 slots each.
    // NB: DuckDB `//` truncates toward zero for negative numerators —
    // the (bi−1−s) and (T−13−s) quotients are guarded non-negative.
    "q_quality_bi" ->
      """WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - 1 AS i
        |  FROM events),
        |nn AS (
        |  SELECT user_id, count(*) AS n, count(*) // 2 AS pcount
        |  FROM v GROUP BY user_id HAVING count(*) >= 48),
        |cst AS (
        |  SELECT user_id, n, pcount,
        |    least(pcount, (n - 5) // 2 + 1) AS bend,
        |    (n - 8) // 2 AS tthr
        |  FROM nn),
        |beats AS (
        |  SELECT c.user_id, b.bi, c.pcount, c.tthr, c.bend
        |  FROM cst c JOIN (SELECT unnest(generate_series(0,
        |      (SELECT coalesce(max(pcount), 1) FROM cst) - 1)) AS bi) b
        |    ON b.bi < c.pcount),
        |comp AS (SELECT * FROM beats WHERE bi >= 11 AND bi < bend),
        |slots AS (SELECT unnest(generate_series(0, 11)) AS s),
        |pmap AS (
        |  SELECT c.user_id, c.bi, s.s,
        |    CASE WHEN c.bi - 1 >= s.s
        |          AND s.s + 12 * ((c.bi - 1 - s.s) // 12) >= 11
        |         THEN s.s + 12 * ((c.bi - 1 - s.s) // 12) END AS bp
        |  FROM comp c CROSS JOIN slots s),
        |smap AS (
        |  SELECT user_id, bi, s,
        |    CASE
        |      WHEN ks < 11 THEN init
        |      WHEN ks >= pcount - 12 THEN NULL
        |      WHEN ks < tthr - 12 THEN ks + 12
        |      WHEN k2 >= 11 THEN k2 + 12
        |      ELSE init
        |    END AS bp
        |  FROM (
        |    SELECT c.user_id, c.bi, s.s, c.pcount, c.tthr,
        |      CASE WHEN c.bi - 1 >= s.s
        |           THEN s.s + 12 * ((c.bi - 1 - s.s) // 12) ELSE -1 END AS ks,
        |      CASE WHEN c.tthr - 13 >= s.s
        |           THEN s.s + 12 * ((c.tthr - 13 - s.s) // 12) ELSE -1 END AS k2,
        |      CASE WHEN s.s >= 1 THEN s.s END AS init
        |    FROM comp c CROSS JOIN slots s)),
        |ys AS (
        |  SELECT c.user_id, c.bi, j.j, coalesce(vv.b, 0.0) AS yv
        |  FROM comp c
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
        |  LEFT JOIN v vv ON vv.user_id = c.user_id
        |    AND vv.i = 2 * c.bi - 3 + j.j),
        |ystat AS (SELECT user_id, bi, sum(yv) / 8 AS ym FROM ys GROUP BY 1, 2),
        |yvar AS (
        |  SELECT y.user_id, y.bi, sum((y.yv - t.ym) * (y.yv - t.ym)) AS yvv
        |  FROM ys y JOIN ystat t ON t.user_id = y.user_id AND t.bi = y.bi
        |  GROUP BY 1, 2),
        |allmap AS (
        |  SELECT user_id, bi, 0 AS side, s, bp FROM pmap
        |  UNION ALL
        |  SELECT user_id, bi, 1 AS side, s, bp FROM smap),
        |rws AS (
        |  SELECT m.user_id, m.bi, m.side, m.s, j.j, coalesce(vv.b, 0.0) AS rv
        |  FROM allmap m
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
        |  LEFT JOIN v vv ON vv.user_id = m.user_id
        |    AND vv.i = 2 * m.bp - 3 + j.j),
        |rstat AS (
        |  SELECT user_id, bi, side, s, sum(rv) / 8 AS rm
        |  FROM rws GROUP BY 1, 2, 3, 4),
        |mom AS (
        |  SELECT r.user_id, r.bi, r.side, r.s,
        |    sum((r.rv - rs.rm) * (r.rv - rs.rm)) AS rvv,
        |    sum((r.rv - rs.rm) * (y.yv - t.ym)) AS sxy
        |  FROM rws r
        |  JOIN rstat rs ON rs.user_id = r.user_id AND rs.bi = r.bi
        |    AND rs.side = r.side AND rs.s = r.s
        |  JOIN ys y ON y.user_id = r.user_id AND y.bi = r.bi AND y.j = r.j
        |  JOIN ystat t ON t.user_id = r.user_id AND t.bi = r.bi
        |  GROUP BY 1, 2, 3, 4),
        |corr AS (
        |  SELECT m.user_id, m.bi, m.side,
        |    CASE WHEN sqrt(m.rvv / 8) * (sqrt(yv.yvv / 8) * 8) = 0 THEN 0.0
        |      ELSE m.sxy / (sqrt(m.rvv / 8) * (sqrt(yv.yvv / 8) * 8)) END AS c
        |  FROM mom m JOIN yvar yv ON yv.user_id = m.user_id
        |    AND yv.bi = m.bi),
        |qb AS (
        |  SELECT user_id, bi,
        |    round(greatest(
        |      sum(CASE WHEN side = 0 THEN c ELSE 0 END) / 12,
        |      sum(CASE WHEN side = 1 THEN c ELSE 0 END) / 12) + 1e-9, 6)
        |      + 0.0 AS q
        |  FROM corr GROUP BY user_id, bi)
        |SELECT b.user_id::VARCHAR AS entity_id, b.bi AS peak_idx,
        |  qb.q AS quality_bi
        |FROM beats b LEFT JOIN qb ON qb.user_id = b.user_id AND qb.bi = b.bi
        |ORDER BY entity_id, peak_idx""".stripMargin,
    "q_hrv_freq" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS t, round(value*100) AS b
        |  FROM events),
        |st AS (
        |  SELECT user_id, count(*) AS n, min(t) AS t0,
        |    (max(t) - min(t))::DOUBLE AS span, sum(b) AS sb
        |  FROM v GROUP BY user_id
        |  HAVING count(*) >= 16),
        |x AS (
        |  SELECT v.user_id,
        |    (v.t - st.t0) / st.span * 2 * pi() AS xj,
        |    v.b - st.sb / st.n AS cj
        |  FROM v JOIN st USING (user_id)),
        |sp AS (
        |  SELECT x.user_id, ks.k,
        |    sqrt(pow(sum(x.cj * cos(ks.k * x.xj)), 2)
        |       + pow(sum(x.cj * sin(ks.k * x.xj)), 2)) AS mag
        |  FROM x, (SELECT unnest(generate_series(0, 15)) AS k) ks
        |  GROUP BY x.user_id, ks.k),
        |psd AS (
        |  SELECT sp.user_id, sp.k, sp.mag / st.n / 100.0 AS p
        |  FROM sp JOIN st USING (user_id)),
        |agg AS (
        |  SELECT user_id,
        |    sum(CASE WHEN k >= 1 AND k <= 4 THEN p ELSE 0 END) AS band,
        |    sum(p) AS total
        |  FROM psd GROUP BY user_id),
        |pk AS (
        |  SELECT user_id, k::DOUBLE AS peak_f FROM (
        |    SELECT user_id, k, row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor((p + 1e-9) * 10000 + 0.5) DESC, k) AS rk
        |    FROM psd WHERE k >= 1 AND k < 8) WHERE rk = 1)
        |SELECT agg.user_id::VARCHAR AS entity_id,
        |  round(band, 4) AS band_power_1_4,
        |  round(pk.peak_f, 4) AS peak_freq_1_8,
        |  round(band / total, 4) AS rel_power_1_4
        |FROM agg JOIN pk USING (user_id)
        |ORDER BY entity_id""".stripMargin
  )
}
