package graft.api

import graft.functions.{Accel, Geo, Hrv, Stats, TimeDomain}
import graft.operators.{Dfa, Fractal}
import graft.signal.{Butterworth, PerEntity, Ppg, Qrs, Quality, SampEn,
  Spectral}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The migration facade: the reference's public module surface
  * (pymhealth `mhealth.<module>.<function>`) re-expressed at the
  * DataFrame level, one object per reference module. Every function
  * takes a long-format frame `(entityCol, tsCol, valueCol)` — the
  * engine's SeqPoint contract (SURVEY §1.4) — where the reference took
  * one in-memory array, i.e. "per subject" becomes "per entity, in
  * parallel". Semantics delegate to the kernels / Column bundles; this
  * layer only adapts shapes. The hash-checked gate queries run these
  * entries: `Filters.butterworth`, `QrsApi.filterPanTompkins`,
  * `.filterHamiltonTompkins`, `.rpeaksHamiltonTompkins`,
  * `PpgApi.pulseOnsetPhysionet`, `QualityApi.beatCorrelation` (both
  * directions), `AccelApi.linearFilter`, `.gravityFilter` and
  * `FractalApi.hurst`'s `Fractal.hurst`. See README "Migrating from
  * pymhealth" for the function-by-function map. */
object MHealth {

  private def w(e: String, t: String) =
    Window.partitionBy(col(e)).orderBy(col(t))

  /** The same-length per-entity scan: `kernel(vs)` zipped back onto the
    * entity's ts as (entityCol, tsCol, filtered). An entity of at most
    * `pad` samples (shorter than the kernel's filtfilt padding) emits no
    * rows — the reference raises. */
  private def sameLength(df: DataFrame, entityCol: String, tsCol: String,
                         valueCol: String, pad: Int, spark: SparkSession)
                        (kernel: Array[Double] => Array[Double]): DataFrame =
    PerEntity.transform(spark, df.select(col(entityCol), col(tsCol),
      col(valueCol)), entityCol, tsCol, valueCol) { (ts, vs) =>
      if (vs.length <= pad) Iterator.empty
      else kernel(vs).iterator.zip(ts.iterator).map { case (v, t) => (t, v) }
    }.withColumnRenamed("out", "filtered")

  /** `mhealth.generic.filters.butterworth` (filters.py:8-35): zero-phase
    * two-pass filter per entity. `cutoff` in Hz against sampling
    * frequency `freq`; one cutoff = lowpass/highpass per `ftype`, two =
    * bandpass — same surface as the reference. */
  object Filters {
    def butterworth(df: DataFrame, entityCol: String, tsCol: String,
                    valueCol: String, freq: Double, cutoff: Seq[Double],
                    ftype: Butterworth.FType, order: Int = 5,
                    spark: SparkSession = SparkSession.active)
    : DataFrame = {
      val c = Butterworth.design(order, cutoff.map(_ / (freq / 2)), ftype)
      sameLength(df, entityCol, tsCol, valueCol,
        3 * (c.a.length max c.b.length), spark)(Butterworth.filtfilt(c, _))
    }
  }

  /** `mhealth.heart.qrs` (qrs.py). */
  object QrsApi {
    /** rpeaks_hamilton_tompkins (qrs.py:59-104): one row per detected
      * R peak — (entity, ts of peak, raw value at peak). */
    def rpeaksHamiltonTompkins(df: DataFrame, entityCol: String,
                               tsCol: String, valueCol: String,
                               fs: Double,
                               spark: SparkSession = SparkSession.active)
    : DataFrame =
      PerEntity.selectIndices(spark, df.select(col(entityCol), col(tsCol),
        col(valueCol)), entityCol, tsCol, valueCol) { vs =>
        if (vs.length <= 120) Array.empty
        else Qrs.rpeaksHamiltonTompkins(vs, fs)
      }.withColumnRenamed("out", "value")

    /** fs inference (qrs.py:102): the reference's pandas adapter reads
      * the spacing of the FIRST TWO index entries — fs = 1e9 / (t1 −
      * t0) nanoseconds. Engine ts columns are numeric; pass the tick
      * count per second (default micros). Returns one (entity, fs) row
      * per entity. Quirk preserved: only the first gap is read, so an
      * irregular series silently infers from its first interval.
      * (Engine reads the first two rows in TS order — the reference
      * reads positional index order; identical whenever the input is
      * time-sorted, which is the engine's per-entity contract.)
      * Entities with fewer than two rows, or whose first two ts values
      * coincide (gap 0 — fs would be a division by zero), emit NO row
      * rather than a null/Inf fs. */
    def inferFs(df: DataFrame, entityCol: String, tsCol: String,
                ticksPerSecond: Double = 1e6): DataFrame = {
      val win = w(entityCol, tsCol)
      df.select(col(entityCol), col(tsCol))
        .withColumn("__rn", row_number().over(win))
        .where(col("__rn") <= 2)
        .groupBy(col(entityCol))
        .agg(count(lit(1)).as("__cnt"),
          (max(col(tsCol)) - min(col(tsCol))).as("__gap"))
        .where(col("__cnt") === 2 && col("__gap") =!= 0)
        .select(col(entityCol),
          (lit(ticksPerSecond) / col("__gap")).as("fs"))
    }

    /** filter_pan_tompkins / filter_hamilton_tompkins (qrs.py:41-56,
      * 107-113): the QRS pre-filter chains. */
    def filterPanTompkins(df: DataFrame, entityCol: String, tsCol: String,
                          valueCol: String, fs: Double,
                          spark: SparkSession = SparkSession.active)
    : DataFrame =
      sameLength(df, entityCol, tsCol, valueCol, 33, spark)(
        Qrs.filterPanTompkins(_, fs))

    def filterHamiltonTompkins(df: DataFrame, entityCol: String,
                               tsCol: String, valueCol: String, fs: Double,
                               spark: SparkSession = SparkSession.active)
    : DataFrame =
      sameLength(df, entityCol, tsCol, valueCol, 33, spark)(
        Qrs.filterHamiltonTompkins(_, fs))

    /** find_peaks (qrs.py:200-212) as a Column predicate. */
    def isPeak(df: DataFrame, entityCol: String, tsCol: String,
               valueCol: String): DataFrame =
      df.withColumn("is_peak",
        TimeDomain.isPeak(col(valueCol), w(entityCol, tsCol)))
  }

  /** `mhealth.heart.ppg` (ppg.py). */
  object PpgApi {
    /** pulse_onset_physionet (ppg.py:11-25): one row per pulse onset. */
    def pulseOnsetPhysionet(df: DataFrame, entityCol: String,
                            tsCol: String, valueCol: String,
                            samplingRate: Int,
                            spark: SparkSession = SparkSession.active)
    : DataFrame =
      PerEntity.selectIndices(spark, df.select(col(entityCol), col(tsCol),
        col(valueCol)), entityCol, tsCol, valueCol) { vs =>
        if (vs.length <= samplingRate * 10) Array.empty
        else Ppg.pulseOnsetPhysionet(vs, samplingRate)
      }.withColumnRenamed("out", "value")
  }

  /** `mhealth.heart.hrv` time-domain features (hrv.py:17-170) — the
    * full bundle per entity in ONE aggregation scan, as the reference's
    * per-array functions composed per subject. nni in ms. */
  object HrvApi {
    def timeDomain(df: DataFrame, entityCol: String, tsCol: String,
                   nniCol: String, pnnxMs: Double = 50): DataFrame = {
      val ww = w(entityCol, tsCol)
      val prepped = df
        .withColumn("__d", Hrv.nniDiff(col(nniCol), ww))
        .withColumn("__p", Hrv.nniPairSum(col(nniCol), ww))
      val sd1 = Hrv.csiSd1(col("__d"))
      val sd2 = Hrv.csiSd2(col("__p"))
      prepped.groupBy(col(entityCol)).agg(
        Hrv.sdnn(col(nniCol)).as("sdnn"),
        Hrv.rmssd(col("__d")).as("rmssd"),
        Hrv.ssd(col("__d")).as("ssd"),
        Hrv.sdsd(col("__d")).as("sdsd"),
        Hrv.pnnx(col("__d"), pnnxMs).as(s"pnn${pnnxMs.toInt}"),
        Hrv.lorenzCsi(sd1, sd2).as("csi"),
        Hrv.lorenzCvi(sd1, sd2).as("cvi"),
        Hrv.lorenzMcsi(sd1, sd2).as("mcsi"))
    }

    /** sdann / sdnni (hrv.py:139-170): segment means/SDs over
      * `interval`-length windows of the ts axis (anchored at each
      * entity's first ts), then SD-of-means / mean-of-SDs. */
    def sdannSdnni(df: DataFrame, entityCol: String, tsCol: String,
                   nniCol: String, interval: Long): DataFrame = {
      val we = Window.partitionBy(col(entityCol))
      val seg = df.withColumn("__seg",
        floor((col(tsCol) - min(col(tsCol)).over(we)) / interval)
          .cast("long"))
      seg.groupBy(col(entityCol), col("__seg"))
        .agg(avg(col(nniCol)).as("__m"),
          stddev_pop(col(nniCol)).as("__sd"))
        .groupBy(col(entityCol))
        .agg(stddev_pop(col("__m")).as("sdann"),
          avg(col("__sd")).as("sdnni"),
          count(lit(1)).as("n_segments"))
    }
  }

  /** `mhealth.heart.quality` (quality.py:22-101). */
  object QualityApi {
    /** beat_correlation over a per-entity signal + its peak positions
      * (0-based indices into the ts-sorted series). An entity the kernel
      * cannot take emits no rows: fewer than 24 peaks (the
      * unidirectional ring-buffer fill), or none (bidirectional). */
    def beatCorrelation(df: DataFrame, entityCol: String, tsCol: String,
                        valueCol: String, peaksOf: Array[Double] => Array[Int],
                        sr: Int, bidirectional: Boolean = false,
                        spark: SparkSession = SparkSession.active)
    : DataFrame =
      PerEntity.transform(spark, df.select(col(entityCol), col(tsCol),
        col(valueCol)), entityCol, tsCol, valueCol) { (_, vs) =>
        val peaks = peaksOf(vs)
        if (peaks.length < (if (bidirectional) 1 else 24)) Iterator.empty
        else {
          val q = if (bidirectional) Quality.beatCorrelationBi(vs, peaks, sr)
            else Quality.beatCorrelation(vs, peaks, sr)
          q.iterator.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        }
      }.withColumnsRenamed(Map("out" -> "quality", tsCol -> "peak_idx"))
  }

  /** `mhealth.generic.stats` (stats.py) — the full profile per entity
    * in one scan. */
  object StatsApi {
    def profile(df: DataFrame, entityCol: String, valueCol: String)
    : DataFrame = {
      val v = col(valueCol)
      df.groupBy(col(entityCol)).agg(
        min(v).as("min"), max(v).as("max"), Stats.drange(v).as("drange"),
        avg(v).as("mean"), Stats.median(v).as("median"),
        Stats.stdPop(v).as("std"), Stats.varPop(v).as("var"),
        Stats.iqr(v).as("iqr"), Stats.skewnessPop(v).as("skewness"),
        Stats.kurtosisNonExcess(v).as("kurtosis"),
        Stats.kurtosisExcess(v).as("kurtosis_excess"),
        Stats.coeffVar(v).as("coeff_var"))
    }
  }

  /** `mhealth.generic.timedom` per-entity aggregates (timedom.py). */
  object TimeDomApi {
    def features(df: DataFrame, entityCol: String, tsCol: String,
                 valueCol: String, zcThreshold: Double = 0.0): DataFrame = {
      val ww = w(entityCol, tsCol)
      val v = col(valueCol)
      val g = df
        .withColumn("__grad", TimeDomain.gradient(v, ww))
        .withColumn("__zc", TimeDomain.zeroCrossing(v, zcThreshold, ww))
        .withColumn("__ad", TimeDomain.absDiff(v, ww))
        .withColumn("__grad2",
          TimeDomain.gradient(col("__grad"), ww))
      g.groupBy(col(entityCol)).agg(
        sum(col("__zc")).as("zero_crossings"),
        sum(col("__ad")).as("line_length"),
        TimeDomain.hjorthActivity(v).as("hjorth_activity"),
        TimeDomain.hjorthMobility(v, col("__grad")).as("hjorth_mobility"),
        TimeDomain.hjorthComplexity(v, col("__grad"), col("__grad2"))
          .as("hjorth_complexity"))
    }
  }

  /** `mhealth.generic.information` + fractal measures (information.py,
    * timedom.py:196-235, stats hurst). */
  object FractalApi {
    def hurst(points: DataFrame, entityCol: String, tsCol: String,
              valueCol: String, minLag: Int = 2,
              maxLagExclusive: Int = 64): DataFrame =
      Fractal.hurst(points, entityCol, tsCol, valueCol, minLag,
        maxLagExclusive)

    def dfa(points: DataFrame, entityCol: String, tsCol: String,
            valueCol: String, windows: Seq[Int],
            overlap: Double = 0.0): DataFrame =
      Dfa.exponent(points, entityCol, tsCol, valueCol, windows, overlap)

    def sampen(df: DataFrame, entityCol: String, tsCol: String,
               valueCol: String, m: Int = 2, r: Double = 0.2,
               spark: SparkSession = SparkSession.active): DataFrame =
      PerEntity.transform(spark, df.select(col(entityCol), col(tsCol),
        col(valueCol)), entityCol, tsCol, valueCol) { (_, vs) =>
        Iterator.single((0L, SampEn.sampen(vs, m, r)))
      }.select(col(entityCol), col("out").as("sampen"))
  }

  /** `mhealth.generic.frequency` band-power features over the first
    * 2^k samples per entity (density.py:17-32, hrv.py:173-198). */
  object SpectralApi {
    def bandPower(df: DataFrame, entityCol: String, tsCol: String,
                  valueCol: String, fs: Double, n: Int,
                  lower: Double, upper: Double,
                  spark: SparkSession = SparkSession.active): DataFrame =
      PerEntity.transform(spark, df.select(col(entityCol), col(tsCol),
        col(valueCol)), entityCol, tsCol, valueCol) { (_, vs) =>
        if (vs.length < n) Iterator.empty
        else {
          val x = vs.take(n)
          val mean = x.sum / n
          val f = Spectral.fft(x.map(_ - mean))
          val freqs = Array.tabulate(n / 2)(i => i * fs / n)
          val psd = f.take(n / 2).map(_.abs)
          Iterator(
            (0L, Spectral.powerBand(psd, freqs, lower, upper)),
            (1L, Spectral.peakFrequency(psd, freqs, lower, upper)),
            (2L, Spectral.relativePowerBand(psd, freqs, lower, upper)))
        }
      }.groupBy(col(entityCol)).pivot(tsCol, Seq(0L, 1L, 2L))
        .agg(first(col("out")))
        .withColumnsRenamed(Map("0" -> "band_power", "1" -> "peak_freq",
          "2" -> "rel_power"))
  }

  /** `mhealth.inertial.accelerometer` (accelerometer.py). */
  object AccelApi {
    /** roll / pitch / magnitude as added columns (accelerometer.py:9-75,
      * 197-230). */
    def orientation(df: DataFrame, xCol: String, yCol: String,
                    zCol: String): DataFrame =
      df.withColumn("roll", Accel.roll(col(yCol), col(zCol)))
        .withColumn("pitch", Accel.pitch(col(xCol), col(yCol), col(zCol)))
        .withColumn("magnitude",
          Accel.magnitude(col(xCol), col(yCol), col(zCol)))

    /** linear_filter / gravity_filter (accelerometer.py:77-195): the
      * per-axis highpass resp. lowpass filtfilt over a stacked
      * (entity, axis) series — output one row per (entity, axis, ts). */
    def linearFilter(df: DataFrame, entityCol: String, tsCol: String,
                     axisCols: Seq[String], freq: Double,
                     cutoff: Double = 0.5, order: Int = 5,
                     spark: SparkSession = SparkSession.active): DataFrame =
      axisFilter(df, entityCol, tsCol, axisCols, freq, cutoff, order,
        Butterworth.Highpass, spark)

    def gravityFilter(df: DataFrame, entityCol: String, tsCol: String,
                      axisCols: Seq[String], freq: Double,
                      cutoff: Double = 0.5, order: Int = 5,
                      spark: SparkSession = SparkSession.active): DataFrame =
      axisFilter(df, entityCol, tsCol, axisCols, freq, cutoff, order,
        Butterworth.Lowpass, spark)

    private def axisFilter(df: DataFrame, entityCol: String, tsCol: String,
                           axisCols: Seq[String], freq: Double,
                           cutoff: Double, order: Int,
                           ftype: Butterworth.FType,
                           spark: SparkSession): DataFrame = {
      // AXIS-FIRST key encoding: the axis segment is a column NAME
      // (sane identifiers, never ':'), so splitting on the FIRST ':'
      // is safe even when entity VALUES contain ':' — the entity-first
      // form would truncate ids like "site:12"
      val stacked = df.select(col(entityCol), col(tsCol),
        explode(array(axisCols.map(a =>
          struct(lit(a).as("axis"), col(a).cast("double").as("v"))): _*))
          .as("s"))
        .select(concat(col("s.axis"), lit(":"), col(entityCol))
          .as("__ea"), col(tsCol), col("s.v"))
      Filters.butterworth(stacked, "__ea", tsCol, "v", freq, Seq(cutoff),
        ftype, order, spark)
        .select(
          expr("substring(__ea, instr(__ea, ':') + 1)").as(entityCol),
          substring_index(col("__ea"), ":", 1).as("axis"),
          col(tsCol), col("filtered"))
    }
  }

  /** `mhealth.location` (distance.py, features.py, distribution.py). */
  object LocationApi {
    /** successive haversine distance (distance.py:26-44) as a column. */
    def successiveDistance(df: DataFrame, entityCol: String,
                           tsCol: String, latCol: String,
                           lonCol: String): DataFrame =
      df.withColumn("distance",
        Geo.successiveDistance(col(latCol), col(lonCol),
          w(entityCol, tsCol)))

    /** distance_from_home (features.py:27-60): home = median nighttime
      * coordinates per entity; adds `home_distance`. `isNight` is the
      * between_time predicate over the ts column. */
    def distanceFromHome(df: DataFrame, entityCol: String,
                         latCol: String, lonCol: String,
                         isNight: Column): DataFrame = {
      val home = df.where(isNight).groupBy(col(entityCol)).agg(
        percentile_approx(col(latCol), lit(0.5), lit(10000))
          .as("__hlat"),
        percentile_approx(col(lonCol), lit(0.5), lit(10000))
          .as("__hlon"))
      df.join(home, Seq(entityCol), "left")
        .withColumn("home_distance",
          Geo.haversine(col(latCol), col(lonCol), col("__hlat"),
            col("__hlon")))
        .drop("__hlat", "__hlon")
    }

    /** location_variance (features.py / distribution.py code
      * semantics — no log, as shipped). */
    def locationVariance(df: DataFrame, entityCol: String,
                         latCol: String, lonCol: String): DataFrame =
      df.groupBy(col(entityCol)).agg(
        Geo.locationVariance(col(latCol), col(lonCol))
          .as("location_variance"))

    /** cluster_locations (distribution.py:42-61): density clustering of
      * per-entity coordinates. The reference delegates to HDBSCAN
      * (external lib, nondeterministic labels); the engine substitutes
      * deterministic grid-DBSCAN over `epsDeg`-degree cells with the
      * reference's default min_samples = 1 + n/20 (pass `minPts` to
      * override) — see [[graft.operators.GridDbscan]]. Adds `cluster`
      * (min-cell-code component id, -1 = noise) and `is_core`. */
    def clusterLocations(df: DataFrame, entityCol: String,
                         latCol: String, lonCol: String,
                         epsDeg: Double = 1.0,
                         minPts: Option[Int] = None,
                         rounds: Int = 8): DataFrame =
      graft.operators.GridDbscan.label(
        df.withColumn("cx", floor(col(latCol) / epsDeg).cast("long"))
          .withColumn("cy", floor(col(lonCol) / epsDeg).cast("long")),
        entityCol, minPts, rounds)
        .drop("cx", "cy")
  }
}
