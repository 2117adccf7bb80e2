package graft.pipeline

import graft.operators.{Sessionize, Windows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship end-to-end pipeline (north rule): point-in-time / as-of
  * join + windowed feature transform over (entity, ts, value) sequence
  * points — sessionize → anchored rolling features (statistical moments +
  * HRV-style successive-difference features) → as-of join of each point
  * to the latest COMPLETED window → gap-aware backfill. One feature
  * vector per entity×timestamp.
  *
  * Zero temporal leakage by construction: a window's features become
  * visible at `window_start + wsize` (when the window closes), and the
  * backward as-of join only attaches rows with availability ts <= point
  * ts, so no feature ever sees a point later than the row it lands on.
  *
  * Scale notes (SURVEY.md §7.5): the per-entity layout shuffle happens
  * once (hash `repartition(entity)` + in-partition (entity, ts) sort),
  * and every later stage reads it exchange-free: the sessionize window,
  * the bucket rollup of the window features (two groupBys clustered by
  * entity, no range-join rescans) and the native as-of merge. Skew is
  * NOT split: a hot entity is one task through all three stages (AQE
  * splits skew only in sort-merge joins, and the pipeline plans none).
  */
object FeaturePipeline {

  /** @param wsize         window length (ts units)
    * @param wstep         window stride (ts units)
    * @param minWindowLen  windows with fewer points emit NULL features
    * @param sessionGap    gap threshold for sessionize / backfill gating
    * @param maxStaleness  as-of tolerance: a feature older than this is
    *                      not carried forward (gap-aware fill limit)
    * @param tieCols       columns breaking (entity, ts) ordering ties in
    *                      the sessionize and successive-difference
    *                      windows — pass the source's unique id (e.g.
    *                      event_id) whenever timestamps can repeat per
    *                      entity, or session ids and rmssd are
    *                      retry-nondeterministic (same hazard the
    *                      q_sessionize/q_backfill queries close)
    */
  final case class Config(wsize: Long, wstep: Long, minWindowLen: Long,
                          sessionGap: Long, maxStaleness: Option[Long],
                          tieCols: Seq[String] = Nil)

  /** Stage 2 (scale path): two-level bucket rollup.
    *
    * Instead of exploding every point to its ⌈wsize/wstep⌉ overlapping
    * windows (shuffle volume = overlap·|points|), points first collapse
    * into TUMBLING buckets of width wstep — a map-side-combinable
    * groupBy producing |span|/wstep rows per entity — and each window
    * k then combines its R = wsize/wstep consecutive buckets. Both
    * levels group by entity first, so over an entity-clustered input
    * (the pipeline's stage-1 layout) neither level shuffles at all.
    *
    * Decomposability: count/sum/sumsq/min/max combine trivially. The
    * rmssd pair gate (both endpoints inside the window) decomposes by
    * PAIR LAG: a successive pair whose previous point sits L buckets
    * back is included in window k = b − j iff L <= j, so each bucket
    * carries cumulative-by-lag pair sums dcum[0..R−1] and window k
    * picks dcum[b − k] — exact slice semantics, no approximation.
    * (Equality with [[windowFeatures]] is asserted in PipelineSpec.)
    *
    * Emits only windows that hold a point; [[windowFeatures]] also
    * emits the empty grid windows (n_points = 0).
    * Requires wsize % wstep == 0 (integral overlap degree R).
    */
  def windowFeaturesRolled(points: DataFrame, entityCol: String,
                           tsCol: String, valueCol: String,
                           cfg: Config): DataFrame = {
    require(cfg.wsize % cfg.wstep == 0 && cfg.wsize >= cfg.wstep,
      "rolled path needs wsize = R * wstep, R >= 1")
    val r = (cfg.wsize / cfg.wstep).toInt
    val s = cfg.wstep
    // ties ordered as in sessionize: tied (entity, ts) rows must not
    // take their successive differences from shuffle fetch order
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol) +: cfg.tieCols.map(col): _*)
    val we = Window.partitionBy(col(entityCol))
    val pts = points.select(col(entityCol), col(tsCol),
      col(valueCol).as("__v"),
      lag(col(tsCol), 1).over(w).as("__prev_ts"),
      (col(valueCol) - lag(col(valueCol), 1).over(w)).as("__d"),
      min(col(tsCol)).over(we).as("__first"),
      max(col(tsCol)).over(we).as("__last"))
    val b = floor((col(tsCol) - col("__first")) / s).cast("long")
    val prevB = floor((col("__prev_ts") - col("__first")) / s).cast("long")
    val lagB = (b - prevB).cast("int")

    // level 1: tumbling-bucket rollup (map-side combinable)
    val lagSums = (0 until r).flatMap { j =>
      Seq(
        sum(when(col("__lag").isNotNull && col("__lag") <= j,
          col("__d") * col("__d"))).as(s"__d2_$j"),
        sum(when(col("__lag").isNotNull && col("__lag") <= j, 1L))
          .as(s"__c_$j"))
    }
    val bucketAggs = Seq(
      count(lit(1)).as("__cnt"),
      sum(col("__v")).as("__s1"),
      sum(col("__v") * col("__v")).as("__s2"),
      min(col("__v")).as("__mn"),
      max(col("__v")).as("__mx"),
      first(col("__first")).as("__first"),
      first(col("__last")).as("__last")) ++ lagSums
    val buckets = pts
      .withColumn("__b", b)
      .withColumn("__lag", when(lagB <= r - 1, lagB))
      .groupBy(col(entityCol), col("__b"))
      .agg(bucketAggs.head, bucketAggs.tail: _*)

    // level 2: explode each bucket b to the R windows k = b − j (j < R)
    // that contain it, carrying its lag<=j cumulative pair sums, and
    // combine them with ONE groupBy(entity, k). hash(entity) already
    // satisfies ClusteredDistribution(entity, k), so this level plans
    // no exchange, no join and no broadcast.
    val kGridMax = floor((col("__last") - col("__first") - 1) / s)
    val anchors = inline(array((0 until r).map(j => struct(lit(j).as("__j"),
      col(s"__d2_$j").as("__d2"), col(s"__c_$j").as("__c"))): _*))
    val (nPts, s1, s2) = (col("n_points"), col("__s1"), col("__s2"))
    val nOk = nPts >= cfg.minWindowLen
    buckets.select(col("*"), anchors)
      .withColumn("__k", col("__b") - col("__j"))
      .where(col("__k") >= 0 && col("__k") <= kGridMax)
      .groupBy(col(entityCol), col("__k"))
      .agg(first(col("__first")).as("__first"),
        sum(col("__cnt")).as("n_points"),
        sum(col("__s1")).as("__s1"), sum(col("__s2")).as("__s2"),
        min(col("__mn")).as("__mn"), max(col("__mx")).as("__mx"),
        sum(col("__d2")).as("__d2"), sum(col("__c")).as("__c"))
      .select(col(entityCol),
        (col("__first") + col("__k") * s).as("window_start"),
        nPts,
        when(nOk, s1 / nPts).as("f_mean"),
        when(nOk, sqrt(s2 / nPts - (s1 / nPts) * (s1 / nPts))).as("f_std"),
        when(nOk, col("__mn")).as("f_min"),
        when(nOk, col("__mx")).as("f_max"),
        when(nOk && col("__c") > 0, sqrt(col("__d2") / col("__c")))
          .as("f_rmssd"))
  }

  /** Stage 2 (reference path): per-(entity, window) features over the
    * anchored grid via per-point window explode. Integer-exact sums when
    * `value` is integral; rmssd counts only successive pairs fully
    * inside the window (numpy slice semantics). */
  def windowFeatures(points: DataFrame, entityCol: String, tsCol: String,
                     valueCol: String, cfg: Config): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol) +: cfg.tieCols.map(col): _*)
    val pts = points.select(col(entityCol), col(tsCol),
      col(valueCol).as("__v"),
      lag(col(tsCol), 1).over(w).as("__prev_ts"),
      (col(valueCol) - lag(col(valueCol), 1).over(w)).as("__d"))
    Windows.anchoredWindowsWith(pts, entityCol, tsCol,
      cfg.wsize, cfg.wstep, cfg.minWindowLen) { ws =>
      val inWin = col("__prev_ts").isNotNull && col("__prev_ts") >= ws
      val v = col("__v")
      Seq(
        (sum(v) / count(lit(1))).as("f_mean"),
        sqrt(sum(v * v) / count(lit(1)) -
          (sum(v) / count(lit(1))) * (sum(v) / count(lit(1))))
          .as("f_std"),
        min(v).as("f_min"),
        max(v).as("f_max"),
        sqrt(sum(when(inWin, col("__d") * col("__d"))) /
          sum(when(inWin, 1L))).as("f_rmssd"))
    }
  }

  /** Full pipeline over long-format points. Output: one row per input
    * point with session id, the attached feature vector, and its
    * provenance timestamp (`feature_ts` = when the window closed).
    *
    * @param checkpoint optional (root dir) — stages write/resume
    *                   checkpoints with per-partition lineage sidecars
    */
  def run(spark: SparkSession, points: DataFrame, entityCol: String,
          tsCol: String, valueCol: String, cfg: Config,
          checkpoint: Option[String] = None): DataFrame = {

    def stage(name: String)(df: => DataFrame): DataFrame = checkpoint match {
      case Some(root) => Pipeline.stage(spark, root, name)(df)
      case None => df
    }

    // Stage 1: layout + sessionize. ONE HASH shuffle on the entity:
    // the sessionize window requires ClusteredDistribution(entity), so
    // hash(entity) partitioning is reused exchange-free, and the
    // within-partition sort on (entity, ts, ties) satisfies the
    // window's required ordering. (A range layout on (entity, ts) does
    // not satisfy the entity clustering and cost a second full exchange:
    // plans/r06/flagship_s1_{before,after}.txt.) Both consumers, the
    // stage-2 rollup and the as-of left side, read this one exchange —
    // the second as a ReusedExchange — so nothing is cached. The
    // partition count is pinned to the session's shuffle partitions so
    // AQE cannot coalesce the layout below one task per slot.
    val laid = stage("s1_sessionized") {
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      Sessionize.withSessionId(
        points.repartition(parts, col(entityCol)).sortWithinPartitions(
          col(entityCol) +: col(tsCol) +: cfg.tieCols.map(col): _*),
        entityCol, tsCol, cfg.sessionGap, tieCols = cfg.tieCols)
    }

    // Stage 2: windowed features on the anchored per-entity grid — via
    // the bucket rollup whenever the grid is regular (wsize = R·wstep),
    // falling back to the per-point explode otherwise.
    val feats = stage("s2_features") {
      val wf =
        if (cfg.wsize % cfg.wstep == 0 && cfg.wsize >= cfg.wstep)
          windowFeaturesRolled(laid, entityCol, tsCol, valueCol, cfg)
        else windowFeatures(laid, entityCol, tsCol, valueCol, cfg)
      wf
        .where(col("n_points") >= 1) // empty grid slots carry no state
        .select(col(entityCol),
          (col("window_start") + cfg.wsize).as(tsCol), // availability ts
          col("window_start").as("win_start"),
          col("n_points").as("n"),
          col("f_mean").as("mean"), col("f_std").as("std"),
          col("f_min").as("vmin"), col("f_max").as("vmax"),
          col("f_rmssd").as("rmssd"))
    }

    // Stage 3: point-in-time join + staleness-gated carry-forward.
    stage("s3_vectors") {
      // native operator drops the right keys; carry the availability
      // ts explicitly as payload for provenance
      val prefixed = feats.select(feats.columns.toSeq.map(c =>
        if (c == entityCol || c == tsCol) col(c) else col(c).as(s"f_$c")
      ) :+ col(tsCol).as("feature_ts"): _*)
      graft.plans.AsOfJoinNative.joinBackward(spark, laid, prefixed,
        entityCol, tsCol, cfg.maxStaleness)
    }
  }
}
