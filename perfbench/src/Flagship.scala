package perfbench

import graft.core.Caches
import graft.operators.{AsOf, Sessionize}
import graft.pipeline.FeaturePipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship workloads: `FeaturePipeline.run` over a seeded tokens
  * table, exploded to (entity, ts, value) points. */
object Flagship {

  /** graft.Bench's pipeline configuration. */
  val Cfg: FeaturePipeline.Config = FeaturePipeline.Config(wsize = 64L,
    wstep = 32L, minWindowLen = 4L, sessionGap = 8L,
    maxStaleness = Some(128L))

  /** A seeded input table (written by perfbench/gen.py): its path, its
    * number of points and, on flagship_hot, the hot entity. */
  final case class Input(path: String, points: Long, hot: Option[String])

  def points(spark: SparkSession, in: Input): DataFrame =
    spark.read.parquet(in.path)
      .select(col("doc_id").as("entity_id"),
        posexplode(col("tokens")).as(Seq("pos", "tok")))
      .select(col("entity_id"), col("pos").cast("long").as("ts"),
        col("tok").cast("double").as("value"))

  def run(spark: SparkSession, in: Input): DataFrame =
    FeaturePipeline.run(spark, points(spark, in), "entity_id", "ts",
      "value", Cfg)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One full pass: the pipeline into the [[DigestSink]] (the noop sink's
    * work plus a per-row hash and the point-in-time counters), then every
    * cache it registered is dropped, so each pass redoes the stage-1
    * shuffle and sessionize. Returns the failed output checks (empty =
    * pass): output rows equal input points; zero leakage, i.e.
    * feature_ts <= ts, and ts - feature_ts <= maxStaleness wherever
    * features are attached. */
  def pass(spark: SparkSession, in: Input): Seq[String] =
    try {
      run(spark, in).write.format(classOf[DigestSink].getName)
        .option("key", "flagship").option("ts", "ts")
        .option("feature_ts", "feature_ts")
        .option("max_staleness", Cfg.maxStaleness.get.toString)
        .mode("overwrite").save()
      val d = DigestSink.take("flagship")
      Seq(
        (d.rows != in.points) -> s"rows ${d.rows} != points ${in.points}",
        (d.future != 0) -> s"${d.future} rows see the future",
        (d.stale != 0) -> s"${d.stale} rows past staleness",
        (d.attached == 0) -> "no features attached")
        .collect { case (true, m) => m }
    } finally { Caches.drain(); Caches.assertEmpty(spark) }

  /** The three pipeline stages timed apart, each over materialized
    * inputs: the stage-1 layout + `Sessionize.withSessionId`,
    * `windowFeaturesRolled`, and `AsOfJoinNative.joinBackward`. */
  def stages(spark: SparkSession, in: Input, tr: Tracer): Unit = {
    val pts = points(spark, in)
    var laid: DataFrame = null
    var feats: DataFrame = null
    try {
      tr.span("stage.sessionize", "operators") {
        laid = Caches.persisted(Sessionize.withSessionId(
          pts.repartition(col("entity_id"))
            .sortWithinPartitions("entity_id", "ts"),
          "entity_id", "ts", Cfg.sessionGap),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        noop(laid)
      }
      tr.span("stage.rollup", "pipeline") {
        val wf = FeaturePipeline.windowFeaturesRolled(laid, "entity_id",
          "ts", "value", Cfg).where(col("n_points") >= 1)
        feats = Caches.cached(wf.select(col("entity_id"),
          (col("window_start") + Cfg.wsize).as("ts"),
          col("f_mean"), col("f_std"), col("f_min"), col("f_max"),
          col("f_rmssd"), (col("window_start") + Cfg.wsize)
            .as("feature_ts")))
        noop(feats)
      }
      tr.span("stage.asof", "plans") {
        noop(graft.plans.AsOfJoinNative.joinBackward(spark, laid, feats,
          "entity_id", "ts", Cfg.maxStaleness))
      }
    } finally { Caches.drain(); Caches.assertEmpty(spark) }
  }

  /** Untimed check: on a seeded sample of entities (and the hot one),
    * the pipeline's output is allclose to the composed reference,
    * `FeaturePipeline.windowFeatures` + `operators.AsOf.joinBackward`.
    * Returns the failed checks (empty = pass). */
  def check(spark: SparkSession, in: Input, seed: Long): Seq[String] = {
    val bad = Seq.newBuilder[String]
    try {
      val out = run(spark, in)
      val entities = spark.read.parquet(in.path).select("doc_id")
        .collect().map(_.getString(0)).sorted.toSeq
      val rng = new scala.util.Random(seed)
      val sample = col("entity_id").isin(
        rng.shuffle(entities.filterNot(in.hot.contains)).take(12) ++
          in.hot: _*)
      val cols = Seq("session_id", "feature_ts", "f_n", "f_win_start",
        "f_mean", "f_std", "f_vmin", "f_vmax", "f_rmssd")
      def rows(df: DataFrame) = df.where(sample)
        .select(col("entity_id") +: col("ts") +: cols.map(c =>
          col(c).cast("double")): _*)
        .orderBy("entity_id", "ts").collect()
      val got = rows(out)
      val pts = points(spark, in).where(sample)
      val laid = Sessionize.withSessionId(pts, "entity_id", "ts",
        Cfg.sessionGap)
      val feats = FeaturePipeline.windowFeatures(laid, "entity_id", "ts",
        "value", Cfg).where(col("n_points") >= 1)
        .select(col("entity_id"), (col("window_start") + Cfg.wsize).as("ts"),
          col("window_start").as("win_start"), col("n_points").as("n"),
          col("f_mean").as("mean"), col("f_std").as("std"),
          col("f_min").as("vmin"), col("f_max").as("vmax"),
          col("f_rmssd").as("rmssd"))
      val want = rows(AsOf.joinBackward(laid, feats, "entity_id", "ts",
        tolerance = Cfg.maxStaleness, rightPrefix = "f_")
        .withColumnRenamed("f_ts", "feature_ts"))
      if (got.length != want.length)
        bad += s"sample rows ${got.length} != reference ${want.length}"
      else {
        def close(a: Any, b: Any): Boolean = (a, b) match {
          case (null, null) => true
          case (x: Double, y: Double) =>
            math.abs(x - y) <= 1e-9 + 1e-9 * math.abs(y)
          case (x, y) => x == y
        }
        val diff = got.zip(want).count { case (g, w) =>
          (0 until g.length).exists(i => !close(g.get(i), w.get(i)))
        }
        if (diff > 0) bad += s"$diff of ${got.length} sample rows differ " +
          "from the composed reference"
      }
    } finally { Caches.drain(); Caches.assertEmpty(spark) }
    bad.result()
  }
}
