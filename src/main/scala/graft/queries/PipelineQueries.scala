package graft.queries

import graft.core.Tables
import graft.pipeline.{FeaturePipeline, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship end-to-end query: the full north-rule pipeline
  * (sessionize → anchored window features → point-in-time as-of join with
  * staleness gate) over `events`, hash-checked against a DuckDB oracle
  * that uses DuckDB's native ASOF JOIN — i.e. the as-of semantics are
  * verified against an independent engine's as-of implementation.
  *
  * Determinism scheme: values go through the exact-integer
  * `b = round(value*100)` lattice; means stay unrounded (identical
  * integer-division trees both sides); only sqrt outputs are rounded.
  */
object PipelineQueries {

  private val Size = 172800000000L // 2 days in micros
  private val Step = 86400000000L  // 1 day
  private val MinLen = 3L
  private val Gap = 86400000000L   // 1 day session gap
  private val Tol = 345600000000L  // 4 days max staleness

  private def runPipeline(spark: SparkSession, dir: String,
                          checkpoint: Option[String]): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id").as("entity_id"),
      unix_micros(col("ts").cast("timestamp")).as("t"),
      Tables.b100(col("value")).as("b"),
      col("event_id")) // sessionize tie-break: events CAN repeat a ts
    val cfg = FeaturePipeline.Config(Size, Step, MinLen, Gap, Some(Tol),
      tieCols = Seq("event_id"))
    val out = FeaturePipeline.run(spark, ev, "entity_id", "t", "b", cfg,
      checkpoint)
    out.select(
      col("entity_id"), col("t"),
      (col("b") / 100).as("value"),
      col("session_id"),
      col("f_win_start"),
      col("f_n"),
      col("f_mean"),
      round(Tables.nanToNull(col("f_std")), 6).as("f_std"),
      col("f_vmin"), col("f_vmax"),
      round(Tables.nanToNull(col("f_rmssd")), 6).as("f_rmssd"),
      col("feature_ts"))
      .orderBy(col("entity_id"), col("t"))
  }

  def qFeaturePipeline(spark: SparkSession, dir: String): DataFrame =
    runPipeline(spark, dir, None)

  /** The checkpoint/lineage/RESUME path under the same oracle as the
    * direct pipeline: a full checkpointed run writes all three stage
    * checkpoints (+ _lineage.json sidecars), the final stage's output
    * is then DELETED (a simulated mid-run failure), and the resumed run
    * re-executes ONLY that stage — stages 1–2 are read back from their
    * checkpoints. The output must hash-match the DuckDB oracle exactly
    * like q_feature_pipeline, making resume correctness driver-visible
    * (it was spec-only through round 2). The root is one per input
    * dir, so a repeated call on unchanged events files also resumes
    * the first run's stages 1–2 instead of re-materializing them. */
  def qFeaturePipelineResume(spark: SparkSession, dir: String): DataFrame = {
    val root = Pipeline.tmpRoot("ckpt_resume", dir)
    runPipeline(spark, dir, Some(root)).write.format("noop")
      .mode("overwrite").save() // materialize all three checkpoints
    // kill the last stage's checkpoint: resume must recompute it from
    // the SURVIVING stage-1/2 checkpoints
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/s3_vectors"), true)
    runPipeline(spark, dir, Some(root))
  }

  val all: Map[String, CoreQueries.Q] = Map(
    "q_feature_pipeline" -> (qFeaturePipeline _),
    "q_feature_pipeline_resume" -> (qFeaturePipelineResume _))

  // the resume query must produce the IDENTICAL result — same oracle
  val oracle: Map[String, String] = Map(
    "q_feature_pipeline_resume" -> pipelineOracle,
    "q_feature_pipeline" -> pipelineOracle)

  private lazy val pipelineOracle: String =
      s"""WITH p AS (
        |  SELECT user_id AS entity_id, epoch_us(ts) AS t,
        |    round(value*100) AS b
        |  FROM events),
        |o AS (
        |  SELECT entity_id, t, b, lag(t) OVER w AS prev_t,
        |    b - lag(b) OVER w AS d
        |  FROM p WINDOW w AS (PARTITION BY entity_id ORDER BY t)),
        |bounds AS (
        |  SELECT entity_id, min(t) AS tf, max(t) AS tl
        |  FROM p GROUP BY 1),
        |grid AS (
        |  SELECT entity_id, tf + g.k * $Step AS ws
        |  FROM bounds, unnest(generate_series(0,
        |    CAST(floor((tl - tf - 1) / $Step) AS BIGINT))) AS g(k)
        |  WHERE tl > tf),
        |feats AS (
        |  SELECT g.entity_id, g.ws + $Size AS avail, g.ws,
        |    count(*) AS n, sum(o.b) AS s1, sum(o.b*o.b) AS s2,
        |    min(o.b) AS vmin, max(o.b) AS vmax,
        |    sum(CASE WHEN o.prev_t >= g.ws THEN o.d*o.d END) AS sd2,
        |    sum(CASE WHEN o.prev_t >= g.ws THEN 1 END) AS nd
        |  FROM grid g JOIN o ON o.entity_id = g.entity_id
        |    AND o.t >= g.ws AND o.t < g.ws + $Size
        |  GROUP BY 1, 2, 3),
        |sess AS (
        |  SELECT entity_id, t, b,
        |    (sum(CASE WHEN prev_t IS NULL OR t - prev_t <= $Gap
        |      THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY entity_id ORDER BY t))::BIGINT AS session_id
        |  FROM o),
        |j AS (
        |  SELECT s.entity_id, s.t, s.b, s.session_id, f.ws, f.n,
        |    f.s1, f.s2, f.sd2, f.nd, f.vmin, f.vmax, f.avail
        |  FROM sess s ASOF LEFT JOIN feats f
        |    ON s.entity_id = f.entity_id AND s.t >= f.avail)
        |SELECT entity_id, t, b/100 AS value, session_id,
        |  CASE WHEN t - avail <= $Tol THEN ws END AS f_win_start,
        |  CASE WHEN t - avail <= $Tol THEN n END AS f_n,
        |  CASE WHEN t - avail <= $Tol AND n >= $MinLen
        |    THEN s1/n END AS f_mean,
        |  CASE WHEN t - avail <= $Tol AND n >= $MinLen
        |    THEN round(sqrt(s2/n - (s1/n)*(s1/n)), 6) END AS f_std,
        |  CASE WHEN t - avail <= $Tol AND n >= $MinLen
        |    THEN vmin END AS f_vmin,
        |  CASE WHEN t - avail <= $Tol AND n >= $MinLen
        |    THEN vmax END AS f_vmax,
        |  CASE WHEN t - avail <= $Tol AND n >= $MinLen
        |    THEN round(sqrt(sd2::DOUBLE / nd), 6) END AS f_rmssd,
        |  CASE WHEN t - avail <= $Tol THEN avail END AS feature_ts
        |FROM j ORDER BY entity_id, t""".stripMargin
}
