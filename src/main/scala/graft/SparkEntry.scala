package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness-gate contract — see SURVEY.md §7.
  *
  * `queries` is the engine's operator inventory (one entry per implemented
  * operator family, SURVEY.md §2); `oracleSql` carries the DuckDB-equivalent
  * SQL that DuckDB runs on the same parquet tables. Column names are
  * aligned on both sides, and each query rounds its own outputs the
  * same way its oracle does.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full north-rule pipeline: sessionize → anchored window
    * features → point-in-time as-of join (one vector per entity×ts). */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.PipelineQueries.qFeaturePipeline(
      spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.CurationQueries.all ++
      graft.queries.EmbedQueries.all ++
      graft.queries.SeqQueries.all ++
      graft.queries.PipelineQueries.all ++
      graft.queries.DedupQueries.all ++
      graft.queries.SignalQueries.all ++
      graft.queries.InertialQueries.all ++
      graft.queries.FractalQueries.all ++
      graft.queries.RqaQueries.all ++
      graft.queries.StreamQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreQueries.oracle ++
      graft.queries.TextQueries.oracle ++
      graft.queries.CurationQueries.oracle ++
      graft.queries.EmbedQueries.oracle ++
      graft.queries.SeqQueries.oracle ++
      graft.queries.PipelineQueries.oracle ++
      graft.queries.DedupQueries.oracle ++
      graft.queries.SignalQueries.oracle ++
      graft.queries.InertialQueries.oracle ++
      graft.queries.FractalQueries.oracle ++
      graft.queries.RqaQueries.oracle ++
      graft.queries.StreamQueries.oracle
}
