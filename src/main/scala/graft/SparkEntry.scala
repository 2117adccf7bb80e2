package graft

import graft.Harness.{Gate, Query}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness-gate contract — see SURVEY.md §7.
  *
  * Each query module declares its gate queries once, as name →
  * [[Harness.Gate]]: the builder and the DuckDB-equivalent SQL that
  * DuckDB runs on the same parquet tables. Every query has an oracle.
  * Column names are aligned on both sides, and each query rounds its
  * own outputs the same way its oracle does. `queries` and `oracleSql`
  * are the two views of that one merge.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full north-rule pipeline: sessionize → anchored window
    * features → point-in-time as-of join (one vector per entity×ts). */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.qFeaturePipeline(spark, "/root/testdata/sf0.001")

  private lazy val gate: Map[String, Gate] = merge(Seq(
    CoreQueries.gate, TextQueries.gate, CurationQueries.gate,
    EmbedQueries.gate, SeqQueries.gate, PipelineQueries.gate,
    DedupQueries.gate, SignalQueries.gate, InertialQueries.gate,
    FractalQueries.gate, RqaQueries.gate, StreamQueries.gate))

  /** The modules' maps as one; a name declared in two modules fails
    * fast, naming the query, instead of one entry silently winning. */
  private[graft] def merge(
      modules: Seq[Map[String, Gate]]): Map[String, Gate] =
    modules.foldLeft(Map.empty[String, Gate]) { (all, m) =>
      val twice = all.keySet.intersect(m.keySet)
      require(twice.isEmpty,
        s"gate queries declared twice: ${twice.toSeq.sorted.mkString(", ")}")
      all ++ m
    }

  /** Each gate query's builder, by name. */
  lazy val queries: Map[String, Query] =
    gate.map { case (n, g) => n -> g.build }

  /** Each gate query's DuckDB SQL, by name (same keys as [[queries]]). */
  lazy val oracleSql: Map[String, String] =
    gate.map { case (n, g) => n -> g.oracle }
}
