package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout helpers (SURVEY.md §7.1 "core.layout"): the salting
  * pattern for skew-heavy entity aggregations. The flagship's stage-1
  * layout (one hash(entity) exchange + sortWithinPartitions) lives in
  * `pipeline.FeaturePipeline`.
  */
object Layout {

  /** Two-phase salted aggregation for hot keys: phase 1 groups on
    * (key, salt) — spreading a hot entity over `nSalts` reducers with
    * map-side combine — phase 2 merges the partials per key.
    *
    * @param partials commutative partial aggregates, e.g.
    *                 `Seq(count(lit(1)).as("n"), sum($"v").as("s"))`
    * @param merge    how to merge each partial column in phase 2, BY
    *                 NAME, e.g. `Map("n" -> sum _, "s" -> sum _)`
    * @param saltCols columns whose content derives the salt — pass a
    *                 stable unique key (e.g. event_id) when the data can
    *                 contain fully-duplicate rows: a whole-row hash maps
    *                 duplicates of a hot key onto ONE salt, defeating the
    *                 spread this helper exists for. Defaults to all
    *                 columns (fine for distinct-ish rows).
    */
  def saltedAgg(df: DataFrame, keyCol: String, nSalts: Int,
                partials: Seq[Column],
                merge: Map[String, Column => Column],
                saltCols: Seq[String] = Nil): DataFrame = {
    require(nSalts > 1)
    // Salt derives from stable row CONTENT, never from
    // monotonically_increasing_id(): an indeterminate salt re-assigns
    // rows to different (key, salt) groups when a stage is retried
    // after shuffle-fetch failure — the classic double-count/loss
    // hazard.
    val basis = if (saltCols.nonEmpty) saltCols else df.columns.toSeq
    val salted = df.withColumn("__salt",
      pmod(hash(basis.map(col): _*), lit(nSalts)))
    val phase1 = salted.groupBy(col(keyCol), col("__salt"))
      .agg(partials.head, partials.tail: _*)
    val mergeCols = phase1.columns
      .filterNot(Set(keyCol, "__salt")).toSeq
      .map(c => merge(c)(col(c)).as(c))
    phase1.groupBy(col(keyCol)).agg(mergeCols.head, mergeCols.tail: _*)
  }
}
