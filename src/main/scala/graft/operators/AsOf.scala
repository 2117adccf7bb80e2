package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join — the engine core named by the north rule.
  *
  * Semantics: for every left row (entity, ts) attach the payload of the
  * latest right row with the same entity and right.ts <= left.ts
  * (backward direction; strictly no future rows — zero temporal leakage).
  * Optional tolerance: matches older than `tolerance` are dropped
  * (payload columns become NULL). NULL keys: a right row with a NULL
  * entity or ts never matches (its availability is unknown), and a left
  * row with a NULL entity or ts passes through with a NULL payload.
  *
  * Physical strategy (Spark-first): a UNION + running `last(_, ignoreNulls)`
  * window — NOT a join at all. Both inputs are unioned with a side tag,
  * shuffled ONCE on the entity key, sorted by (ts, side) within each
  * entity, and every left row picks up the most recent right payload via a
  * running window. Cost: one shuffle of |L|+|R| rows, no join explosion,
  * no per-left-row rescans, nothing collected to the driver. At cluster
  * scale the sort/window streams and spills via WindowExec; per-entity row
  * counts are bounded (n_tok ≤ 2048 in the tokens model), so entity skew
  * cannot produce a straggler partition.
  *
  * Reference analogue: searchsorted "latest boundary ≤ t" lookups
  * (pymhealth src/mhealth/util/windows.py:162-178). See SURVEY.md §2.4.
  */
object AsOf {

  /** Backward as-of join.
    *
    * @param left        query rows; all columns preserved
    * @param right       state rows; payload = right columns minus
    *                    (entityCol, tsCol)
    * @param entityCol   shared entity key column name
    * @param tsCol       shared event-time column name; timestamps compare
    *                    at microsecond precision
    * @param tolerance   max allowed left.ts − right.ts (ts units; micros
    *                    for TimestampType); None = unbounded
    * @param rightPrefix prefix for the attached right payload columns; the
    *                    matched right timestamp is emitted as
    *                    `{rightPrefix}ts` (NULL = no match)
    */
  def joinBackward(left: DataFrame, right: DataFrame,
                   entityCol: String, tsCol: String,
                   tolerance: Option[Long] = None,
                   rightPrefix: String = "right_"): DataFrame = {
    val payloadCols =
      right.columns.filter(c => c != entityCol && c != tsCol).toSeq
    require(payloadCols.nonEmpty, "right side has no payload columns")
    val leftPayload = left.columns.filterNot(Set(entityCol, tsCol)).toSeq

    val rUnion = right
      .where(col(entityCol).isNotNull && col(tsCol).isNotNull)
      .select(
        col(entityCol).as("__entity") +: col(tsCol).as("__ts") +:
          lit(0).as("__side") +:
          struct(col(tsCol).as("__rts") +: payloadCols.map(col): _*).as("__r") +:
          leftPayload.map(c =>
            lit(null).cast(left.schema(c).dataType).as(s"__L_$c")): _*)
    val lUnion = left.select(
      col(entityCol).as("__entity") +: col(tsCol).as("__ts") +:
        lit(1).as("__side") +:
        lit(null).cast(rUnion.schema("__r").dataType).as("__r") +:
        leftPayload.map(c => col(c).as(s"__L_$c")): _*)

    // side=0 sorts before side=1 at equal ts => inclusive (<=) semantics.
    val w = Window.partitionBy(col("__entity"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val matched = rUnion.unionByName(lUnion)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)

    def asLong(c: org.apache.spark.sql.Column) =
      graft.core.Tables.tsMicros(c, left.schema(tsCol).dataType)
    val withTol = tolerance match {
      case Some(tol) => matched.withColumn("__match",
        when(col("__match").isNotNull &&
          (asLong(col("__ts")) - asLong(col("__match.__rts")) <= tol),
          col("__match")))
      case None => matched
    }

    val out = col("__entity").as(entityCol) +: col("__ts").as(tsCol) +:
      (leftPayload.map(c => col(s"__L_$c").as(c)) ++
        payloadCols.map(c => col(s"__match.$c").as(s"$rightPrefix$c")) :+
        col("__match.__rts").as(s"${rightPrefix}ts"))
    withTol.select(out: _*)
  }
}
