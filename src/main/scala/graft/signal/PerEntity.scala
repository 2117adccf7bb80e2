package graft.signal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Distributed driver for the §2.6 stateful per-entity scans (decision
  * rules, filtfilt, sampen): group by the entity column, sort the group
  * by ts IN the executor (flatMapGroups iterator order is not guaranteed
  * post-shuffle — SURVEY.md §7.4), hand the bounded (ts, value) arrays to
  * a pure array kernel.
  *
  * Scale posture: per-entity sequence length is bounded by the data
  * model (n_tok <= 2048·32 for the tokens table; one subject's signal
  * window for mHealth), so the in-executor array is O(bounded), never
  * O(table). Entities are hash-distributed; skewed entities are single
  * tasks but bounded ones. This is deliberately the LAST-resort operator
  * class — everything expressible as window/agg exprs stays in codegen
  * (SURVEY.md §7.3).
  */
object PerEntity {

  /** Apply `f` to each entity's ts-sorted series; emit (entity_id, ts,
    * out) rows. `f` returns (ts, value) pairs — any number per entity. */
  def transform(spark: SparkSession, df: DataFrame, entityCol: String,
                tsCol: String, valueCol: String)
               (f: (Array[Long], Array[Double]) => Iterator[(Long, Double)])
  : DataFrame = {
    import spark.implicits._
    // grouping on the column (not `groupByKey(_._1)`) ships the entity
    // once: no AppendColumns copy of the key rides the exchange
    df.select(entityCol, tsCol, valueCol).groupBy(col(entityCol))
      .as[String, (String, Long, Double)]
      .flatMapGroups { (entity, rows) =>
        val buf = rows.toArray.sortBy(_._2)
        val ts = buf.map(_._2)
        val vs = buf.map(_._3)
        f(ts, vs).map { case (t, v) => (entity, t, v) }
      }
      .toDF(entityCol, tsCol, "out")
  }

  /** Index-selector form: `f` returns INDICES into the sorted series
    * (peak detectors); emits the (ts, value) rows at those indices. */
  def selectIndices(spark: SparkSession, df: DataFrame, entityCol: String,
                    tsCol: String, valueCol: String)
                   (f: Array[Double] => Array[Int]): DataFrame =
    transform(spark, df, entityCol, tsCol, valueCol) { (ts, vs) =>
      f(vs).iterator.map(i => (ts(i), vs(i)))
    }
}
