package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production write path for feature/point tables (SURVEY §2.0 sinks).
  *
  * Layout: hash-bucketed by entity into `bucket=<k>` partition dirs —
  * every entity's rows land in exactly one directory, so a point lookup
  * or an entity-bucketed rejoin prunes (nBuckets − 1)/nBuckets of the
  * data at the SCAN (PartitionFilters, verified in SourcesSinksSpec);
  * files are sorted by (entity, ts) so downstream merge scans and
  * min/max row-group skipping work; [[MaxRecordsPerFile]] bounds file
  * size independently of partition skew. The bucket function is the
  * same `pmod(hash(entity))` the engine salts and repartitions with —
  * one convention everywhere.
  */
object Sinks {

  private val MaxRecordsPerFile = 5000000L

  def bucketOf(entity: org.apache.spark.sql.Column, nBuckets: Int)
  : org.apache.spark.sql.Column = pmod(hash(entity), lit(nBuckets))

  /** Write `df` bucketed by `entityCol` into `path`. */
  def writeBucketed(df: DataFrame, path: String, entityCol: String,
                    tsCol: String, nBuckets: Int): Unit =
    df.withColumn("bucket", bucketOf(col(entityCol), nBuckets))
      .repartition(col("bucket"))
      // bucket leads the sort: partitionBy's writer requires ordering on
      // [bucket] and would otherwise insert its own sort ABOVE this one,
      // leaving the per-file (entity, ts) order to SortExec stability —
      // with bucket first the writer's requirement is already satisfied
      // and (entity, ts) is guaranteed within every file
      .sortWithinPartitions(col("bucket"), col(entityCol), col(tsCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy("bucket")
      .parquet(path)

  /** Scan only the one bucket directory an entity can live in —
    * the partition predicate is on the directory column, so pruning
    * happens before any file is opened. The lookup literal is CAST to
    * the stored column's type before hashing: murmur3 hashes Int 5 and
    * Long 5 differently, so an untyped literal would prune to the wrong
    * directory and silently return zero rows. */
  def entityScan(spark: SparkSession, path: String, entityCol: String,
                 nBuckets: Int, entity: Any): DataFrame = {
    val df = spark.read.parquet(path)
    val key = lit(entity).cast(df.schema(entityCol).dataType)
    df.where(col("bucket") === bucketOf(key, nBuckets) &&
      col(entityCol) === key)
  }
}
