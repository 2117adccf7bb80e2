package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Table access + output-normalization helpers shared by every query.
  *
  * Scale posture: all readers are plain parquet scans (an Iceberg DSv2
  * catalog in production config — see [[t]]); column
  * pruning/predicate pushdown are left to Catalyst, so callers should
  * `.select` early and filter with `Column` predicates only.
  */
object Tables {

  /** Read one of the test tables. Source is config-level (SURVEY.md
    * §2.0): production reads Iceberg through a DSv2 catalog — set
    * GRAFT_ICEBERG_CATALOG (and register iceberg-spark-runtime on the
    * cluster) and the same call resolves `<catalog>.<db>.<name>`;
    * the local harness has no iceberg jar, so it reads the driver's
    * parquet files through the identical code path. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // catalog resolution: session conf `graft.catalog` first (testable
    // per-session — SourcesSinksSpec round-trips through a real DSv2
    // catalog, graft.core.GraftParquetCatalog), env var second (how a
    // spark-submit job ships the Iceberg catalog name cluster-wide)
    val cat = spark.conf.get("graft.catalog",
      sys.env.getOrElse("GRAFT_ICEBERG_CATALOG", ""))
    if (cat.nonEmpty) {
      val db = spark.conf.get("graft.catalog.db",
        sys.env.getOrElse("GRAFT_ICEBERG_DB", "graft"))
      spark.read.table(s"$cat.$db.$name")
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")

  /** The per-user event order, ties broken by event_id: what every
    * oracle's `PARTITION BY user_id ORDER BY ts, event_id` spells.
    * Callers append their own frames. */
  val byUserTs: WindowSpec =
    Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")

  /** NaN→NULL for verify outputs (engine-internal math keeps NaN for numpy
    * parity; the DuckDB compare is NULL-based). */
  def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** The exact lattice b = round(value·100): an integer-valued double, so
    * moment sums over it are exact on both engines (see CoreQueries). The
    * oracle SQL spells the same tree as `round(value*100)`. */
  def b100(c: Column): Column = round(c * 100)

  /** Event time → epoch microseconds for any orderable ts type. NTZ
    * timestamps (what the parquet test tables carry) are interpreted in
    * the session timezone (pinned UTC) — matching DuckDB's epoch_us on
    * naive timestamps. */
  def tsMicros(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
      case _ => c.cast("long")
    }
}
