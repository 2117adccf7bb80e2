package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Table access + output-normalization helpers shared by every query.
  *
  * Scale posture: all readers are plain parquet scans (Iceberg DSv2 catalog
  * in production config — same code path, different `format`); column
  * pruning/predicate pushdown are left to Catalyst, so callers should
  * `.select` early and filter with `Column` predicates only.
  */
object Tables {

  /** Read one of the test tables. Source is config-level (SURVEY.md
    * §2.0): production reads Iceberg through a DSv2 catalog — set
    * GRAFT_ICEBERG_CATALOG (and register iceberg-spark-runtime on the
    * cluster) and the same call resolves `<catalog>.<db>.<name>`;
    * the local harness has no iceberg jar, so it reads the driver's
    * parquet files through the identical code path.
    *
    * File FORMAT is a runtime conf (`graft.source.format`, default
    * parquet): orc reads directly; csv/json are schema-on-read text
    * formats, so they load the DDL sidecar `<name>.<fmt>.schema` that
    * [[copyTo]] writes (schema inference is nondeterministic and scans
    * the data twice — never used). Timestamps round-trip at full
    * microsecond precision via explicit format options. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // catalog resolution: session conf `graft.catalog` first (testable
    // per-session — SourcesSinksSpec round-trips through a real DSv2
    // catalog, graft.core.GraftParquetCatalog), env var second (how a
    // spark-submit job ships the Iceberg catalog name cluster-wide)
    val cat = spark.conf.get("graft.catalog",
      sys.env.getOrElse("GRAFT_ICEBERG_CATALOG", ""))
    cat match {
      case c if c.nonEmpty =>
        val db = spark.conf.get("graft.catalog.db",
          sys.env.getOrElse("GRAFT_ICEBERG_DB", "graft"))
        spark.read.table(s"$c.$db.$name")
      case _ =>
        spark.conf.get("graft.source.format", "parquet") match {
          case "parquet" => spark.read.parquet(s"$sfDir/$name.parquet")
          case "orc" => spark.read.orc(s"$sfDir/$name.orc")
          case fmt @ ("csv" | "json") =>
            // sidecar read goes through Hadoop FS so the format flag
            // works on any store the data readers support (hdfs/s3a/…),
            // not just the driver's local disk
            val ddl = readText(spark, s"$sfDir/$name.$fmt.schema")
            val r = spark.read.format(fmt)
              .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
              .options(textFormatOptions)
            // multiLine: a string cell with an embedded newline (e.g.
            // documents.text) must parse as ONE record, not bleed rows
            (if (fmt == "csv")
              r.option("header", "true").option("multiLine", "true")
            else r)
              .load(s"$sfDir/$name.$fmt")
          case other =>
            throw new IllegalArgumentException(
              s"unsupported graft.source.format: $other")
        }
    }
  }

  /** Micro-precision timestamp round-trip for the text formats (the
    * defaults truncate to millis). */
  private val textFormatOptions = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    // csv fidelity: the WRITER trims leading/trailing whitespace by
    // default (silently corrupting text cells that start/end with
    // spaces or newlines); readers default false but pin both anyway
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false")

  private def readText(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeText(spark: SparkSession, path: String,
                        content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Materialize a table in another source format next to `outDir`
    * (data + DDL schema sidecar for the schema-on-read formats) — the
    * fixture writer for the multi-format read path. */
  def copyTo(spark: SparkSession, sfDir: String, name: String,
             outDir: String, format: String): Unit = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val w = df.coalesce(1).write.mode("overwrite")
      .options(textFormatOptions)
    format match {
      case "orc" => w.orc(s"$outDir/$name.orc")
      case "csv" => w.option("header", "true").csv(s"$outDir/$name.csv")
      // (writer quotes embedded newlines/quotes by default; the reader's
      // multiLine option makes those cells round-trip)
      case "json" => w.json(s"$outDir/$name.json")
      case other =>
        throw new IllegalArgumentException(s"unsupported format: $other")
    }
    if (format == "csv" || format == "json")
      writeText(spark, s"$outDir/$name.$format.schema", df.schema.toDDL)
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")

  def customer(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")

  /** Round every DoubleType column to `scale` decimals.
    *
    * The driver's correctness gate hashes values computed by two engines
    * (Spark vs DuckDB); double aggregates differ in ulps between them
    * (partial-aggregation summation order), so verify outputs are rounded
    * on BOTH sides to the same scale. 6 decimals swallows ~1e-12 relative
    * error on O(1e4) magnitudes while still distinguishing real mismatches.
    */
  def roundDoubles(df: DataFrame, scale: Int = 6): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == DoubleType) round(col(f.name), scale).as(f.name)
      else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

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
