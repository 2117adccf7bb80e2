package graft

import graft.core.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The one session profile, query selector and query runner shared by
  * both harness mains (Bench, Verify) and the spec suite, so the
  * correctness gate runs under the same config the bench measures.
  * Env: SPARK_GRAFT_CPUS ([[cores]]). */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** One gate query: its builder, and the DuckDB SQL its result must
    * hash-equal on the same parquet tables. */
  final case class Gate(build: Query, oracle: String)

  /** SPARK_GRAFT_CPUS, else the host's available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** NB: shuffle partitions are FIXED across parallelism levels, as a
    * cluster would vary executors against a fixed partitioning. The
    * low- and high-core legs of a ladder still do not run identical
    * task sets: Spark sizes file splits from the default parallelism
    * (= cores here), so perfbench's flagship input (16 files, 1.1 MB)
    * scans in 4 tasks at 4 cores and in 1 task at 1 core, while the
    * pass's post-exchange stage runs the same 8 tasks on both legs. */
  def session(cores: Int, partitions: Int = 128): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-$cores")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // preserve cached-plan partitioning so the as-of join reuses the
      // entity layout instead of re-exchanging (Spark 4 default runs AQE
      // over caches, discarding their partitioning)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The selected gate queries, sorted by name: all of them when `names`
    * is None, else the comma list's entries — an empty list selects
    * none. An unknown name fails fast instead of selecting nothing. */
  def select(names: Option[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val picked = names.fold(all.keySet)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = picked.diff(all.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    picked.toSeq.sorted.map(n => n -> all(n))
  }

  /** The formatted plan, [[masked]] (`Bench --explain`, PlanSpec). */
  private[graft] def stablePlan(df: DataFrame): String =
    masked(df.queryExecution.explainString(FormattedMode))

  /** Plan text with the identities that change from build to build
    * masked — JVM lambda names (`$$Lambda$4962/0x…@245155b8`),
    * object identity hashes (`Kmv$$anon$1@4b6be6fc`), exprIds (`#123`),
    * lambda-variable suffixes (`lambda x_5`), RDD ids
    * (`MapPartitionsRDD[1237]`) and exchange ids (`plan_id=28`) — so two
    * builds of an unchanged query print identical text, wherever they
    * fall in the JVM's life. Not masked: the column order of a
    * distinct aggregate's `Expand` node, which can vary between builds
    * (q_decontaminate, q_tokens_bigrams). */
  private[graft] def masked(plan: String): String =
    plan
      .replaceAll("""\$\$Lambda[^@\s]*@[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("""([\w$]+)@[0-9a-f]{1,8}\b""", "$1@x")
      .replaceAll("#\\d+", "#x")
      .replaceAll("""\blambda (\w+?)_\d+\b""", "lambda $1_x")
      .replaceAll("""RDD\[\d+\]""", "RDD[x]")
      .replaceAll("plan_id=\\d+", "plan_id=x")

  /** Materialize every column without collecting (noop DSv2 sink). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build one query and hand it to `sink`: the elapsed seconds, or
    * `Left` (never timed) when either threw. Then drain the query-scoped
    * caches; an unregistered one that leaked fails the run ([[Caches]]). */
  def run(spark: SparkSession, build: => DataFrame,
          sink: DataFrame => Unit = noop): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      sink(build)
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
    finally {
      Caches.drain()
      Caches.assertEmpty(spark)
    }
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in a message or in builder-authored SQL would
    * otherwise break the reader's `json.load`. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
