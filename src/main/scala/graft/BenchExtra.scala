package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Supplementary bench (guide §1.4): per-query noop-sink isolation with
  * STRUCTURAL metrics a noisy shared host cannot distort — Spark job
  * count, stage count, task count, shuffle bytes — plus wall time for
  * reference. `graft.Bench` is the driver's instrument; this
  * main exists for optimization work: sequential job/stage counts are
  * the dominant cost at gate scale and the fleet-level lever at 100 TB
  * (every stage is a scheduling barrier; every job is a driver
  * round-trip). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_REPS (timed reps after one warm-up, default 1),
  * SPARK_GRAFT_QUERIES (comma list; default all). `--explain` first
  * prints each selected query's formatted plan ([[stablePlan]]). A
  * query that throws in any pass prints `<name>,failed` with no
  * numbers, and the run exits nonzero.
  */
object BenchExtra {

  /** The formatted plan with the identities that change from run to run
    * masked — JVM lambda names (`$$Lambda$4962/0x…@245155b8`), exprIds
    * (`#123`) and exchange ids (`plan_id=28`) — so two runs of an
    * unchanged query print identical text. */
  private[graft] def stablePlan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)
      .replaceAll("""\$\$Lambda[^@\s]*@[0-9a-f]+""", "\\$\\$Lambda")
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val spark = Harness.session(Harness.cores)
    val tally = graft.core.ShuffleTally.install(spark.sparkContext)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        if (args.contains("--explain")) Harness.run(spark, fn(spark, sfDir),
          df => println(s"\n===== $name =====\n" + stablePlan(df)))
        def one() = Harness.run(spark, fn(spark, sfDir))
        // warm-up (JIT + codegen + store staging); a failed query is
        // reported as failed, never timed
        val row = one().flatMap { _ =>
          val (runs, d) = tally.measure(spark.sparkContext) {
            (1 to reps).map(_ => one())
          }
          runs.collectFirst { case Left(e) => e }
            .toLeft(runs.collect { case Right(s) => s }.min)
            .map(secs => f"$secs%.2f,${d.jobs / reps},${d.stages / reps}," +
              f"${d.tasks / reps},${d.shuffleWriteBytes / 1e6 / reps}%.2f")
        }
        row.left.foreach(e =>
          System.err.println(s"[extra] $name failed: ${e.getMessage}"))
        (name, row)
      }
    println("query,secs_min,jobs,stages,tasks,shuffle_mb")
    rows.foreach { case (n, r) => println(s"$n,${r.getOrElse("failed")}") }
    spark.stop()
    if (rows.exists(_._2.isLeft)) sys.exit(1)
  }
}
