package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Supplementary bench (guide §1.4): per-query noop-sink isolation with
  * STRUCTURAL metrics a noisy shared host cannot distort — Spark job
  * count, stage count, task count, shuffle bytes — plus wall time for
  * reference. The frozen `graft.Bench` is the driver's instrument; this
  * main exists for optimization work: sequential job/stage counts are
  * the dominant cost at gate scale and the fleet-level lever at 100 TB
  * (every stage is a scheduling barrier; every job is a driver
  * round-trip). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_REPS (timed reps after one warm-up, default 1),
  * SPARK_GRAFT_QUERIES (comma list; default all). A query that throws
  * in any pass prints `<name>,failed` with no numbers, and the run
  * exits nonzero.
  */
object BenchExtra {

  private final class Tally extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1; stages += j.stageInfos.size
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", 128)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    val shuffle = graft.core.ShuffleTally.install(spark.sparkContext)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        /** elapsed seconds, or None when the query threw */
        def one(): Option[Double] = {
          val t0 = System.nanoTime()
          val ok =
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              true
            } catch { case e: Throwable =>
              System.err.println(s"[extra] $name failed: ${e.getMessage}")
              false
            }
          val s = (System.nanoTime() - t0) / 1e9
          graft.core.Caches.drain()
          if (ok) Some(s) else None
        }
        // warm-up (JIT + codegen + store staging); a failed query is
        // reported as failed, never timed
        val row = one().flatMap { _ =>
          val (j0, s0, k0) = (tally.jobs, tally.stages, tally.tasks)
          val (times, delta) = shuffle.measure(spark.sparkContext) {
            (1 to reps).map(_ => one())
          }
          val (j1, s1, k1) = (tally.jobs, tally.stages, tally.tasks)
          if (times.exists(_.isEmpty)) None
          else Some(f"${times.flatten.min}%.2f,${(j1 - j0) / reps}," +
            f"${(s1 - s0) / reps},${(k1 - k0) / reps}," +
            f"${delta.shuffleWriteBytes / 1e6 / reps}%.2f")
        }
        (name, row)
      }
    println("query,secs_min,jobs,stages,tasks,shuffle_mb")
    rows.foreach { case (n, r) => println(s"$n,${r.getOrElse("failed")}") }
    spark.stop()
    if (rows.exists(_._2.isEmpty)) sys.exit(1)
  }
}
