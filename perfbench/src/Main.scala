package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.core.Caches
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. perfbench/run.py starts one process per leg
  * and reads two lines from it on stdout: `@@READY` once the session is
  * up and the inputs are present, and `@@RESULT {...}` at the end. Everything else goes to stderr.
  *
  * Modes (`--mode`):
  *  - `flagship`: a flagship run at `--cores` cores (and 1 core);
  *  - `family`:   one query family (`--queries`) at `--cores` cores;
  *  - `record`:   every query of a family once, writing each output as
  *                parquet under `--out` for the DuckDB oracle, and its
  *                digest.
  */
object Main {

  /** The session every mode uses (graft.Bench's settings, with the
    * shuffle partition count given per workload). It stays the same at
    * every core count, so the 1-core and N-core legs run the same
    * physical plan. */
  def session(cores: Int, work: String, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Busy task time, in every run (the estimated scaling_eff). */
  final class RunStats(sc: org.apache.spark.SparkContext)
      extends SparkListener {
    private var runMs = 0L
    sc.addSparkListener(this)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) runMs += e.taskMetrics.executorRunTime
    }
    /** Busy task ms so far, once every finished task is counted. */
    def busyMs: Long = {
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      synchronized(runMs)
    }
  }

  private def cpuTicks(): (Long, Long) = {
    val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
    val f = l.trim.split("\\s+").drop(1).map(_.toLong)
    (f.lift(7).getOrElse(0L), f.sum)
  }

  private def loadAvg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      .toDouble

  /** Host conditions over one pass: steal % and the 1-minute load. */
  final class Host {
    val steal = mutable.ArrayBuffer[Double]()
    val load = mutable.ArrayBuffer[Double]()
    def around[T](body: => T): T = {
      val (s0, t0) = cpuTicks()
      try body
      finally {
        val (s1, t1) = cpuTicks()
        steal += 100.0 * (s1 - s0) / math.max(1L, t1 - t0)
        load += loadAvg()
      }
    }
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val mode = o("mode")
    val cores = o("cores").toInt
    val work = o("work")
    val partitions = o("partitions").toInt
    if (mode == "flagship") return flagship(o)
    val spark = session(cores, work, partitions)
    val stats = new RunStats(spark.sparkContext)
    try mode match {
      case "family" => familyRun(spark, o, stats)
      case "record" => record(spark, o)
    } finally spark.stop()
  }

  object Inputs {
    /** Fails unless every table is present and its footer readable. */
    def present(spark: SparkSession, paths: String*): Unit =
      paths.foreach(p => require(spark.read.parquet(p).schema.nonEmpty,
        s"input $p missing"))
  }

  /** A flagship run: the nproc-core leg (cold pass, warm passes, output
    * checks), then, untraced, the 1-core leg on the same input in a new
    * session of the same, by then warm, JVM. */
  private def flagship(o: Map[String, String]): Unit = {
    val seed = o("seed").toLong
    val budget = o("budget").toDouble
    val traced = o("trace") == "1"
    val partitions = o("partitions").toInt
    var spark = session(o("cores").toInt, o("work"), partitions)
    var stats = new RunStats(spark.sparkContext)
    val in = Flagship.Input(o("table"), o("points").toLong, o.get("hot_id"))
    Inputs.present(spark, in.path)
    println("@@READY")
    val tr = if (traced) Some(new Tracer(spark)) else None
    val host = new Host
    val failed = mutable.ArrayBuffer[String]()
    var attempted = 0
    /** One pass, timed; a pass that throws or fails its output check is
      * counted, never timed. */
    def timed(name: String, trace: Boolean): Option[(Double, Int)] = {
      attempted += 1
      try {
        tr.foreach(t => if (trace) t.on() else t.off())
        val (s, (id, bad)) = host.around(secs(tr match {
          case Some(t) if trace =>
            val bad = t.span(name, "pipeline") { Flagship.pass(spark, in) }
            (t.spans.lastIndexWhere(_.name == name), bad)
          case _ => (-1, Flagship.pass(spark, in))
        }))
        if (bad.nonEmpty) { failed ++= bad; None } else Some((s, id))
      } catch {
        case NonFatal(e) =>
          failed += e.getClass.getName
          Caches.drain()
          None
      } finally tr.foreach(_.off())
    }
    val t0 = System.nanoTime()
    val cold = timed("pass cold", trace = traced).map(_._1)
    val warm = mutable.ArrayBuffer[Double]()
    val warmTraced = mutable.ArrayBuffer[(Double, Int)]()
    val minWarm = o("min_warm").toInt
    // with a 1-core leg to follow, the nproc leg gets half the budget
    val highBudget = if (o("low") == "1") budget / 2 else budget
    val busy0 = stats.busyMs
    var i = 0
    while (i < minWarm || (System.nanoTime() - t0) / 1e9 < highBudget) {
      // traced runs alternate the order (untraced first, then traced
      // first), so the JIT's warm-up trend cancels in the overhead
      def untraced(): Unit =
        timed(s"pass warm $i", trace = false).foreach(p => warm += p._1)
      def withTrace(): Unit = if (traced)
        timed(s"pass warm traced $i", trace = true).foreach(warmTraced += _)
      if (i % 2 == 0) { untraced(); withTrace() }
      else { withTrace(); untraced() }
      i += 1
    }
    val busyWarm = (stats.busyMs - busy0) / 1e3
    val checks =
      if (traced) {
        attempted += 1
        val bad = try Flagship.check(spark, in, seed)
        catch { case NonFatal(e) => Seq(e.getClass.getName) }
        if (bad.nonEmpty) failed += "check"
        bad
      } else Nil
    val layers = tr.map { t =>
      t.on()
      val before = t.spans.size
      t.span("stages", "bench") { Flagship.stages(spark, in, t) }
      t.off()
      val stage = t.spans.drop(before).filter(_.name.startsWith("stage."))
        .map(s => s.name -> (s.t1 - s.t0) / 1e3).toMap
      flagshipLayers(t, spark, warm.toSeq, warmTraced.toSeq, stage)
    }
    tr.foreach(t => writeTrace(o, t))
    val low = mutable.ArrayBuffer[Double]()
    if (!traced && o("low") == "1") {
      spark.stop()
      spark = session(1, o("work"), partitions)
      stats = new RunStats(spark.sparkContext)
      var k = 0
      while (k < o("min_low").toInt ||
        (System.nanoTime() - t0) / 1e9 < budget) {
        timed(s"pass low $k", trace = false).foreach(p => low += p._1)
        k += 1
      }
    }
    spark.stop()
    println("@@RESULT " + obj(Seq(
      "rows" -> in.points.toString,
      "cold_s" -> cold.map(num).getOrElse("null"),
      "warm_s" -> arr(warm),
      "low_s" -> arr(low),
      "busy_warm_s" -> num(busyWarm),
      "attempted" -> attempted.toString,
      "failed" -> failed.map(str).mkString("[", ",", "]"),
      "checks" -> checks.map(str).mkString("[", ",", "]"),
      "steal_pct" -> arr(host.steal),
      "load1" -> arr(host.load),
      "layers" -> layers.map(l => obj(l.map { case (k, v) =>
        k -> num(v) })).getOrElse("null"))))
  }

  private def writeTrace(o: Map[String, String], t: Tracer): Unit = {
    val dir = new java.io.File(s"${o("work")}/traces")
    dir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dir,
      s"${o("workload")}-seed${o("seed")}.json").toPath, t.json)
  }

  /** Counters every traced workload reports, as medians over its traced
    * warm passes (or queries), plus layer self times and the tracing
    * overhead. */
  private def common(t: Tracer, spark: SparkSession,
                     passes: Seq[(Double, Int)],
                     overhead: Double): Seq[(String, Double)] = {
    val cores = spark.sparkContext.defaultParallelism
    val cs = passes.map { case (s, id) => (s, t.total(id)) }
    def m(f: ((Double, Counters)) => Double): Double = median(cs.map(f))
    val self = t.selfTimes
    Seq(
      "core.scan_s" -> m(_._2.scanMs / 1e3),
      "core.cache_mb" -> m(_._2.cachePeak / 1e6),
      "streaming.batches" -> m(_._2.batches.toDouble),
      "streaming.trigger_s" -> m(_._2.triggerMs / 1e3),
      "streaming.state_commit_s" -> m(_._2.stateCommitMs / 1e3),
      "spark.jobs" -> m(_._2.jobs.toDouble),
      "spark.stages" -> m(_._2.stages.toDouble),
      "spark.tasks" -> m(_._2.tasks.toDouble),
      "spark.shuffle_write_mb" -> m(_._2.shuffleWrite / 1e6),
      "spark.shuffle_read_mb" -> m(_._2.shuffleRead / 1e6),
      "spark.spill_mb" -> m(_._2.spill / 1e6),
      "spark.output_mb" -> m(_._2.output / 1e6),
      "spark.task_run_s" -> m(_._2.runMs / 1e3),
      "spark.gc_s" -> m(_._2.gcMs / 1e3),
      "spark.fetch_wait_s" -> m(_._2.fetchWaitMs / 1e3),
      "spark.core_busy" -> m { case (s, c) => c.runMs / 1e3 / (s * cores) },
      "spark.task_failures" -> m(_._2.taskFailures.toDouble),
      "op.exchanges" -> m(_._2.exchanges.toDouble),
      "op.sorts" -> m(_._2.sorts.toDouble),
      "op.sort_s" -> m(_._2.sortMs / 1e3),
      "op.agg_s" -> m(_._2.aggMs / 1e3),
      "op.hof_nodes" -> m(_._2.hofNodes.toDouble),
      "op.shuffle_write_s" -> m(_._2.shuffleWriteNs / 1e9),
      "op.peak_mem_mb" -> m(_._2.peakOpMem / 1e6),
      "trace.overhead_s" -> overhead) ++
      Seq("bench", "pipeline", "operators", "plans", "queries",
        "streaming", "spark").map(l =>
        s"self.${l}_s" -> self.getOrElse(l, 0.0))
  }

  private def flagshipLayers(t: Tracer, spark: SparkSession,
                             warm: Seq[Double],
                             traced: Seq[(Double, Int)],
                             stage: Map[String, Double]
                            ): Seq[(String, Double)] = {
    val cs = traced.map { case (_, id) => t.total(id) }
    def skew(c: Counters): Double = {
      val ts = c.slowest._2.map(_.toDouble)
      if (ts.isEmpty) 0.0 else ts.max / math.max(1.0, median(ts))
    }
    common(t, spark, traced, median(traced.map(_._1)) - median(warm)) ++
      Seq(
        "operators.sessionize_s" -> stage.getOrElse("stage.sessionize", 0.0),
        "pipeline.rollup_s" -> stage.getOrElse("stage.rollup", 0.0),
        "plans.asof_s" -> stage.getOrElse("stage.asof", 0.0),
        "pipeline.task_skew" -> median(cs.map(skew)),
        "pipeline.max_task_s" -> median(cs.map(_.maxTaskMs / 1e3)))
  }

  private def familyRun(spark: SparkSession, o: Map[String, String],
                        stats: RunStats): Unit = {
    val seed = o("seed").toLong
    val budget = o("budget").toDouble
    val traced = o("trace") == "1"
    val data = o("data")
    Inputs.present(spark, o("tables").split(",").map(t =>
      s"$data/$t.parquet"): _*)
    val queries = o("queries").split(",").toSeq
    println("@@READY")
    val tr = if (traced) Some(new Tracer(spark)) else None
    val host = new Host
    // per query: (pass, seconds, digest) of every run that returned,
    // and the exception class of every run that threw
    val runs = mutable.ArrayBuffer[(String, Int, Double, String)]()
    val failed = mutable.ArrayBuffer[(String, String)]()
    var attempted = 0
    def pass(p: Int, trace: Boolean): Double = {
      val order = new scala.util.Random(seed * 1000003L + p)
        .shuffle(queries)
      val (s, _) = secs(host.around(order.foreach { q =>
        attempted += 1
        try {
          val (sec, d) = tr match {
            case Some(t) if trace =>
              t.span(s"query $q", "queries") {
                Families.runOne(spark, data, q)
              }
            case _ => Families.runOne(spark, data, q)
          }
          runs += ((q, p, sec, d.hex))
        } catch {
          case NonFatal(e) =>
            Caches.drain()
            failed += ((q, e.getClass.getName))
        }
      }))
      s
    }
    def traceable(name: String, p: Int, trace: Boolean): (Double, Int) =
      tr match {
        case Some(t) if trace =>
          t.on()
          try {
            val s = t.span(name, "bench") { pass(p, trace = true) }
            (s, t.spans.lastIndexWhere(_.name == name))
          } finally t.off()
        case _ => (pass(p, trace = false), -1)
      }
    val t0 = System.nanoTime()
    traceable("pass cold", 0, trace = traced)
    val passTimes = mutable.ArrayBuffer[Double]()
    val tracedPasses = mutable.ArrayBuffer[(Double, Int)]()
    val minWarm = o("min_warm").toInt
    val busy0 = stats.busyMs
    var p = 1
    while (p <= minWarm || (System.nanoTime() - t0) / 1e9 < budget) {
      // alternating order in traced runs, as in the flagship
      def untraced(): Unit =
        passTimes += traceable(s"pass warm $p", p, trace = false)._1
      def withTrace(): Unit = if (traced)
        tracedPasses += traceable(s"pass warm traced $p", p, trace = true)
      if (p % 2 == 1) { untraced(); withTrace() }
      else { withTrace(); untraced() }
      p += 1
    }
    val busyWarm = (stats.busyMs - busy0) / 1e3
    val layers = tr.map { t =>
      // per query, the median of its traced warm runs
      val perQuery = queries.map { q =>
        val ss = t.spans.filter(s => s.name == s"query $q" &&
          t.spans.exists(x => x.id == s.parent &&
            x.name.startsWith("pass warm traced")))
        s"queries.$q.warm_s" -> median(ss.map(s => (s.t1 - s.t0) / 1e3).toSeq)
      }
      val overhead = median(tracedPasses.map(_._1).toSeq) -
        median(passTimes.toSeq)
      common(t, spark, tracedPasses.toSeq, overhead) ++ perQuery ++ Seq(
        "pipeline.task_skew" -> 0.0, "pipeline.max_task_s" -> 0.0,
        "operators.sessionize_s" -> 0.0, "pipeline.rollup_s" -> 0.0,
        "plans.asof_s" -> 0.0)
    }
    tr.foreach(t => writeTrace(o, t))
    println("@@RESULT " + obj(Seq(
      "runs" -> runs.map { case (q, p, s, d) =>
        s"[${str(q)},$p,${num(s)},${str(d)}]" }.mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.map { case (q, e) => s"[${str(q)},${str(e)}]" }
        .mkString("[", ",", "]"),
      "busy_warm_s" -> num(busyWarm),
      "pass_s" -> arr(passTimes),
      "steal_pct" -> arr(host.steal),
      "load1" -> arr(host.load),
      "layers" -> layers.map(l => obj(l.map { case (k, v) =>
        k -> num(v) })).getOrElse("null"))))
  }

  /** Each query of `--queries` twice into the digest sink (the two
    * digests must agree), then once to parquet under `--out` for the
    * DuckDB oracle; prints one `@@RESULT` with the digests. */
  private def record(spark: SparkSession, o: Map[String, String]): Unit = {
    val data = o("data")
    val out = o("out")
    val queries = o("queries").split(",").toSeq
    val ds = queries.map { q =>
      val r = try {
        val (cold, d) = Families.runOne(spark, data, q)
        val (warm, d2) = Families.runOne(spark, data, q)
        graft.SparkEntry.queries(q)(spark, data).coalesce(1).write
          .mode("overwrite").parquet(s"$out/$q")
        Caches.drain()
        System.err.println(f"[record] $q cold $cold%.2f warm $warm%.2f")
        obj(Seq("cold_s" -> num(cold), "warm_s" -> num(warm),
          "digest" -> str(d.hex), "stable" -> (d == d2).toString))
      } catch {
        case NonFatal(e) =>
          Caches.drain()
          obj(Seq("error" -> str(e.toString)))
      }
      q -> r
    }
    val oracle = graft.SparkEntry.oracleSql.filter(kv =>
      queries.contains(kv._1))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      obj(oracle.map { case (k, v) => k -> str(v) }))
    println("@@RESULT " + obj(ds))
  }
}
