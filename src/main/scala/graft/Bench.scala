package graft

import graft.core.{ShuffleTally, TokenGen}
import graft.pipeline.FeaturePipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, posexplode}

/** Benchmark main. Two measurements, one JSON line:
  *
  * 1. SCALING (the BASELINE.json north-rule criterion, sandbox proxy):
  *    the flagship feature pipeline over the deterministic synthetic
  *    tokens table, run at local[N_LOW] and local[N_HIGH] cores on the
  *    SAME input; reports feature-vectors/sec at both and efficiency
  *    = (tput_high / tput_low) / (N_HIGH / N_LOW). Target ≥ 0.8.
  *
  * 2. The query battery ([[battery]]): cold and warm wall time of each
  *    selected SparkEntry query on SPARK_GRAFT_SF_DIR at
  *    SPARK_GRAFT_CPUS, shuffle and spill bytes of the cold pass, and
  *    jobs, stages, tasks and shuffle bytes of the warm pass
  *    (`queries_counters`). A query that throws is never timed: it is
  *    listed under `queries_error` with the first line of its message
  *    instead. `--explain` prints each query's [[Harness.stablePlan]] to
  *    stderr.
  *
  * Sessions come from [[Harness.session]]. Env knobs:
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: available
  * processors), SPARK_GRAFT_BENCH_DOCS (default 40000),
  * SPARK_GRAFT_BENCH_LADDER (default "max(1, cpus/4),cpus"),
  * SPARK_GRAFT_BENCH_REPS (ladder reps, default 3), SPARK_GRAFT_QUERIES
  * (comma list, [[Harness.select]]; unset = all, empty = ladder only).
  */
object Bench {

  /** The scaling ladder "n1,n2,...": at least two core counts, because
    * efficiency is reported per adjacent pair. */
  private[graft] def parseLadder(spec: String): Seq[Int] = {
    val ladder = spec.split(",").map(_.trim.toInt).toSeq
    require(ladder.length >= 2,
      s"SPARK_GRAFT_BENCH_LADDER needs at least 2 core counts, got '$spec'")
    ladder
  }

  private def flagshipSecs(spark: SparkSession, tokensPath: String): (Long, Double) = {
    val points = spark.read.parquet(tokensPath)
      .select(col("doc_id").as("entity_id"),
        posexplode(col("tokens")).as(Seq("pos", "tok")))
      .select(col("entity_id"), col("pos").cast("long").as("ts"),
        col("tok").cast("double").as("value"))
    val cfg = FeaturePipeline.Config(wsize = 64L, wstep = 32L,
      minWindowLen = 4L, sessionGap = 8L, maxStaleness = Some(128L))
    val out = FeaturePipeline.run(spark, points, "entity_id", "ts",
      "value", cfg)
    val t0 = System.nanoTime()
    Harness.noop(out)
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = points.count() // = output vectors (one per entity×ts)
    (rows, secs)
  }

  /** One query's battery passes: cold and warm seconds, and the counters
    * tallied over each pass. */
  final case class Passes(cold: Double, warm: Double,
                          coldTally: ShuffleTally.Delta,
                          warmTally: ShuffleTally.Delta)

  /** Run each query twice in `spark` and tally both passes. The first
    * (cold) time folds in codegen + JIT + catalog warm-up and once misled
    * a round verdict by up to 6x; the second (warm) time is the
    * steady-state signal regressions should be adjudicated against.
    * Caches are query-scoped (Harness.run drains them), so the warm pass
    * rebuilds its own (not a cache-hit rerun); staged files are reused
    * when their key matches ([[graft.pipeline.Pipeline.stage]]). A query
    * that throws in either pass is `Left`, never timed.
    * With `explain`, each query's plan goes to stderr after its passes. */
  private[graft] def battery(spark: SparkSession, sfDir: String,
                             queries: Seq[(String, Harness.Query)],
                             explain: Boolean = false)
  : Seq[(String, Either[Throwable, Passes])] = {
    val sc = spark.sparkContext
    val tally = ShuffleTally.install(sc)
    try queries.map { case (name, fn) =>
      val (cold, coldTally) =
        tally.measure(sc)(Harness.run(spark, fn(spark, sfDir)))
      name -> cold.flatMap { c =>
        val (warm, warmTally) =
          tally.measure(sc)(Harness.run(spark, fn(spark, sfDir)))
        // a plan-only build, outside both passes: the warm pass's own
        // frame shows its caches' executed plans once the pass has run
        if (explain) Harness.run(spark, fn(spark, sfDir), df => System.err
          .println(s"\n===== $name =====\n" + Harness.stablePlan(df)))
        warm.map(w => Passes(c, w, coldTally, warmTally))
      }
    } finally sc.removeSparkListener(tally)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Harness.select(sys.env.get("SPARK_GRAFT_QUERIES"))
    val cpus = Harness.cores
    // 40k docs ≈ 56M points: large enough that fixed job overheads
    // (~4s/run) don't flatten the low end of the ladder — at 28M the
    // 8-core pass is overhead-bound and eff(2→8) under-reads (0.78 vs
    // 0.84 at 56M)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "40000").toLong
    val ladder = parseLadder(sys.env.getOrElse("SPARK_GRAFT_BENCH_LADDER",
      s"${math.max(1, cpus / 4)},$cpus"))

    // --- write the deterministic tokens table once (not timed) ---
    val tokensPath = s"/tmp/graft_bench_tokens_$nDocs"
    locally {
      val s = Harness.session(cpus)
      if (!new java.io.File(s"$tokensPath/_SUCCESS").exists()) {
        TokenGen.docs(s, nDocs, skewed = true, numPartitions = cpus * 4)
          .write.mode("overwrite").parquet(tokensPath)
      }
      s.stop()
    }

    // --- scaling proxy: low cores, then high cores, same input.
    // Each level gets one UNTIMED warm-up pass first (JIT + codegen +
    // shuffle-path warm-up; a cluster bench would do the same); the JVM
    // heap is fixed + pre-touched via build.sbt javaOptions so page
    // faults stay out of timed regions.
    // This sandbox shows high run-to-run variance (shared host, ~10%
    // steal time), so each level takes the MEDIAN of `reps` timed passes.
    // The default ladder is one N→4N step ending at the host's cores, so
    // no leg oversubscribes the box; a longer ladder reports every
    // adjacent pair, headlined by the lowest (below memory-bandwidth
    // saturation). Analysis in BASELINE.md "Measured".
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    var rows = 0L

    // host-noise instrumentation (round-5 noise rule — see BASELINE.md
    // "Noise discipline"): co-tenant steal time is the dominant
    // variance source on this host, so each ladder leg records the
    // hypervisor steal fraction over its timed region, and the whole
    // ladder is ACCEPTED only if every leg's relative spread
    // (max−min)/median over its reps stays within SpreadMax — a
    // rejected ladder is published with its raw runs but must not be
    // read as a performance signal.
    val SpreadMax = 0.35
    def cpuTicks(): (Long, Long) = {
      try {
        val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f.lift(7).getOrElse(0L), f.sum) // (steal, total) ticks
      } catch { case _: Throwable => (0L, 1L) }
    }

    final case class Leg(median: Double, runs: Seq[Double],
                         stealPct: Double) {
      def spread: Double = (runs.max - runs.min) / median
    }

    def measure(cores: Int): Leg = {
      val s = Harness.session(cores)
      try {
        flagshipSecs(s, tokensPath) // warm-up, discarded
        val (st0, tt0) = cpuTicks()
        val runs = (1 to reps).map(_ => flagshipSecs(s, tokensPath))
        val (st1, tt1) = cpuTicks()
        rows = runs.head._1
        val times = runs.map(_._2).sorted
        Leg(times(times.length / 2), runs.map(_._2),
          100.0 * (st1 - st0) / math.max(1L, tt1 - tt0))
      } finally {
        // drain inside THIS session before it stops: stale registry
        // entries must never reach a later session's drain
        graft.core.Caches.drain()
        s.stop()
      }
    }
    val levels = ladder.map(c => c -> measure(c))
    val ladderAccepted = levels.forall(_._2.spread <= SpreadMax)
    def tput(c: Int): Double = rows / levels.toMap.apply(c).median
    val effPairs = ladder.sliding(2).collect { case Seq(a, b) =>
      (a, b, (tput(b) / tput(a)) / (b.toDouble / a))
    }.toSeq
    val tputHigh = tput(ladder.last)
    val eff = effPairs.head._3 // headline: the first (lowest) pair
    val secsLow = levels.head._2.median
    val secsHigh = levels.last._2.median
    val tputLow = tput(ladder.head)
    val runsLow = levels.head._2.runs
    val runsHigh = levels.last._2.runs
    val sHigh = Harness.session(cpus)

    // --- the query battery on SPARK_GRAFT_SF_DIR ---
    val results = battery(sHigh, sfDir, queries,
      explain = args.contains("--explain"))
    val timed = results.collect { case (k, Right(p)) => k -> p }
    def obj(rows: Seq[(String, String)]): String =
      rows.map { case (k, v) => Harness.json(k) + ":" + v }
        .mkString("{", ",", "}")
    val qs = obj(timed.map { case (k, p) => k -> f"${p.cold}%.3f" })
    val qsWarm = obj(timed.map { case (k, p) => k -> f"${p.warm}%.3f" })
    // shuffle/spill volume per query (cold pass) — the scale diagnostic
    // that survives host noise: an added exchange shows as a bytes jump
    // even when wall time doesn't move reliably
    val qsShuffle = obj(timed.map { case (k, p) =>
      k -> f"${p.coldTally.shuffleWriteBytes / 1e6}%.2f"
    })
    val qsSpill = obj(timed.filter(_._2.coldTally.spilledBytes > 0).map {
      case (k, p) => k -> f"${p.coldTally.spilledBytes / 1e6}%.1f"
    })
    val qsCounters = obj(timed.map { case (k, p) =>
      val d = p.warmTally
      k -> (f"""{"jobs":${d.jobs},"stages":${d.stages},""" +
        f""""tasks":${d.tasks},"shuffle_mb":${d.shuffleWriteBytes / 1e6}%.2f}""")
    })
    val qsError = obj(results.collect { case (k, Left(e)) =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      k -> Harness.json(msg.linesIterator.nextOption().getOrElse(""))
    })

    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    val ladderJson = levels.map { case (c, leg) =>
      f"""{"cores":$c,"secs_median":${leg.median}%.2f,"runs":${arr(leg.runs)},"tput":${rows / leg.median}%.1f,"spread":${leg.spread}%.3f,"steal_pct":${leg.stealPct}%.2f}"""
    }.mkString("[", ",", "]")
    val effJson = effPairs.map { case (a, b, e) =>
      f""""eff_${a}_$b":$e%.3f"""
    }.mkString(",")
    val noiseJson =
      s""""noise_rule":"reject ladder if any leg (max-min)/median > $SpreadMax; headline instrument = the 3x scale step (see BASELINE.md)","ladder_accepted":$ladderAccepted"""
    println(
      f"""{"metric":"feature_vectors_per_sec","value":$tputHigh%.1f,"unit":"rows/sec","sf":"$sfDir","queries":$qs,"queries_warm":$qsWarm,"queries_shuffle_mb":$qsShuffle,"queries_spill_mb":$qsSpill,"queries_counters":$qsCounters,"queries_error":$qsError,"scaling":{"rows":$rows,"cores_low":${ladder.head},"cores_high":${ladder.last},"secs_low":$secsLow%.2f,"secs_high":$secsHigh%.2f,"runs_low":${arr(runsLow)},"runs_high":${arr(runsHigh)},"tput_low":$tputLow%.1f,"tput_high":$tputHigh%.1f,"efficiency":$eff%.3f,"efficiency_pair":"${ladder.head}->${ladder(1 min (ladder.length - 1))} cores (N->4N, pre-bandwidth-saturation; see BASELINE.md)",$effJson,$noiseJson,"ladder":$ladderJson}}""")
    sHigh.stop()
  }
}
