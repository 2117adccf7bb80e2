package graft

import graft.core.TokenGen
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
  * 2. Per-query wall times for every SparkEntry query on
  *    SPARK_GRAFT_SF_DIR at SPARK_GRAFT_CPUS (driver contract). A query
  *    that throws is never timed: it is listed under `queries_error`
  *    with the first line of its message instead.
  *
  * Sessions come from [[Harness.session]]. Env knobs:
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: available
  * processors), SPARK_GRAFT_BENCH_DOCS (default 40000),
  * SPARK_GRAFT_BENCH_LADDER (default "max(1, cpus/4),cpus"),
  * SPARK_GRAFT_BENCH_REPS (default 3), SPARK_GRAFT_BENCH_QUERIES
  * (0 = ladder only), SPARK_GRAFT_BENCH_SERVICE_ITERS (default 0).
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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

    // --- per-query timings on the driver's sf dir ---
    // Each query is timed TWICE in the same session: the first (cold)
    // time folds in codegen + JIT + catalog warm-up and once misled a
    // round verdict by up to 6x; the second (warm) time is the
    // steady-state signal regressions should be adjudicated against.
    // shuffle/spill volume per query (cold pass) — the scale diagnostic
    // that survives host noise: an added exchange shows as a bytes jump
    // even when wall time doesn't move reliably
    val tally = graft.core.ShuffleTally.install(sHigh.sparkContext)
    // SPARK_GRAFT_BENCH_QUERIES=0 => ladder-only run (repeat-ladder /
    // scale-step sessions, where the 60-query battery is dead time)
    val runQueries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "1") != "0"
    val battery = SparkEntry.queries.toSeq.sortBy(_._1)
    // caches are query-scoped (Harness.run drains them), so the warm pass
    // rebuilds its own (steady-state service semantics, not a cache-hit
    // rerun); a query that throws in either pass is reported, not timed
    val results = (if (runQueries) battery else Nil).map { case (name, fn) =>
      val (cold, delta) = tally.measure(sHigh.sparkContext)(
        Harness.run(sHigh, fn(sHigh, sfDir)))
      name -> (for {
        c <- cold
        w <- Harness.run(sHigh, fn(sHigh, sfDir))
      } yield (c, w, delta))
    }
    val timed = results.collect { case (k, Right((c, w, d))) => (k, c, w, d) }
    val qs = timed.map { case (k, c, _, _) => "\"" + k + f"\":$c%.3f" }
      .mkString("{", ",", "}")
    val qsWarm = timed.map { case (k, _, w, _) => "\"" + k + f"\":$w%.3f" }
      .mkString("{", ",", "}")
    val qsShuffle = timed.map { case (k, _, _, d) =>
      "\"" + k + f"\":${d.shuffleWriteBytes / 1e6}%.2f"
    }.mkString("{", ",", "}")
    val qsSpill = timed.filter(_._4.spilledBytes > 0).map { case (k, _, _, d) =>
      "\"" + k + f"\":${d.spilledBytes / 1e6}%.1f"
    }.mkString("{", ",", "}")
    val qsError = results.collect { case (k, Left(e)) =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      Harness.json(k) + ":" + Harness.json(msg.linesIterator.nextOption()
        .getOrElse(""))
    }.mkString("{", ",", "}")
    // --- optional sustained-service mode: the full battery looped N
    // more times in this same JVM. With query-scoped caches + the fixed
    // resume checkpoint root, iteration time and process RSS must stay
    // flat — a session-lifetime leak (cache, listener tally, temp dir)
    // shows as a monotonic climb across iterations.
    val serviceIters =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SERVICE_ITERS", "0").toInt
    def rssMb(): Double = {
      val s = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status"))
      s.stream().filter(_.startsWith("VmRSS")).findFirst()
        .map[Double](_.split("\\s+")(1).toDouble / 1024).orElse(0.0)
    }
    def heapMb(): Double = {
      System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / 1e6
    }
    val serviceRuns = (1 to serviceIters).map { _ =>
      val t0 = System.nanoTime()
      battery.foreach { case (_, fn) => Harness.run(sHigh, fn(sHigh, sfDir)) }
      ((System.nanoTime() - t0) / 1e9, rssMb(), heapMb())
    }
    val serviceJson =
      if (serviceRuns.isEmpty) ""
      else {
        val its = serviceRuns.map { case (s, r, h) =>
          f"""{"secs":$s%.1f,"rss_mb":$r%.0f,"heap_mb":$h%.0f}"""
        }.mkString("[", ",", "]")
        s""","service":{"iters":$serviceIters,"per_iter":$its}"""
      }

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
      f"""{"metric":"feature_vectors_per_sec","value":$tputHigh%.1f,"unit":"rows/sec","sf":"$sfDir","queries":$qs,"queries_warm":$qsWarm,"queries_shuffle_mb":$qsShuffle,"queries_spill_mb":$qsSpill,"queries_error":$qsError,"scaling":{"rows":$rows,"cores_low":${ladder.head},"cores_high":${ladder.last},"secs_low":$secsLow%.2f,"secs_high":$secsHigh%.2f,"runs_low":${arr(runsLow)},"runs_high":${arr(runsHigh)},"tput_low":$tputLow%.1f,"tput_high":$tputHigh%.1f,"efficiency":$eff%.3f,"efficiency_pair":"${ladder.head}->${ladder(1 min (ladder.length - 1))} cores (N->4N, pre-bandwidth-saturation; see BASELINE.md)",$effJson,$noiseJson,"ladder":$ladderJson}$serviceJson}""")
    sHigh.stop()
  }
}
