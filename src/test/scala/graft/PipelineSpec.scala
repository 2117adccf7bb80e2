package graft

import graft.core.TokenGen
import graft.pipeline.{FeaturePipeline, Pipeline}
import org.apache.commons.io.FileUtils
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Checkpoint/lineage/resume layer + flagship pipeline end-to-end vs a
  * brute-force in-memory oracle (north rule: resumable from checkpoint
  * with per-partition lineage + metrics; allclose at every
  * entity×timestamp; zero temporal leakage). */
class PipelineSpec extends SparkSpec {

  import spark.implicits._
  import PipelineSpec.{cfg, pointRows}

  private lazy val points = PipelineSpec.points(spark)

  /** `body`'s result and the job group ids of the jobs it ran. */
  private def jobGroups[T](body: => T): (T, Seq[String]) = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBridge.waitUntilEmpty(spark.sparkContext)
      (out, groups.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def pipelineRows(c: FeaturePipeline.Config, pts: DataFrame,
                           checkpoint: Option[String]): Seq[String] =
    FeaturePipeline.run(spark, pts, "entity_id", "ts", "value", c,
      checkpoint).orderBy($"entity_id", $"ts").collect().map(_.toString)
      .toSeq

  // --- brute-force oracle (pymhealth slice semantics) ---
  private def oracle: Map[(String, Long), (Long, Option[IndexedSeq[Double]])] = {
    val byEntity = pointRows.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).toIndexedSeq).toMap
    byEntity.flatMap { case (e, rows) =>
      val ts = rows.map(_._2)
      val vs = rows.map(_._3)
      // sessions
      var s = 0L
      val sessions = ts.indices.map { i =>
        if (i > 0 && ts(i) - ts(i - 1) > cfg.sessionGap) s += 1
        s
      }
      // windows: starts = first + k*step, k in [0, floor((last-first-1)/step)]
      val first = ts.head
      val last = ts.last
      val feats = if (last > first) {
        val kMax = ((last - first - 1) / cfg.wstep).toInt
        (0 to kMax).flatMap { k =>
          val start = first + k * cfg.wstep
          val idx = ts.indices.filter(i =>
            ts(i) >= start && ts(i) < start + cfg.wsize)
          if (idx.isEmpty) None
          else {
            val avail = start + cfg.wsize
            val slice = idx.map(vs)
            val n = slice.length
            val mean = slice.sum / n
            val std = math.sqrt(slice.map(x => x * x).sum / n - mean * mean)
            val pairs = idx.filter(i => i > 0 && ts(i - 1) >= start)
            val rmssd =
              if (pairs.isEmpty) Double.NaN
              else math.sqrt(pairs.map(i =>
                math.pow(vs(i) - vs(i - 1), 2)).sum / pairs.length)
            val fv: IndexedSeq[Double] =
              if (n >= cfg.minWindowLen)
                IndexedSeq(n.toDouble, mean, std, slice.min, slice.max, rmssd)
              else IndexedSeq(n.toDouble, Double.NaN, Double.NaN,
                Double.NaN, Double.NaN, Double.NaN)
            Some((avail, fv))
          }
        }
      } else IndexedSeq.empty
      rows.zipWithIndex.map { case ((_, t, _), i) =>
        val cand = feats.filter { case (avail, _) =>
          avail <= t && cfg.maxStaleness.forall(tol => t - avail <= tol)
        }
        val best = cand.sortBy(_._1).lastOption
        (e, t) -> (sessions(i), best.map(_._2))
      }
    }
  }

  test("flagship pipeline matches the brute-force oracle at every " +
    "entity×timestamp (allclose; zero leakage by construction)") {
    val out = FeaturePipeline.run(spark, points, "entity_id", "ts",
      "value", cfg)
    val got = out.collect().map { r =>
      def d(name: String): Double = {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      }
      val nIdx = r.fieldIndex("f_n")
      val fn = if (r.isNullAt(nIdx)) Double.NaN else r.getLong(nIdx).toDouble
      (r.getString(r.fieldIndex("entity_id")), r.getLong(r.fieldIndex("ts"))) ->
        (r.getLong(r.fieldIndex("session_id")),
          fn, d("f_mean"), d("f_std"), d("f_vmin"), d("f_vmax"), d("f_rmssd"))
    }.toMap
    val want = oracle
    assert(got.size == pointRows.size, "one vector per entity×timestamp")
    want.foreach { case (key, (sess, fv)) =>
      val g = got(key)
      assert(g._1 == sess, s"session_id at $key")
      fv match {
        case None =>
          assert(g._2.isNaN, s"expected no feature at $key, got $g")
        case Some(v) =>
          assertClose(g._2, v(0), s"n@$key")
          assertClose(g._3, v(1), s"mean@$key")
          assertClose(g._4, v(2), s"std@$key", rtol = 1e-9)
          assertClose(g._5, v(3), s"min@$key")
          assertClose(g._6, v(4), s"max@$key")
          assertClose(g._7, v(5), s"rmssd@$key", rtol = 1e-9)
      }
    }
  }

  test("bucket-rollup window features equal the per-point explode path " +
    "on gappy input (incl. lag-gated rmssd)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"entity_id", $"window_start").collect().map { r =>
        (0 until r.length).map(i =>
          if (r.isNullAt(i)) "null"
          else r.get(i) match {
            case d: Double => f"$d%.9f"
            case x => x.toString
          }).mkString("|")
      }.toSeq
    // for R = 1, 2 and 3, with one more entity whose span (150) is a
    // multiple of wstep: its last point's bucket anchors a window past
    // the grid (the kmax cut), and the gap before it leaves empty windows
    val aligned = Seq(0L, 3L, 7L, 12L, 30L, 31L, 40L, 45L, 59L, 61L, 88L,
      150L).map(t => ("aligned", t, ((t * 7) % 23).toDouble))
    val input = (pointRows ++ aligned).toDF("entity_id", "ts", "value")
    Seq(1, 2, 3).foreach { r =>
      val c = cfg.copy(wsize = r * cfg.wstep)
      // the rollup emits no row for a window without points
      val direct = canon(FeaturePipeline.windowFeatures(
        input, "entity_id", "ts", "value", c).where($"n_points" >= 1))
      val rolled = canon(FeaturePipeline.windowFeaturesRolled(
        input, "entity_id", "ts", "value", c))
      assert(rolled.size == direct.size, s"R = $r")
      rolled.zip(direct).foreach { case (a, b) =>
        assert(a == b, s"R = $r: $a != $b")
      }
    }
  }

  test("checkpointed stages write per-partition lineage and resume " +
    "without recomputation") {
    withTempDir("graft-ckpt") { root =>
      def runOnce(): Array[org.apache.spark.sql.Row] =
        Pipeline.stage(spark, root, "stageA") {
          points.groupBy($"entity_id").agg(count(lit(1)).as("n"),
            sum($"value").as("s"))
        }.orderBy($"entity_id").collect()
      val (first, ran) = jobGroups(runOnce())
      assert(ran.contains("graft-stage-stageA"), s"no stage write job: $ran")
      val lineage = Pipeline.readLineage(spark, root, "stageA")
      assert(lineage.isDefined, "lineage sidecar written")
      val js = lineage.get
      assert(js.contains("\"records\":3"), s"3 output rows recorded: $js")
      assert(js.contains("\"partition\""), "per-partition entries present")

      val (second, resumed) = jobGroups(runOnce())
      assert(!resumed.contains("graft-stage-stageA"),
        "resumed stage must not recompute")
      assert(Pipeline.readLineage(spark, root, "stageA") == lineage,
        "resume rewrote the sidecar")
      assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq,
        "resumed output identical")

      // the key cannot see what an RDD holds: such a stage never resumes
      val fromRdd = spark.createDataFrame(points.rdd, points.schema)
      Seq(1, 2).foreach { call =>
        val (_, groups) = jobGroups(Pipeline.stage(spark, root, "stageB")(
          fromRdd))
        assert(groups.contains("graft-stage-stageB"),
          s"call $call of an RDD-backed stage resumed")
      }
    }
  }

  test("a reused checkpoint root recomputes after a config change and " +
    "after an input change: stages resume only on an equal content key") {
    withTempDir("graft-ckpt-key") { root =>
      val a = cfg.copy(wsize = 64L, wstep = 32L)
      val b = a.copy(wsize = 96L)
      val x10 = pointRows.map { case (e, t, v) => (e, t, v * 10) }
        .toDF("entity_id", "ts", "value")
      val runA = pipelineRows(a, points, Some(root))
      val s1 = Pipeline.readLineage(spark, root, "s1_sessionized")

      val wantB = pipelineRows(b, points, None)
      assert(wantB != runA, "fixture: wsize 64 -> 96 changed no row")
      assert(pipelineRows(b, points, Some(root)) == wantB,
        "the config change resumed stale stages")
      assert(Pipeline.readLineage(spark, root, "s1_sessionized") == s1,
        "stage 1 does not read wsize, so it must resume")

      val wantX = pipelineRows(b, x10, None)
      assert(wantX != wantB, "fixture: values x10 changed no row")
      assert(pipelineRows(b, x10, Some(root)) == wantX,
        "the input change resumed stale stages")
    }
  }

  test("a checkpoint root written by another process and session " +
    "resumes with no write job and identical rows") {
    withTempDir("graft-xproc") { root =>
      val log = new java.io.File(s"$root.log")
      log.deleteOnExit()
      val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray ++
        Seq("-cp", sys.props("java.class.path"),
          "graft.PipelineCheckpointRun", root)
      val exit = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log).start().waitFor()
      assert(exit == 0, s"checkpoint run failed, see $log")
      val (resumed, groups) = jobGroups(pipelineRows(cfg, points, Some(root)))
      assert(!groups.exists(_.startsWith("graft-stage-")),
        s"stages recomputed across processes: $groups")
      assert(resumed == pipelineRows(cfg, points, None),
        "rows resumed across processes differ from a fresh run")
    }
  }

  test("resume after partial failure: only missing stages recompute") {
    withTempDir("graft-resume") { root =>
      val out1 = FeaturePipeline.run(spark, points, "entity_id", "ts",
        "value", cfg, checkpoint = Some(root))
        .orderBy($"entity_id", $"ts").collect()

      // simulate a crash that lost stage 3's output
      val s3 = new java.io.File(s"$root/s3_vectors")
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete()
      }
      rmrf(s3)
      assert(!s3.exists)
      val s1Lineage = Pipeline.readLineage(spark, root, "s1_sessionized").get

      val out2 = FeaturePipeline.run(spark, points, "entity_id", "ts",
        "value", cfg, checkpoint = Some(root))
        .orderBy($"entity_id", $"ts").collect()

      assert(Pipeline.readLineage(spark, root, "s1_sessionized").get
        == s1Lineage, "completed stage untouched on resume")
      assert(out1.map(_.toString).toSeq == out2.map(_.toString).toSeq,
        "resumed pipeline output identical")
    }
  }

  test("the resume query's checkpoints are keyed by the events content: " +
    "rewriting events under the same dir resumes nothing stale") {
    import graft.queries.PipelineQueries.{qFeaturePipeline,
      qFeaturePipelineResume}
    withTempDir("graft_resume_key") { dir =>
      // 3 users, 40 events each, 7 h apart: several sessions and windows
      def write(scale: Double): Unit =
        spark.range(120).select(
          (col("id") % 3).as("user_id"),
          timestamp_micros(lit(1700000000000000L) + col("id") * 25200000000L)
            .as("ts"),
          ((col("id") * 37 % 101) / 10.0 * scale).as("value"),
          col("id").as("event_id"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      try {
        write(1.0)
        val before = qFeaturePipelineResume(spark, dir).collect().toSeq
        write(10.0)
        val want = qFeaturePipeline(spark, dir).collect().toSeq
        val changed = want != before
        assert(changed, "fixture: scaling the values changed nothing")
        val fresh = qFeaturePipelineResume(spark, dir).collect().toSeq == want
        assert(fresh, "resume served checkpoints of the old events files")
      } finally FileUtils.deleteDirectory(
        new java.io.File(Pipeline.tmpRoot("ckpt_resume", dir)))
    }
  }

  test("duplicated (entity, ts) rows: threading a tie column makes " +
    "session ids retry-stable under different input partitionings") {
    import org.apache.spark.sql.functions.col
    // quantize ts to force genuine (entity, ts) collisions, keep a
    // unique generator position as the tie-break column
    val dupRows = pointRows.zipWithIndex.map { case ((e, t, v), i) =>
      val t3 = t * 3 // stretch so some gaps exceed sessionGap (=40)
      (e, t3 - (t3 % 7), v, i.toLong)
    }
    val df = dupRows.toDF("entity_id", "ts", "value", "pos")
    val cfgT = cfg.copy(tieCols = Seq("pos"))
    def runWith(input: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
      FeaturePipeline.run(spark, input, "entity_id", "ts", "value", cfgT)
        .select(Seq("entity_id", "ts", "value", "session_id", "f_n",
          "f_mean", "f_std", "f_vmin", "f_vmax", "f_rmssd",
          "feature_ts").map(col): _*)
        .collect()
        .map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
    // different physical layouts = a retry/speculative-execution proxy:
    // the window ordering (ts, pos) is total, so neither session ids
    // nor the successive-difference features may depend on how the
    // shuffle happened to order tied rows
    val a = runWith(df.repartition(7))
    val b = runWith(df.repartition(3, col("value")))
    assert(a == b, "session ids or features changed across partitionings")
    assert(a.keys.map(_(3)).toSet.size > 1, "fixture produced 1 session")
    // and the collisions were real: some (entity, ts) pair repeats
    assert(dupRows.groupBy(r => (r._1, r._2)).exists(_._2.size > 1),
      "fixture produced no duplicate (entity, ts) keys")
  }
}

object PipelineSpec {

  // --- deterministic small input: 3 entities, gappy non-uniform ts ---
  lazy val pointRows: Seq[(String, Long, Double)] = for {
    e <- 0 until 3
    doc = TokenGen.makeDoc(e.toLong, skewed = false)
    toks = doc.tokens.take(120)
    cum = toks.map(t => 1L + (t % 19)).scanLeft(0L)(_ + _).drop(1)
    i <- toks.indices
  } yield (doc.doc_id, cum(i), toks(i).toDouble)

  def points(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pointRows.toDF("entity_id", "ts", "value")
  }

  val cfg: FeaturePipeline.Config = FeaturePipeline.Config(
    wsize = 60L, wstep = 30L, minWindowLen = 4L,
    sessionGap = 40L, maxStaleness = Some(240L))
}

/** The first half of PipelineSpec's cross-process resume test: one
  * checkpointed flagship run over [[PipelineSpec.points]] in a session of
  * its own, into the root given as the only argument. */
object PipelineCheckpointRun {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4, partitions = 4)
    try Harness.noop(FeaturePipeline.run(spark, PipelineSpec.points(spark),
      "entity_id", "ts", "value", PipelineSpec.cfg, Some(args(0))))
    finally spark.stop()
  }
}
