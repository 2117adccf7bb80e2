package graft

import graft.core.TokenGen
import graft.pipeline.{FeaturePipeline, Pipeline}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Checkpoint/lineage/resume layer + flagship pipeline end-to-end vs a
  * brute-force in-memory oracle (north rule: resumable from checkpoint
  * with per-partition lineage + metrics; allclose at every
  * entity×timestamp; zero temporal leakage). */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  // --- deterministic small input: 3 entities, gappy non-uniform ts ---
  private lazy val pointRows: Seq[(String, Long, Double)] = for {
    e <- 0 until 3
    doc = TokenGen.makeDoc(e.toLong, skewed = false)
    toks = doc.tokens.take(120)
    cum = toks.map(t => 1L + (t % 19)).scanLeft(0L)(_ + _).drop(1)
    i <- toks.indices
  } yield (doc.doc_id, cum(i), toks(i).toDouble)

  private lazy val points =
    pointRows.toDF("entity_id", "ts", "value")

  private val cfg = FeaturePipeline.Config(
    wsize = 60L, wstep = 30L, minWindowLen = 4L,
    sessionGap = 40L, maxStaleness = Some(240L))

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
    val root = tempDir("graft-ckpt").toString
    var computes = 0
    def runOnce(): Array[org.apache.spark.sql.Row] = {
      val df = Pipeline.stage(spark, root, "stageA") {
        computes += 1
        points.groupBy($"entity_id").agg(count(lit(1)).as("n"),
          sum($"value").as("s"))
      }
      df.orderBy($"entity_id").collect()
    }
    val first = runOnce()
    assert(computes == 1)
    val lineage = Pipeline.readLineage(spark, root, "stageA")
    assert(lineage.isDefined, "lineage sidecar written")
    val js = lineage.get
    assert(js.contains("\"records\":3"), s"3 output rows recorded: $js")
    assert(js.contains("\"partition\""), "per-partition entries present")

    val second = runOnce()
    assert(computes == 1, "resumed stage must not recompute")
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq,
      "resumed output identical")
  }

  test("resume after partial failure: only missing stages recompute") {
    val root = tempDir("graft-resume").toString
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
