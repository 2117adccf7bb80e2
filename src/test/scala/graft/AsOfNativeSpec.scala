package graft

import graft.operators.AsOf
import graft.plans.AsOfJoinNative
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Native Catalyst as-of operator ≡ the composed union+window operator
  * on random inputs, across multiple partitions and entity types. */
class AsOfNativeSpec extends SparkSpec {

  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map { r =>
      (0 until r.length).map(i =>
        if (r.isNullAt(i)) "null" else r.get(i).toString).mkString("|")
    }.sorted.toSeq

  private val inputGen = for {
    nEnt <- Gen.choose(1, 5)
    nL <- Gen.choose(1, 50)
    nR <- Gen.choose(1, 40)
    lRows <- Gen.listOfN(nL, Gen.zip(Gen.choose(0, nEnt - 1),
      Gen.choose(0L, 80L), Gen.choose(-9, 9)))
    rRows <- Gen.listOfN(nR, Gen.zip(Gen.choose(0, nEnt - 1),
      Gen.choose(0L, 80L), Gen.choose(-99, 99)))
    tol <- Gen.option(Gen.choose(1L, 30L))
  } yield (lRows.distinct, // unique left rows
    rRows.groupBy(x => (x._1, x._2)).values.map(_.head).toList, tol)

  test("native == composed on random multi-entity inputs") {
    val params = Gen.Parameters.default
    (0 until 15).foreach { i =>
      inputGen(params, Seed(7L + i * 99L)).foreach {
        case (lRows, rRows, tol) =>
          val l = lRows.map { case (e, t, v) => (s"e$e", t, v.toDouble) }
            .toDF("entity_id", "ts", "lv").repartition(4)
          val r = rRows.map { case (e, t, v) => (s"e$e", t, v.toDouble) }
            .toDF("entity_id", "ts", "f_v").repartition(3)
          val native = AsOfJoinNative.joinBackward(spark, l, r,
            "entity_id", "ts", tol)
          val composed = AsOf.joinBackward(l,
            r.withColumnRenamed("f_v", "v"), "entity_id", "ts", tol,
            rightPrefix = "f_")
            .drop("f_ts") // native doesn't emit the matched ts
          assert(native.columns.sorted.toSeq ==
            composed.columns.sorted.toSeq,
            s"${native.columns.toSeq} vs ${composed.columns.toSeq}")
          val n = canon(native.select(composed.columns.map(col): _*))
          val c = canon(composed)
          assert(n == c, s"case $i (tol=$tol):\n${n.take(5)}\nvs\n${c.take(5)}")
      }
    }
  }

  test("NULL keys: right rows with a NULL entity or ts never match; left " +
    "rows with a NULL key pass through with a NULL payload") {
    val lRows = Seq[(Option[String], Option[Long], Double)](
      (Some("a"), Some(5L), 1.0), (Some("a"), Some(20L), 2.0),
      (Some("a"), None, 3.0), (None, Some(5L), 4.0), (None, None, 5.0),
      (Some("b"), Some(7L), 6.0), (Some("c"), Some(1L), 7.0))
    val rRows = Seq[(Option[String], Option[Long], Double)](
      (Some("a"), None, 99.0), (None, Some(1L), 98.0), (None, None, 97.0),
      (Some("a"), Some(10L), 10.0), (Some("b"), Some(3L), 30.0),
      (Some("b"), None, 96.0), (Some("c"), Some(0L), 40.0))
    // the rule, brute force: only fully keyed right rows are candidates
    def brute(tol: Option[Long]): Seq[String] = lRows.map { case (e, t, v) =>
      val hit = for {
        le <- e; lt <- t
        (_, rt, rv) <- rRows.filter(r => r._1.contains(le) &&
          r._2.exists(_ <= lt)).maxByOption(_._2.get)
        if tol.forall(lt - rt.get <= _)
      } yield rv
      Seq(e.getOrElse("null"), t.fold("null")(_.toString), v.toString,
        hit.fold("null")(_.toString)).mkString("|")
    }.sorted
    Seq(None, Some(3L)).foreach { tol =>
      val l = lRows.toDF("entity_id", "ts", "lv").repartition(3)
      val r = rRows.toDF("entity_id", "ts", "f_v").repartition(2)
      val cols = Seq("entity_id", "ts", "lv", "f_v").map(col)
      val native = canon(AsOfJoinNative.joinBackward(spark, l, r,
        "entity_id", "ts", tol).select(cols: _*))
      val composed = canon(AsOf.joinBackward(l,
        r.withColumnRenamed("f_v", "v"), "entity_id", "ts", tol,
        rightPrefix = "f_").select(cols: _*))
      assert(native == brute(tol), s"native (tol=$tol): $native")
      assert(composed == brute(tol), s"composed (tol=$tol): $composed")
    }
  }

  test("pruning through the node: un-projected wide parquet inputs, a " +
    "narrow select — the scans read only keys + referenced payload") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_asof_prune").toString
    (0 until 500).map(i => ("e" + i % 5, i.toLong, i * 0.5, i * 2.0,
      s"junkL$i", i.toString * 3))
      .toDF("entity_id", "ts", "lv", "l_unused", "l_junk1", "l_junk2")
      .write.mode("overwrite").parquet(s"$dir/l")
    (0 until 50).map(i => ("e" + i % 5, i.toLong * 10, i * 1.0,
      s"junkR$i", i * 9.0))
      .toDF("entity_id", "ts", "f_v", "r_junk", "r_unused")
      .write.mode("overwrite").parquet(s"$dir/r")
    // NO caller-side projection — round 4 required it; the
    // PruneAsOfChildren rule must now narrow the scans itself
    val joined = AsOfJoinNative.joinBackward(spark,
      spark.read.parquet(s"$dir/l"), spark.read.parquet(s"$dir/r"),
      "entity_id", "ts")
      .select(col("entity_id"), col("ts"), col("lv"), col("f_v"))
    assert(joined.count() == 500) // materialize (resolves the AQE plan)
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.requiredSchema.fieldNames.toSet
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSet
    }
    assert(scans.size == 2, s"expected 2 file scans, got $scans in\n$plan")
    val all = scans.flatten.toSet
    Seq("l_unused", "l_junk1", "l_junk2", "r_junk", "r_unused")
      .foreach(c => assert(!all.contains(c),
        s"unreferenced column $c survived into a scan: $scans"))
    assert(scans.exists(_ == Set("entity_id", "ts", "lv")) &&
      scans.exists(_ == Set("entity_id", "ts", "f_v")),
      s"scans not minimal: $scans")
  }

  test("plan shape: no union, children sorted independently") {
    val l = (0 until 1000).map(i => ("e" + i % 7, i.toLong, i * 0.5))
      .toDF("entity_id", "ts", "lv")
    val r = (0 until 100).map(i => ("e" + i % 7, i.toLong * 10, i * 1.0))
      .toDF("entity_id", "ts", "f_v")
    val native = AsOfJoinNative.joinBackward(spark, l, r, "entity_id", "ts")
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(500))
    assert(!plan.contains("Union"), "native as-of must not union inputs")
    assert(native.count() == 1000)
  }
}
