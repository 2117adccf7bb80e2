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
    withTempDir("graft_asof_prune") { dir =>
      (0 until 500).map(i => ("e" + i % 5, i.toLong, i * 0.5, i * 2.0,
        s"junkL$i", i.toString * 3))
        .toDF("entity_id", "ts", "lv", "l_unused", "l_junk1", "l_junk2")
        .write.mode("overwrite").parquet(s"$dir/l")
      (0 until 50).map(i => ("e" + i % 5, i.toLong * 10, i * 1.0,
        s"junkR$i", i * 9.0))
        .toDF("entity_id", "ts", "f_v", "r_junk", "r_unused")
        .write.mode("overwrite").parquet(s"$dir/r")
      // NO caller-side projection: the node claims only its keys, so
      // Catalyst's ColumnPruning narrows the scans itself
      val (l, r) =
        (spark.read.parquet(s"$dir/l"), spark.read.parquet(s"$dir/r"))
      val joined = AsOfJoinNative.joinBackward(spark, l, r, "entity_id", "ts")
      val narrow = Seq("entity_id", "ts", "lv", "f_v").map(col)
      val fv = joined.collect()
        .flatMap(row => Option(row.getAs[java.lang.Double]("f_v")))
      val lKeys = Set("entity_id", "ts")
      val (lNarrow, rNarrow) = (lKeys + "lv", lKeys + "f_v")
      Seq(
        ("narrow select", joined.select(narrow: _*), 500L,
          Set(lNarrow, rNarrow)),
        ("filter + select", joined.where(col("f_v") > 3.0).select(narrow: _*),
          fv.count(_ > 3.0).toLong, Set(lNarrow, rNarrow)),
        ("groupBy", joined.groupBy("entity_id").agg(sum("f_v")), 5L,
          Set(lKeys, rNarrow)),
        ("no projection", joined, 500L, Set(l.columns.toSet, r.columns.toSet))
      ).foreach { case (shape, df, rows, want) =>
        assert(df.count() == rows, shape)
        val plan = df.queryExecution.sparkPlan // before AQE wraps the scans
        val scans = plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.requiredSchema.fieldNames.toSet
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.readSchema().fieldNames.toSet
        }
        assert(scans.size == 2 && scans.toSet == want,
          s"$shape: scans $scans, want $want in\n$plan")
      }
    }
  }

  test("timestamp keys compare in micros: sub-second TIMESTAMP and " +
    "TIMESTAMP_NTZ rows never match a later right row") {
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC, micros
    val ms = 1000L
    val lRows = Seq(("a", 200 * ms, 1.0), ("a", 1500 * ms, 2.0),
      ("a", 2000 * ms, 3.0), ("b", 100 * ms, 4.0), ("b", 3250 * ms, 5.0))
    val rRows = Seq(("a", 900 * ms, 99.0), ("a", 1400 * ms, 10.0),
      ("a", 2000 * ms, 20.0), ("b", 50 * ms, 30.0), ("b", 3300 * ms, 40.0))
    // the rule, brute force on micros: latest right ts <= left ts
    def brute(tol: Option[Long]): Seq[String] = lRows.map { case (e, t, v) =>
      val hit = rRows.filter(r => r._1 == e && r._2 <= t).maxByOption(_._2)
        .filter(r => tol.forall(t - r._2 <= _)).map(_._3)
      Seq(e, (t0 + t).toString, v.toString, hit.fold("null")(_.toString))
        .mkString("|")
    }.sorted
    Seq("timestamp", "timestamp_ntz").foreach { tsType =>
      def df(rows: Seq[(String, Long, Double)], v: String) =
        rows.toDF("entity_id", "us", v).select(col("entity_id"),
          timestamp_micros(col("us") + t0).cast(tsType).as("ts"), col(v))
      val (l, r) = (df(lRows, "lv").repartition(2), df(rRows, "f_v"))
      Seq(None, Some(500 * ms)).foreach { tol =>
        val native = AsOfJoinNative.joinBackward(spark, l, r,
          "entity_id", "ts", tol)
        val composed = AsOf.joinBackward(l, r.withColumnRenamed("f_v", "v"),
          "entity_id", "ts", tol, rightPrefix = "f_")
          .withColumn("ts", graft.core.Tables.tsMicros(col("ts"),
            l.schema("ts").dataType))
        val cols = Seq("entity_id", "ts", "lv", "f_v").map(col)
        val want = brute(tol)
        assert(canon(native.select(cols: _*)) == want, s"native $tsType $tol")
        assert(canon(composed.select(cols: _*)) == want,
          s"composed $tsType $tol")
      }
    }
  }

  test("registration: AsOfStrategy once per session, and a new session " +
    "plans the native node on its first call") {
    def run(s: org.apache.spark.sql.SparkSession) = AsOfJoinNative
      .joinBackward(s, s.range(3).selectExpr("'a' AS entity_id", "id AS ts",
        "id * 1.0 AS lv"), s.range(2).selectExpr("'a' AS entity_id",
        "id AS ts", "id * 2.0 AS f_v"), "entity_id", "ts")
    def registered(s: org.apache.spark.sql.SparkSession) =
      s.experimental.extraStrategies.count(_ == AsOfJoinNative.AsOfStrategy)
    run(spark); run(spark)
    assert(registered(spark) == 1)
    val fresh = spark.newSession()
    assert(registered(fresh) == 0)
    val first = run(fresh)
    assert(first.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    assert(first.count() == 3 && registered(fresh) == 1)
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
