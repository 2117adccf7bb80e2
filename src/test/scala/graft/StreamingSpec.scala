package graft

import graft.core.SeqPoint
import graft.streaming.StreamOps
// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming duals vs their batch counterparts on identical data. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def runStream[T](df: org.apache.spark.sql.Dataset[T],
                           name: String,
                           mode: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("session_window aggregation matches batch sessionize groups") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    // ts seconds: entity e has gaps > 30s between [0..2], [100..101], [500]
    val rows = Seq(
      ("e", 0L, 1.0), ("e", 10L, 2.0), ("e", 20L, 3.0),
      ("e", 100L, 4.0), ("e", 101L, 5.0),
      ("e", 500L, 6.0),
      ("f", 7L, 1.5))
    input.addData(rows: _*)
    val pts = input.toDF()
      .toDF("entity_id", "sec", "value")
      .withColumn("event_time", timestamp_seconds(col("sec")))
    // append-mode sessionAgg only emits sessions the watermark has
    // closed; assert it runs, then check the full grouping via
    // complete mode
    runStream(StreamOps.sessionAgg(pts, "30 seconds", "0 seconds"),
      "sessions_tbl", "append")
    val input2 = MemoryStream[(String, Long, Double)]
    input2.addData(rows: _*)
    val pts2 = input2.toDF().toDF("entity_id", "sec", "value")
      .withColumn("event_time", timestamp_seconds(col("sec")))
    val grouped = runStream(
      pts2.groupBy(col("entity_id"),
        session_window(col("event_time"), "30 seconds"))
        .agg(count(lit(1)).as("n_points")),
      "sessions_complete", "complete")
    val got = grouped.select("entity_id", "n_points")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sorted
    assert(got == Seq(("e", 1L), ("e", 2L), ("e", 3L), ("f", 1L)),
      got.toString)
  }

  test("rollingVectors: streaming state emits the same vectors as a " +
    "batch count-window scan, with zero look-ahead") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val values = graft.core.TokenGen.makeDoc(11, skewed = false)
      .tokens.take(40).map(_.toDouble)
    val pts = values.zipWithIndex.map { case (v, i) =>
      SeqPoint("e", i.toLong, v, "web")
    }
    val input = MemoryStream[SeqPoint]
    // two micro-batches: state must carry across
    input.addData(pts.take(25).toSeq: _*)
    val stream = StreamOps.rollingVectors(input.toDS(), capacity = 8)
    val q = stream.writeStream.format("memory").queryName("vec_tbl")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(pts.drop(25).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vec_tbl")
      .orderBy(col("ts")).collect()
    assert(got.length == 40)
    // batch oracle: trailing count window of 8
    got.foreach { r =>
      val t = r.getLong(r.fieldIndex("ts")).toInt
      val windowVals = values.slice(math.max(0, t - 7), t + 1).reverse
      val n = windowVals.length
      val mean = windowVals.sum / n
      assert(r.getInt(r.fieldIndex("n")) == n, s"n@$t")
      assertClose(r.getDouble(r.fieldIndex("f_mean")), mean, s"mean@$t")
      val varp = windowVals.map(v => (v - mean) * (v - mean)).sum / n
      assertClose(r.getDouble(r.fieldIndex("f_std")), math.sqrt(varp),
        s"std@$t")
    }
  }

  test("streamingAsOf matches the batch backward as-of join and never " +
    "references a future ref row") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // deterministic interleaved event/ref streams for two entities,
    // incl. an equal-ts collision (ts=30: backward-INCLUSIVE -> ref at
    // 30 applies to the event at 30) and an event before any ref
    val leftRows = Seq(
      SeqPoint("e", 5L, 1.0, "web"), SeqPoint("e", 12L, 2.0, "web"),
      SeqPoint("e", 30L, 3.0, "web"), SeqPoint("e", 47L, 4.0, "web"),
      SeqPoint("f", 8L, 5.0, "web"), SeqPoint("f", 60L, 6.0, "web"))
    val rightRows = Seq(
      SeqPoint("e", 10L, 100.0, "web"), SeqPoint("e", 30L, 300.0, "web"),
      SeqPoint("e", 45L, 450.0, "web"),
      SeqPoint("f", 50L, 500.0, "web"))
    val lIn = MemoryStream[SeqPoint]
    val rIn = MemoryStream[SeqPoint]
    // batch 1: everything up to ts < 40; batch 2: the rest (monotonic
    // across batches, so state carry-over is exercised)
    lIn.addData(leftRows.filter(_.ts < 40): _*)
    rIn.addData(rightRows.filter(_.ts < 40): _*)
    val stream = StreamOps.streamingAsOf(lIn.toDS(), rIn.toDS())
    val q = stream.writeStream.format("memory").queryName("asof_tbl")
      .outputMode("append").start()
    q.processAllAvailable()
    lIn.addData(leftRows.filter(_.ts >= 40): _*)
    rIn.addData(rightRows.filter(_.ts >= 40): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_tbl").collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }.toMap
    assert(got.size == leftRows.size)
    // zero look-ahead: ref_ts <= ts always
    got.foreach { case ((_, t), (rts, _)) =>
      rts.foreach(rt => assert(rt <= t, s"leakage at ts=$t: ref_ts=$rt"))
    }
    // batch oracle: AsOf.joinBackward on the same rows
    val lDf = leftRows.map(p => (p.entity_id, p.ts, p.value))
      .toDF("entity_id", "ts", "value")
    val rDf = rightRows.map(p => (p.entity_id, p.ts, p.value))
      .toDF("entity_id", "ts", "ref_value")
    val oracle = graft.operators.AsOf
      .joinBackward(lDf, rDf, "entity_id", "ts", rightPrefix = "last_")
      .collect().map { r =>
      (r.getString(r.fieldIndex("entity_id")),
        r.getLong(r.fieldIndex("ts"))) ->
        (if (r.isNullAt(r.fieldIndex("last_ts"))) None
        else Some(r.getLong(r.fieldIndex("last_ts"))),
          if (r.isNullAt(r.fieldIndex("last_ref_value"))) None
          else Some(r.getDouble(r.fieldIndex("last_ref_value"))))
    }.toMap
    assert(got == oracle, s"\ngot    $got\noracle $oracle")
  }

  test("streamingAsOf late data: an event older than the carried ref " +
    "gets NULL (never a future ref); a late ref never regresses state") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val lIn = MemoryStream[SeqPoint]
    val rIn = MemoryStream[SeqPoint]
    val stream = StreamOps.streamingAsOf(lIn.toDS(), rIn.toDS())
    val q = stream.writeStream.format("memory").queryName("asof_late_tbl")
      .outputMode("append").start()
    // batch 1: ref at ts=45
    rIn.addData(SeqPoint("e", 45L, 450.0, "web"))
    q.processAllAvailable()
    // batch 2: a LATE event (ts=5 < 45) and a LATE ref (ts=20 < 45),
    // then an on-time event at ts=60
    lIn.addData(SeqPoint("e", 5L, 1.0, "web"), SeqPoint("e", 60L, 2.0, "web"))
    rIn.addData(SeqPoint("e", 20L, 200.0, "web"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_late_tbl").collect().map { r =>
      r.getLong(1) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toMap
    assert(got(5L).isEmpty, s"late event must not see a future ref: $got")
    assert(got(60L).contains(45L),
      s"late ref must not regress the state: $got")
  }

  test("anchoredGridStream equals the batch first-ts-anchored grid on " +
    "closed windows, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // irregular per-entity series: first ts NOT aligned to any epoch
    // grid, gaps leaving some windows empty
    val ptsE = Seq(7L, 9L, 12L, 13L, 21L, 22L, 55L, 58L, 90L, 91L, 93L)
      .zipWithIndex.map { case (t, i) =>
        SeqPoint("e", t, (i * 37 % 11).toDouble, "web")
      }
    val ptsF = Seq(100L, 104L, 131L, 160L).zipWithIndex.map {
      case (t, i) => SeqPoint("f", t, (i * 5 + 1).toDouble, "web")
    }
    val all = ptsE ++ ptsF
    val (wsize, wstep, minLen) = (16L, 8L, 2L)
    val input = MemoryStream[SeqPoint]
    input.addData(all.filter(_.ts < 60): _*)
    val stream = StreamOps.anchoredGridStream(input.toDS(), wsize, wstep,
      minLen)
    val q = stream.writeStream.format("memory").queryName("grid_tbl")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(all.filter(_.ts >= 60): _*) // state carries across
    q.processAllAvailable()
    q.stop()
    val got = spark.table("grid_tbl").collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }.toMap

    // batch truth: anchoredWindows with the identical agg formulas,
    // restricted to windows CLOSED by the data the stream has seen
    // (window_end <= per-entity max ts)
    import org.apache.spark.sql.functions._
    val batchDf = graft.operators.Windows.anchoredWindows(
      all.toDS().toDF(), "entity_id", "ts", wsize, wstep, minLen,
      Seq((sum(col("value")) / count(lit(1))).as("f_mean"),
        sqrt(sum(col("value") * col("value")) / count(lit(1)) -
          (sum(col("value")) / count(lit(1))) *
            (sum(col("value")) / count(lit(1)))).as("f_std")))
    val lastTs = all.groupBy(_.entity_id)
      .map { case (k, v) => k -> v.map(_.ts).max }
    val exp = batchDf.collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }.toMap.filter { case ((e, start), _) => start + wsize <= lastTs(e) }

    assert(got.keySet == exp.keySet,
      s"closed-window sets differ: ${got.keySet} vs ${exp.keySet}")
    exp.foreach { case (k, (n, m, sd)) =>
      val (gn, gm, gsd) = got(k)
      assert(gn == n, s"$k n: $gn vs $n")
      def close(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (Some(x), Some(y)) => math.abs(x - y) < 1e-9
        case (None, None) => true
        case _ => false
      }
      assert(close(gm, m), s"$k mean: $gm vs $m")
      assert(close(gsd, sd), s"$k std: $gsd vs $sd")
    }
    // empty grid slots must appear with n = 0 (e has a gap 22 -> 55)
    assert(exp.exists(_._2._1 == 0L), "fixture should cover empty windows")
  }

  test("dedupStream emits the first document per content hash across " +
    "micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val stream = StreamOps.dedupStream(docs)
    val q = stream.writeStream.format("memory").queryName("dedup_tbl")
      .outputMode("append").start()
    input.addData((1L, "aa"), (2L, "bb"), (3L, "aa"))
    q.processAllAvailable()
    input.addData((4L, "bb"), (5L, "cc"), (6L, "aa"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_tbl").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // one row per distinct text; doc 1 and 2 are the batch-1 firsts;
    // "cc" first appears as doc 5 in batch 2
    assert(got.values.toSeq.sorted == Seq("aa", "bb", "cc"))
    assert(got.contains(5L))
    assert(!got.contains(3L) && !got.contains(4L) && !got.contains(6L))
  }

  test("streaming gate queries: repeated runs return equal rows and " +
    "leave no memory-sink view or staging dir behind") {
    // a tiny sf dir: 3 documents (one duplicate), 40 events on 3 users
    val sf = java.nio.file.Files.createTempDirectory("graft_replay").toString
    Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "e f g h"))
      .toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    spark.range(40).select(col("id").as("event_id"),
      (col("id") % 3).as("user_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 60000000L)
        .as("ts"),
      when(col("id") % 4 === 0, "error").otherwise("view").as("event_type"),
      (col("id") * 0.5).as("value"))
      .write.parquet(s"$sf/events.parquet")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(n => n.startsWith("graft_") && n.contains("stream")).toSet
    val before = staged()
    Seq(graft.queries.StreamQueries.qDedupStream _,
      graft.queries.StreamQueries.qAsofStream _).foreach { q =>
      val first = q(spark, sf)
      val rows = first.collect().toSeq
      assert(rows.nonEmpty)
      (2 to 3).foreach(i => assert(q(spark, sf).collect().toSeq == rows,
        s"call $i returned other rows"))
      assert(first.collect().toSeq == rows,
        "the first call's result no longer reads its sink")
    }
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_"))
    assert(views.isEmpty, s"memory-sink views left: ${views.mkString(", ")}")
    assert(staged() == before,
      s"staging dirs left: ${(staged() -- before).mkString(", ")}")
  }
}
