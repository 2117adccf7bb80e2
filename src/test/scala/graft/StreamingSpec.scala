package graft

import graft.core.SeqPoint
import graft.streaming.StreamOps
// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming as-of dual vs the batch as-of join on identical data,
  * and the streaming gate queries' replay runner. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

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

  test("streaming gate queries: repeated runs return equal rows and " +
    "leave no memory-sink view or staging dir behind") {
    // a tiny sf dir: 3 documents (one duplicate), 40 events on 3 users
    withTempDir("graft_replay") { sf =>
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
}
