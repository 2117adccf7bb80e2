package graft.queries

import graft.Harness.Gate
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-gate visibility for the streaming layer: run a real
  * Structured Streaming job to completion inside the query builder and
  * hand its materialized result to the same DuckDB oracle as the batch
  * dual. Through round 3 the streaming duals were spec-only
  * (StreamingSpec ≡ batch); this puts one on the hash gate.
  */
object StreamQueries {

  /** Replay staged files through one Structured Streaming query to
    * completion and hand back its result: `stage` writes the input
    * files into a fresh dir, `stream` reads them back as a stream, which
    * runs with Trigger.AvailableNow into a memory sink in `mode`. The
    * sink's DataFrame is taken before its view is dropped and the dir
    * (input and checkpoint) deleted — it still reads the sink's rows, so
    * repeated runs leave neither views nor files behind.
    *
    * Shuffle partitions — and with them the streaming STATE partition
    * count, which unlike batch shuffles is NOT AQE-coalesced: every
    * micro-batch launches one task and one state-store delta file per
    * partition — are set to the scale-adaptive `defaultParallelism`
    * (= cores locally, = executor slots on a cluster) while the stream
    * starts and drains, instead of the session's fixed batch value (128
    * here). For the bounded replay the state is KBs; 128 partitions ×
    * batches of per-file state-store open/commit/fsync was the dominant
    * cost of both streaming gate queries (guide §2.2: fewer, larger
    * partitions). A production stream sizes this to state volume
    * instead. Restored before returning, so the batch plan downstream
    * (and every other query) still plans with the session's value. */
  private def replay(spark: SparkSession, mode: String)
                    (stage: String => Unit)
                    (stream: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    val name = dir.getFileName.toString // unique, and a valid identifier
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      stage(dir.toString)
      val input = stream(dir.toString)
      spark.conf.set(key, spark.sparkContext.defaultParallelism)
      try input.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      finally spark.conf.set(key, prev)
      spark.table(name)
    } finally {
      spark.catalog.dropTempView(name)
      val p = new org.apache.hadoop.fs.Path(dir.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Run the chunk-write jobs in parallel (they are independent
    * map-only writes — guide §2.6 overlapping independent jobs), then
    * stamp each target file with a strictly increasing mtime IN CHUNK
    * ORDER: FileStreamSource replays by (modification time, path), and
    * sequential writes used to encode the order in mtimes as a side
    * effect — parallel completion order must not change the replay
    * order, so the stamp makes it explicit. */
  private def writeAllChunks(spark: SparkSession,
                             jobs: Seq[(() => Unit, String)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(jobs.size, 8))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val fs = scala.concurrent.Future.sequence(
        jobs.map { case (j, _) => scala.concurrent.Future(j()) })
      scala.concurrent.Await.result(fs,
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = System.currentTimeMillis() - jobs.size * 1000L
    jobs.map(_._2).zipWithIndex.foreach { case (target, i) =>
      val p = new org.apache.hadoop.fs.Path(target)
      p.getFileSystem(hconf).setTimes(p, base + i * 1000L, -1)
    }
  }

  /** Exact dedup THROUGH THE STREAMING ENGINE: the documents table is
    * re-written as 8 parquet chunks and replayed as a file-source
    * stream 2 files per micro-batch, so the streaming aggregation
    * (groupBy content_hash → count + min doc_id) accumulates state
    * across 4 incremental batches; Trigger.AvailableNow drains the
    * backlog and the memory sink (complete mode) holds the final
    * aggregates. Deterministic by construction — streaming `count`/
    * `min` are batch-split-invariant, unlike first-arrival
    * dropDuplicates — so the output equals q_dedup_exact row-for-row
    * and shares its oracle semantics. Complete-mode state is the
    * bounded-reprocessing configuration; an unbounded stream would
    * use a watermarked dropDuplicatesWithinWatermark instead, whose
    * state is bounded by the dedup horizon (not built here: no
    * workload runs an unbounded stream). */
  def qDedupStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    replay(spark, "complete") { root =>
      docs.repartition(8).write.mode("overwrite").parquet(s"$root/in")
    } { root =>
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(s"$root/in")
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("rep_doc"))
    }.orderBy(col("content_hash"))
  }

  /** Write `df` as ONE parquet file at `target` (a file path, not a
    * dir): the file-source replay needs one file per chunk so
    * maxFilesPerTrigger=1 delivers exactly one chunk per micro-batch,
    * in chunk order (FileStreamSource batches by modification time
    * with path tie-break; [[writeAllChunks]] writes the chunks in
    * parallel and then stamps their mtimes in chunk order, and they are
    * named in lexicographic chunk order, so both keys agree). */
  private def writeOneFile(df: DataFrame, target: String): Unit = {
    val stage = target + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
    fs.rename(part, new org.apache.hadoop.fs.Path(target))
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** The POINT-IN-TIME AS-OF JOIN through the streaming engine — the
    * flagship operator's streaming dual on the hash gate (spec-only
    * through round 4): non-error events (left) and error events
    * (reference side) are each re-written as 4 TIME-RANGE chunks and
    * replayed as two file-source streams, 1 chunk per micro-batch, so
    * [[graft.streaming.StreamOps.streamingAsOf]]'s per-entity O(1)
    * reference state accumulates across 4 incremental batches. Because
    * the chunks partition TIME with shared boundaries on both streams,
    * every micro-batch delivers a complete closed ts range and the
    * in-order scan reproduces the batch backward-inclusive as-of join
    * exactly — the output is hash-compared to q_asof_join's DuckDB
    * `ASOF LEFT JOIN` oracle verbatim. The result is invariant to
    * WHERE the cuts fall (any shared time partition replays
    * identically), so the cuts come from one exact-percentile
    * aggregate over ts and each chunk write is a map-only filtered
    * scan — no global-order window, which would single-partition-sort
    * the whole table once per chunk write. The left point's `value`
    * slot carries event_id (the payload the batch query outputs);
    * ref_ts/ref_value surface as last_err_us/last_err_value. */
  def qAsofStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select(
      col("user_id").cast("string").as("entity_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts"),
      col("event_type"), col("value"), col("event_id"))
    replay(spark, "append") { root =>
      // 3 interior cuts = exact ts quartiles (longs below 2^53 are
      // exact in double); chunk k = [cut(k-1), cut(k)) with ±∞ rails —
      // every row lands in exactly one chunk even under heavy ties
      // (equal cuts just leave a middle chunk empty)
      val cuts = ev.agg(expr("percentile(ts, array(0.25, 0.5, 0.75))"))
        .head.getSeq[Double](0)
      val lo = Double.NegativeInfinity +: cuts
      val hi = cuts :+ Double.PositiveInfinity
      // the 8 chunk writes are independent map-only jobs — run them
      // concurrently and stamp replay order explicitly (writeAllChunks);
      // jobs are listed in per-source chunk order
      writeAllChunks(spark, (1 to 4).flatMap { k =>
        val inChunk = col("ts").cast("double") >= lo(k - 1) &&
          col("ts").cast("double") < hi(k - 1)
        val lTgt = s"$root/left/c$k.parquet"
        val rTgt = s"$root/right/c$k.parquet"
        Seq(
          (() => writeOneFile(ev
            .where(inChunk && col("event_type") =!= "error")
            .select(col("entity_id"), col("ts"),
              col("event_id").cast("double").as("value"),
              lit("ev").as("source")), lTgt), lTgt),
          (() => writeOneFile(ev
            .where(inChunk && col("event_type") === "error")
            .select(col("entity_id"), col("ts"), col("value"),
              lit("err").as("source")), rTgt), rTgt))
      })
    } { root =>
      val sch = org.apache.spark.sql.Encoders.product[graft.core.SeqPoint]
        .schema
      def src(side: String) = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/$side").as[graft.core.SeqPoint]
      graft.streaming.StreamOps.streamingAsOf(src("left"), src("right"))(spark)
        .toDF()
    }.select(
      col("entity_id").cast("bigint").as("user_id"),
      col("value").cast("bigint").as("event_id"),
      col("ref_value").as("last_err_value"),
      col("ref_ts").as("last_err_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // identical semantics to the batch duals — deliberately the same
  // oracle texts: the streaming engine must reproduce them exactly
  val gate: Map[String, Gate] = Map(
    "q_dedup_stream" -> Gate(qDedupStream,
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  min(doc_id) AS rep_doc
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin),
    "q_asof_stream" -> Gate(qAsofStream, CoreQueries.asOfJoinOracle)
  )
}
