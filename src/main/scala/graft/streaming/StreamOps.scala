package graft.streaming

import graft.core.SeqPoint
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.9). The reference has no
  * streaming runtime, but its operators are stream-shaped; these are the
  * streaming duals of the batch engine ops, sharing semantics:
  *
  *  - gap sessionization → `session_window(ts, gap)` (event time +
  *    watermark; late data policy = watermark);
  *  - tumbling/sliding feature windows → [[anchoredGridStream]], the
  *    exact first-ts-anchored dual of the batch grid (windows.py:175
  *    semantics) via flatMapGroupsWithState;
  *  - the per-entity stateful scans (§2.6) → flatMapGroupsWithState,
  *    here instantiated as a running feature state that emits one
  *    vector per arriving point with ZERO look-ahead (the streaming
  *    dual of the backward as-of join: state at emit time only ever
  *    contains past rows, so temporal leakage is impossible by
  *    construction).
  */
object StreamOps {

  /** Gap-based session aggregation over an event-time stream. */
  def sessionAgg(points: DataFrame, gap: String,
                 watermark: String): DataFrame =
    points
      .withWatermark("event_time", watermark)
      .groupBy(col("entity_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_points"),
        avg(col("value")).as("mean"),
        min(col("event_time")).as("session_start"),
        max(col("event_time")).as("session_end"))

  /** Rolling state kept per entity: last `capacity` values (count
    * window) — enough to emit mean/std/min/max/rmssd per event. */
  final case class RollState(values: List[Double])

  final case class StreamVector(entity_id: String, ts: Long,
                                value: Double, n: Int, f_mean: Double,
                                f_std: Double, f_rmssd: Double)

  /** Streaming exact deduplication — the streaming dual of
    * q_dedup_exact's hash-groupBy: emits the FIRST document seen per
    * content hash. With a watermark the state is bounded
    * (dropDuplicatesWithinWatermark evicts hashes older than the
    * watermark — the 100-TB-stream posture: dedup state scales with the
    * dedup horizon, not the stream length); without one it keeps exact
    * all-time state (only for bounded reprocessing jobs). */
  def dedupStream(docs: DataFrame, textCol: String = "text",
                  eventTimeCol: Option[String] = None,
                  watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("content_hash",
      md5(col(textCol).cast("binary")))
    eventTimeCol match {
      case Some(t) => hashed.withWatermark(t, watermark)
        .dropDuplicatesWithinWatermark("content_hash")
      case None => hashed.dropDuplicates("content_hash")
    }
  }

  final case class TaggedPoint(entity_id: String, ts: Long, value: Double,
                               is_ref: Boolean)

  final case class AsOfState(refTs: Long, refValue: Double, hasRef: Boolean)

  final case class EnrichedPoint(entity_id: String, ts: Long, value: Double,
                                 ref_ts: Option[Long],
                                 ref_value: Option[Double])

  /** Streaming point-in-time enrichment — the streaming dual of
    * `operators/AsOf.joinBackward` (which is itself union + running
    * last-non-null): the event stream and the reference stream are
    * tag-unioned, grouped by entity, and a single O(1) state cell
    * carries the latest reference row. Backward-INCLUSIVE: at equal ts
    * the reference applies (refs sort first inside a batch), exactly
    * like the batch operator's `t >= ref_ts`. Zero look-ahead by
    * construction: state only ever contains past rows at emit time.
    *
    * Late cross-batch data is handled conservatively so the zero-
    * look-ahead invariant HOLDS even without a watermark: an event
    * older than the carried reference emits a NULL reference (the O(1)
    * state no longer knows the correct older ref — never a future
    * one), and a reference older than the state never regresses it.
    * The batch operator remains parity-authoritative. */
  def streamingAsOf(left: Dataset[SeqPoint], right: Dataset[SeqPoint])
                   (implicit spark: SparkSession): Dataset[EnrichedPoint] = {
    import spark.implicits._
    val tagged =
      left.map(p => TaggedPoint(p.entity_id, p.ts, p.value, is_ref = false))
        .union(
          right.map(p => TaggedPoint(p.entity_id, p.ts, p.value,
            is_ref = true)))
    tagged.groupByKey(_.entity_id)
      .flatMapGroupsWithState[AsOfState, EnrichedPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (entity, rows, state: GroupState[AsOfState]) =>
          // batch-local event-time order; refs first at equal ts
          val sorted = rows.toSeq.sortBy(p => (p.ts, !p.is_ref))
          var st = state.getOption.getOrElse(AsOfState(0L, 0.0, hasRef = false))
          val out = Seq.newBuilder[EnrichedPoint]
          sorted.foreach { p =>
            if (p.is_ref) {
              // late refs never regress the state to an older one
              if (!st.hasRef || p.ts >= st.refTs)
                st = AsOfState(p.ts, p.value, hasRef = true)
            } else {
              // a late event older than the state gets NO reference:
              // the correct (older) ref is gone, and a future one
              // would violate the backward invariant
              val usable = st.hasRef && st.refTs <= p.ts
              out += EnrichedPoint(entity, p.ts, p.value,
                if (usable) Some(st.refTs) else None,
                if (usable) Some(st.refValue) else None)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Per-open-window partial aggregates: mergeable, O(overlap) per
    * entity (wsize/wstep open windows at a time — a query constant). */
  final case class GridPart(n: Long, sum: Double, sumsq: Double,
                            vmin: Double, vmax: Double)

  final case class GridState(first: Long, kNext: Long,
                             parts: Map[Long, GridPart])

  final case class GridWindow(entity_id: String, window_start: Long,
                              n_points: Long, f_mean: Option[Double],
                              f_std: Option[Double], f_min: Option[Double],
                              f_max: Option[Double])

  /** FIRST-TS-anchored grid windows as a stream — the true streaming
    * dual of [[graft.operators.Windows.anchoredWindows]] (windows.py:175
    * anchor semantics; Spark's `window(ts, size, slide)` anchors at the
    * epoch instead): state per entity = (anchor = first
    * ts seen, one mergeable partial per OPEN window). A window
    * [start, start+wsize) is emitted the moment a point proves it past
    * (ts >= start+wsize) — zero look-ahead: the emitted features only
    * ever saw rows inside the window. Windows close in k order, so
    * emission is in-order per entity; empty grid slots emit n = 0 rows
    * and windows with n < minWindowLen emit NULL features, both exactly
    * as the batch grid. Windows still open at stream end (those the
    * batch grid would build from ts beyond what the stream has seen)
    * are withheld — parity: streaming output == batch output restricted
    * to window_start + wsize <= max(ts) per entity (StreamingSpec).
    * Late points older than an already-closed window are DROPPED
    * (watermark policy), never emitted twice. */
  def anchoredGridStream(points: Dataset[SeqPoint], wsize: Long,
                         wstep: Long, minWindowLen: Long)
                        (implicit spark: SparkSession)
  : Dataset[GridWindow] = {
    import spark.implicits._
    require(wsize > 0 && wstep > 0)
    points.groupByKey(_.entity_id)
      .flatMapGroupsWithState[GridState, GridWindow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (entity, rows, state: GroupState[GridState]) =>
          val sorted = rows.toSeq.sortBy(_.ts)
          var st = state.getOption
            .getOrElse(GridState(sorted.head.ts, 0L, Map.empty))
          val out = Seq.newBuilder[GridWindow]
          def emit(k: Long): Unit = {
            val p = st.parts.getOrElse(k, GridPart(0L, 0.0, 0.0,
              Double.NaN, Double.NaN))
            val full = p.n >= minWindowLen && p.n > 0
            val mean = p.sum / p.n
            out += GridWindow(entity, st.first + k * wstep, p.n,
              if (full) Some(mean) else None,
              if (full) Some(math.sqrt(p.sumsq / p.n - mean * mean))
              else None,
              if (full) Some(p.vmin) else None,
              if (full) Some(p.vmax) else None)
            st = st.copy(kNext = k + 1, parts = st.parts - k)
          }
          sorted.foreach { p =>
            // close every window this point proves past (in k order)
            while (st.first + st.kNext * wstep + wsize <= p.ts) emit(st.kNext)
            val off = p.ts - st.first
            if (off >= 0) {
              val kMax = off / wstep // floor: off >= 0
              val kMin = math.max(st.kNext,
                math.max(0L, Math.floorDiv(off - wsize, wstep) + 1))
              var k = kMin
              while (k <= kMax) {
                val prev = st.parts.getOrElse(k,
                  GridPart(0L, 0.0, 0.0, Double.PositiveInfinity,
                    Double.NegativeInfinity))
                st = st.copy(parts = st.parts.updated(k, GridPart(
                  prev.n + 1, prev.sum + p.value,
                  prev.sumsq + p.value * p.value,
                  math.min(prev.vmin, p.value),
                  math.max(prev.vmax, p.value))))
                k += 1
              }
            } // off < 0: late point before the anchor — dropped
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Per-event feature vectors with bounded per-entity state — the
    * streaming rolling scan: each emitted row sees only rows at
    * ts' <= ts. */
  def rollingVectors(points: Dataset[SeqPoint], capacity: Int)
                    (implicit spark: SparkSession): Dataset[StreamVector] = {
    import spark.implicits._
    points.groupByKey(_.entity_id)
      .flatMapGroupsWithState[RollState, StreamVector](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (entity, rows, state: GroupState[RollState]) =>
          // micro-batch arrival order is not ts-sorted: sort batch-locally
          val sorted = rows.toSeq.sortBy(_.ts)
          var values = state.getOption.map(_.values).getOrElse(Nil)
          val out = sorted.map { p =>
            values = (p.value :: values).take(capacity)
            val n = values.length
            val mean = values.sum / n
            val varp = values.map(v => (v - mean) * (v - mean)).sum / n
            val diffs = values.zip(values.tail).map { case (a, b) => a - b }
            val rmssd =
              if (diffs.isEmpty) Double.NaN
              else math.sqrt(diffs.map(d => d * d).sum / diffs.length)
            StreamVector(entity, p.ts, p.value, n, mean,
              math.sqrt(varp), rmssd)
          }
          state.update(RollState(values))
          out.iterator
      }
  }
}
