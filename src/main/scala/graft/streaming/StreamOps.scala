package graft.streaming

import graft.core.SeqPoint
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.9): the streaming dual of
  * the batch backward as-of join, run by q_asof_stream. A per-entity
  * flatMapGroupsWithState carries the latest reference row, so each
  * event is enriched with ZERO look-ahead: state at emit time only
  * ever contains past rows, so temporal leakage is impossible by
  * construction. (q_dedup_stream is a plain streaming groupBy and
  * needs no operator here.)
  */
object StreamOps {

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
}
