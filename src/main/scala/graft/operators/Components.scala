package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation TO FIXPOINT (round
  * cap as safety bound) — the cluster-assembly step of every dedup
  * path (MinHash / SimHash / embedding near-dup all emit pair links; a
  * dedup pass keeps one representative per COMPONENT of that graph).
  *
  * Design for scale:
  *  - The propagation runs over the EDGE-ENDPOINT node set only, which
  *    for a dedup graph is the candidate docs — orders of magnitude
  *    smaller than the corpus. Singletons never enter a shuffle; the
  *    caller left-joins labels back (see q_dup_components).
  *  - Each round is ONE equi-join on the edge key feeding ONE min-agg
  *    over (old labels ∪ propagated labels) — partial mins combine
  *    map-side, labels are (long, long) rows, so a round moves 16·|V|
  *    bytes. (Through round 5 each round was join + agg + a second
  *    merge join; folding the merge into the same min-agg removes one
  *    join/exchange per round.) No driver-side collect.
  *  - CONVERGENCE-SAFE: labels are monotonically non-increasing, so
  *    the loop stops the first round the label-sum is unchanged — the
  *    exact fixpoint — rather than running a fixed round count. The
  *    probe is one tiny sum over the just-checkpointed labels (exact
  *    decimal — no overflow, no precision loss). `rounds` remains the
  *    hard cap: a component whose min-id eccentricity exceeds the cap
  *    stops short exactly as before (DedupSpec pins that bound), so
  *    callers size the cap to the worst admissible diameter and the
  *    early exit only ever REMOVES dead rounds after the fixpoint.
  * An O(log n)-round alternating-star scheme (Kiveris et al. 2014,
  * "Connected Components in MapReduce and Beyond") drops in behind the
  * same signature if a corpus ever exhibits chains deeper than any
  * affordable cap.
  */
object Components {

  /** Labels every node of `pairs` (columns a_id, b_id) with the minimum
    * node id reachable along undirected edges (propagated to fixpoint,
    * at most `rounds` hops). Returns (id, component).
    *
    * Each round's result is `localCheckpoint`ed: an iterative
    * DataFrame loop otherwise DOUBLES its logical plan per round
    * (labels feeds both the propagation and the merge), and Catalyst
    * analysis goes exponential long before the data does. Truncating
    * lineage to a LogicalRDD keeps planning O(1) per round — the same
    * discipline GraphFrames applies to its iterative algorithms. The
    * checkpointed blocks are executor-local (MEMORY_AND_DISK), freed
    * when the returned frame is garbage-collected. */
  def minLabel(pairs: DataFrame, rounds: Int = 8): DataFrame = {
    // LAZY checkpoints throughout the loop: the fixpoint probe (one
    // tiny decimal sum per round) is the materializing action, so each
    // round costs ONE job — an eager checkpoint would spend a second
    // job per round just to truncate lineage.
    val edges = pairs.select(col("a_id").as("s"), col("b_id").as("d"))
      .union(pairs.select(col("b_id").as("s"), col("a_id").as("d")))
      .localCheckpoint(false) // consumed every round — compute once
    val nodes = edges.select(col("s").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("component"))
      .localCheckpoint(false)
    // fixpoint probe: labels only ever decrease, so an unchanged exact
    // label sum ⇔ no label changed ⇔ converged. Decimal(38,0) keeps the
    // sum exact at any node count / id magnitude.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("component").cast("decimal(38,0)"))).head
      if (v.isNullAt(0)) java.math.BigDecimal.ZERO else v.getDecimal(0)
    }
    var prev = labelSum(labels)
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val prop = labels.join(edges, col("id") === col("s"))
        .select(col("d").as("id"), col("component"))
      labels = labels.union(prop)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .localCheckpoint(false)
      val cur = labelSum(labels)
      converged = cur.compareTo(prev) == 0
      prev = cur
      round += 1
    }
    labels
  }
}
