package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Physical-plan SHAPE regression tests — the scale posture, pinned.
  *
  * A correctness-green query can still silently regress into a plan
  * that would not survive 100× data (a cartesian product, a lost
  * pushdown, an extra shuffle). These tests assert the plan properties
  * the SURVEY §7 design argues from, over the driver's own sf0.001
  * parquet, so a future refactor that breaks them fails here instead of
  * in a bench regression three rounds later.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Exchange nodes in a plan tree (ReusedExchange not counted). */
  private def exchanges(tree: String): Int =
    " Exchange \\(\\d+\\)".r.findAllIn(tree).length

  // The only queries allowed a BroadcastNestedLoopJoin: each scores a
  // CONSTANT-size broadcast side against the big side (all-pairs geo
  // anchors, the 20-row top-k query set, the k=16 IVF centroids — also
  // the probe stage of IVF-PQ, the 1-row corpus-total scalar under the
  // unigram LM, the 1-row winning-pair broadcast of each BPE merge
  // round) — points×k shapes where k is a query constant, not data.
  private val bnljAllowed = Set("q_geo_pairs", "q_embed_topk",
    "q_embed_neardup", "q_ivf_cells", "q_ann_ivf", "q_unigram_logprob",
    "q_ann_ivfpq", "q_bpe_merges")

  test("no query plans a CartesianProduct, and nested-loop joins only " +
    "appear where a constant-size side justifies them") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = planOf(fn(spark, sf))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!bnljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name grew an unexpected nested-loop join")
    }
  }

  test("filter + projection reach the parquet scan (pushdown + pruning)") {
    val plan = planOf(graft.core.Tables.t(spark, sf, "lineitem")
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity")))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,45"), s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:") &&
      !plan.contains("l_comment"),
      s"projection not pruned to 2 columns:\n$plan")
  }

  test("flagship pipeline: native as-of join, bounded exchange count, " +
    "no sort-merge join") {
    val df = graft.queries.PipelineQueries.qFeaturePipeline(spark, sf)
    df.collect() // only the final AQE plan shows which exchange is reused
    val plan = planOf(df)
    val finalTree = plan.substring(plan.indexOf("== Final Plan =="),
      plan.indexOf("== Initial Plan =="))
    assert(plan.contains("AsOfJoin"),
      "native as-of operator missing from the flagship plan")
    assert(!plan.contains("SortMergeJoin"),
      "flagship should not need a sort-merge join")
    assert(!plan.contains("BroadcastExchange"),
      s"flagship broadcasts a table:\n$plan")
    assert(!plan.contains("InMemoryRelation"),
      s"flagship caches a table:\n$plan")
    assert(finalTree.contains("ReusedExchange"),
      s"the stage-1 layout is not shared by its two consumers:\n$plan")
    // the stage-1 layout and the final orderBy; the rollup and the as-of
    // merge read the layout exchange-free. A THIRD exchange means a
    // partitioning-preserving rewrite broke.
    val n = exchanges(finalTree)
    assert(n <= 2, s"flagship plan grew to $n exchanges (was 2):\n$plan")
  }

  test("embedding top-k: the 20-row query side is broadcast, scan " +
    "filter pushed down") {
    val plan = planOf(graft.queries.EmbedQueries.qEmbedTopk(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      "query side not broadcast")
    assert(plan.contains("LessThan(vec_id,20)"),
      "vec_id < 20 not pushed to the scan")
    assert(!plan.contains("SortMergeJoin"),
      "tiny-side join should not shuffle both sides")
  }

  test("IVF: centroid scoring broadcasts the k-side; candidate " +
    "generation is a cell equi-join") {
    val plan = planOf(graft.queries.EmbedQueries.qAnnIvf(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      "centroid side not broadcast")
    assert(!plan.contains("CartesianProduct"),
      "IVF degraded to a cartesian product")
    // the native expression must be in the plan (not the HOF fallback)
    assert(plan.contains("l2distsqexpr") ||
      plan.contains("L2DistSq") || plan.contains("l2DistSq"),
      "native L2 expression missing — HOF fallback in the hot scan")
  }

  test("MinHash/SimHash candidate generation stays on equi-joins " +
    "(banded keys), never a nested-loop scan") {
    Seq("q_minhash_lsh" -> graft.queries.DedupQueries.qMinhashLsh _,
      "q_simhash" -> graft.queries.DedupQueries.qSimhash _,
      "q_simhash64" -> graft.queries.DedupQueries.qSimhash64 _)
      .foreach { case (name, fn) =>
        val plan = planOf(fn(spark, sf))
        assert(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"),
          s"$name candidate join degraded to a product scan:\n" +
            plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
        // the backstop occupancy cap must survive into the physical
        // join condition (rk <= 1024 OR rk = 1 rank rule)
        assert(plan.contains("1024"),
          s"$name lost the bucket-occupancy cap from its join condition")
      }
  }

  test("per-entity scans ship the entity key once: no AppendColumns, " +
    "and the exchange hashes the entity column") {
    val pts = graft.core.Tables.events(spark, sf).select(
      col("user_id").cast("string").as("entity_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts"), col("value"))
    val df = graft.signal.PerEntity.transform(spark, pts, "entity_id", "ts",
      "value")((ts, vs) => ts.iterator.zip(vs.iterator))
    val plan = planOf(df)
    assert(!plan.contains("AppendColumns"),
      s"the entity key is shipped twice:\n$plan")
    assert("hashpartitioning\\(entity_id#\\d+".r.findFirstIn(plan).isDefined,
      s"the exchange is not keyed on the entity column:\n$plan")
  }

  test("stablePlan prints identical text for two builds of one query") {
    // each query's raw plan carries one of the masked identities: a JVM
    // lambda name (q_filtfilt), lambda variables (q_chunk_dedup), an
    // object identity hash (q_distinct_kmv), RDD ids (q_bpe_tokenize)
    val other = SparkEntry.queries("q_source_overlap")
    Seq("q_filtfilt", "q_chunk_dedup", "q_distinct_kmv", "q_bpe_tokenize")
      .foreach { name =>
        val q = SparkEntry.queries(name)
        val a = q(spark, sf)
        other(spark, sf) // a build between moves every JVM counter
        val b = q(spark, sf)
        assert(planOf(a) != planOf(b), s"$name: the raw plans already agree")
        val (sa, sb) = (Harness.stablePlan(a), Harness.stablePlan(b))
        assert(sa == sb, s"$name: first differing line " +
          sa.linesIterator.zip(sb.linesIterator).find(p => p._1 != p._2))
      }
  }
}
