package graft.operators

import graft.core.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Banded candidate generation — the one place where the dedup/ANN
  * kernels (MinHash, SimHash, embedding LSH) turn per-row signatures
  * into candidate pairs. Candidates come from an EQUI-join on the band
  * key, never from all pairs, under two levels of blowup control (both
  * replayed verbatim by the DuckDB oracles, so the gate hashes stay
  * exact):
  *
  * 1. EXACT-KEY COLLAPSE. Within-bucket pair generation is quadratic in
  *    occupancy, and the measured quadratic mass at every sf is
  *    identical-fingerprint clusters (162-doc clusters = 66k pairs at
  *    sf0.1; a degenerate corpus of 10⁶ boilerplate-identical docs
  *    would emit ~10¹² pairs). So rows are first grouped by their FULL
  *    signature/fingerprint (`collapse`); the minimum id is the cluster
  *    representative, every other member emits one (rep, member) link —
  *    O(n) per cluster, and the links are sound by construction
  *    (identical fingerprint ⇒ Hamming 0 / cosine 1; identical
  *    signature ⇒ near-certain dup, still exact-verified on the MinHash
  *    path). Banding then runs over DISTINCT keys only, where it stays
  *    pair-level LOSSLESS: connected components of the output equal
  *    those of the uncapped all-pairs graph (every member reaches its
  *    rep at distance 0, reps carry the cross-cluster edges).
  *
  * 2. BACKSTOP RANK-CAP (block purging). An adversarial corpus can still
  *    flood one band bucket with DISTINCT keys (10⁶ docs differing in
  *    one token). Members are ranked by id inside each bucket; ALL pairs
  *    are generated among the first `cap` members, and every overflow
  *    member pairs only with the bucket representative (rank 1) —
  *    C(cap, 2) + (n − cap) pairs for an n-member bucket. The gate cap
  *    (DedupQueries.BucketCap = 1024) sits far above the worst measured
  *    legitimate occupancy (2 for minhash, 312 for 16-bit simhash at
  *    sf0.1), so it NEVER fires at gate scales and is purely the
  *    adversarial bound; when it does fire it deliberately trades recall
  *    (overflow members keep only their rank-1 edge) for a bounded
  *    shuffle. DedupSpec pins the exact bound and drives both regimes.
  *
  * Two tables are cached (compacted): the collapsed input, which the
  * links, the band explode and callers all read, and the ranked buckets,
  * which both sides of the self-join read.
  */
object Banded {

  /** @param links (a_id = rep, b_id = member) for every non-rep member of
    *              an identical-key cluster, plus the member's other input
    *              columns
    * @param pairs capped same-bucket pairs among representatives:
    *              a_id < b_id, plus `<c>_a` / `<c>_b` for each payload
    *              column. A pair sharing several buckets repeats.
    * @param rows  the cached collapsed input (input columns + crk, rep) */
  final case class Candidates(links: DataFrame, pairs: DataFrame,
                              rows: DataFrame)

  /** @param id       unique row id; ranks and representatives order by it
    * @param collapse the full signature: rows equal on it collapse
    * @param bands    array<struct> per row; all struct fields together
    *                 form the bucket key
    * @param payload  per-representative columns carried onto both pair
    *                 sides (computed before the band explode)
    * @param cap      bucket rank cap */
  def candidates(df: DataFrame, id: String, collapse: Seq[Column],
                 bands: Column, payload: Seq[Column], cap: Int): Candidates = {
    val cw = Window.partitionBy(collapse: _*).orderBy(col(id))
    val repw = Window.partitionBy(collapse: _*)
    val rows = Caches.cachedCompact(df
      .withColumn("crk", row_number().over(cw))
      .withColumn("rep", min(col(id)).over(repw)))
    val links = rows.where(col("crk") > 1)
      .select(col("rep").as("a_id") +: col(id).as("b_id") +:
        df.columns.filter(_ != id).toSeq.map(col): _*)
    val exploded = rows.where(col("crk") === 1)
      .select(col(id) +: payload :+ explode(bands).as("bk"): _*)
    val keys = exploded.schema("bk").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq
    val carried = exploded.columns.toSeq.filterNot(Set(id, "bk"))
    val buckets = exploded.select((col(id) +: carried.map(col)) ++
      keys.map(k => col(s"bk.$k").as(k)): _*)
    val bw = Window.partitionBy(keys.map(col): _*).orderBy(col(id))
    val ranked = Caches.cachedCompact(
      buckets.withColumn("rk", row_number().over(bw)))
    def side(s: String): DataFrame = ranked.select(
      (col(id).as(s"${s}_id") +: carried.map(c => col(c).as(s"${c}_$s"))) ++
        keys.map(col) :+ col("rk").as(s"rk_$s"): _*)
    val (rkA, rkB) = (col("rk_a"), col("rk_b"))
    val pairs = side("a").join(side("b"), keys)
      .where(rkA < rkB && (rkB <= cap || rkA === 1))
      .select(col("a_id") +: col("b_id") +:
        carried.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
    Candidates(links, pairs, rows)
  }
}
