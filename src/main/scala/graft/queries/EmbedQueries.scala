package graft.queries

import graft.Harness.Gate
import graft.core.{Caches, Tables}
import graft.functions.Vectors.{dot, l2DistSq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: array<float>, label).
  *
  * Brute-force cosine top-k is the verified baseline (a broadcast
  * nested-loop join — the 20-query side is broadcast, the big side
  * streams, so the plan scales to arbitrarily many target vectors).
  * The LSH-bucketed variants (q_ann_lsh_topk, q_embed_neardup_lsh in
  * DedupQueries) are the 100-TB path: random-hyperplane signatures
  * bucket the join. The steps these queries share are defined once,
  * here: the quantizer trainer [[lloyd]], the cosine scorer [[normed]] +
  * [[cosSim]] and the top-3 rank [[top3]] (the last two also serve the
  * DedupQueries embedding queries).
  *
  * float×float products are exact in double, so the only cross-engine
  * nondeterminism is the 64-term sum order — rounded away at 6dp
  * (cosines are not decimal-lattice values). Ranking uses the ROUNDED
  * similarity + vec_id tiebreak so both engines rank identically.
  */
object EmbedQueries {

  /** Each vector with its norm, computed once per vector: `vec_id` and
    * `embedding` become `${p}_id` and `e$p`, the norm is `n$p`, and any
    * other column passes through. The sqrt(dot(x, x)) tree is the one
    * the oracles replay, so the floats match. */
  private[queries] def normed(emb: DataFrame, p: String): DataFrame =
    emb.withColumnRenamed("vec_id", s"${p}_id")
      .withColumnRenamed("embedding", s"e$p")
      .withColumn(s"n$p", sqrt(dot(col(s"e$p"), col(s"e$p"))))

  /** Cosine of a [[normed]] `a` side and `b` side, rounded to 6dp. */
  private[queries] val cosSim: Column =
    round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
      .as("cos_sim")

  /** The 3 best `b_id` per `a_id` under `order`, ties to the smaller
    * b_id, with `rank` 1..3: the one rank of every top-3 query. */
  private[queries] def top3(scored: DataFrame, order: Column): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("a_id")).orderBy(order, col("b_id")))
        .cast("long"))
      .where(col("rank") <= 3)
      .orderBy(col("a_id"), col("rank"))

  /** Top-3 cosine neighbors for each query vector (vec_id < 20). */
  def qEmbedTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val scored = broadcast(normed(emb.where(col("vec_id") < 20), "a"))
      .join(normed(emb, "b"), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cosSim)
    top3(scored, col("cos_sim").desc)
  }

  /** Per-label embedding statistics: count, mean vector norm, mean first
    * component — the relational side of embedding-space analysis. */
  def qEmbedLabelStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val norm = sqrt(dot(col("embedding"), col("embedding")))
    emb.select(col("label"), norm.as("nrm"),
      element_at(col("embedding"), 1).cast("double").as("c1"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")), 6).as("mean_norm"),
        round(avg(col("c1")), 6).as("mean_c1"))
      .orderBy(col("label"))
  }

  /** Every vector widened to doubles: (vec_id, svec). The whole vector
    * is the IVF quantizer's one subspace. Not cached: its recompute is
    * one small parquet scan. */
  private def doubled(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("svec"))

  /** The PQ split of [[doubled]]: M = 4 disjoint 16-dim subspaces,
    * (vec_id, sub, svec). */
  private def subvectors(ed: DataFrame): DataFrame = {
    val M = 4; val D = 16
    ed.select(col("vec_id"),
      explode(transform(sequence(lit(0), lit(M - 1)), s => struct(
        s.as("sub"), slice(col("svec"), s * D + 1, lit(D)).as("svec"))))
        .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.svec").as("svec"))
  }

  /** The one quantizer trainer: 1.5 Lloyd iterations of a k = 16
    * codebook per `by` group over `vecs(vec_id, by..., svec)`. IVF is
    * `by = Nil` over the whole vector; PQ (Jégou, Douze, Schmid 2011) is
    * `by = Seq("sub")` over [[subvectors]], so adding subspaces changes a
    * constant, not the plan. Init = vec_id 0..15, one centroid update,
    * final assignment. Updated centroids are QUANTIZED (round(avg+1e-9,
    * 6)) so both engines carry bit-identical codebooks into the next
    * assignment — the distances are then identical ordered folds and
    * the argmin (tie → smallest cid) is exact, not tolerance-based.
    * Returns (codebook(by..., cid, cvec), final(vec_id, by..., cid, d2)).
    * The codebook side is k rows per group and always broadcasts. */
  private def lloyd(vecs: DataFrame, by: Seq[String])
  : (DataFrame, DataFrame) = {
    val keys = by.map(col)
    val c0 = vecs.where(col("vec_id") < 16)
      .select(keys ++ Seq(col("vec_id").as("cid"), col("svec").as("cvec")): _*)
    def assign(cents: DataFrame): DataFrame = {
      // argmin (tie → smallest cid) as a struct-min AGGREGATE — partial
      // mins combine map-side, so 1 row per (vector, group) enters the
      // exchange instead of a k-row window sort (guide §2.3). With
      // by = Nil the join has no key: the points×k cross join.
      val scored = vecs.join(broadcast(cents), by)
        .select(col("vec_id") +: keys :+ struct(
          l2DistSq(col("svec"), col("cvec")).as("d2"), col("cid")).as("sc"): _*)
      scored.groupBy(col("vec_id") +: keys: _*).agg(min(col("sc")).as("m"))
        .select(col("vec_id") +: keys :+ col("m.cid").as("cid") :+
          col("m.d2").as("d2"): _*)
    }
    val c1 = assign(c0).join(vecs, "vec_id" +: by)
      .select(keys :+ col("cid") :+
        posexplode(col("svec")).as(Seq("dim0", "v")): _*)
      .groupBy(keys :+ col("cid") :+ col("dim0"): _*)
      .agg(round(avg(col("v")) + 1e-9, 6).as("cv"))
      .groupBy(keys :+ col("cid"): _*)
      .agg(transform(array_sort(collect_list(struct(col("dim0"), col("cv")))),
        s => s.getField("cv")).as("cvec"))
    // feeds the final assignment AND the query-side probe or lookup
    // table; registered so the driver's post-query drain unpersists it
    val c1c = Caches.cachedCompact(c1)
    (c1c, assign(c1c))
  }

  /** IVF cell assignment — the coarse-quantizer layer of the ANN scale
    * path (complementing the LSH tables of q_ann_lsh_topk): one row per
    * vector with its final cell and (rounded) distance to the centroid.
    * Hash-checked end-to-end: the oracle replays both Lloyd passes. */
  def qIvfCells(spark: SparkSession, dir: String): DataFrame = {
    val (_, cells) = lloyd(doubled(spark, dir), Nil)
    cells.select(col("vec_id"), col("cid").as("cell"),
      round(col("d2") + 1e-9, 6).as("d2"))
      .orderBy(col("vec_id"))
  }

  /** IVF candidates (a_id, b_id): each query vector (vec_id < 20)
    * probes its nprobe = 2 nearest cells (tie → smaller cid), and every
    * other vector in them is a candidate — a cell EQUI-join, so the
    * search cost scales with cell occupancy, not corpus size. */
  private def ivfCandidates(ed: DataFrame, c1: DataFrame,
                            cells: DataFrame): DataFrame = {
    val pw = Window.partitionBy(col("a_id")).orderBy(col("d2"), col("cid"))
    ed.where(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("svec").as("qx"))
      .join(broadcast(c1), lit(true))
      .select(col("a_id"), col("cid"),
        l2DistSq(col("qx"), col("cvec")).as("d2"))
      .withColumn("prk", row_number().over(pw))
      .where(col("prk") <= 2)
      .join(cells.select(col("vec_id").as("b_id"), col("cid")), Seq("cid"))
      .where(col("b_id") =!= col("a_id"))
      .select(col("a_id"), col("b_id"))
  }

  /** IVF ANN top-k: [[ivfCandidates]] ranked by exact cosine. Measured
    * recall vs the q_embed_topk brute-force truth at sf0.01: 0.82
    * (nprobe=2 of k=16 cells scans ~1/8 of the corpus per query; raise
    * nprobe/k for the recall/cost point a production corpus needs). */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val ed = doubled(spark, dir)
    val (c1, cells) = lloyd(ed, Nil)
    val emb = Tables.embeddings(spark, dir)
    val scored = ivfCandidates(ed, c1, cells)
      .join(normed(emb, "a"), Seq("a_id")).join(normed(emb, "b"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), cosSim)
    top3(scored, col("cos_sim").desc)
  }

  // ---- product quantization (the compressed-domain ANN tier) ---------

  /** round(d2·10⁶ + 10⁻³) → BIGINT: the micro-unit integer lattice
    * (same recipe as the unigram-LM log-probs) — once each subspace
    * distance is landed on it, every downstream accumulation is an
    * order-independent exact integer sum on both engines. */
  private def latU6(d2: Column): Column =
    round(d2 * lit(1000000.0) + lit(1.0e-3), 0).cast("long")

  /** The ADC lookup table (a_id, sub, code, ld2): each query vector's
    * (vec_id < 20) EXACT distance to all M×k codebook entries (1280
    * rows total — always broadcast), landed on the micro-unit lattice. */
  private def pqLut(es: DataFrame, c1: DataFrame): DataFrame =
    es.where(col("vec_id") < 20)
      .select(col("vec_id").as("a_id"), col("sub"), col("svec").as("qs"))
      .join(broadcast(c1), Seq("sub"))
      .select(col("a_id"), col("sub"), col("cid").as("code"),
        latU6(l2DistSq(col("qs"), col("cvec"))).as("ld2"))

  /** PQ encoding: each vector compresses to 4 subspace codes (4×4 bits
    * here; 4×log2(k) in general) plus its quantization error. This IS
    * the stored representation the compressed-domain scan reads — at
    * corpus scale the codes table is ~1/64th the width of the raw
    * vectors, which is the reason PQ exists. recon_d2_u6 = Σ_sub
    * ‖svec − c_code‖² on the micro-unit lattice (exact BIGINT sum). */
  def qPqCodes(spark: SparkSession, dir: String): DataFrame = {
    val (_, codes) = lloyd(subvectors(doubled(spark, dir)), Seq("sub"))
    codes.groupBy(col("vec_id"))
      .agg(
        max(when(col("sub") === 0, col("cid"))).as("code0"),
        max(when(col("sub") === 1, col("cid"))).as("code1"),
        max(when(col("sub") === 2, col("cid"))).as("code2"),
        max(when(col("sub") === 3, col("cid"))).as("code3"),
        sum(latU6(col("d2"))).as("recon_d2_u6"))
      .orderBy(col("vec_id"))
  }

  /** PQ asymmetric-distance (ADC) top-k: every database vector's
    * approximate distance is the exact-integer sum of 4 [[pqLut]]
    * lookups keyed by its stored codes — the compressed-domain scan
    * never touches a raw vector. This is exhaustive-ADC search (Jégou et
    * al. §IV.A); composing the scan with q_ann_ivf's cell filter gives
    * IVF-PQ, and the candidate side here moves only (vec_id, 4 small
    * ints). Measured recall@3/@10/@50 of the true-L2 NN vs brute force
    * at sf0.001: 0.30/0.45/0.75 (PqSpec) — 16 bits/vector is a 128:1
    * compression; production raises k to 256 and reranks the ADC top-R
    * with exact distances (the q_embed_topk tier). */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val es = subvectors(doubled(spark, dir))
    val (c1, codes) = lloyd(es, Seq("sub"))
    val adc = codes.select(col("vec_id").as("b_id"), col("sub"),
        col("cid").as("code"))
      .join(broadcast(pqLut(es, c1)), Seq("sub", "code"))
      .where(col("b_id") =!= col("a_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("ld2")).as("adc_d2_u6"))
    top3(adc, col("adc_d2_u6"))
  }

  /** IVF-PQ — the production ANN composition (Jégou et al. §V, the
    * Faiss IVFPQ layout): the IVF coarse quantizer prunes the corpus to
    * nprobe = 2 cells per query, and ONLY those candidates are ranked,
    * in the compressed domain, by the PQ ADC lattice sum. At corpus
    * scale this is the whole point of the pairing — the scan touches
    * ~nprobe/k of the codes table (cell-bucketed equi-join) and reads 4
    * small ints per candidate instead of 64 floats. Both codebooks come
    * from [[lloyd]] over one [[doubled]] table, so the full composition
    * stays hash-exact under the DuckDB replay (ivf chain + pq_ chain in
    * one statement). */
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val ed = doubled(spark, dir)
    val (c1Ivf, cells) = lloyd(ed, Nil)
    val es = subvectors(ed)
    val (c1Pq, codes) = lloyd(es, Seq("sub"))
    val adc = ivfCandidates(ed, c1Ivf, cells)
      .join(codes.select(col("vec_id").as("b_id"), col("sub"),
        col("cid").as("code")), Seq("b_id"))
      .join(broadcast(pqLut(es, c1Pq)), Seq("a_id", "sub", "code"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("ld2")).as("adc_d2_u6"))
    top3(adc, col("adc_d2_u6"))
  }

  /** Σ (x_i − c_i)² as the same left-to-right fold as the native
    * l2DistSq, so the argmin (tie → cid) is bit-exact. */
  private def l2Sql(x: String, c: String): String =
    SqlGen.lsum(s"list_transform(list_zip($x, $c), " +
      "p -> (p[1] - p[2]) * (p[1] - p[2]))")

  /** Shared WITH-chain replaying the IVF build: double-cast vectors,
    * exact-argmin assignment to the vec_id<16 init centroids, quantized
    * centroid update, final assignment `a2(vec_id, cell, d2)`. Only the
    * averaged centroids need the shared quantization. */
  private val ivfChain: String =
    s"""WITH ed AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS xd
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, xd AS cvec FROM ed WHERE vec_id < 16),
      |s1 AS (
      |  SELECT e.vec_id, c.cid,
      |    ${l2Sql("e.xd", "c.cvec")} AS d2
      |  FROM ed e CROSS JOIN c0 c),
      |a1 AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      |    FROM s1) WHERE rk = 1),
      |m1 AS (
      |  SELECT a1.cell, d.i AS dim, round(avg(e.xd[d.i]) + 1e-9, 6) AS cv
      |  FROM a1 JOIN ed e USING (vec_id)
      |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) d
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cell AS cid, list(cv ORDER BY dim) AS cvec
      |  FROM m1 GROUP BY 1),
      |s2 AS (
      |  SELECT e.vec_id, c.cid,
      |    ${l2Sql("e.xd", "c.cvec")} AS d2
      |  FROM ed e CROSS JOIN c1 c),
      |a2 AS (
      |  SELECT vec_id, cid AS cell, d2 FROM (
      |    SELECT vec_id, cid, d2,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
      |    FROM s2) WHERE rk = 1)""".stripMargin

  /** The IVF probe after [[ivfChain]]: each query's nprobe = 2 nearest
    * cells, ending in `cand(a_id, b_id)`. */
  private val ivfCand: String =
    s"""qv AS (SELECT vec_id AS a_id, xd FROM ed WHERE vec_id < 20),
      |ps AS (
      |  SELECT q.a_id, c.cid,
      |    ${l2Sql("q.xd", "c.cvec")} AS d2
      |  FROM qv q CROSS JOIN c1 c),
      |probes AS (
      |  SELECT a_id, cid FROM (
      |    SELECT a_id, cid,
      |      row_number() OVER (PARTITION BY a_id ORDER BY d2, cid) AS prk
      |    FROM ps) WHERE prk <= 2),
      |cand AS (
      |  SELECT p.a_id, f.vec_id AS b_id
      |  FROM probes p JOIN a2 f ON f.cell = p.cid
      |  WHERE f.vec_id <> p.a_id)""".stripMargin

  /** The ADC lookup table `lut(a_id, sub, code, ld2)` over the PQ chain
    * whose CTE names carry prefix `p`. */
  private def pqLutCte(p: String): String =
    s"""lut AS (
      |  SELECT e.vec_id AS a_id, e.sub, c.cid AS code,
      |    round(${l2Sql("e.svec", "c.cvec")} * 1000000 + 0.001, 0)::BIGINT AS ld2
      |  FROM ${p}es e JOIN ${p}c1 c ON c.sub = e.sub
      |  WHERE e.vec_id < 20)""".stripMargin

  val gate: Map[String, Gate] = Map(
    "q_ivf_cells" -> Gate(qIvfCells, ivfChain + """
      |SELECT vec_id, cell, round(d2 + 1e-9, 6) AS d2
      |FROM a2 ORDER BY vec_id""".stripMargin),
    "q_ann_ivf" -> Gate(qAnnIvf, ivfChain + ",\n" + ivfCand + """,
      |sc AS (
      |  SELECT c.a_id, c.b_id,
      |    round(
      |      list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
      |        p -> p[1]::DOUBLE * p[2]::DOUBLE))
      |      / (sqrt(list_sum(list_transform(ea.embedding,
      |          x -> x::DOUBLE * x::DOUBLE)))
      |        * sqrt(list_sum(list_transform(eb.embedding,
      |          x -> x::DOUBLE * x::DOUBLE)))),
      |      6) AS cos_sim
      |  FROM cand c
      |  JOIN embeddings ea ON ea.vec_id = c.a_id
      |  JOIN embeddings eb ON eb.vec_id = c.b_id),
      |rk AS (
      |  SELECT a_id, b_id, cos_sim,
      |    row_number() OVER (PARTITION BY a_id
      |      ORDER BY cos_sim DESC, b_id) AS rank
      |  FROM sc)
      |SELECT a_id, b_id, cos_sim, rank FROM rk WHERE rank <= 3
      |ORDER BY a_id, rank""".stripMargin),
    "q_embed_topk" -> Gate(qEmbedTopk,
      """WITH q AS (
        |  SELECT vec_id AS a_id, embedding AS ea FROM embeddings
        |  WHERE vec_id < 20),
        |t AS (SELECT vec_id AS b_id, embedding AS eb FROM embeddings),
        |s AS (
        |  SELECT a_id, b_id,
        |    round(
        |      list_sum(list_transform(list_zip(ea, eb),
        |        p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
        |        * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE)))),
        |      6) AS cos_sim
        |  FROM q, t WHERE a_id <> b_id),
        |r AS (
        |  SELECT a_id, b_id, cos_sim,
        |    row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos_sim DESC, b_id) AS rank
        |  FROM s)
        |SELECT a_id, b_id, cos_sim, rank FROM r WHERE rank <= 3
        |ORDER BY a_id, rank""".stripMargin),
    "q_embed_label_stats" -> Gate(qEmbedLabelStats,
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_sum(list_transform(embedding,
        |    x -> x::DOUBLE * x::DOUBLE)))), 6) AS mean_norm,
        |  round(avg(embedding[1]::DOUBLE), 6) AS mean_c1
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),
    "q_pq_codes" -> Gate(qPqCodes, pqChain + """
      |SELECT vec_id,
      |  max(CASE WHEN sub = 0 THEN code END) AS code0,
      |  max(CASE WHEN sub = 1 THEN code END) AS code1,
      |  max(CASE WHEN sub = 2 THEN code END) AS code2,
      |  max(CASE WHEN sub = 3 THEN code END) AS code3,
      |  sum(round(d2 * 1000000 + 0.001, 0)::BIGINT)::BIGINT AS recon_d2_u6
      |FROM a2 GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    "q_ann_pq" -> Gate(qAnnPq, pqChain + ",\n" + pqLutCte("") + """,
      |adc AS (
      |  SELECT l.a_id, f.vec_id AS b_id,
      |    sum(l.ld2)::BIGINT AS adc_d2_u6
      |  FROM a2 f JOIN lut l ON l.sub = f.sub AND l.code = f.code
      |  WHERE f.vec_id <> l.a_id
      |  GROUP BY 1, 2),
      |rkd AS (
      |  SELECT a_id, b_id, adc_d2_u6,
      |    row_number() OVER (PARTITION BY a_id
      |      ORDER BY adc_d2_u6, b_id) AS rank
      |  FROM adc)
      |SELECT a_id, b_id, adc_d2_u6, rank FROM rkd WHERE rank <= 3
      |ORDER BY a_id, rank""".stripMargin),
    "q_ann_ivfpq" -> Gate(qAnnIvfPq,
      ivfChain + ",\n" + pqCtes("pq_") + ",\n" + ivfCand +
      ",\n" + pqLutCte("pq_") + """,
      |adc AS (
      |  SELECT cd.a_id, cd.b_id, sum(l.ld2)::BIGINT AS adc_d2_u6
      |  FROM cand cd
      |  JOIN pq_a2 f ON f.vec_id = cd.b_id
      |  JOIN lut l ON l.a_id = cd.a_id AND l.sub = f.sub
      |    AND l.code = f.code
      |  GROUP BY 1, 2),
      |rkd AS (
      |  SELECT a_id, b_id, adc_d2_u6,
      |    row_number() OVER (PARTITION BY a_id
      |      ORDER BY adc_d2_u6, b_id) AS rank
      |  FROM adc)
      |SELECT a_id, b_id, adc_d2_u6, rank FROM rkd WHERE rank <= 3
      |ORDER BY a_id, rank""".stripMargin)
  )

  /** The PQ-training CTE list (everything after `ed`), with every CTE
    * name carrying `p` as prefix so the chain can coexist with
    * [[ivfChain]]'s CTEs in one statement (q_ann_ivfpq): subspace
    * explode, exact-argmin init assignment, quantized centroid update,
    * final assignment `${p}a2(vec_id, sub, code, d2)`. Same
    * fold/quantize discipline as [[ivfChain]], keyed by `sub`. */
  private def pqCtes(p: String): String =
    s"""${p}es AS (
      |  SELECT vec_id, s.sub AS sub,
      |    xd[s.sub*16+1 : s.sub*16+16] AS svec
      |  FROM ed, (SELECT unnest(generate_series(0, 3)) AS sub) s),
      |${p}c0 AS (SELECT sub, vec_id AS cid, svec AS cvec
      |  FROM ${p}es WHERE vec_id < 16),
      |${p}s1 AS (
      |  SELECT e.vec_id, e.sub, c.cid,
      |    ${l2Sql("e.svec", "c.cvec")} AS d2
      |  FROM ${p}es e JOIN ${p}c0 c ON c.sub = e.sub),
      |${p}a1 AS (
      |  SELECT vec_id, sub, cid AS code FROM (
      |    SELECT vec_id, sub, cid,
      |      row_number() OVER (PARTITION BY vec_id, sub
      |        ORDER BY d2, cid) AS rk
      |    FROM ${p}s1) WHERE rk = 1),
      |${p}m1 AS (
      |  SELECT a1.sub, a1.code AS cell, d.i AS dim,
      |    round(avg(e.svec[d.i]) + 1e-9, 6) AS cv
      |  FROM ${p}a1 a1 JOIN ${p}es e
      |    ON e.vec_id = a1.vec_id AND e.sub = a1.sub
      |  CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) d
      |  GROUP BY 1, 2, 3),
      |${p}c1 AS (SELECT sub, cell AS cid, list(cv ORDER BY dim) AS cvec
      |  FROM ${p}m1 GROUP BY 1, 2),
      |${p}s2 AS (
      |  SELECT e.vec_id, e.sub, c.cid,
      |    ${l2Sql("e.svec", "c.cvec")} AS d2
      |  FROM ${p}es e JOIN ${p}c1 c ON c.sub = e.sub),
      |${p}a2 AS (
      |  SELECT vec_id, sub, cid AS code, d2 FROM (
      |    SELECT vec_id, sub, cid, d2,
      |      row_number() OVER (PARTITION BY vec_id, sub
      |        ORDER BY d2, cid) AS rk
      |    FROM ${p}s2) WHERE rk = 1)""".stripMargin

  /** Standalone PQ replay: `ed` + the unprefixed CTE list. (lazy:
    * referenced by `gate` above; object-init order would otherwise
    * read it before assignment) */
  private lazy val pqChain: String =
    """WITH ed AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS xd
      |  FROM embeddings),
      |""".stripMargin + pqCtes("")
}
