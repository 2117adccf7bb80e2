package graft

import graft.queries.EmbedQueries

/** Quantizer ANN tier (q_ivf_cells, q_pq_codes, q_ann_pq): brute-force
  * replay of the codebook training and the ADC arithmetic in plain
  * Scala, plus a measured recall floor vs the exact-L2 truth. IVF is the
  * same training with one 64-dim subspace.
  */
class PqSpec extends SparkSpec {

  private val M = 4
  private val D = 16
  private val sf = "/root/testdata/sf0.001"

  /** Left-to-right 0.0-seeded fold — the exact double tree both the
    * native l2DistSq expression and the DuckDB list_reduce replay. */
  private def d2(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double =
    a.indices.foldLeft(0.0)((s, i) => s + (a(i) - b(i)) * (a(i) - b(i)))

  /** Spark's round(x, 6): HALF_UP over the shortest decimal repr. */
  private def q6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def latU6(x: Double): Long =
    BigDecimal(x * 1000000.0 + 1.0e-3)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** (vec_id → vector as doubles), sorted by vec_id. */
  private lazy val raw: IndexedSeq[(Long, IndexedSeq[Double])] =
    graft.core.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      .sortBy(_._1).toIndexedSeq

  /** (vec_id → its m subvectors of d dims). */
  private def split(m: Int, d: Int)
  : IndexedSeq[(Long, IndexedSeq[IndexedSeq[Double]])] =
    raw.map { case (id, xs) =>
      id -> (0 until m).map(s => xs.slice(s * d, s * d + d))
    }

  private lazy val vecs = split(M, D)

  /** Brute-force training over m subspaces of d dims: init = vec_id
    * 0..15 subvectors, one quantized centroid update, final assignment.
    * Returns per sub the codebook (cid → centroid) and each vec's final
    * (code, d2). */
  private def trained(m: Int, d: Int)
  : (IndexedSeq[Map[Long, IndexedSeq[Double]]],
     Map[Long, IndexedSeq[(Long, Double)]]) = {
    val vecs = split(m, d)
    val init: IndexedSeq[Map[Long, IndexedSeq[Double]]] =
      (0 until m).map(s => vecs.filter(_._1 < 16)
        .map { case (id, sv) => id -> sv(s) }.toMap)
    def assign(books: IndexedSeq[Map[Long, IndexedSeq[Double]]])
    : Map[Long, IndexedSeq[(Long, Double)]] =
      vecs.map { case (id, sv) =>
        id -> (0 until m).map { s =>
          books(s).toSeq.map { case (cid, cv) => (cid, d2(sv(s), cv)) }
            .minBy { case (cid, dd) => (dd, cid) }
        }.toIndexedSeq
      }.toMap
    val a1 = assign(init)
    val upd: IndexedSeq[Map[Long, IndexedSeq[Double]]] =
      (0 until m).map { s =>
        vecs.groupBy { case (id, _) => a1(id)(s)._1 }
          .map { case (cell, members) =>
            val svs = members.map(_._2(s))
            cell -> (0 until d).map(i =>
              q6(svs.map(_(i)).sum / svs.length + 1e-9)).toIndexedSeq
          }
      }
    (upd, assign(upd))
  }

  private lazy val pq = trained(M, D)

  test("ivf cells and distances replay the brute-force training " +
    "with one 64-dim subspace") {
    val (_, fin) = trained(1, 64)
    val rows = EmbedQueries.qIvfCells(spark, sf).collect()
    assert(rows.length == raw.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (cell, dd) = fin(id)(0)
      assert(r.getLong(1) == cell, s"vec $id cell")
      assert(r.getDouble(2) == q6(dd + 1e-9), s"vec $id d2")
    }
    assert(rows.map(_.getLong(1)).distinct.length > 1)
  }

  test("pq codes and reconstruction error replay the brute-force training") {
    val (_, fin) = pq
    val rows = EmbedQueries.qPqCodes(spark, sf).collect()
    assert(rows.length == vecs.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      val exp = fin(id)
      (0 until M).foreach { s =>
        assert(r.getLong(1 + s) == exp(s)._1, s"vec $id sub $s code")
      }
      val expRecon = exp.map(e => latU6(e._2)).sum
      assert(r.getLong(5) == expRecon, s"vec $id recon_d2_u6")
    }
    // the codebook must actually be used: codes span more than one id
    assert(rows.map(_.getLong(1)).distinct.length > 1)
  }

  test("ADC distances are the exact integer sum of 4 lattice lookups") {
    val (books, fin) = pq
    val rows = EmbedQueries.qAnnPq(spark, sf).collect()
    val queries = vecs.filter(_._1 < 20).toMap
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val exp = (0 until M).map { s =>
        latU6(d2(queries(a)(s), books(s)(fin(b)(s)._1)))
      }.sum
      assert(r.getLong(2) == exp, s"pair ($a,$b) adc_d2_u6")
    }
    // per-query exactly 3 ranked rows, ranks 1..3, self excluded
    rows.groupBy(_.getLong(0)).foreach { case (a, g) =>
      assert(g.map(_.getLong(3)).sorted.sameElements(Seq(1L, 2L, 3L)))
      assert(!g.exists(_.getLong(1) == a))
    }
  }

  test("IVF-PQ distances agree with the standalone ADC arithmetic") {
    val (books, fin) = pq
    val queries = vecs.filter(_._1 < 20).toMap
    val rows = EmbedQueries.qAnnIvfPq(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val exp = (0 until M).map { s =>
        latU6(d2(queries(a)(s), books(s)(fin(b)(s)._1)))
      }.sum
      assert(r.getLong(2) == exp, s"pair ($a,$b) adc_d2_u6")
    }
    // ranked shape: ranks are 1..n (n <= 3; a probed cell pair may
    // hold fewer than 3 candidates), self excluded
    rows.groupBy(_.getLong(0)).foreach { case (a, g) =>
      val rks = g.map(_.getLong(3)).sorted
      assert(rks.sameElements(1L to rks.length))
      assert(rks.length <= 3)
      assert(!g.exists(_.getLong(1) == a))
    }
  }

  test("ADC recall@R vs exact-L2 truth clears the coarse-codebook floor") {
    // recall@R (Jégou et al. §V): fraction of queries whose TRUE
    // nearest neighbor appears in the ADC top-R. The 4×16 codebook is
    // 16 bits/vector — a 128:1 compression of 64 float dims — so
    // top-R containment, not top-3 parity, is the meaningful metric.
    val (books, fin) = pq
    val full = vecs.map { case (id, sv) => id -> sv.flatten }.toMap
    val qs = vecs.filter(_._1 < 20).map(_._1)
    def adcRank(a: Long): IndexedSeq[Long] =
      vecs.filter(_._1 != a).map { case (b, _) =>
        (b, (0 until M).map(s =>
          latU6(d2(vecs.find(_._1 == a).get._2(s),
            books(s)(fin(b)(s)._1)))).sum)
      }.sortBy { case (b, dd) => (dd, b) }.map(_._1)
    val trueNn = qs.map(a => a -> vecs.filter(_._1 != a)
      .map { case (b, _) => (b, d2(full(a), full(b))) }
      .minBy { case (b, dd) => (dd, b) }._1).toMap
    val ranks = qs.map(a => a -> adcRank(a)).toMap
    def recallAt(r: Int): Double =
      qs.count(a => ranks(a).take(r).contains(trueNn(a))).toDouble / qs.size
    val (r3, r10, r50) = (recallAt(3), recallAt(10), recallAt(50))
    info(f"exhaustive-ADC recall@3/@10/@50 (m=4, k=16, 16 bits/vec) " +
      f"= $r3%.3f / $r10%.3f / $r50%.3f")
    assert(r50 >= 0.60, f"recall@50 $r50%.3f below floor")
    assert(r10 > 0.0, "ADC carries no ranking signal at all")
  }
}
