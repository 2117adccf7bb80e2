package graft.queries

import graft.core.{Caches, Tables}
import graft.functions.Hash64
import graft.functions.Vectors.dot
import graft.operators.Banded
import graft.pipeline.Pipeline
import graft.queries.EmbedQueries.{cosSim, normed, top3}
import graft.queries.SqlGen.{U64, md5u64, signed}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data deduplication battery over `documents` / `embeddings`:
  * MinHash+LSH, SimHash, and embedding-cosine near-duplicates — the
  * approximate counterparts to the exact hash-groupBy (q_dedup_exact)
  * and exact word-Jaccard (q_word_jaccard) queries.
  *
  * Cross-engine determinism (round-5 64-bit scheme): every dedup id is
  * a signed BIGINT — the base hash is the big-endian first 64 bits of
  * md5 ([[Hash64.md5_64]]; DuckDB `('0x'||substr(md5(x),1,16))::UBIGINT`)
  * and the per-plane MinHash rehashes are the splitmix64 finalizer,
  * replayed by the oracles in HUGEINT arithmetic ([[SqlGen.mixCols]],
  * the q_media_features technique). Round 4 used md5 hex STRINGS
  * end-to-end (32 chars × 16 per signature); integer hashes carry the
  * same information at 1/4 the shuffle width and 1/16 the md5 count,
  * which matters because the exploded shingle table is the battery's
  * dominant shuffle (128 MB of 320 MB at sf0.1 in round 4).
  *
  * Scale design: LSH is the 100-TB path — candidate generation is an
  * EQUI-join on (band index, band key), run by the one shared operator
  * [[graft.operators.Banded]]; shuffle-partitionable, AQE-splittable,
  * no all-pairs blowup; each kernel's exact-verify step runs only on
  * candidates. The brute-force pair scans here exist to verify recall
  * and are capped to small doc subsets.
  */
object DedupQueries {

  private val K = 16      // minhash signature length
  private val Bands = 4   // LSH bands (rows per band = K/Bands = 4)
  private val RowsPerBand = K / Bands

  /** Bucket rank cap of every banded kernel — the adversarial backstop
    * of [[graft.operators.Banded]], which documents both blowup-control
    * levels. */
  private[queries] val BucketCap = 1024

  /** Word 3-shingles per doc, hashed to signed 64-bit ids, distinct:
    * (doc_id, shh). Shingling is per-row array work — a single
    * `transform` over the split array (zero joins, zero shuffles
    * before the distinct), not a positional self-join; the HASH is
    * applied map-side, so the shingle STRINGS never enter a shuffle —
    * the distinct moves (doc_id, int64) rows only. */
  private[queries] def shingleHashes(docs: DataFrame): DataFrame = {
    // the word array is materialized as a column ATTRIBUTE before the
    // shingle transform() consumes it: HOF lambdas evaluate INTERPRETED,
    // so an expression referenced inside the lambda re-evaluates PER
    // ELEMENT — with the split inlined, every shingle re-split the whole
    // document (3 element_at calls × n shingles = O(n²) string work per
    // doc; the q_gopher_repetition / q_doc_fingerprint lesson). The
    // attribute reference makes each lambda call O(shingle).
    val ws = col("__ws")
    // sequence(0, size-3) descends when size < 3 — guard to empty.
    val sh3 = when(size(ws) >= 3,
      transform(sequence(lit(0), size(ws) - 3), i =>
        concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2),
          element_at(ws, i + 3))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col("doc_id"), split(col("text"), " ").as("__ws"))
      .select(col("doc_id"), explode(sh3).as("sh"))
      .select(col("doc_id"), Hash64.md5_64(col("sh")).as("shh"))
      .distinct()
  }

  /** MinHash signatures: sig_i = min(smix64(shh XOR mix(i))) — 16
    * integer rehashes of ONE base hash per shingle (round 4 computed
    * 16 separate md5s); partial mins combine map-side. The same agg
    * carries the doc's distinct-shingle count `nsh`, so the exact-
    * Jaccard verify reads set sizes from this 1-row/doc table instead
    * of re-aggregating the full shingle table per invocation. */
  private[queries] def signatures(sh: DataFrame): DataFrame = {
    val sigCols = (0 until K).map(i =>
      min(Hash64.planeHash(col("shh"), i)).as(s"sig$i")) :+
      count(lit(1)).as("nsh")
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Dedup feature store (§2.0 sink path): the shingle-hash and
    * signature stages are materialized through
    * [[graft.core.Sinks.writeBucketed]] as two checkpointed stages under
    * one root per input dir, and every later invocation whose documents
    * files are unchanged reads them back ([[Pipeline.stage]]'s reuse
    * rule). This is the 100-TB posture — signatures are a stored,
    * entity-bucketed feature table, not a per-query recompute from raw
    * text — and it replaces the round-4 in-memory `.cache()` of the
    * shingle table, which cannot hold a corpus-scale exploded table.
    * Signatures derive from the STORED shingles, so the 16-way min-agg
    * reads the narrow bucketed table instead of re-shingling raw text. */
  private[graft] def minhashStore(spark: SparkSession, dir: String)
  : (DataFrame, DataFrame) = {
    val root = Pipeline.tmpRoot("dedup_store", dir)
    def bucketed(ts: String)(df: DataFrame, p: String): Unit =
      graft.core.Sinks.writeBucketed(df, p, "doc_id", ts, 32)
    val sh = Pipeline.stage(spark, root, "shingles", bucketed("shh"))(
      shingleHashes(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("shh"))
    val sig = Pipeline.stage(spark, root, "signatures", bucketed("doc_id"))(
      signatures(sh))
    (sh, sig.drop("bucket"))
  }

  /** MinHash + LSH banding: candidate pairs from band-bucket collisions
    * (per-bucket occupancy capped — see [[BucketCap]]), then exact
    * Jaccard verification on candidates only. Stages come from the
    * materialized store ([[minhashStore]]). */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashVerified(spark, dir).orderBy(col("a_id"), col("b_id"))

  /** The verified pair table WITHOUT the gate's final global sort —
    * q_dup_components consumes this (its edges don't need an order, and
    * the sort would otherwise cost a sample job + range exchange inside
    * the edge checkpoint). */
  private def minhashVerified(spark: SparkSession, dir: String): DataFrame = {
    val (sh, sig) = minhashStore(spark, dir)
    minhashPairsFrom(sh, sig, BucketCap)
  }

  /** Duplicate-cluster assembly: connected components of the verified
    * MinHash pair graph ([[qMinhashLsh]]), every doc labeled with its
    * component's min doc_id — the table a dedup pass filters on
    * (`is_rep` keeps one doc per cluster). Propagation
    * ([[graft.operators.Components.minLabel]]) runs TO FIXPOINT over
    * edge ENDPOINTS only (cap 64 ≫ any real dup graph's
    * star-plus-bridges diameter; the round-5 fixed 8 rounds could
    * silently under-converge past diameter 8 and wasted rounds after
    * convergence — the gate corpus converges in ~3); the corpus's
    * singletons join in label-free (left join + coalesce, no shuffle
    * of non-duplicate docs into the iteration). The oracle replays the
    * fixpoint as a recursive reachability CTE, so the gate proves the
    * early-exit result IS the fixpoint on this corpus. */
  def qDupComponents(spark: SparkSession, dir: String): DataFrame = {
    // cached: minLabel's edge union reads the pair table TWICE (both
    // edge directions) — without the cache the whole verify chain
    // (candidate join + Jaccard verify) executed once per direction
    val pairs = Caches.cachedCompact(
      minhashVerified(spark, dir).select(col("a_id"), col("b_id")))
    val lbl = graft.operators.Components.minLabel(pairs, rounds = 64)
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val full = docs.join(lbl.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val cs = full.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    full.join(cs, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"),
        (col("doc_id") === col("component")).as("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** Inline (un-staged) MinHash+LSH over an arbitrary (doc_id, text)
    * corpus — DedupSpec drives degenerate corpora through both blowup
    * controls with this. */
  def minhashPairs(docs: DataFrame, cap: Int = BucketCap): DataFrame = {
    val sh = Caches.cachedCompact(shingleHashes(docs))
    minhashPairsFrom(sh, signatures(sh), cap)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The MinHash+LSH kernel over prepared stage tables:
    * sh = (doc_id, shh), sig = (doc_id, sig0..sig15). */
  private def minhashPairsFrom(sh: DataFrame, sig: DataFrame,
                               cap: Int): DataFrame = {
    // the collapse key is the FULL 16-long signature and the band key
    // the band's 4 raw sig longs (32 bytes) — no digest columns
    val bands = array((0 until Bands).map { b =>
      struct(lit(b).as("band") +: (0 until RowsPerBand).map(r =>
        col(s"sig${b * RowsPerBand + r}").as(s"k$r")): _*)
    }: _*)
    val c = Banded.candidates(sig, "doc_id", (0 until K).map(i =>
      col(s"sig$i")), bands, Nil, cap)
    // candidates are consumed three times (shingle pre-filter, inter
    // count, final assembly) — cache the small pair set, not the data
    val cand = Caches.cachedCompact(c.pairs
      .union(c.links.select(col("a_id"), col("b_id")))
      .distinct())
    // exact Jaccard on candidates — set ops over 64-bit shingle ids.
    // Set sizes come from the signature table's nsh (1 row/doc); the
    // shingle table is scanned ONCE, semi-joined down to the docs that
    // actually appear in a candidate pair (AQE broadcasts the id list
    // when small), instead of two full-store joins + a count agg.
    val na = c.rows.select(col("doc_id"), col("nsh").as("n"))
    // one cache scan + explode instead of a two-scan union
    val involved = cand
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    // cached (spills to disk if large): both sides of the inter join
    // consume it, and its size is bounded by the shingles of candidate
    // docs — data those joins must read anyway
    val shc = Caches.cachedCompact(
      sh.join(involved, Seq("doc_id"), "left_semi"))
    val inter = cand
      .join(shc.select(col("doc_id").as("a_id"), col("shh")), Seq("a_id"))
      .join(shc.select(col("doc_id").as("b_id"), col("shh")),
        Seq("b_id", "shh"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    cand.join(inter, Seq("a_id", "b_id"), "left")
      .join(na.select(col("doc_id").as("a_id"), col("n").as("nsa")),
        Seq("a_id"))
      .join(na.select(col("doc_id").as("b_id"), col("n").as("nsb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        col("nsa"), col("nsb"),
        (coalesce(col("inter"), lit(0L)) /
          (col("nsa") + col("nsb") - coalesce(col("inter"), lit(0L))))
          .as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  /** SimHash (16-bit, md5-derived bits): per-doc fingerprint plus
    * near-dup pairs at Hamming distance <= 2 over ALL documents.
    *
    * Scale path: the pair scan is NOT all-pairs — by the pigeonhole
    * principle, two 16-bit fingerprints at distance <= 2 agree exactly
    * on at least one of 3 disjoint bit bands (6+5+5 bits), so candidates
    * come from an EQUI-join on (band index, band bits) — the same
    * banding trick as the MinHash path — then the exact Hamming check
    * verifies. The corpus-scale configuration is [[qSimhash64]]: 64-bit
    * fingerprints, Hamming <= 3, 4 pigeonhole bands of 16 bits. */
  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir))

  /** The SimHash near-dup kernel over an arbitrary (doc_id, text)
    * corpus; identical fingerprints collapse to representative links
    * and band buckets are backstop-capped like the MinHash path. */
  def simhashPairs(docs: DataFrame, cap: Int = BucketCap): DataFrame = {
    // 3 disjoint bands: bits [0,6), [6,11), [11,16)
    val h = col("simhash")
    simhashBanded(simhashFingerprints(docs), array(
      struct(lit(0).as("bi"), h.bitwiseAND(lit(63L)).as("bv")),
      struct(lit(1).as("bi"), shiftright(h, 6).bitwiseAND(lit(31L)).as("bv")),
      struct(lit(2).as("bi"), shiftright(h, 11).bitwiseAND(lit(31L)).as("bv"))),
      maxDist = 2, cap)
  }

  /** Both SimHash kernels over (doc_id, simhash): banded candidates, the
    * exact Hamming check, then the identical-fingerprint links (Hamming
    * 0). The fingerprint table is 1 row/doc but costs a full
    * word-explode aggregation, so the operator's cache of it matters. */
  private def simhashBanded(fps: DataFrame, bands: Column, maxDist: Int,
                            cap: Int): DataFrame = {
    val c = Banded.candidates(fps, "doc_id", Seq(col("simhash")), bands,
      Seq(col("simhash")), cap)
    c.pairs.select(col("a_id"), col("b_id"), col("simhash_a").as("ha"),
        col("simhash_b").as("hb"), bit_count(col("simhash_a")
          .bitwiseXOR(col("simhash_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
      .union(c.links.select(col("a_id"), col("b_id"),
        col("simhash").as("ha"), col("simhash").as("hb"),
        lit(0L).as("hamming")))
      .distinct() // a pair can collide in several bands
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Per-doc 16-bit fingerprints (exposed for DedupSpec's brute-force
    * cross-check of the banding guarantees). */
  private[graft] def simhashFingerprints(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .withColumn("h", md5(col("w")))
    val bitSums = (0 until 16).map { j =>
      sum(when(ascii(substring(col("h"), j + 1, 1)) % 2 === 1, 1)
        .otherwise(-1)).as(s"s$j")
    }
    val agg = words.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 16).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** The corpus-scale SimHash: 64-bit fingerprints (bit j from bit j of
    * the word's [[Hash64.md5_64]] hash), near-dup pairs at Hamming
    * distance <= 3 via 4 disjoint 16-bit pigeonhole bands — at 10⁹
    * docs the 16-bit variant's 2^16 fingerprint space floods every
    * band bucket with accidental collisions; 64 bits keeps expected
    * bucket occupancy ~n/2^16 per band with a 2^64 id space. Collapse
    * and backstop cap exactly as the other paths. */
  def qSimhash64(spark: SparkSession, dir: String): DataFrame =
    simhash64Pairs(Tables.documents(spark, dir))

  def simhash64Pairs(docs: DataFrame, cap: Int = BucketCap): DataFrame =
    // 4 disjoint 16-bit bands; distance <= 3 pigeonholes into >= 1 band
    simhashBanded(simhash64Fingerprints(docs), array((0 until 4).map(b =>
      struct(lit(b).as("bi"), shiftrightunsigned(col("simhash"), 16 * b)
        .bitwiseAND(lit(0xFFFFL)).as("bv"))): _*), maxDist = 3, cap)

  /** Per-doc 64-bit fingerprints (bit j sums the sign of bit j across
    * the doc's word hashes, occurrence-weighted like the 16-bit
    * variant). Exposed for DedupSpec's brute-force banding check. */
  private[graft] def simhash64Fingerprints(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .withColumn("h", Hash64.md5_64(col("w")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j)
        .bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val agg = words.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** Embedding-cosine near-duplicates: exact pairs with cos >= 0.9
    * among vec_id < 400 (brute-force verification tier of ANN dedup).
    * The coverage cap is NOT silent: every output row carries
    * `scanned_universe` = the cap, so a reader of the results table at
    * any sf knows exactly which slice of the corpus was pair-scanned. */
  private val NeardupCap = 400L

  def qEmbedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).where(col("vec_id") < NeardupCap)
    broadcast(normed(emb, "a"))
      .join(normed(emb, "b"), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosSim,
        lit(NeardupCap).as("scanned_universe"))
      .where(col("cos_sim") >= 0.9)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Multi-table LSH parameters for embedding NEAR-DUP (vs the ANN
    * top-k tables below): near-dup wants high-precision buckets, so
    * k = 16 planes per table (2^16 buckets — near-singleton occupancy
    * at corpus scale, expected random-collision pair mass ~n²·L/2^17)
    * with L = 16 tables for recall. At the τ = 0.9 report threshold
    * the per-plane collision probability is p = 1 − θ/π ≈ 0.857, so
    * table recall p^16 ≈ 0.19 and 16-table recall 1 − (1−p^16)^16
    * ≈ 0.96; identical vectors collide in every table by construction
    * and are collapsed before banding anyway. */
  private val NeardupLshTables = 16
  private val NeardupLshPlanes = 16
  private val NeardupTau = 0.9
  private val NeardupFloor = 0.2

  /** Embedding-cosine near-dup, the SCALE PATH of q_embed_neardup:
    * the full table (no universe cap) through multi-table
    * random-hyperplane LSH. Identical bit-pattern vectors (exact
    * re-crawls — the dominant dup mass in a real corpus) are first
    * collapsed to a min-vec_id representative with (rep, member)
    * links at cosine 1 by definition — the same O(n)-per-cluster
    * collapse as every other dedup path, so a 10⁶-copy crawl dup is
    * linear, not quadratic. Distinct vectors land in L=16 tables of
    * k=16-plane buckets; candidates = same-(table, bucket) pairs
    * under the backstop rank cap — an EQUI-join that partitions by
    * bucket id at any scale — then exact cosine verifies every
    * candidate. Pairs at cos ≥ [[NeardupFloor]] are reported with an
    * `is_dup` flag at the τ = 0.9 dedup threshold (the floor keeps
    * the gate row set non-trivial on the synthetic corpus, whose
    * non-identical cosines top out near 0.45; a production dedup pass
    * reads the is_dup rows). Recall and the collapse/cap regimes are
    * spec-checked in DedupSpec; the oracle replays planes, collapse,
    * cap and floor verbatim. */
  def qEmbedNeardupLsh(spark: SparkSession, dir: String): DataFrame =
    embedNeardupLshPairs(Tables.embeddings(spark, dir))

  /** @param planes bucket width per table: 2^planes buckets. SIZING
    *   RULE at corpus scale: planes ≈ log2(n / target-occupancy), so
    *   bucket occupancy — and with it the candidate-pair mass
    *   Σ occ²·L/2 — stays constant as n grows; the gate default 16
    *   (65536 buckets) is sized for the test corpus, a 10⁹-vector
    *   corpus wants ~24–28. Recall at τ follows 1−(1−p^planes)^tables
    *   with p = 1 − θ(τ)/π, so raise `tables` with `planes`. The rank
    *   cap stays the adversarial backstop either way. */
  def embedNeardupLshPairs(emb: DataFrame, cap: Int = BucketCap,
                           tables: Int = NeardupLshTables,
                           planes: Int = NeardupLshPlanes)
      : DataFrame = {
    val e = col("embedding")
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("t"), tableBucket(e, t, planes).as("b"))): _*)
    // norms once per vector, BEFORE the 16-way explode (expression
    // tree sqrt(dot(x,x)) unchanged, so the oracle floats match)
    val c = Banded.candidates(emb.select(col("vec_id"), e), "vec_id", Seq(e),
      buckets, Seq(e, sqrt(dot(e, e)).as("nrm")), cap)
    val cos = round(dot(col("embedding_a"), col("embedding_b")) /
      (col("nrm_a") * col("nrm_b")), 6)
    c.pairs.select(col("a_id"), col("b_id"), cos.as("cos_sim"))
      .where(col("cos_sim") >= NeardupFloor)
      .distinct() // a pair can collide in several tables
      .select(col("a_id"), col("b_id"), col("cos_sim"),
        when(col("cos_sim") >= NeardupTau, 1L).otherwise(0L).as("is_dup"))
      // disjoint: link members never appear as reps
      .union(c.links.select(col("a_id"), col("b_id"),
        lit(1.0).as("cos_sim"), lit(1L).as("is_dup")))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Random-hyperplane LSH bucketing for ANN (the scale path of
    * q_embed_topk): 8 deterministic integer-arithmetic hyperplanes;
    * output = bucket histogram (bucket, n, mean vec norm). Bucket-local
    * search cost is proportional to the largest bucket — the histogram
    * IS the skew diagnostic. */
  def qAnnLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // h_i[d] = +1 if ((i*2654435761 + d*40503) mod 97) < 48 else -1:
    // integer arithmetic, identical in any engine. Projections via the
    // native SparseSignedDotExpr (dense dims 0..63) — compact codegen.
    val dim = 64
    val bucket = (0 until 8).map { i =>
      val signs = (0 until dim).map { d =>
        if (((i.toLong * 2654435761L + d.toLong * 40503L) % 97) < 48) 1.0
        else -1.0
      }
      when(graft.functions.Vectors.sparseSignedDot(
        col("embedding"), 0 until dim, signs) > 0, lit(1L << i))
        .otherwise(0L)
    }.reduce(_ + _)
    emb.select(col("vec_id"), bucket.as("bucket"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 6).as("mean_norm"))
      .orderBy(col("bucket"))
  }

  /** Multi-table LSH parameters: L hash tables of k sparse random
    * hyperplanes (8 signed dims each). For the test embeddings, whose
    * true top-3 neighbors sit at cos ≈ 0.3–0.43 (θ ≈ 70°, per-plane
    * collision p ≈ 0.6), expected recall = 1 − (1 − p^k)^L ≈ 0.9.
    * Dims/signs are integer-arithmetic deterministic — identical
    * literals in the DuckDB oracle. */
  private val LshTables = 16
  private val LshPlanes = 4

  /** (dim0based, sign) pairs of sparse hyperplane (t, i). */
  private[queries] def planeTerms(t: Int, i: Int,
                                  dim: Int = 64): Seq[(Int, Double)] =
    (0 until 8).map { j =>
      val h = (t.toLong * 31 + i.toLong * 7 + j.toLong * 13) * 2654435761L
      val d = math.floorMod(h >> 16, dim).toInt
      val s = if (math.floorMod(h >> 8, 2) == 0) 1.0 else -1.0
      (d, s)
    }

  /** Bucket of `emb` in LSH table `t`: bit i is set when the vector
    * lies on the positive side of sparse hyperplane (t, i). */
  private def tableBucket(emb: Column, t: Int, planes: Int): Column =
    (0 until planes).map { i =>
      val terms = planeTerms(t, i)
      val proj = graft.functions.Vectors.sparseSignedDot(
        emb, terms.map(_._1), terms.map(_._2))
      when(proj > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Multi-table LSH ANN top-k — the scale path of q_embed_topk: each
    * vector lands in L=16 buckets (k=4 sparse hyperplanes per table);
    * candidates = same-(table, bucket) pairs — an EQUI-join that
    * partitions by bucket id at any scale — deduped, then ranked by
    * exact cosine. Recall vs exact brute force measured in DedupSpec. */
  def qAnnLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val buckets = array((0 until LshTables).map(t => struct(lit(t).as("t"),
      tableBucket(col("embedding"), t, LshPlanes).as("b"))): _*)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), explode(buckets).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.t").as("t"), col("bk.b").as("b"))
    val cand = broadcast(normed(emb.where(col("vec_id") < 20), "a"))
      .join(normed(emb, "b"), Seq("t", "b"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cosSim)
      .distinct()
    top3(cand, col("cos_sim").desc)
  }

  val all: Map[String, CoreQueries.Q] = Map(
    "q_minhash_lsh" -> (qMinhashLsh _),
    "q_dup_components" -> (qDupComponents _),
    "q_simhash" -> (qSimhash _),
    "q_simhash64" -> (qSimhash64 _),
    "q_embed_neardup" -> (qEmbedNeardup _),
    "q_embed_neardup_lsh" -> (qEmbedNeardupLsh _),
    "q_ann_lsh_buckets" -> (qAnnLshBuckets _),
    "q_ann_lsh_topk" -> (qAnnLshTopk _)
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles
  // ---------------------------------------------------------------------

  /** The q_minhash_lsh replay up to the verified pair set, as a shared
    * WITH-chain ending in CTE `pairs(a_id, b_id, inter, nsa, nsb,
    * jaccard)`. Declared RECURSIVE so q_dup_components can append its
    * reachability CTE; `pairs` is MATERIALIZED because that CTE's
    * consumers reference it more than once and DuckDB otherwise
    * inlines the whole 16-rehash chain per reference (the sfbig check
    * went from >16 min to one chain evaluation, ~4.5 min, with the
    * hint). */
  private lazy val minhashPairsSql: String = {
      // 16 splitmix64 plane rehashes of the shingle hash, as lateral
      // column aliases (6 steps each — SqlGen.mixCols), min'd per doc
      // in SIGNED domain to mirror Spark's min over BIGINT
      val mixItems = (0 until K).map(i =>
        SqlGen.mixCols(s"xor(shh, ${Hash64.planeSeedU(i)}::HUGEINT)", s"h$i"))
        .mkString(",\n        |    ")
      val sigExprs = (0 until K)
        .map(i => s"min(${signed(s"h${i}r")}) AS sig$i")
        .mkString(",\n        |    ")
      val sigList = (0 until K).map(i => s"sig$i").mkString(", ")
      val bandRows = (0 until Bands).map { b =>
        val ks = (0 until RowsPerBand).map(r =>
          s"sig${b * RowsPerBand + r} AS k$r").mkString(", ")
        s"SELECT doc_id, $b AS band, $ks FROM reps"
      }.mkString("\n        |  UNION ALL ")
      val kEq = (0 until RowsPerBand).map(r => s"x.k$r = y.k$r")
        .mkString(" AND ")
      val kList = (0 until RowsPerBand).map(r => s"k$r").mkString(", ")
      s"""WITH RECURSIVE words AS (
        |  SELECT doc_id, w, pos FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |      generate_subscripts(string_split(text, ' '), 1) AS pos
        |    FROM documents)),
        |sh AS (
        |  SELECT DISTINCT a.doc_id,
        |    ${md5u64("a.w || ' ' || b.w || ' ' || c.w")} AS shh
        |  FROM words a
        |  JOIN words b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN words c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |mx AS (
        |  SELECT doc_id,
        |    $mixItems
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    $sigExprs
        |  FROM mx GROUP BY doc_id),
        |clus AS (
        |  SELECT doc_id, $sigList,
        |    row_number() OVER (PARTITION BY $sigList
        |      ORDER BY doc_id) AS crk,
        |    min(doc_id) OVER (PARTITION BY $sigList) AS rep
        |  FROM sig),
        |links AS (SELECT rep AS a_id, doc_id AS b_id FROM clus WHERE crk > 1),
        |reps AS (SELECT * FROM clus WHERE crk = 1),
        |buckets AS (
        |  $bandRows),
        |ranked AS (
        |  SELECT doc_id, band, $kList,
        |    row_number() OVER (PARTITION BY band, $kList ORDER BY doc_id)
        |      AS rk
        |  FROM buckets),
        |cand AS (
        |  SELECT DISTINCT a_id, b_id FROM (
        |    SELECT x.doc_id AS a_id, y.doc_id AS b_id
        |    FROM ranked x JOIN ranked y ON x.band = y.band AND $kEq
        |      AND x.rk < y.rk AND (y.rk <= $BucketCap OR x.rk = 1)
        |    UNION ALL SELECT a_id, b_id FROM links)),
        |ns AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS inter
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.a_id
        |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shh = sa.shh
        |  GROUP BY c.a_id, c.b_id),
        |pairs AS MATERIALIZED (
        |  SELECT c.a_id, c.b_id, coalesce(i.inter, 0) AS inter,
        |    na.n AS nsa, nb.n AS nsb,
        |    coalesce(i.inter, 0) / (na.n + nb.n - coalesce(i.inter, 0))
        |      AS jaccard
        |  FROM cand c
        |  LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
        |  JOIN ns na ON na.doc_id = c.a_id
        |  JOIN ns nb ON nb.doc_id = c.b_id
        |  WHERE coalesce(i.inter, 0) / (na.n + nb.n - coalesce(i.inter, 0))
        |    >= 0.5)""".stripMargin
    }

  val oracle: Map[String, String] = Map(
    "q_minhash_lsh" -> (minhashPairsSql + """
      |SELECT a_id, b_id, inter, nsa, nsb, jaccard FROM pairs
      |ORDER BY a_id, b_id""".stripMargin),
    "q_dup_components" -> (minhashPairsSql + """,
      |edges AS MATERIALIZED (
      |  SELECT a_id AS s, b_id AS d FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs),
      |reach AS (
      |  SELECT DISTINCT s AS id, s AS l FROM edges
      |  UNION
      |  SELECT e.d AS id, r.l FROM reach r JOIN edges e ON e.s = r.id),
      |lbl AS (SELECT id, min(l) AS component FROM reach GROUP BY id),
      |full_lbl AS (
      |  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id),
      |cs AS (SELECT component, count(*)::BIGINT AS csize
      |  FROM full_lbl GROUP BY 1)
      |SELECT f.doc_id, f.component, c.csize,
      |  (f.doc_id = f.component) AS is_rep
      |FROM full_lbl f JOIN cs c USING (component)
      |ORDER BY doc_id""".stripMargin),
    "q_simhash" -> {
      val bitSums = (0 until 16).map(j =>
        s"sum(CASE WHEN ascii(substr(md5(w), ${j + 1}, 1)) % 2 = 1 " +
          s"THEN 1 ELSE -1 END) AS s$j").mkString(",\n        |    ")
      val fp = (0 until 16).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      s"""WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |agg AS (
        |  SELECT doc_id,
        |    $bitSums
        |  FROM words WHERE len(w) > 0 GROUP BY doc_id),
        |sims AS (SELECT doc_id, ($fp)::BIGINT AS simhash FROM agg),
        |clus AS (
        |  SELECT doc_id, simhash,
        |    row_number() OVER (PARTITION BY simhash ORDER BY doc_id) AS crk,
        |    min(doc_id) OVER (PARTITION BY simhash) AS rep
        |  FROM sims),
        |links AS (
        |  SELECT rep AS a_id, doc_id AS b_id, simhash AS ha,
        |    simhash AS hb, 0::BIGINT AS hamming
        |  FROM clus WHERE crk > 1),
        |bands AS (
        |  SELECT doc_id, simhash, b.bi,
        |    CASE b.bi WHEN 0 THEN simhash & 63
        |              WHEN 1 THEN (simhash >> 6) & 31
        |              ELSE (simhash >> 11) & 31 END AS bv
        |  FROM (SELECT doc_id, simhash FROM clus WHERE crk = 1) reps,
        |    (SELECT unnest([0, 1, 2]) AS bi) b),
        |ranked AS (
        |  SELECT doc_id, simhash, bi, bv,
        |    row_number() OVER (PARTITION BY bi, bv ORDER BY doc_id) AS rk
        |  FROM bands)
        |SELECT DISTINCT a_id, b_id, ha, hb, hamming FROM (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |    x.simhash AS ha, y.simhash AS hb,
        |    bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        |  FROM ranked x JOIN ranked y ON x.bi = y.bi AND x.bv = y.bv
        |    AND x.rk < y.rk AND (y.rk <= $BucketCap OR x.rk = 1)
        |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
        |  UNION ALL SELECT a_id, b_id, ha, hb, hamming FROM links)
        |ORDER BY a_id, b_id""".stripMargin
    },
    "q_simhash64" -> {
      // bit j of the word's 64-bit hash, occurrence-weighted sign sums;
      // the fingerprint assembles in unsigned HUGEINT and converts to
      // the signed BIGINT Spark carries
      val bitSums = (0 until 64).map(j =>
        s"sum(CASE WHEN (h // ${BigInt(1) << j}) % 2 = 1 " +
          s"THEN 1 ELSE -1 END) AS s$j").mkString(",\n        |    ")
      val fpU = (0 until 64).map(j =>
        s"CASE WHEN s$j > 0 THEN ${BigInt(1) << j}::HUGEINT " +
          s"ELSE 0::HUGEINT END").mkString(" + ")
      val bandCase = (0 until 4).map(b =>
        s"WHEN $b THEN (u // ${BigInt(1) << (16 * b)}) % 65536")
        .mkString("\n        |              ")
      s"""WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wh AS (
        |  SELECT doc_id, ${md5u64("w")} AS h
        |  FROM words WHERE len(w) > 0),
        |agg AS (
        |  SELECT doc_id,
        |    $bitSums
        |  FROM wh GROUP BY doc_id),
        |sims AS (SELECT doc_id, ${signed(s"($fpU)")} AS simhash FROM agg),
        |clus AS (
        |  SELECT doc_id, simhash,
        |    CASE WHEN simhash < 0 THEN simhash::HUGEINT + $U64
        |         ELSE simhash::HUGEINT END AS u,
        |    row_number() OVER (PARTITION BY simhash ORDER BY doc_id) AS crk,
        |    min(doc_id) OVER (PARTITION BY simhash) AS rep
        |  FROM sims),
        |links AS (
        |  SELECT rep AS a_id, doc_id AS b_id, simhash AS ha,
        |    simhash AS hb, 0::BIGINT AS hamming
        |  FROM clus WHERE crk > 1),
        |bands AS (
        |  SELECT doc_id, simhash, b.bi,
        |    (CASE b.bi $bandCase
        |     END)::BIGINT AS bv
        |  FROM (SELECT doc_id, simhash, u FROM clus WHERE crk = 1) reps,
        |    (SELECT unnest([0, 1, 2, 3]) AS bi) b),
        |ranked AS (
        |  SELECT doc_id, simhash, bi, bv,
        |    row_number() OVER (PARTITION BY bi, bv ORDER BY doc_id) AS rk
        |  FROM bands)
        |SELECT DISTINCT a_id, b_id, ha, hb, hamming FROM (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |    x.simhash AS ha, y.simhash AS hb,
        |    bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        |  FROM ranked x JOIN ranked y ON x.bi = y.bi AND x.bv = y.bv
        |    AND x.rk < y.rk AND (y.rk <= $BucketCap OR x.rk = 1)
        |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |  UNION ALL SELECT a_id, b_id, ha, hb, hamming FROM links)
        |ORDER BY a_id, b_id""".stripMargin
    },
    "q_embed_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < $NeardupCap)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |        x -> x::DOUBLE * x::DOUBLE)))
        |      * sqrt(list_sum(list_transform(b.embedding,
        |        x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos_sim,
        |  $NeardupCap::BIGINT AS scanned_universe
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |        x -> x::DOUBLE * x::DOUBLE)))
        |      * sqrt(list_sum(list_transform(b.embedding,
        |        x -> x::DOUBLE * x::DOUBLE)))), 6) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    "q_embed_neardup_lsh" -> {
      // the 16 per-table bucket ids as paired unnests; each bucket =
      // 16 sign-bit planes written as the same ± term sequence the
      // native SparseSignedDotExpr evaluates (identical float adds)
      val bucketExprs = (0 until NeardupLshTables).map { t =>
        (0 until NeardupLshPlanes).map { i =>
          val proj = planeTerms(t, i).map { case (d, s) =>
            val sgn = if (s > 0) "+" else "-"
            s"$sgn embedding[${d + 1}]::DOUBLE"
          }.mkString(" ")
          s"(CASE WHEN ($proj) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString(",\n        |      ")
      val tList = (0 until NeardupLshTables).mkString("[", ",", "]")
      s"""WITH clus AS (
        |  SELECT vec_id, embedding,
        |    row_number() OVER (PARTITION BY embedding ORDER BY vec_id)
        |      AS crk,
        |    min(vec_id) OVER (PARTITION BY embedding) AS rep
        |  FROM embeddings),
        |links AS (
        |  SELECT rep AS a_id, vec_id AS b_id, 1.0::DOUBLE AS cos_sim,
        |    1::BIGINT AS is_dup
        |  FROM clus WHERE crk > 1),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm,
        |    unnest($tList) AS t,
        |    unnest([
        |      $bucketExprs]) AS b
        |  FROM (SELECT vec_id, embedding FROM clus WHERE crk = 1)),
        |ranked AS (
        |  SELECT vec_id, embedding, nrm, t, b,
        |    row_number() OVER (PARTITION BY t, b ORDER BY vec_id) AS rk
        |  FROM e),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id,
        |    round(
        |      list_sum(list_transform(list_zip(x.embedding, y.embedding),
        |        p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (x.nrm * y.nrm), 6)
        |      AS cos_sim
        |  FROM ranked x JOIN ranked y ON x.t = y.t AND x.b = y.b
        |    AND x.rk < y.rk AND (y.rk <= $BucketCap OR x.rk = 1)
        |  WHERE round(
        |      list_sum(list_transform(list_zip(x.embedding, y.embedding),
        |        p -> p[1]::DOUBLE * p[2]::DOUBLE)) / (x.nrm * y.nrm), 6)
        |    >= $NeardupFloor)
        |SELECT a_id, b_id, cos_sim,
        |  (CASE WHEN cos_sim >= $NeardupTau THEN 1 ELSE 0 END)::BIGINT
        |    AS is_dup
        |FROM cand
        |UNION ALL SELECT a_id, b_id, cos_sim, is_dup FROM links
        |ORDER BY a_id, b_id""".stripMargin
    },
    "q_ann_lsh_topk" -> {
      val bucketExprs = (0 until LshTables).map { t =>
        (0 until LshPlanes).map { i =>
          val proj = planeTerms(t, i).map { case (d, s) =>
            val sgn = if (s > 0) "+" else "-"
            s"$sgn embedding[${d + 1}]::DOUBLE"
          }.mkString(" ")
          s"(CASE WHEN ($proj) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString(",\n        |      ")
      val tList = (0 until LshTables).mkString("[", ",", "]")
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    unnest($tList) AS t,
        |    unnest([
        |      $bucketExprs]) AS b
        |  FROM embeddings),
        |q AS (SELECT vec_id AS a_id, embedding AS ea, t, b FROM e
        |  WHERE vec_id < 20),
        |tt AS (SELECT vec_id AS b_id, embedding AS eb, t, b FROM e),
        |cand AS (
        |  SELECT DISTINCT a_id, b_id,
        |    round(
        |      list_sum(list_transform(list_zip(ea, eb),
        |        p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
        |        * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE)))),
        |      6) AS cos_sim
        |  FROM q JOIN tt ON q.t = tt.t AND q.b = tt.b AND a_id <> b_id),
        |r AS (
        |  SELECT a_id, b_id, cos_sim,
        |    row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos_sim DESC, b_id) AS rank
        |  FROM cand)
        |SELECT a_id, b_id, cos_sim, rank FROM r WHERE rank <= 3
        |ORDER BY a_id, rank""".stripMargin
    },
    "q_ann_lsh_buckets" -> {
      val planeExprs = (0 until 8).map { i =>
        val signs = (0 until 64).map { d =>
          if (((i.toLong * 2654435761L + d.toLong * 40503L) % 97) < 48)
            "1.0" else "-1.0"
        }
        s"CASE WHEN list_sum(list_transform(list_zip(embedding, " +
          s"[${signs.mkString(",")}]), p -> p[1]::DOUBLE * p[2])) > 0 " +
          s"THEN ${1L << i} ELSE 0 END"
      }.mkString("\n        |    + ")
      s"""WITH b AS (
        |  SELECT vec_id,
        |    $planeExprs AS bucket,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT bucket::BIGINT AS bucket, count(*) AS n,
        |  round(avg(nrm), 6) AS mean_norm
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }
  )
}
