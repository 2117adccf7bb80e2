package graft.queries

import graft.Harness.Gate
import graft.core.Tables
import graft.functions.{Hash64, Kmv}
import graft.queries.SqlGen.{md5u64, signed}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs before any
  * model sees a byte: deterministic dataset splitting and sketched
  * distinct counting. Both are map-dominant by design — the split is a
  * stateless projection (zero shuffle beyond the ordered write) and the
  * KMV sketch moves ≤ k longs per (group × partition) — so they are the
  * operators that survive a 100-TB corpus unchanged.
  *
  * All outputs are integer/string-typed: exact on both engines, no
  * rounding. Hash identity is [[Hash64.md5_64]] (same scheme as the
  * dedup battery), replayed in DuckDB as unsigned HUGEINT.
  */
object CurationQueries {

  /** KMV sketch size: k smallest distinct hashes per group. */
  private val K = 64

  /** (K-1) * 2^32 — the estimator numerator over the TOP-32 bits of the
    * k-th minimum hash. Working in the top-32-bit domain keeps the
    * estimate in exact BIGINT integer division on both engines (a
    * double division would double-round differently than DuckDB's
    * HUGEINT floor-div); the truncation costs < 1 part in 2^32 of
    * estimator precision — noise next to KMV's own ~1/sqrt(k) error. */
  private val Numer = (K - 1).toLong << 32

  /** Deterministic train/val/test assignment: split = f(salt, doc_id)
    * only — stable under corpus growth (a doc's split never changes
    * when other docs arrive, unlike percentile- or random()-based
    * splits), reproducible across engines, and map-only (the 100-TB
    * plan is scan → project → write; no exchange, no state).
    * 80/10/10 by pmod(hash, 100). Reference has no split op; this is
    * the training-pipeline brief (dataset curation). */
  def qSampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = Hash64.md5_64(concat(lit("split|"), col("doc_id").cast("string")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("h"),
        pmod(h, lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** Per-language distinct word-3-shingle count (the statistic that
    * sizes a MinHash dedup pass): exact countDistinct (verification
    * tier — shuffles the full distinct set) next to the [[Kmv]]
    * bottom-k sketch (scale tier — ≤ K longs per group × partition).
    * kth_hash is the sketch's largest retained hash (signed view),
    * est_distinct the KMV estimate (exact when the group has < K
    * distinct shingles). Shingling is the dedup battery's scheme
    * ([[DedupQueries.shingleHashes]]): per-row `transform`, hashed
    * map-side, so shingle strings never enter an exchange. The oracle
    * replays the sketch as the rank-K row over the distinct hashes,
    * so the bounded Aggregator is hash-checked bit-for-bit. */
  def qDistinctKmv(spark: SparkSession, dir: String): DataFrame = {
    // source = the dedup battery's MATERIALIZED shingle store
    // (DedupQueries.minhashStore, staged once per input dir through
    // Pipeline.stage): the 3-shingle md5 pass is shared
    // with q_minhash_lsh instead of recomputed here — the same
    // Hash64.md5_64 domain the oracle replays. lang attaches by joining
    // the narrow doc_id → lang projection (size-based broadcast at gate
    // scale, shuffle equi-join at corpus scale).
    val docs = Tables.documents(spark, dir)
    val (sh, _) = DedupQueries.minhashStore(spark, dir, docs)
    val langs = docs.select(col("doc_id"), col("lang"))
    val hashes = sh.join(langs, "doc_id")
      .select(col("lang"), col("shh").as("h"))
    val nk = size(col("ks"))
    hashes.groupBy(col("lang"))
      .agg(countDistinct(col("h")).as("n_exact"),
        Kmv.sketch(K)(col("h")).as("ks"))
      .select(col("lang"), col("n_exact"),
        element_at(col("ks"), nk).as("kth_hash"),
        when(nk < K, nk.cast("long"))
          .otherwise(expr(s"$Numer div greatest(" +
            s"shiftrightunsigned(element_at(ks, $K), 32), 1L)"))
          .as("est_distinct"))
      .orderBy(col("lang"))
  }

  /** TF-IDF keyword extraction, exact-integer variant: top-3 terms per
    * doc by score = tf · (10^12 div df) — rank-equivalent to the
    * classical tf·(N/df) for any fixed corpus (N is a constant factor)
    * but computed entirely in BIGINT integer division, so the ranking
    * cannot flip on a last-ulp libm difference between engines (ln()
    * differs across libms; an exact-integer monotone surrogate makes
    * the top-k hash-checkable). Ties break on term ascending. Plan:
    * explode → partial-agg tf → df agg → term equi-join (size-based
    * broadcast at gate scale, shuffle join at corpus scale) → per-doc
    * top-3 window. */
  def qTfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    // cached: the df agg and the scoring join both consume tf (the
    // explode + partial agg otherwise ran once per consumer)
    val tf = graft.core.Caches.cachedCompact(Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("score", expr("tf * (1000000000000L div df)"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Gopher-style repetition quality filters (Rae et al. 2021 §A1.1, the
    * MassiveText curation rules): type-token ratio, most-frequent-word
    * character fraction, top-bigram occurrence fraction, duplicate-bigram
    * fraction, and the composite keep flag a filtering pass would apply.
    * Every metric is ROW-LOCAL array-HOF work — the physical plan is
    * scan → project (+ the gate's ordered output), zero exchange — which
    * is the only shape repetition filtering can take at 100 TB: it is
    * embarrassingly parallel and must not shuffle. Top-gram counting is
    * a SORTED RUN-LENGTH FOLD: array_sort + one aggregate() pass, so a
    * doc costs O(n log n) comparisons. (The first cut counted each
    * distinct gram with a nested filter() — O(n²) lambda invocations,
    * and because HOF lambdas evaluate INTERPRETED, every inlined
    * sub-expression (the split, the element_at) re-ran per invocation:
    * O(n³) string work per doc, 800+ s of CPU on one sfbig partition.
    * The arrays are therefore materialized as real columns first —
    * lambda bodies then touch only O(1) attribute references.) Every
    * fraction is a single division of exact integers → bit-identical
    * doubles on both engines, no rounding. Top-gram ties break to the
    * lexicographically GREATEST gram (on the ascending-sorted array an
    * equal-count later run is the greater gram, so `>=` on the running
    * best reproduces the (cnt, gram) struct-max; oracle: ORDER BY cnt
    * DESC, gram DESC). Single-word docs emit NULL bigram metrics on
    * both sides. */
  def qGopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    // max-count gram of arr via sorted run-length fold; NULL for empty
    def top(arr: Column): Column = {
      val st0 = struct(lit("").as("prev"), lit(0).as("run"),
        lit(0).as("cnt"), lit("").as("g"))
      val folded = aggregate(arr, st0, (st, x) => {
        val run2 = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        val better = run2 > st.getField("cnt") ||
          (run2 === st.getField("cnt") && x >= st.getField("g"))
        struct(x.as("prev"), run2.as("run"),
          when(better, run2).otherwise(st.getField("cnt")).as("cnt"),
          when(better, x).otherwise(st.getField("g")).as("g"))
      })
      when(size(arr) >= 1,
        struct(folded.getField("cnt").as("cnt"), folded.getField("g").as("g")))
    }
    val n = size(col("ws"))
    val ttr = col("ndw") / col("n")
    val twcf = col("tw.cnt") * length(col("tw.g")) / col("sum_chars")
    val dupf = lit(1) - col("ndb") / (col("n") - 1)
    Tables.documents(spark, dir)
      // stage 1: the word array ONCE as a column
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      // stage 2: bigram array + sorted copies as columns (lambda bodies
      // below then reference attributes, never recompute arrays).
      // bigrams via indexed transform over the first n-1 words (slice
      // is empty for n = 1 — avoids sequence(1, n-1), which DESCENDS)
      .select(col("doc_id"), col("lang"), col("ws"),
        transform(slice(col("ws"), lit(1), n - 1), (w, i) =>
          concat(w, lit(" "), element_at(col("ws"), i + 2))).as("bg"))
      .select(col("doc_id"), col("lang"), col("ws"), col("bg"),
        array_sort(col("ws")).as("wss"), array_sort(col("bg")).as("bgs"))
      .select(col("doc_id"), col("lang"), size(col("ws")).as("n"),
        // Σ length(w) == length of the separator-free concat — same
        // integer, but ArrayJoin+Length are codegen'd while the
        // aggregate() fold ran interpreted per element
        length(array_join(col("ws"), "")).as("sum_chars"),
        size(array_distinct(col("ws"))).as("ndw"), top(col("wss")).as("tw"),
        size(array_distinct(col("bg"))).as("ndb"), top(col("bgs")).as("tb"))
      .select(col("doc_id"), col("lang"), col("n").cast("long").as("n_words"),
        ttr.as("ttr"),
        col("tw.g").as("top_word"),
        col("tw.cnt").cast("long").as("top_word_cnt"),
        twcf.as("top_word_char_frac"),
        col("tb.g").as("top_bigram"),
        col("tb.cnt").cast("long").as("top_bigram_cnt"),
        (col("tb.cnt") / (col("n") - 1)).as("top_bigram_frac"),
        when(col("n") >= 2, dupf).as("dup_bigram_frac"),
        when(col("n") >= 2,
          ttr >= 0.30 && twcf <= 0.10 && dupf <= 0.10).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style corpus-LM quality scoring: fit the corpus's own unigram
    * distribution, then score every doc by its mean negative log
    * probability under it (low = stereotyped/repetitive text, high =
    * rare-token text — the filtering axis CCNet buckets on). Two-stage
    * plan: one explode → (doc, word) partial-agg tf → tiny vocab agg →
    * 1-row total broadcast onto the vocab → word-level equi-join back to
    * tf (size-based broadcast at gate scale, shuffle equi-join at corpus
    * scale) → per-doc sum. Cross-engine exactness: per-word
    * lp_u6 = round(ln(T/c_w)·10⁶ + 10⁻³) is computed ONCE per vocab
    * entry and landed on the micro-nat integer lattice (the jitter
    * clears any last-ulp libm ln() divergence; values are ≥ 0 so both
    * engines' round-half-up agree), so the per-doc accumulation is an
    * exact BIGINT sum — order-independent — and the one final division
    * is deterministic. */
  def qUnigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val tot = vocab.agg(sum(col("c")).as("t"))
    val scored = vocab.join(broadcast(tot), lit(true))
      .select(col("w"),
        round(log(col("t") / col("c")) * lit(1000000.0) + lit(1.0e-3), 0)
          .cast("long").as("lp_u6"))
    tf.join(scored, "w")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("n_words"),
        sum(col("tf") * col("lp_u6")).as("nll_u6"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("nll_u6"),
        (col("nll_u6") / (col("n_words") * lit(1000000L))).as("mean_nll"))
      .orderBy(col("doc_id"))
  }

  /** Stratified corpus rebalancing: deterministically downsample every
    * language to the size of the smallest one (the "balance the mixture"
    * curation step). The keep rule is pure hash arithmetic —
    * pmod(h(doc_id), c_lang) < target — so membership is reproducible,
    * needs no sort/shuffle of the corpus (the per-lang counts are a tiny
    * agg joined back size-based), and each language keeps ~target docs
    * uniformly at random w.r.t. the hash. Map-dominant: the corpus-side
    * plan is scan → hash → filter. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    val lc = docs.groupBy(col("lang")).agg(count(lit(1)).as("c_lang"))
      .withColumn("target",
        min(col("c_lang")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
    val h = Hash64.md5_64(concat(lit("strat|"), col("doc_id").cast("string")))
    docs.join(lc, "lang")
      .withColumn("hmod", pmod(h, col("c_lang")))
      .where(col("hmod") < col("target"))
      .select(col("doc_id"), col("lang"), col("c_lang"), col("target"),
        col("hmod"))
      .orderBy(col("doc_id"))
  }

  /** Per-source document cap (the web-curation "at most K docs per
    * domain" rule): keep, per source, the K docs with the smallest
    * doc-hash — a deterministic uniform-without-replacement sample
    * that is stable under corpus growth within the kept set's hash
    * range. The scale trick is HOW the K-th smallest hash is found:
    * not a per-source sort/window (whose fan-in is unbounded — a hot
    * domain with 10^9 pages would sort 10^9 rows in one partition)
    * but the bounded [[Kmv]] bottom-k aggregator — ≤ K longs per
    * (source × partition) enter the exchange, map-side combinable,
    * skew-immune. The kept set is then a stateless filter against the
    * per-source threshold (one row per source — broadcastable at any
    * corpus scale). Comparison is in unsigned hash order (sign-bit
    * flip on the Spark side; the oracle ranks the unsigned HUGEINT
    * domain directly), matching Kmv's unsigned retention order.
    * Sources with < K docs keep everything (threshold = their max). */
  def qSourceCaps(spark: SparkSession, dir: String): DataFrame = {
    val cap = 16
    val h = Hash64.md5_64(concat(lit("cap|"), col("doc_id").cast("string")))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), h.as("h"))
    val thr = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"), Kmv.sketch(cap)(col("h")).as("ks"))
      .select(col("source"), col("n_src"),
        element_at(col("ks"), size(col("ks"))).as("kth"))
    val sign = lit(Long.MinValue)
    docs.join(thr, "source")
      .where(col("h").bitwiseXOR(sign) <= col("kth").bitwiseXOR(sign))
      .select(col("doc_id"), col("source"), col("h"), col("kth"),
        col("n_src"))
      .orderBy(col("doc_id"))
  }

  /** The 8-word chunk fingerprint shared by q_chunk_dedup,
    * q_chunk_rewrite and q_source_overlap: chunks are full and
    * non-overlapping (floor(n/8) per doc), and chunk p hashes as
    * md5_64("chunk|" + its words joined by " "). Select [[Chunks.splitText]]
    * (the word array as column attribute `__ws`) BEFORE any chunk
    * transform(): HOF lambdas evaluate interpreted, so a split inlined
    * into slice(…) would re-split the whole doc once per chunk — O(n²)
    * string work per doc (the q_gopher_repetition lesson). */
  private object Chunks {
    val W = 8
    def splitText: Column = split(col("text"), " ").as("__ws")
    def words: Column = col("__ws")
    def nWords: Column = size(words)
    def nChunks: Column = floor(nWords / lit(W)).cast("int")
    /** 0-based chunk indices; empty below W words — Spark's sequence
      * DESCENDS when start > stop. */
    def idx: Column = when(nChunks >= 1, sequence(lit(0), nChunks - 1))
      .otherwise(array().cast("array<int>"))
    def of(p: Column): Column = slice(words, p * W + 1, lit(W))
    def hash(p: Column): Column =
      Hash64.md5_64(concat(lit("chunk|"), concat_ws(" ", of(p))))
  }

  /** C4-style corpus-wide duplicated-span detection (Raffel et al.
    * 2020 §2.2 use "any three-sentence span occurring more than once";
    * here the span is a non-overlapping 8-word chunk, the analog for
    * the corpus's unsegmented texts): hash every chunk, count corpus
    * occurrences, and report per doc how much of it is boilerplate
    * (chunks seen ≥ 2 times anywhere, its own repeats included).
    * Plan: one explode → partial-count agg on the 8-byte chunk hash →
    * equi-join back to the exploded table ON THE SAME KEY (Catalyst
    * reuses the aggregation's hash partitioning for the probe side —
    * one effective exchange of (doc_id, hash) pairs, never chunk
    * strings, which die map-side inside the hash) → per-doc count agg.
    * Everything that moves is fixed-width integers; dup_frac is one
    * exact n_dup/n_chunks division. Docs shorter than one chunk keep a
    * row with n_chunks = 0 and NULL fractions on both engines. */
  def qChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Chunks.splitText)
      .select(col("doc_id"), col("lang"),
        Chunks.nWords.cast("long").as("n_words"),
        explode_outer(transform(Chunks.idx, Chunks.hash(_))).as("ch"))
    val occ = ex.where(col("ch").isNotNull)
      .groupBy(col("ch")).agg(count(lit(1)).as("occ"))
    ex.join(occ, Seq("ch"), "left")
      .groupBy(col("doc_id"), col("lang"), col("n_words"))
      .agg(count(col("ch")).as("n_chunks"),
        count(when(col("occ") >= 2, 1)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_chunks") > 0, col("n_dup") / col("n_chunks")))
      .withColumn("keep",
        when(col("n_chunks") > 0, col("dup_frac") <= lit(0.25)))
      .orderBy(col("doc_id"))
  }

  /** The C4 TRANSFORM itself (not just the score): drop every
    * duplicated 8-word chunk except its globally-first occurrence
    * (order = (doc_id, position)) and emit the rebuilt text. The
    * first-instance rule is an ARGMIN AGGREGATE (min struct(doc_id,
    * pos) per chunk hash, map-side combinable) joined back on the same
    * key — NOT a row_number window per hash, whose fan-in is unbounded
    * when one boilerplate chunk occurs 10^9 times. What shuffles is
    * (hash, doc_id, pos) triples — fixed-width integers, never text.
    * Reassembly is map-side: the kept position list (small ints) joins
    * back to the docs table and the clean text is re-sliced from the
    * original words in place, so chunk strings never enter an
    * exchange in either direction. The trailing partial chunk
    * (n mod 8 words) is always kept. Docs whose every full chunk
    * first occurred elsewhere rebuild to just their tail. */
  def qChunkRewrite(spark: SparkSession, dir: String): DataFrame = {
    import Chunks.{W, words}
    val n = Chunks.nWords
    val nc = Chunks.nChunks
    // Chunks.of runs inside transform() lambdas on BOTH the fingerprint
    // and the reassembly side
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Chunks.splitText)
    val ex = docs
      .select(col("doc_id"), explode(transform(Chunks.idx, p => struct(
        p.as("p"), Chunks.hash(p).as("ch")))).as("c"))
      .select(col("doc_id"), col("c.p").as("p"), col("c.ch").as("ch"))
    val firsts = ex.groupBy(col("ch"))
      .agg(min(struct(col("doc_id"), col("p"))).as("f"))
    val kept = ex.join(firsts, "ch")
      .where(col("doc_id") === col("f.doc_id") && col("p") === col("f.p"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("p"))).as("ps"),
        count(lit(1)).as("n_kept"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), n.cast("long").as("n_words"),
        nc.cast("long").as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        concat_ws(" ", concat(
          flatten(transform(coalesce(col("ps"),
            array().cast("array<int>")), Chunks.of(_))),
          slice(words, nc * W + 1, n - nc * W))).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic token-budget sampling: per language, keep documents
    * in doc-hash order until the cumulative token count reaches the
    * budget (here: half the language's token mass — self-scaling, so
    * the rule is non-degenerate at every SF). A doc is kept iff the
    * token sum of all docs BEFORE it (order = (hash, doc_id)) is under
    * budget, so the kept set is a hash-prefix: reproducible, and stable
    * in expectation under corpus growth.
    *
    * The scale shape is a TWO-LEVEL PREFIX SUM. A naive
    * `sum over (partition by lang order by hash)` window sorts each
    * language's entire corpus through one partition — unbounded fan-in
    * at 10^9 docs/language. Instead: bucket = the hash's top-12-bit
    * signed prefix (`shiftright(h, 52)` — arithmetic shift preserves
    * signed order, so bucket order IS hash order); (lang × 4096)
    * per-bucket token sums are a tiny agg whose running offsets
    * broadcast; the doc-level prefix is a window partitioned by
    * (lang, bucket) — fan-in n/4096, bounded and skew-free (hash
    * buckets are uniform by construction). cum_before = bucket offset
    * + in-bucket prefix, then the keep rule is a stateless filter.
    * All arithmetic is exact BIGINT. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("nt"),
        Hash64.md5_64(concat(lit("budget|"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("bk", shiftright(col("h"), 52).cast("int"))
    val bh = d.groupBy(col("lang"), col("bk")).agg(sum(col("nt")).as("bt"))
    val off = bh.select(col("lang"), col("bk"),
      coalesce(sum(col("bt")).over(
        W.partitionBy(col("lang")).orderBy(col("bk"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)).as("bko"))
    val budget = bh.groupBy(col("lang")).agg(sum(col("bt")).as("t"))
      .select(col("lang"), expr("t div 2").as("budget"))
    val wd = W.partitionBy(col("lang"), col("bk"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    d.withColumn("inb", coalesce(sum(col("nt")).over(wd), lit(0L)))
      .join(broadcast(off), Seq("lang", "bk"))
      .join(broadcast(budget), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("nt").as("n_tokens"),
        (col("bko") + col("inb")).as("cum_before"), col("budget"))
      .where(col("cum_before") < col("budget"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source contamination matrix: for every pair of sources, how
    * many distinct 8-word chunks they share (same "chunk|" fingerprint
    * domain as q_chunk_dedup/q_chunk_rewrite), plus each side's
    * distinct-chunk count and the containment fraction
    * shared / min(n_a, n_b) — the diagnostic a curation pass reads to
    * find mirror domains and shared boilerplate before dedup.
    *
    * Scale shape: the corpus-side work is one explode → distinct
    * (source, chunk-hash) — both fixed-width after the map-side hash —
    * then a self equi-join ON THE CHUNK KEY. Output is bounded by
    * sources², not docs²; a chunk shared by s sources contributes
    * s·(s−1)/2 pairs, so production first drops stop-chunks above a
    * document-frequency ceiling (the q_chunk_dedup counts are exactly
    * that table). Counts are exact integers; containment is a single
    * division of identical integers on both engines. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.documents(spark, dir)
      .select(col("source"), Chunks.splitText)
      .select(col("source"), explode(transform(Chunks.idx, Chunks.hash(_)))
        .as("ch"))
      .distinct()
    val n = e.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    val p = e.select(col("source").as("src_a"), col("ch"))
      .join(e.select(col("source").as("src_b"), col("ch")), Seq("ch"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared"))
    p.join(n.select(col("source").as("src_a"), col("nd").as("n_a")),
        Seq("src_a"))
      .join(n.select(col("source").as("src_b"), col("nd").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        col("n_a"), col("n_b"),
        (col("shared") / least(col("n_a"), col("n_b"))).as("containment"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** BPE tokenizer-training merges ([[graft.operators.Bpe]]): the first
    * 3 merge rounds over the corpus's tf-weighted word-frequency table,
    * one row per round — (round, a, b, cnt, merged). The corpus-scale
    * work is the single word-frequency aggregation; every round after
    * that is vocab-sized (pair-count agg + top-1 + broadcast-rewrite,
    * no driver collect). The oracle unrolls the 3 rounds as chained
    * CTEs, reproducing greedy left-to-right merging through the same
    * delimiter-wrapped replace() both engines implement identically. */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    graft.operators.Bpe.mergeRounds(wf, 3)
  }

  /** Tokenizer APPLICATION: segment every document with the 3-merge BPE
    * vocab ([[qBpeMerges]]'s training) and report per-doc token counts
    * and the chars-per-token compression ratio — the statistic a
    * data-mixture pass budgets with. The scale shape is the point: the
    * trained vocab (w → merged symbol count) is VOCAB-sized, so the
    * corpus join broadcasts, and no document is ever re-segmented
    * per-word — segmentation happened once per DISTINCT word during
    * training. Counts are exact BIGINTs; the ratio is one division of
    * identical integers on both engines. */
  def qBpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wf = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    val tok = graft.operators.Bpe.trainedVocab(wf, 3)
      .select(col("w"), size(col("syms")).cast("long").as("ntw"),
        length(col("w")).cast("long").as("ncw"))
    docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(tok, Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("ntw")).as("n_tokens"),
        sum(col("ncw")).as("n_chars"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        (col("n_chars") / col("n_tokens")).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------

  val gate: Map[String, Gate] = Map(
    "q_sample_split" -> Gate(qSampleSplit,
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    ${signed(md5u64("'split|' || doc_id::VARCHAR"))} AS h
         |  FROM documents),
         |b AS (SELECT doc_id, lang, h, ((h % 100) + 100) % 100 AS bucket
         |      FROM s)
         |SELECT doc_id, lang, h, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin),
    "q_distinct_kmv" -> Gate(qDistinctKmv,
      s"""WITH t AS (
         |  SELECT lang, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT lang, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         |  FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(i)),
         |w AS (SELECT DISTINCT lang, ${md5u64("sh")} AS hu FROM g),
         |r AS (
         |  SELECT lang, hu,
         |    row_number() OVER (PARTITION BY lang ORDER BY hu) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS nd
         |  FROM w)
         |SELECT lang, nd AS n_exact, ${signed("hu")} AS kth_hash,
         |  CASE WHEN nd < $K THEN nd
         |       ELSE (${Numer}::HUGEINT
         |             // greatest(hu // 4294967296, 1))::BIGINT END
         |    AS est_distinct
         |FROM r WHERE rk = least(nd, $K)
         |ORDER BY lang""".stripMargin),
    "q_tfidf_topterms" -> Gate(qTfidfTopterms,
      """WITH w AS (
        |  SELECT doc_id, u.word AS term
        |  FROM documents, unnest(string_split(text, ' ')) AS u(word)),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * (1000000000000 // df.df) AS score
        |  FROM tf JOIN df USING (term)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rk
        |  FROM s)
        |SELECT doc_id, rk, term, tf, df, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin),
    "q_gopher_repetition" -> Gate(qGopherRepetition,
      """WITH tt AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, lang, ws[i] AS w, i
        |  FROM tt, unnest(generate_series(1, len(ws))) AS u(i)),
        |n AS (
        |  SELECT doc_id, lang, count(*) AS n,
        |    sum(length(w))::BIGINT AS sum_chars, count(DISTINCT w) AS ndw
        |  FROM w GROUP BY 1, 2),
        |wt AS (
        |  SELECT doc_id, w, cnt FROM (
        |    SELECT doc_id, w, count(*) AS cnt, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY count(*) DESC, w DESC) AS rk
        |    FROM w GROUP BY doc_id, w) WHERE rk = 1),
        |bg AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
        |bn AS (SELECT doc_id, count(*) AS nb, count(DISTINCT g) AS ndb
        |       FROM bg GROUP BY 1),
        |bt AS (
        |  SELECT doc_id, g, cnt FROM (
        |    SELECT doc_id, g, count(*) AS cnt, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY count(*) DESC, g DESC) AS rk
        |    FROM bg GROUP BY doc_id, g) WHERE rk = 1)
        |SELECT n.doc_id, n.lang, n.n AS n_words,
        |  n.ndw / n.n AS ttr,
        |  wt.w AS top_word, wt.cnt AS top_word_cnt,
        |  wt.cnt * length(wt.w) / n.sum_chars AS top_word_char_frac,
        |  bt.g AS top_bigram, bt.cnt AS top_bigram_cnt,
        |  bt.cnt / bn.nb AS top_bigram_frac,
        |  CASE WHEN n.n >= 2 THEN 1 - bn.ndb / bn.nb END
        |    AS dup_bigram_frac,
        |  CASE WHEN n.n >= 2 THEN
        |    (n.ndw / n.n >= 0.30
        |     AND wt.cnt * length(wt.w) / n.sum_chars <= 0.10
        |     AND 1 - bn.ndb / bn.nb <= 0.10) END AS keep
        |FROM n
        |JOIN wt USING (doc_id)
        |LEFT JOIN bn USING (doc_id)
        |LEFT JOIN bt USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "q_unigram_logprob" -> Gate(qUnigramLogprob,
      """WITH w AS (
        |  SELECT doc_id, lang, u.w AS w
        |  FROM documents, unnest(string_split(text, ' ')) AS u(w)),
        |tf AS (SELECT doc_id, lang, w, count(*) AS tf
        |       FROM w GROUP BY 1, 2, 3),
        |v AS (SELECT w, sum(tf)::BIGINT AS c FROM tf GROUP BY 1),
        |t AS (SELECT sum(c)::BIGINT AS t FROM v),
        |s AS (SELECT w, round(ln(t.t / v.c) * 1000000 + 0.001, 0)::BIGINT
        |        AS lp_u6
        |      FROM v, t),
        |d AS (
        |  SELECT tf.doc_id, tf.lang, sum(tf.tf)::BIGINT AS n_words,
        |         sum(tf.tf * s.lp_u6)::BIGINT AS nll_u6
        |  FROM tf JOIN s USING (w) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_words, nll_u6,
        |  nll_u6 / (n_words * 1000000) AS mean_nll
        |FROM d ORDER BY doc_id""".stripMargin),
    "q_stratified_sample" -> Gate(qStratifiedSample,
      s"""WITH c AS (
         |  SELECT doc_id, lang,
         |    count(*) OVER (PARTITION BY lang) AS c_lang,
         |    ${signed(md5u64("'strat|' || doc_id::VARCHAR"))} AS h
         |  FROM documents),
         |t AS (SELECT *, min(c_lang) OVER () AS target,
         |        ((h % c_lang) + c_lang) % c_lang AS hmod
         |      FROM c)
         |SELECT doc_id, lang, c_lang, target, hmod
         |FROM t WHERE hmod < target ORDER BY doc_id""".stripMargin),
    "q_source_caps" -> Gate(qSourceCaps,
      s"""WITH s AS (
         |  SELECT doc_id, source,
         |    ${md5u64("'cap|' || doc_id::VARCHAR")} AS hu
         |  FROM documents),
         |r AS (
         |  SELECT source, hu AS kthu,
         |    row_number() OVER (PARTITION BY source ORDER BY hu) AS rk,
         |    count(*) OVER (PARTITION BY source) AS nd
         |  FROM (SELECT DISTINCT source, hu FROM s)),
         |t AS (SELECT source, kthu FROM r WHERE rk = least(nd, 16)),
         |n AS (SELECT source, count(*) AS n_src FROM s GROUP BY 1)
         |SELECT s.doc_id, s.source, ${signed("s.hu")} AS h,
         |  ${signed("t.kthu")} AS kth, n.n_src
         |FROM s JOIN t USING (source) JOIN n USING (source)
         |WHERE s.hu <= t.kthu ORDER BY s.doc_id""".stripMargin),
    "q_chunk_dedup" -> Gate(qChunkDedup,
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ws
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    ${md5u64(
               "'chunk|' || list_aggregate(ws[i:i+7], 'string_agg', ' ')")}
         |      AS ch
         |  FROM t, unnest(generate_series(1, len(ws) - 7, 8)) AS u(i)),
         |g AS (SELECT ch, count(*) AS occ FROM c GROUP BY 1),
         |d AS (
         |  SELECT c.doc_id, count(*) AS n_chunks,
         |    count(CASE WHEN g.occ >= 2 THEN 1 END) AS n_dup
         |  FROM c JOIN g USING (ch) GROUP BY 1)
         |SELECT t.doc_id, t.lang, len(t.ws)::BIGINT AS n_words,
         |  coalesce(d.n_chunks, 0)::BIGINT AS n_chunks,
         |  coalesce(d.n_dup, 0)::BIGINT AS n_dup,
         |  CASE WHEN d.n_chunks > 0 THEN d.n_dup / d.n_chunks END
         |    AS dup_frac,
         |  CASE WHEN d.n_chunks > 0 THEN d.n_dup / d.n_chunks <= 0.25 END
         |    AS keep
         |FROM t LEFT JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    "q_chunk_rewrite" -> Gate(qChunkRewrite,
      s"""WITH x AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS ws,
         |    len(string_split(text, ' ')) AS n,
         |    len(string_split(text, ' ')) // 8 AS nc
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, u.i AS p,
         |    ${md5u64(
               "'chunk|' || list_aggregate(ws[u.i*8+1:u.i*8+8], " +
               "'string_agg', ' ')")} AS ch
         |  FROM x, unnest(generate_series(0, nc - 1)) AS u(i)),
         |k AS (
         |  SELECT doc_id, p, row_number() OVER (
         |    PARTITION BY ch ORDER BY doc_id, p) AS rk
         |  FROM c),
         |g AS (
         |  SELECT doc_id, list(p ORDER BY p) AS ps, count(*) AS n_kept
         |  FROM k WHERE rk = 1 GROUP BY doc_id)
         |SELECT x.doc_id, x.lang, x.n::BIGINT AS n_words,
         |  x.nc::BIGINT AS n_chunks,
         |  coalesce(g.n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(array_to_string(list_concat(
         |    flatten(list_transform(coalesce(g.ps, []),
         |      p -> ws[p*8+1:p*8+8])),
         |    ws[nc*8+1:n]), ' '), '') AS text_clean
         |FROM x LEFT JOIN g USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    "q_token_budget" -> Gate(qTokenBudget,
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' '))::BIGINT AS nt,
         |    ${signed(md5u64("'budget|' || doc_id::VARCHAR"))} AS h
         |  FROM documents),
         |b AS (SELECT lang, (sum(nt) // 2)::BIGINT AS budget
         |  FROM d GROUP BY 1),
         |c AS (
         |  SELECT doc_id, lang, nt,
         |    coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0)::BIGINT AS cum_before
         |  FROM d)
         |SELECT c.doc_id, c.lang, c.nt AS n_tokens, c.cum_before, b.budget
         |FROM c JOIN b USING (lang) WHERE c.cum_before < b.budget
         |ORDER BY doc_id""".stripMargin),
    "q_source_overlap" -> Gate(qSourceOverlap,
      s"""WITH x AS (
         |  SELECT source, string_split(text, ' ') AS ws,
         |    len(string_split(text, ' ')) // 8 AS nc
         |  FROM documents),
         |e AS (
         |  SELECT DISTINCT source,
         |    ${signed(md5u64(
              "'chunk|' || list_aggregate(ws[u.i*8+1:u.i*8+8], " +
              "'string_agg', ' ')"))} AS ch
         |  FROM x, unnest(generate_series(0, nc - 1)) AS u(i)),
         |n AS (SELECT source, count(*)::BIGINT AS nd FROM e GROUP BY 1),
         |p AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    count(*)::BIGINT AS shared
         |  FROM e a JOIN e b ON a.ch = b.ch AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.shared, na.nd AS n_a, nb.nd AS n_b,
         |  p.shared / least(na.nd, nb.nd) AS containment
         |FROM p
         |JOIN n na ON na.source = p.src_a
         |JOIN n nb ON nb.source = p.src_b
         |ORDER BY src_a, src_b""".stripMargin),
    "q_bpe_merges" -> Gate(qBpeMerges, bpeChainSql + """
         |SELECT 1 AS round, a, b, cnt, a || b AS merged FROM b1
         |UNION ALL SELECT 2, a, b, cnt, a || b FROM b2
         |UNION ALL SELECT 3, a, b, cnt, a || b FROM b3
         |ORDER BY round""".stripMargin),
    "q_bpe_tokenize" -> Gate(qBpeTokenize, bpeChainSql + """,
         |tok AS (
         |  SELECT w, len(syms)::BIGINT AS ntw, len(w)::BIGINT AS ncw
         |  FROM s3),
         |dw AS (
         |  SELECT doc_id, lang, u.w FROM (
         |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents) u
         |  WHERE len(u.w) > 0)
         |SELECT dw.doc_id, dw.lang, count(*)::BIGINT AS n_words,
         |  sum(tok.ntw)::BIGINT AS n_tokens,
         |  sum(tok.ncw)::BIGINT AS n_chars,
         |  sum(tok.ncw) / sum(tok.ntw) AS chars_per_token
         |FROM dw JOIN tok USING (w)
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)
  )

  /** The 3-round BPE training replay ([[qBpeMerges]] scaladoc): word
    * frequencies, char-split symbol state s0, then per round r the pair
    * counts p_r, the winner b_r, and the rewritten state s_r through
    * the same delimiter-wrapped replace() the engine uses. (lazy:
    * referenced by `gate` above.) */
  private lazy val bpeChainSql: String = {
    def round(r: Int): String =
      s"""p$r AS (
         |  SELECT y.a, y.b, sum(y.tf)::BIGINT AS cnt FROM (
         |    SELECT tf, syms[t.i] AS a, syms[t.i + 1] AS b
         |    FROM s${r - 1},
         |      unnest(generate_series(1, len(syms) - 1)) AS t(i)) y
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, cnt FROM p$r
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (
         |  SELECT w, tf, str,
         |    string_split(substr(str, 2, len(str) - 2), '||') AS syms
         |  FROM (
         |    SELECT s.w, s.tf,
         |      replace(s.str, '|' || b.a || '||' || b.b || '|',
         |        '|' || b.a || b.b || '|') AS str
         |    FROM s${r - 1} s, b$r b))""".stripMargin
    s"""WITH wf AS (
       |  SELECT w, count(*)::BIGINT AS tf FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |s0 AS (SELECT w, tf,
       |  '|' || array_to_string(string_split(w, ''), '||') || '|' AS str,
       |  string_split(w, '') AS syms FROM wf),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }
}
