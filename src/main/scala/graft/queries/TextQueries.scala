package graft.queries

import graft.Harness.Gate
import graft.core.Tables
import graft.operators.Windows
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokens-table pipeline + training-data text ops over `documents`.
  *
  * The tokens table (north-rule input shape: doc_id, tokens:array<int>,
  * n_tok) is derived DETERMINISTICALLY from documents.text as per-word
  * lengths — the identical derivation is written in the DuckDB oracle, so
  * the whole pipeline (build → explode → window → n-gram) is hash-checked
  * end-to-end. All outputs are integer-derived (exact in both engines,
  * no rounding needed) unless noted.
  */
object TextQueries {

  private def toks: Column =
    transform(split(col("text"), " "), w => length(w))

  /** Tokens-table construction: schema + per-row invariants
    * (n_tok = size(tokens), first/last/sum of the token array). */
  def qTokensBuild(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tok"),
        aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("tok_sum"),
        array_max(col("tokens")).cast("long").as("tok_max"),
        element_at(col("tokens"), 1).cast("long").as("tok_first"),
        element_at(col("tokens"), -1).cast("long").as("tok_last"))
      .orderBy(col("doc_id"))
  }

  /** Exploded sequence view + per-doc rolling window over token positions
    * (posexplode = the engine's tokens→SeqPoint contract; window = count
    * windows over pos). Anchors every 4th position. */
  def qTokensWindow(spark: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok").cast("long").as("tok"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val f = w.rowsBetween(-7, 0)
    val s1 = sum(col("tok")).over(f)
    val s2 = sum(col("tok") * col("tok")).over(f)
    val nf = count(lit(1)).over(f)
    val m = s1 / nf
    exploded.select(col("doc_id"), col("pos"), col("tok"),
      (s1 / nf).as("w_mean"),
      sqrt(s2 / nf - m * m).as("w_std"))
      .where((col("pos") - 1) % 4 === 0)
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Sequence n-gram profile: distinct unigrams/bigrams per doc (token
    * vocabulary features for training-data curation). */
  def qTokensBigrams(spark: SparkSession, dir: String): DataFrame = {
    val exploded = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    exploded
      .withColumn("bigram", col("tok") * 1000 + lead(col("tok"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_unigram"),
        countDistinct(col("bigram")).as("n_bigram"))
      .orderBy(col("doc_id"))
  }

  /** Exact deduplication: content-hash groups with representative doc
    * (min doc_id) — the hash-groupBy dedup pattern. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("rep_doc"))
      .orderBy(col("content_hash"))
  }

  /** Near-duplicate detection by exact word-level Jaccard over doc pairs
    * (doc_id < 120): inverted-index self-join — the exact counterpart the
    * MinHash/LSH path approximates. Integer-ratio output, unrounded. */
  def qWordJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).where(col("doc_id") < 120)
    val words = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("word"))
    val nWords = words.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"))
    val a = words.as("a")
    val b = words.as("b")
    val inter = a.join(b, col("a.word") === col("b.word") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(nWords.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("nw", "na"), Seq("a_id"))
      .join(nWords.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("nw", "nb"), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("inter") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .where(col("jaccard") >= 0.25)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Text quality scoring: word/char counts, mean word length, stopword
    * ratio, BPE-ish token estimate, composite quality score. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on",
      "for", "with", "as", "by", "at", "from", "or", "an")
    val words = split(col("text"), " ")
    val nWords = size(words)
    val sumLen = aggregate(toks, lit(0), (acc, x) => acc + x)
    val nStop = size(filter(words, w => w.isInCollection(stops)))
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      nWords.cast("long").as("n_words"),
      col("n_chars"),
      (sumLen / nWords).as("avg_word_len"),
      (nStop / nWords.cast("double")).as("stop_ratio"),
      ceil(col("n_chars") / 4.0).cast("long").as("bpe_est"),
      (nStop / nWords.cast("double") * 0.5 +
        least(nWords / 100.0, lit(1.0)) * 0.5).as("quality_score")
    ).orderBy(col("doc_id"))
  }

  /** Heuristic language ID from English-stopword density, compared to the
    * labeled lang column. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on",
      "for", "with", "as", "by", "at", "from", "or", "an")
    val words = split(col("text"), " ")
    val ratio = size(filter(words, w => w.isInCollection(stops))) /
      size(words).cast("double")
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      ratio.as("en_stop_ratio"),
      when(ratio >= 0.05, "en").otherwise("other").as("pred_lang"),
      (when(ratio >= 0.05, "en").otherwise("other") === col("lang"))
        .as("agree")
    ).orderBy(col("doc_id"))
  }

  // The fingerprint scheme of q_doc_fingerprint and q_decontaminate:
  // polynomial k-gram hashes mod M, winnowed over windows of W.
  private val M = 1000000007L
  private val B = 131L
  private val K = 8
  private val W = 4
  private def polyHash(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => (acc * B + x) % M)
  // Each array is materialized as a column ATTRIBUTE before the next
  // higher-order function consumes it: an expression referenced inside
  // a transform() lambda is re-evaluated PER ELEMENT, so nesting the
  // token-split inside the k-gram lambda is O(n²) per document (took
  // 305 s at sf0.1). Multiple references to each alias stop
  // CollapseProject from inlining them back.
  // k-gram rolling hashes; sequence() descends for short docs — guard
  private def kgOf(tk: Column): Column = when(size(tk) >= K,
    transform(sequence(lit(0), size(tk) - K), i =>
      polyHash(slice(tk, i + 1, lit(K)))))
    .otherwise(array().cast("array<bigint>"))
  // winnowing: one fingerprint (min) per window of W k-gram hashes
  private def winsOf(kg: Column): Column = when(size(kg) >= W,
    transform(sequence(lit(0), size(kg) - W), i =>
      array_min(slice(kg, i + 1, lit(W)))))
    .otherwise(array().cast("array<bigint>"))

  /** Document fingerprinting (rolling hash + winnowing, the MOSS
    * scheme): polynomial hash h(g) = Σ t_j·B^(k−1−j) mod M over each
    * k-gram of the token stream, then one fingerprint per window of W
    * consecutive k-gram hashes (the window minimum) — the fingerprint
    * SET identifies near-identical passages at any scale. Everything is
    * exact 64-bit integer arithmetic (B=131, M=1e9+7: acc·B+x < 2^63),
    * per-row array work with zero joins. Also emits a BPE-ish regex
    * token count (greedy ≤4-char chunks — identical in Java regex and
    * RE2 for this corpus's [a-z ] alphabet). */
  def qDocFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), toks.as("tk"))
      .select(col("doc_id"), col("text"), col("tk"),
        kgOf(col("tk")).as("kg"))
      .select(col("doc_id"), col("kg"),
        array_distinct(winsOf(col("kg"))).as("fps"),
        polyHash(col("tk")).as("full_hash"),
        size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .select(col("doc_id"),
        size(col("kg")).cast("long").as("n_kgrams"),
        col("full_hash"),
        size(col("fps")).cast("long").as("n_fp"),
        aggregate(col("fps"), lit(0L), (a, x) => a + x).as("fp_sum"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"),
        col("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Train/eval DECONTAMINATION — the n-gram overlap check every
    * training-data pipeline runs before a model sees the corpus: does a
    * training document contain an eval document's passages? Documents
    * with doc_id >= 450 play the eval set; contamination = shared
    * winnowed 8-gram fingerprints (the qDocFingerprint scheme — MOSS
    * winnowing guarantees any shared passage >= k+w-1 tokens leaves a
    * shared fingerprint). Per eval doc: how many of its fingerprints
    * appear in training docs, how many distinct training docs hit, and
    * the worst offender. Scale shape: per-row fingerprinting (zero
    * joins) then ONE equi-join on the fingerprint value — partitionable
    * at any corpus size, exactly like the dedup family. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // cache: three consumers (counts, hits, worst) would otherwise
    // re-run the per-row polyHash fingerprinting — the dominant cost —
    // once each (the minhash signature-table lesson); ~30 rows/doc
    val fp = graft.core.Caches.cachedCompact(Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), kgOf(col("tk")).as("kg"))
      .select(col("doc_id"),
        explode(array_distinct(winsOf(col("kg")))).as("fp")))
    val train = fp.where(col("doc_id") < 450)
      .select(col("doc_id").as("train_id"), col("fp"))
    val eval_ = fp.where(col("doc_id") >= 450)
      .select(col("doc_id").as("eval_id"), col("fp"))
    val nFp = eval_.groupBy(col("eval_id")).agg(count(lit(1)).as("n_fp"))
    // cache the contaminated-pair join: the hits agg and the worst-
    // offender ranking both consume it (it ran once per consumer)
    val shared = graft.core.Caches.cachedCompact(
      eval_.join(train, Seq("fp")))
    val hits = shared
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("fp")).as("n_shared_fp"),
        countDistinct(col("train_id")).as("n_train_docs"))
    val worst = shared
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("pair_fps"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("eval_id"))
          .orderBy(col("pair_fps").desc, col("train_id"))).cast("long"))
      .where(col("rk") === 1)
      .select(col("eval_id"), col("train_id").as("worst_train_doc"),
        col("pair_fps").as("worst_shared"))
    nFp.join(hits, Seq("eval_id"), "left")
      .join(worst, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_fp"),
        coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        (coalesce(col("n_shared_fp"), lit(0L)) / col("n_fp").cast("double"))
          .as("contamination"),
        col("worst_train_doc"), col("worst_shared"))
      .orderBy(col("eval_id"))
  }

  /** Multimodal-column plumbing: text bytes treated as an opaque binary
    * payload with typed metadata; the decode step is a clearly-marked
    * deterministic STUB (no image/audio libs in this container) — the
    * schema/partitioning/metadata path is the real, tested part. */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val payload = col("text").cast("binary")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("byte_len"),
      substring(md5(payload), 1, 8).as("sig"),
      // STUB decode: deterministic fake image metadata derived from size.
      (lit(32) + col("n_chars") % 224).as("fake_width"),
      (lit(32) + (col("n_chars") * 7) % 224).as("fake_height"),
      (lit(1) + col("n_chars") % 16).as("fake_frames")
    ).orderBy(col("doc_id"))
  }

  val gate: Map[String, Gate] = Map(
    "q_tokens_build" -> Gate(qTokensBuild,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '), w -> length(w)) AS tokens
        |  FROM documents)
        |SELECT doc_id, len(tokens) AS n_tok,
        |  list_sum(tokens)::BIGINT AS tok_sum,
        |  list_max(tokens) AS tok_max,
        |  tokens[1] AS tok_first,
        |  tokens[len(tokens)] AS tok_last
        |FROM t ORDER BY doc_id""".stripMargin),
    "q_tokens_window" -> Gate(qTokensWindow,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '), w -> length(w)) AS tokens
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, i AS pos, tokens[i] AS tok
        |  FROM t, unnest(generate_series(1, len(tokens))) AS u(i)),
        |s AS (
        |  SELECT doc_id, pos, tok,
        |    sum(tok) OVER f / count(*) OVER f AS w_mean,
        |    sqrt(sum(tok*tok) OVER f / count(*) OVER f
        |      - (sum(tok) OVER f / count(*) OVER f)
        |        * (sum(tok) OVER f / count(*) OVER f)) AS w_std
        |  FROM e
        |  WINDOW f AS (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT * FROM s WHERE (pos - 1) % 4 = 0
        |ORDER BY doc_id, pos""".stripMargin),
    "q_tokens_bigrams" -> Gate(qTokensBigrams,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '), w -> length(w)) AS tokens
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, i AS pos, tokens[i] AS tok
        |  FROM t, unnest(generate_series(1, len(tokens))) AS u(i)),
        |g AS (
        |  SELECT doc_id, tok,
        |    tok * 1000 + lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS bigram
        |  FROM e)
        |SELECT doc_id, count(*) AS n_tok,
        |  count(DISTINCT tok) AS n_unigram,
        |  count(DISTINCT bigram) AS n_bigram
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q_doc_fingerprint" -> Gate(qDocFingerprint,
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_transform(string_split(text, ' '), w -> length(w)) AS tokens
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, text, tokens,
        |    CASE WHEN len(tokens) >= 8 THEN
        |      list_transform(generate_series(0, len(tokens) - 8), i ->
        |        list_reduce(list_prepend(0::BIGINT,
        |            list_slice(tokens, i + 1, i + 8)),
        |          (acc, x) -> (acc * 131 + x) % 1000000007))
        |    ELSE [] END AS kg
        |  FROM t),
        |w AS (
        |  SELECT doc_id, text, tokens, kg,
        |    list_distinct(CASE WHEN len(kg) >= 4 THEN
        |      list_transform(generate_series(0, len(kg) - 4), i ->
        |        list_min(list_slice(kg, i + 1, i + 4)))
        |    ELSE [] END) AS fps
        |  FROM k)
        |SELECT doc_id,
        |  len(kg)::BIGINT AS n_kgrams,
        |  list_reduce(list_prepend(0::BIGINT, tokens),
        |    (acc, x) -> (acc * 131 + x) % 1000000007) AS full_hash,
        |  len(fps)::BIGINT AS n_fp,
        |  coalesce(list_sum(fps)::BIGINT, 0) AS fp_sum,
        |  list_min(fps) AS fp_min,
        |  list_max(fps) AS fp_max,
        |  len(regexp_extract_all(text, '[a-z]{1,4}'))::BIGINT
        |    AS n_bpe_tokens
        |FROM w ORDER BY doc_id""".stripMargin),
    "q_decontaminate" -> Gate(qDecontaminate,
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '), w -> length(w)) AS tokens
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tokens) >= 8 THEN
        |      list_transform(generate_series(0, len(tokens) - 8), i ->
        |        list_reduce(list_prepend(0::BIGINT,
        |            list_slice(tokens, i + 1, i + 8)),
        |          (acc, x) -> (acc * 131 + x) % 1000000007))
        |    ELSE [] END AS kg
        |  FROM t),
        |w AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(kg) >= 4 THEN
        |      list_transform(generate_series(0, len(kg) - 4), i ->
        |        list_min(list_slice(kg, i + 1, i + 4)))
        |    ELSE [] END) AS fps
        |  FROM k),
        |fpx AS (SELECT doc_id, u.fp FROM w, unnest(fps) AS u(fp)),
        |train AS (SELECT doc_id AS train_id, fp FROM fpx WHERE doc_id < 450),
        |ev AS (SELECT doc_id AS eval_id, fp FROM fpx WHERE doc_id >= 450),
        |nfp AS (SELECT eval_id, count(*) AS n_fp FROM ev GROUP BY 1),
        |hits AS (
        |  SELECT eval_id, count(DISTINCT fp) AS n_shared_fp,
        |    count(DISTINCT train_id) AS n_train_docs
        |  FROM ev JOIN train USING (fp) GROUP BY 1),
        |worst AS (
        |  SELECT eval_id, train_id AS worst_train_doc,
        |    pair_fps AS worst_shared
        |  FROM (
        |    SELECT e.eval_id, tr.train_id, count(*) AS pair_fps,
        |      row_number() OVER (PARTITION BY e.eval_id
        |        ORDER BY count(*) DESC, tr.train_id) AS rk
        |    FROM ev e JOIN train tr USING (fp)
        |    GROUP BY 1, 2)
        |  WHERE rk = 1)
        |SELECT n.eval_id, n.n_fp,
        |  coalesce(h.n_shared_fp, 0) AS n_shared_fp,
        |  coalesce(h.n_train_docs, 0) AS n_train_docs,
        |  coalesce(h.n_shared_fp, 0) / n.n_fp::DOUBLE AS contamination,
        |  wr.worst_train_doc, wr.worst_shared
        |FROM nfp n
        |LEFT JOIN hits h USING (eval_id)
        |LEFT JOIN worst wr USING (eval_id)
        |ORDER BY eval_id""".stripMargin),
    "q_dedup_exact" -> Gate(qDedupExact,
      """SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |  min(doc_id) AS rep_doc
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin),
    "q_word_jaccard" -> Gate(qWordJaccard,
      """WITH w AS (
        |  SELECT DISTINCT doc_id, u.word
        |  FROM documents, unnest(string_split(text, ' ')) AS u(word)
        |  WHERE doc_id < 120),
        |nw AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter,
        |  inter / (na.nw + nb.nw - inter) AS jaccard
        |FROM inter
        |JOIN nw na ON na.doc_id = a_id
        |JOIN nw nb ON nb.doc_id = b_id
        |WHERE inter / (na.nw + nb.nw - inter) >= 0.25
        |ORDER BY a_id, b_id""".stripMargin),
    "q_text_quality" -> Gate(qTextQuality,
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    string_split(text, ' ') AS words,
        |    list_transform(string_split(text, ' '), w -> length(w)) AS toks
        |  FROM documents)
        |SELECT doc_id, lang,
        |  len(words) AS n_words,
        |  n_chars,
        |  list_sum(toks) / len(words) AS avg_word_len,
        |  len(list_filter(words, w -> w IN ('the','a','of','and','to','in',
        |    'is','on','for','with','as','by','at','from','or','an')))
        |    / len(words)::DOUBLE AS stop_ratio,
        |  ceil(n_chars / 4.0)::BIGINT AS bpe_est,
        |  len(list_filter(words, w -> w IN ('the','a','of','and','to','in',
        |    'is','on','for','with','as','by','at','from','or','an')))
        |    / len(words)::DOUBLE * 0.5
        |    + least(len(words) / 100.0, 1.0) * 0.5 AS quality_score
        |FROM t ORDER BY doc_id""".stripMargin),
    "q_lang_id" -> Gate(qLangId,
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), w -> w IN ('the','a',
        |      'of','and','to','in','is','on','for','with','as','by','at',
        |      'from','or','an')))
        |      / len(string_split(text, ' '))::DOUBLE AS ratio
        |  FROM documents)
        |SELECT doc_id, lang, ratio AS en_stop_ratio,
        |  CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
        |  (CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END) = lang
        |    AS agree
        |FROM t ORDER BY doc_id""".stripMargin),
    "q_multimodal_meta" -> Gate(qMultimodalMeta,
      """SELECT doc_id,
        |  strlen(text) AS byte_len,
        |  substr(md5(text), 1, 8) AS sig,
        |  32 + n_chars % 224 AS fake_width,
        |  32 + (n_chars * 7) % 224 AS fake_height,
        |  1 + n_chars % 16 AS fake_frames
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
