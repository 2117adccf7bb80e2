package graft.queries

import graft.core.Tables
import graft.functions.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RQA run-length family (reference: pymhealth src/mhealth/generic/rqa.py
  * :115-187 — SURVEY.md §2.7): diagonal/vertical line lengths of the
  * recurrence matrix and the Shannon entropy of the diagonal-length
  * histogram. The matrix is never materialized — recurrent pairs become
  * rows and run lengths fall out of the gaps-and-islands pattern
  * (island id = i − row_number() within a diagonal/column group), the
  * same machinery as sessionization.
  *
  * Conventions preserved from the reference DP: a run of L contiguous
  * recurrent cells reports length L (rqa.py's `out += 1` after the
  * accumulate-and-reset scan); lengths < minlen (=2) are dropped; the
  * diagonal-length HISTOGRAM covers lengths [minlen, N−1] — the
  * reference's `_dlen_counts` writes index N out of bounds for the
  * always-true main diagonal (rqa.py:184-187, latent OOB under numba),
  * which we express as dropping length-N runs.
  */
object RqaQueries {

  private val N = 64
  private val R = 2000L
  private val MinLen = 2

  def qRqaLengths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pts = Tables.events(spark, dir)
      .select(col("user_id"), Tables.b100(col("value")).as("b"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= N)
    val a = pts.select(col("user_id"), col("rn").as("i"), col("b").as("bi"))
    val b = pts.select(col("user_id").as("u2"), col("rn").as("j"),
      col("b").as("bj"))
    // full symmetric matrix incl. the main diagonal (i == j); cached:
    // three independent run-length scans (diagonal, vertical,
    // laminarity) consume it, and each would otherwise re-run the
    // bounded self-join (capped at 64 rows/entity — a query constant)
    val pairs = graft.core.Caches.cached(
      a.join(b, col("user_id") === col("u2"))
        .where(abs(col("bi") - col("bj")) <= R)
        .select(col("user_id"), col("i"), col("j")))

    def runLengths(groupCol: org.apache.spark.sql.Column,
                   name: String): DataFrame = {
      pairs
        .withColumn("__g", groupCol)
        .withColumn("__island", col("i") - row_number().over(
          Window.partitionBy(col("user_id"), col("__g"))
            .orderBy(col("i"))))
        .groupBy(col("user_id"), col("__g"), col("__island"))
        .agg(count(lit(1)).as("len"))
        .where(col("len") >= MinLen)
    }

    // cached: the diagonal run-length table feeds both the stats agg
    // and the length histogram — the window + agg chain otherwise runs
    // twice (runs are ≤ N·|entities| rows, tiny at any scale)
    val diag = graft.core.Caches.cachedCompact(
      runLengths(col("j") - col("i"), "diag")
        .where(col("len") <= N - 1)) // reference histogram bound (OOB quirk)
    val vert = runLengths(col("j"), "vert")

    val diagStats = diag.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_diag_runs"),
      sum(col("len")).as("diag_len_sum"),
      max(col("len")).as("diag_len_max"))
    val counts = diag.groupBy(col("user_id"), col("len"))
      .agg(count(lit(1)).as("cnt"))
    // per-user total as a window over the histogram (one exchange; the
    // round-5 shape aggregated totals separately and joined them back —
    // two more exchanges and a second consumption of `counts`)
    val ent = counts
      .withColumn("total",
        sum(col("cnt")).over(Window.partitionBy(col("user_id"))))
      .select(col("user_id"), Stats.entropyTerm(
        col("cnt").cast("double"), col("total").cast("double")).as("t"))
      .groupBy(col("user_id"))
      .agg(round(sum(col("t")), 6).as("diag_len_entropy"))
    val vertStats = vert.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_vert_runs"),
      sum(col("len")).as("vert_len_sum"))

    // laminarity (rqa.py:92-112, code semantics): fraction of ALL n×n
    // cells that are recurrent AND have a recurrent neighbor at j±1 in
    // the same row i (the reference divides by the full matrix size,
    // not by the recurrent-point count, despite its docstring).
    val wn = Window.partitionBy(col("user_id"), col("i")).orderBy(col("j"))
    val lam = pairs
      .withColumn("nb",
        (lag(col("j"), 1).over(wn) === col("j") - 1) ||
          (lead(col("j"), 1).over(wn) === col("j") + 1))
      .where(col("nb"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("lam_num"))
    val nM = pts.groupBy(col("user_id")).agg(count(lit(1)).as("nm"))

    diagStats.join(ent, Seq("user_id"), "left")
      .join(vertStats, Seq("user_id"), "left")
      .join(lam, Seq("user_id"), "left")
      .join(nM, Seq("user_id"))
      .withColumn("laminarity",
        coalesce(col("lam_num"), lit(0L)) /
          (col("nm") * col("nm")).cast("double"))
      .drop("lam_num", "nm")
      .orderBy(col("user_id"))
  }

  val all: Map[String, CoreQueries.Q] = Map(
    "q_rqa_lengths" -> (qRqaLengths _))

  val oracle: Map[String, String] = Map(
    "q_rqa_lengths" ->
      s"""WITH v AS (
        |  SELECT user_id, round(value*100) AS b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |pts AS (SELECT * FROM v WHERE rn <= $N),
        |pairs AS (
        |  SELECT x.user_id, x.rn AS i, y.rn AS j
        |  FROM pts x JOIN pts y ON x.user_id = y.user_id
        |  WHERE abs(x.b - y.b) <= $R),
        |diag_runs AS (
        |  SELECT user_id, count(*) AS len
        |  FROM (
        |    SELECT user_id, j - i AS g,
        |      i - row_number() OVER (PARTITION BY user_id, j - i
        |        ORDER BY i) AS island
        |    FROM pairs)
        |  GROUP BY user_id, g, island
        |  HAVING count(*) >= $MinLen AND count(*) <= ${N - 1}),
        |vert_runs AS (
        |  SELECT user_id, count(*) AS len
        |  FROM (
        |    SELECT user_id, j AS g,
        |      i - row_number() OVER (PARTITION BY user_id, j
        |        ORDER BY i) AS island
        |    FROM pairs)
        |  GROUP BY user_id, g, island
        |  HAVING count(*) >= $MinLen),
        |ds AS (
        |  SELECT user_id, count(*) AS n_diag_runs,
        |    sum(len)::BIGINT AS diag_len_sum,
        |    max(len) AS diag_len_max
        |  FROM diag_runs GROUP BY user_id),
        |c AS (
        |  SELECT user_id, len, count(*) AS cnt
        |  FROM diag_runs GROUP BY user_id, len),
        |t AS (SELECT user_id, sum(cnt) AS total FROM c GROUP BY user_id),
        |e AS (
        |  SELECT c.user_id,
        |    round(sum(-(c.cnt::DOUBLE / t.total + 1e-30)
        |      * ln(c.cnt::DOUBLE / t.total + 1e-30)), 6)
        |      AS diag_len_entropy
        |  FROM c JOIN t ON t.user_id = c.user_id GROUP BY c.user_id),
        |vs AS (
        |  SELECT user_id, count(*) AS n_vert_runs,
        |    sum(len)::BIGINT AS vert_len_sum
        |  FROM vert_runs GROUP BY user_id),
        |lam AS (
        |  SELECT user_id, count(*) AS lam_num FROM (
        |    SELECT user_id,
        |      (lag(j) OVER (PARTITION BY user_id, i ORDER BY j) = j - 1
        |       OR lead(j) OVER (PARTITION BY user_id, i ORDER BY j) = j + 1)
        |        AS nb
        |    FROM pairs) WHERE nb GROUP BY user_id),
        |nm AS (SELECT user_id, count(*) AS nm FROM pts GROUP BY user_id)
        |SELECT ds.user_id, n_diag_runs, diag_len_sum, diag_len_max,
        |  diag_len_entropy, n_vert_runs, vert_len_sum,
        |  coalesce(lam.lam_num, 0) / (nm.nm * nm.nm)::DOUBLE AS laminarity
        |FROM ds
        |LEFT JOIN e ON e.user_id = ds.user_id
        |LEFT JOIN vs ON vs.user_id = ds.user_id
        |LEFT JOIN lam ON lam.user_id = ds.user_id
        |JOIN nm ON nm.user_id = ds.user_id
        |ORDER BY ds.user_id""".stripMargin)
}
