package graft.queries

import graft.signal.Butterworth

/** Single-statement DuckDB SQL generators shared by the oracle builders
  * (SignalQueries, the dedup, curation and embedding oracles): the
  * signed/unsigned 64-bit hash duals, a splitmix64 replay in HUGEINT
  * arithmetic with explicit mod-2^64 wrapping multiplies (the finalizer
  * is public knowledge — Steele et al. 2014, same constants as
  * [[graft.core.TokenGen.mix]]), the TokenGen token series re-derived
  * entirely in SQL, and the filtfilt recursive-CTE chain generalized
  * over an arbitrary source CTE (round 2 hardcoded `FROM events`).
  *
  * Everything here emits ONE SQL statement (no macros, no temp tables):
  * the driver executes each oracle with a single `execute(sql)`.
  */
object SqlGen {

  val U63: BigInt = BigInt(1) << 63
  val U64: BigInt = BigInt(1) << 64
  private val M32 = BigInt("4294967296") // 2^32
  private val C1 = BigInt("9E3779B97F4A7C15", 16)
  private val C2 = BigInt("BF58476D1CE4E5B9", 16)
  private val C3 = BigInt("94D049BB133111EB", 16)

  /** HUGEINT [0, 2^64) → signed BIGINT with Java two's-complement
    * semantics (how every Spark-side long is compared/min'd). */
  def signed(x: String): String =
    s"(CASE WHEN $x >= $U63 THEN $x - $U64 ELSE $x END)::BIGINT"

  /** `('0x' || first-16-hex-of-md5)::UBIGINT` — the
    * [[graft.functions.Hash64.md5_64]] dual, kept in unsigned HUGEINT
    * domain for the mix replay. */
  def md5u64(e: String): String =
    s"(('0x' || substr(md5($e), 1, 16))::UBIGINT)::HUGEINT"

  /** (e * c) mod 2^64 for HUGEINT e in [0, 2^64) and constant c: split c
    * into 32-bit halves so no partial product overflows HUGEINT. */
  private def umul(e: String, c: BigInt): String =
    s"($e * ${c % M32} + (($e * ${c / M32}) % $M32) * $M32) % $U64"

  /** SELECT items computing splitmix64 mix($e) via lateral column
    * aliases (one per finalizer step); the result lands in alias
    * `${p}r`. `e` must be HUGEINT in [0, 2^64); logical right-shifts are
    * floor division, xor is native on HUGEINT. */
  def mixCols(e: String, p: String): String =
    s"""(($e) + $C1) % $U64 AS ${p}a,
       |    xor(${p}a, ${p}a // ${BigInt(1) << 30}) AS ${p}b,
       |    ${umul(s"${p}b", C2)} AS ${p}c,
       |    xor(${p}c, ${p}c // ${BigInt(1) << 27}) AS ${p}d,
       |    ${umul(s"${p}d", C3)} AS ${p}e,
       |    xor(${p}e, ${p}e // ${BigInt(1) << 31}) AS ${p}r""".stripMargin

  /** Sum a DOUBLE list STRICTLY left-to-right (list_reduce folds in list
    * order; the 0.0 prepend supplies the init — DuckDB's reduce uses the
    * first element as accumulator seed). This is how every oracle mirrors
    * a Scala `var s = 0.0; while (...) s += x(i)` loop bit-for-bit. */
  def lsum(l: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $l), (a, b) -> a + b)"

  /** CTE chunk replaying [[graft.core.TokenGen]] (unskewed, Seed=42) for
    * `nDocs` docs entirely in SQL: ends in
    * `sig(user_id, i, x, n)` — user_id = doc_id, 0-based position i,
    * token value x (DOUBLE), per-doc length n — keeping only docs with
    * n > minN (the engine-side kernel guards). Structure: mix(i) and
    * mix(pos) are precomputed per doc / per position, so each (doc, pos)
    * token costs exactly one further mix — same factoring as the Scala
    * hash3. */
  def tokenSig(nDocs: Int, minN: Int): String =
    s"""di AS (SELECT unnest(generate_series(0, ${nDocs - 1}))::HUGEINT AS di),
       |dmx AS (SELECT di, ${mixCols("di", "m")} FROM di),
       |da AS (SELECT di, ${mixCols("xor(42::HUGEINT, mr)", "a")} FROM dmx),
       |docs AS (SELECT di, ar AS ai, (64 + (ar % 1985))::BIGINT AS n FROM da),
       |ps AS (SELECT unnest(generate_series(0, 2047))::HUGEINT AS p),
       |pmx AS (SELECT p, ${mixCols("p", "q")} FROM ps),
       |cells AS (
       |  SELECT d.di, d.n, pm.p, ${mixCols("xor(d.ai, pm.qr)", "t")}
       |  FROM docs d JOIN pmx pm ON pm.p < d.n
       |  WHERE d.n > $minN),
       |sig AS MATERIALIZED (
       |  SELECT 'doc_' || lpad(di::VARCHAR, 8, '0') AS user_id,
       |    p::BIGINT AS i, ((tr // ${BigInt(1) << 33}) % 50257)::DOUBLE AS x,
       |    n
       |  FROM cells)""".stripMargin

  /** The `events` table as the sig(user_id, i, x, n) contract (the round-2
    * chain's hardcoded source, now one instance of the general one). */
  val eventsSig: String =
    """sig AS (
      |  SELECT user_id, value AS x,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - 1 AS i,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)""".stripMargin

  /** filtfilt as one SQL statement, for ANY designed filter and ANY
    * source: the (b, a) coefficients and the lfilter_zi state come from
    * the engine's OWN design() — embedded as shortest-roundtrip double
    * literals, so DuckDB parses back the identical bits — and both IIR
    * passes are recursive CTEs replaying the exact
    * direct-form-II-transposed update order of Butterworth.lfilter, with
    * one state column per filter tap. Every arithmetic step is then the
    * same double chain on both engines; the compare is bit-exact under
    * the shared rounding. MATERIALIZED hints stop DuckDB from re-inlining
    * the forward recursion into every backward iteration.
    *
    * `srcCtes` must define CTE `sig(user_id, i, x, n)` (i 0-based dense
    * per user, n = per-user row count). Returns the WITH-chain ending in
    * CTE `ff(user_id, idx0, y)` (idx0 = 0-based position); callers append
    * their own final SELECT (or further CTEs via ", name AS (...)").
    */
  /** A Double as a DuckDB literal that is guaranteed to TYPE as DOUBLE:
    * bare decimal literals parse as DECIMAL, and DuckDB's
    * DECIMAL arithmetic/fold inside compound expressions is only
    * ~1-ULP-close to the IEEE double chain (int128 mantissa > 2^53 →
    * double-rounded on conversion) — enough to derail a near-unit-circle
    * IIR recursion (found on the 0.5–20 Hz bandpass; the q_pulse_onsets
    * oracle drifted 1e-7 from it). A scientific-notation suffix forces
    * the DOUBLE parser, which is correctly rounded and roundtrips the
    * shortest-repr string exactly. */
  def dlit(v: Double): String = {
    val s = v.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  def filtfiltChain(c: Butterworth.Coeffs, srcCtes: String): String = {
    val n = c.a.length max c.b.length
    val b = java.util.Arrays.copyOf(c.b, n)
    val a = java.util.Arrays.copyOf(c.a, n)
    val zi = Butterworth.lfilterZi(c)
    val m = n - 1
    val e = 3 * n // scipy padlen
    def ym(z: Int => String) = s"${dlit(b(0))}*e.xv + ${z(0)}"
    def states(z: Int => String): String =
      (0 until m).map { k =>
        val expr =
          if (k < m - 1)
            s"${dlit(b(k + 1))}*e.xv + ${z(k + 1)} - ${dlit(a(k + 1))}*(${ym(z)})"
          else s"${dlit(b(m))}*e.xv - ${dlit(a(m))}*(${ym(z)})"
        s"    $expr AS z$k"
      }.mkString(",\n")
    def step(src: String): String = {
      val zInit = (k: Int) => s"${dlit(zi(k))}*e.xv"
      val zRec = (k: Int) => s"f.z$k"
      s"""  SELECT e.user_id, e.m, ${ym(zInit)} AS y,
${states(zInit)}
  FROM $src e WHERE e.m = 0
  UNION ALL
  SELECT e.user_id, e.m, ${ym(zRec)},
${states(zRec)}"""
    }
    s"""WITH RECURSIVE $srcCtes,
       |v AS MATERIALIZED (SELECT user_id, i, x, n FROM sig WHERE n > $e),
       |x0 AS (SELECT user_id, x AS xf FROM v WHERE i = 0),
       |xl AS (SELECT v.user_id, v.x AS xl, v.n FROM v WHERE v.i = v.n - 1),
       |ext AS MATERIALIZED (
       |  SELECT v.user_id, $e - v.i AS m, 2*x0.xf - v.x AS xv
       |  FROM v JOIN x0 USING (user_id) WHERE v.i BETWEEN 1 AND $e
       |  UNION ALL
       |  SELECT user_id, i + $e, x FROM v
       |  UNION ALL
       |  SELECT v.user_id, $e - 2 + 2*v.n - v.i, 2*xl.xl - v.x
       |  FROM v JOIN xl USING (user_id)
       |  WHERE v.i BETWEEN v.n - 1 - $e AND v.n - 2),
       |fwd AS (
       |${step("ext")}
       |  FROM fwd f JOIN ext e ON e.user_id = f.user_id AND e.m = f.m + 1),
       |lens AS MATERIALIZED (SELECT user_id, n + 2*$e AS L FROM xl),
       |rv AS MATERIALIZED (
       |  SELECT f.user_id, lens.L - 1 - f.m AS m, f.y AS xv
       |  FROM fwd f JOIN lens USING (user_id)),
       |bwd AS (
       |${step("rv")}
       |  FROM bwd f JOIN rv e ON e.user_id = f.user_id AND e.m = f.m + 1),
       |ff AS MATERIALIZED (
       |  SELECT b.user_id, lens.L - 1 - b.m - $e AS idx0, b.y
       |  FROM bwd b JOIN lens USING (user_id)
       |  WHERE lens.L - 1 - b.m BETWEEN $e AND lens.L - $e - 1)""".stripMargin
  }
}
