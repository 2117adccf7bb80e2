package graft

import graft.queries.{DedupQueries, EmbedQueries}

/** LSH ANN quality: the bucketed top-k is a correct-by-construction
  * subset search; measure its recall against the exact brute force on
  * the driver test embeddings. */
class DedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("LSH top-k recall vs exact brute force; candidates honestly " +
    "bucket-restricted") {
    val exact = EmbedQueries.qEmbedTopk(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("a_id")),
        r.getLong(r.fieldIndex("b_id")))).toSet
    val ann = DedupQueries.qAnnLshTopk(spark, sf).collect()
      .map(r => (r.getLong(r.fieldIndex("a_id")),
        r.getLong(r.fieldIndex("b_id")))).toSet
    assert(exact.nonEmpty && ann.nonEmpty)
    val hits = ann.intersect(exact).size
    val recall = hits.toDouble / exact.size
    info(f"LSH recall@3 = $recall%.3f (${exact.size} exact pairs, " +
      f"${ann.size} ann pairs)")
    // multi-table LSH (L=16, k=4): expected recall ≈ 0.9 for the test
    // embeddings' neighbor distances (cos 0.3–0.43)
    assert(recall >= 0.5, f"recall $recall%.3f below the LSH design point")
  }

  /** union-find over doc-id edges → canonical component labeling */
  private def components(ids: Seq[Long],
                         edges: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      parent(x) = r; r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  test("simhash output is sound, lossless at the distinct-fingerprint " +
    "level, and component-equivalent to brute force at Hamming <= 2") {
    val fps = DedupQueries.simhashFingerprints(
      graft.core.Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = DedupQueries.qSimhash(spark, sf).collect()
    val got = rows.map(r => (r.getLong(r.fieldIndex("a_id")),
      r.getLong(r.fieldIndex("b_id")))).toSet
    // soundness: every emitted pair is a true Hamming <= 2 pair
    got.foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(fps(a) ^ fps(b))
      assert(d <= 2, s"pair ($a,$b) at hamming $d")
    }
    // rep-level losslessness: banding over distinct fingerprints may
    // never lose a close pair of cluster representatives (pigeonhole
    // over 6/5/5-bit bands; the backstop cap must not fire at this sf)
    val reps = fps.groupBy(_._2).map { case (_, m) => m.keys.min }.toSeq.sorted
    for (i <- reps.indices; j <- i + 1 until reps.length) {
      val (a, b) = (reps(i), reps(j))
      if (java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 2)
        assert(got.contains((a, b)), s"banding lost rep pair ($a,$b)")
    }
    // every non-rep doc reaches its representative at distance 0
    fps.groupBy(_._2).values.filter(_.size > 1).foreach { m =>
      val rep = m.keys.min
      m.keys.filter(_ != rep).foreach(d =>
        assert(got.contains((rep, d)), s"member $d lost its rep link"))
    }
    // …therefore the connected components equal the uncapped all-pairs
    // graph's (the dedup-semantics guarantee of the collapse design)
    val ids = fps.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      if java.lang.Long.bitCount(fps(ids(i)) ^ fps(ids(j))) <= 2
    } yield (ids(i), ids(j))).toSet
    assert(components(ids, got) == components(ids, brute),
      "capped output changed the dedup components")
    info(s"${got.size} pairs vs ${brute.size} brute-force pairs, " +
      s"${reps.size} distinct fps over ${ids.size} docs — components equal")
  }

  test("simhash64 output is sound, lossless at the distinct-fingerprint " +
    "level, and component-equivalent to brute force at Hamming <= 3") {
    val fps = DedupQueries.simhash64Fingerprints(
      graft.core.Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = DedupQueries.qSimhash64(spark, sf).collect()
    val got = rows.map(r => (r.getLong(r.fieldIndex("a_id")),
      r.getLong(r.fieldIndex("b_id")))).toSet
    // soundness: every emitted pair is a true Hamming <= 3 pair
    got.foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(fps(a) ^ fps(b))
      assert(d <= 3, s"pair ($a,$b) at hamming $d")
    }
    // rep-level losslessness: 4 disjoint 16-bit bands pigeonhole every
    // distance <= 3 pair into >= 1 shared band — banding over distinct
    // fingerprints may never lose a close pair of representatives
    val reps = fps.groupBy(_._2).map { case (_, m) => m.keys.min }.toSeq.sorted
    for (i <- reps.indices; j <- i + 1 until reps.length) {
      val (a, b) = (reps(i), reps(j))
      if (java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 3)
        assert(got.contains((a, b)), s"banding lost rep pair ($a,$b)")
    }
    // every non-rep doc reaches its representative at distance 0
    fps.groupBy(_._2).values.filter(_.size > 1).foreach { m =>
      val rep = m.keys.min
      m.keys.filter(_ != rep).foreach(d =>
        assert(got.contains((rep, d)), s"member $d lost its rep link"))
    }
    // …therefore components equal the uncapped all-pairs graph's
    val ids = fps.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      if java.lang.Long.bitCount(fps(ids(i)) ^ fps(ids(j))) <= 3
    } yield (ids(i), ids(j))).toSet
    assert(components(ids, got) == components(ids, brute),
      "capped output changed the dedup components")
    assert(brute.nonEmpty, "test corpus has no 64-bit near-dups — " +
      "the guarantee was checked vacuously")
    info(s"${got.size} pairs vs ${brute.size} brute-force pairs, " +
      s"${reps.size} distinct fps over ${ids.size} docs — components equal")
  }

  test("exact-fingerprint collapse: a degenerate 1000-identical-doc " +
    "corpus yields exactly n-1 representative links on both paths") {
    import org.apache.spark.sql.functions._
    val n = 1000
    val docs = spark.range(n).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta").as("text"))
    // uncapped banding would emit C(1000,2) = 499500 pairs; the
    // collapse level reduces the cluster to one rep + 999 links
    val expect = n - 1
    val mh = DedupQueries.minhashPairs(docs).collect()
    assert(mh.length == expect,
      s"minhash emitted ${mh.length} pairs, expected $expect")
    mh.foreach { r =>
      assert(r.getLong(r.fieldIndex("a_id")) == 0L, "rep must be doc 0")
      assertClose(r.getDouble(r.fieldIndex("jaccard")), 1.0,
        "identical-doc jaccard")
    }
    val sh = DedupQueries.simhashPairs(docs).collect()
    assert(sh.length == expect,
      s"simhash emitted ${sh.length} pairs, expected $expect")
    sh.foreach { r =>
      assert(r.getLong(r.fieldIndex("a_id")) == 0L, "rep must be doc 0")
      assert(r.getLong(r.fieldIndex("hamming")) == 0L)
    }
    info(s"degenerate corpus: $expect rep links " +
      s"(uncapped banding would emit ${n * (n - 1) / 2})")
  }

  test("backstop rank-cap: a bucket flooded with DISTINCT signatures " +
    "is bounded to O(cap² + n) and stays a subset of the uncapped pairs") {
    import org.apache.spark.sql.functions._
    // near-identical docs with two unique tokens each: distinct shingle
    // sets => (mostly) distinct signatures, but band hashes dominated by
    // the shared shingles => crowded distinct-signature buckets
    val n = 200
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta iota "),
        lit("kappa lambda mu nu xi omicron pi rho sigma tau upsilon "),
        lit("tok"), col("id"), lit(" phi chi psi omega "),
        lit("var"), col("id") * 7).as("text"))
    val capped = DedupQueries.minhashPairs(docs, cap = 4).collect()
      .map(r => (r.getLong(r.fieldIndex("a_id")),
        r.getLong(r.fieldIndex("b_id")))).toSet
    val uncapped = DedupQueries.minhashPairs(docs, cap = Int.MaxValue)
      .collect().map(r => (r.getLong(r.fieldIndex("a_id")),
        r.getLong(r.fieldIndex("b_id")))).toSet
    assert(capped.subsetOf(uncapped), "cap may only drop pairs, never add")
    assert(capped.size < uncapped.size,
      s"backstop never fired (capped=${capped.size}, " +
        s"uncapped=${uncapped.size}) — corpus failed to crowd a bucket")
    // connectivity through the bucket representative survives: the cap
    // must not orphan any doc the uncapped graph touches (rank-1 edges
    // are kept for every overflow member and jaccard here is ~1)
    val touchU = uncapped.flatMap(p => Seq(p._1, p._2))
    val touchC = capped.flatMap(p => Seq(p._1, p._2))
    assert(touchC == touchU,
      s"cap orphaned ${(touchU -- touchC).size} docs")
    info(s"capped ${capped.size} ⊂ uncapped ${uncapped.size} pairs, " +
      s"coverage ${touchC.size}/$n docs preserved")
  }

  test("banded candidates: one crowded bucket under cap k yields exactly " +
    "C(k,2) + (n - k) rep pairs, and exact copies yield only links") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // n = 10 distinct keys (ids 0..9) in ONE band bucket, plus ids 10 and
    // 11 as exact copies of key 3 — they collapse onto rep 3
    val n = 10
    val df = ((0L until n.toLong).map(i => (i, i)) ++
      Seq((10L, 3L), (11L, 3L))).toDF("id", "key")
    def run(cap: Int) = graft.operators.Banded.candidates(df, "id",
      Seq(col("key")), array(struct(lit(0).as("band"))), Seq(col("key")),
      cap)
    def ids(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      d.select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val c4 = run(4)
    val pairs = ids(c4.pairs)
    // all pairs among ranks 1..4, then each overflow rank pairs with rank 1
    assert(pairs.size == 4 * 3 / 2 + (n - 4), s"cap-4 pairs: $pairs")
    assert(pairs.distinct.size == pairs.size)
    assert(pairs.forall { case (a, b) => a < b })
    val links = ids(c4.links)
    assert(links.sorted == Seq((3L, 10L), (3L, 11L)))
    assert(pairs.forall { case (a, b) => a < n && b < n },
      "a collapsed member reached the banding")
    // payload columns carry each side's value
    c4.pairs.collect().foreach { r =>
      assert(r.getAs[Long]("key_a") == r.getAs[Long]("a_id") &&
        r.getAs[Long]("key_b") == r.getAs[Long]("b_id"))
    }
    assert(ids(run(n).pairs).size == n * (n - 1) / 2)
  }

  test("embedding near-dup LSH: injected near-dups are found at the " +
    "dedup threshold, exact copies collapse to rep links, output is " +
    "sound vs brute-force cosine") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val dim = 64
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val base = (0 until 20).map(_ => vec())
    // 5 near-dups of bases 0..4: tiny perturbation, different bit
    // patterns, cosine > 0.99 — banding recall at this distance is
    // 1-(1-p^16)^16 with p≈0.95, i.e. certain for a fixed seed
    val near = (0 until 5).map(i =>
      base(i).map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    // 2 exact bit-pattern copies of base 0 → collapse links, cos 1.0
    val rows: Seq[(Long, Array[Float])] =
      base.indices.map(i => (i.toLong, base(i))) ++
        near.indices.map(i => (20L + i, near(i))) ++
        Seq((25L, base(0).clone()), (26L, base(0).clone()))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val out = DedupQueries.embedNeardupLshPairs(df).collect()
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(k => a(k).toDouble * b(k).toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val byId = rows.toMap
    // soundness: every reported cos_sim matches brute force; is_dup
    // flags exactly the pairs at or above tau; floor honored
    out.foreach { r =>
      val (a, b) = (r.getLong(r.fieldIndex("a_id")),
        r.getLong(r.fieldIndex("b_id")))
      val cs = r.getDouble(r.fieldIndex("cos_sim"))
      assert(cs >= 0.2 - 1e-9, s"pair ($a,$b) below the floor: $cs")
      // cs is rounded to 6dp; compare at a tolerance that absorbs it
      assertClose(cs, cosine(byId(a), byId(b)), s"cos_sim of ($a,$b)",
        rtol = 1e-5)
      assert((r.getLong(r.fieldIndex("is_dup")) == 1L) == (cs >= 0.9),
        s"is_dup flag wrong for ($a,$b) at $cs")
    }
    val got = out.map(r => (r.getLong(r.fieldIndex("a_id")),
      r.getLong(r.fieldIndex("b_id")))).toSet
    // the 5 injected near-dup pairs are all found and flagged
    (0 until 5).foreach { i =>
      val p = (i.toLong, 20L + i)
      assert(got.contains(p), s"near-dup pair $p missed by the banding")
      val row = out.find(r => r.getLong(r.fieldIndex("a_id")) == p._1 &&
        r.getLong(r.fieldIndex("b_id")) == p._2).get
      assert(row.getLong(row.fieldIndex("is_dup")) == 1L,
        s"near-dup pair $p not flagged at tau")
    }
    // exact copies surface as collapse links to the min-id rep, cos 1.0
    Seq(25L, 26L).foreach { m =>
      val link = out.find(r => r.getLong(r.fieldIndex("a_id")) == 0L &&
        r.getLong(r.fieldIndex("b_id")) == m)
      assert(link.isDefined, s"exact copy $m lost its rep link")
      assert(link.get.getDouble(link.get.fieldIndex("cos_sim")) == 1.0)
    }
    // the rank cap may only drop candidate pairs, never add or affect
    // the collapse links
    val capped = DedupQueries.embedNeardupLshPairs(df, cap = 1).collect()
      .map(r => (r.getLong(r.fieldIndex("a_id")),
        r.getLong(r.fieldIndex("b_id")))).toSet
    assert(capped.subsetOf(got), "cap added pairs")
    assert(capped.contains((0L, 25L)) && capped.contains((0L, 26L)),
      "cap dropped collapse links")
    info(s"${out.length} pairs; 5/5 injected near-dups found; " +
      s"2/2 exact copies collapsed")
  }

  test("embedding near-dup LSH sizing knobs: coarser buckets (fewer " +
    "planes) only widen the uncapped candidate set; fewer tables only " +
    "narrow it; recall holds at a non-default operating point") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    val base = (0 until 30).map(_ =>
      Array.fill(dim)(rnd.nextGaussian().toFloat))
    val near = (0 until 5).map(i =>
      base(i).map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    val rows: Seq[(Long, Array[Float])] =
      base.indices.map(i => (i.toLong, base(i))) ++
        near.indices.map(i => (30L + i, near(i)))
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    def pairs(tables: Int, planes: Int): Set[(Long, Long)] =
      DedupQueries.embedNeardupLshPairs(df, cap = Int.MaxValue,
        tables = tables, planes = planes).collect()
        .map(r => (r.getLong(r.fieldIndex("a_id")),
          r.getLong(r.fieldIndex("b_id")))).toSet
    val p16 = pairs(16, 16)
    // a planes-p bucket is the low-p-bit prefix of the planes-16 bucket
    // over the same plane family, so equal 16-bit buckets are equal
    // 4-bit buckets: shrinking planes can only ADD candidates
    assert(p16.subsetOf(pairs(16, 4)),
      "coarser buckets lost a pair the finer buckets found")
    // tables 0..7 are a prefix of tables 0..15: dropping tables can
    // only REMOVE candidates
    assert(pairs(8, 16).subsetOf(p16),
      "a pair appeared out of nowhere when tables were dropped")
    // the sizing rule's recall claim at a non-default operating point:
    // p ≈ 0.955 at cos .99 → per-table p^8 ≈ .69, 8-table ≈ .9997
    val got8 = pairs(8, 8)
    (0 until 5).foreach { i =>
      assert(got8.contains((i.toLong, 30L + i)),
        s"near-dup $i missed at (tables=8, planes=8)")
    }
  }

  test("minhash LSH links every exact duplicate into one component") {
    // exact dupes (same text) have identical signatures => same collapse
    // cluster => each member links to the cluster rep with jaccard 1.0
    val dupeGroups = graft.core.Tables.documents(spark, sf)
      .selectExpr("md5(text) AS h", "doc_id")
      .collect().groupBy(_.getString(0)).values
      .filter(_.length > 1)
      .map(_.map(_.getLong(1)).sorted.toSeq).toSeq
    val rows = DedupQueries.qMinhashLsh(spark, sf).collect()
    val found = rows.map(r => ((r.getLong(r.fieldIndex("a_id")),
      r.getLong(r.fieldIndex("b_id"))),
      r.getDouble(r.fieldIndex("jaccard")))).toMap
    val ids = rows.flatMap(r => Seq(r.getLong(r.fieldIndex("a_id")),
      r.getLong(r.fieldIndex("b_id")))).distinct.toSeq
    val comp = components(ids, found.keySet)
    dupeGroups.foreach { g =>
      g.combinations(2).foreach { p =>
        assert(comp.get(p(0)).exists(c => comp.get(p(1)).contains(c)),
          s"exact dupes ${p(0)},${p(1)} not in one component")
      }
      // the direct (rep, member) links carry jaccard 1.0
      g.tail.foreach { m =>
        assertClose(found.getOrElse((g.head, m),
          fail(s"missing rep link (${g.head},$m)")), 1.0, "dupe jaccard")
      }
    }
    info(s"${dupeGroups.size} exact-duplicate groups all single-component")
  }

  test("min-label components equal union-find on a seeded random graph") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 200 nodes, 160 seeded edges → many components of varied shape
    val rnd = new scala.util.Random(42)
    val edges = (0 until 160)
      .map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    // brute-force union-find
    val parent = Array.tabulate(200)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // component label = min node id in the component
        val root = find(v.toInt)
        (0 until 200).filter(u => find(u) == root).min.toLong
      }).toMap
    val pairs = edges.toDF("a_id", "b_id")
    // a 200-node random graph's diameter can exceed 8 — give the test
    // enough rounds that convergence is guaranteed, then check equality
    val got = graft.operators.Components.minLabel(pairs, rounds = 24)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (v, c) =>
      assert(got(v) == c, s"node $v")
    }
    assert(expect.values.toSet.size > 1, "degenerate: single component")
  }

  test("min-label rounds bound: a 12-hop path converges at rounds >= " +
    "distance and not before") {
    import spark.implicits._
    val path = (0L until 12L).map(i => (i, i + 1))
    val pairs = path.toDF("a_id", "b_id")
    val under = graft.operators.Components.minLabel(pairs, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(under(12L) != 0L, "4 rounds cannot reach 12 hops")
    val enough = graft.operators.Components.minLabel(pairs, rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 12L).forall(v => enough(v) == 0L))
  }

  test("dedup store staging is content-keyed: mutating the input dir " +
    "in-process serves fresh signatures, not the stale store") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_store_key").toString
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    write(Seq("alpha beta gamma delta", "alpha beta gamma delta"))
    val (sh1, _) = graft.queries.DedupQueries.minhashStore(spark, dir)
    val n1 = sh1.count()
    // mutate the corpus under the same dir (new lengths/mtimes)
    write(Seq("one two three four five six", "seven eight nine ten",
      "eleven twelve thirteen fourteen"))
    val (sh2, _) = graft.queries.DedupQueries.minhashStore(spark, dir)
    assert(sh2.count() != n1,
      "store served stale shingles after the input dir changed")
    // unchanged content re-serves the same staged store (resumed)
    val (sh3, _) = graft.queries.DedupQueries.minhashStore(spark, dir)
    assert(sh3.count() == sh2.count())
  }

  test("min-label fixpoint: a deep path converges under a large cap " +
    "(early exit returns the exact fixpoint, not a truncation)") {
    import spark.implicits._
    // diameter-20 path driven with cap 64: the early-exit loop must
    // return the true fixpoint — every one of the 21 nodes labeled 0
    val path = (0L until 20L).map(i => (i, i + 1))
    val pairs = path.toDF("a_id", "b_id")
    val got = graft.operators.Components.minLabel(pairs, rounds = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (0L to 20L).toSet)
    assert((0L to 20L).forall(v => got(v) == 0L))
  }
}
