package graft

/** The one query selector and runner: a query that throws is reported
  * as `Left`, never timed, and a cache that bypassed the registry fails
  * the run. */
class HarnessSpec extends SparkSpec {

  // assertEmpty is session-wide: start from an empty cache manager
  private def clean(): Unit = {
    graft.core.Caches.drain()
    spark.catalog.clearCache()
  }

  /** A path under `java.io.tmpdir` that nothing creates. */
  private def missingDir(): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_no_such_sf_${java.util.UUID.randomUUID}").toString

  test("a builder that throws returns Left") {
    clean()
    val r = Harness.run(spark, throw new IllegalStateException("boom"))
    assert(r.left.exists(_.getMessage == "boom"), r)
  }

  test("a gate query on a missing sf dir returns Left") {
    clean()
    val missing = missingDir()
    val r = Harness.run(spark, SparkEntry.queries("q_asof_join")(spark, missing))
    assert(r.isLeft, r)
  }

  test("a bench ladder needs at least two core counts") {
    assert(Bench.parseLadder("1, 4") == Seq(1, 4))
    val e = intercept[IllegalArgumentException](Bench.parseLadder("4"))
    assert(e.getMessage.contains("at least 2"))
  }

  test("an unregistered cache fails the run on assertEmpty") {
    clean()
    try {
      val e = intercept[IllegalArgumentException] {
        Harness.run(spark, spark.range(10).toDF("x").cache())
      }
      assert(e.getMessage.contains("cache manager not empty"))
    } finally spark.catalog.clearCache()
  }

  test("the query selector: unset selects all, a list its subset, empty " +
    "none, and an unknown name fails naming it") {
    val all = Harness.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    assert(Harness.select(Some("q_simhash, q_asof_join")).map(_._1) ==
      Seq("q_asof_join", "q_simhash"))
    assert(Harness.select(Some("")).isEmpty)
    val e = intercept[IllegalArgumentException](
      Harness.select(Some("q_asof_join,q_simhsh")))
    assert(e.getMessage.contains("q_simhsh") &&
      !e.getMessage.contains("q_asof_join"), e.getMessage)
  }

  test("the gate merge: a name declared in two modules fails naming " +
    "it; the real merge holds 81 queries, each with a non-empty oracle") {
    val g = Harness.Gate((_, _) => throw new IllegalStateException, "SELECT 1")
    assert(SparkEntry.merge(Seq(Map("q_a" -> g), Map("q_b" -> g))).keySet ==
      Set("q_a", "q_b"))
    val e = intercept[IllegalArgumentException](SparkEntry.merge(Seq(
      Map("q_a" -> g, "q_twice" -> g), Map("q_b" -> g, "q_twice" -> g))))
    assert(e.getMessage.contains("q_twice") &&
      !e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"),
      e.getMessage)
    assert(SparkEntry.queries.size == 81)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.forall(_._2.trim.nonEmpty))
  }

  test("the bench battery tallies a good query's warm pass and lists a " +
    "failing one only among the errors") {
    clean()
    val asof = SparkEntry.queries("q_asof_join")
    val missing = missingDir()
    val out = Bench.battery(spark, "/root/testdata/sf0.001", Seq(
      "q_asof_join" -> asof,
      "q_missing" -> ((s, _) => asof(s, missing)))).toMap
    val good = out("q_asof_join").fold(e => fail(e), identity)
    val w = good.warmTally
    assert(w.jobs >= 1 && w.stages >= 1 && w.tasks >= 1, w)
    assert(good.cold > 0 && good.warm > 0, good)
    assert(out("q_missing").isLeft, out("q_missing"))
  }
}
