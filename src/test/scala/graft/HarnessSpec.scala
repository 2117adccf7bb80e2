package graft

/** The one query runner: a query that throws is reported as `Left`,
  * never timed, and a cache that bypassed the registry fails the run. */
class HarnessSpec extends SparkSpec {

  // assertEmpty is session-wide: start from an empty cache manager
  private def clean(): Unit = {
    graft.core.Caches.drain()
    spark.catalog.clearCache()
  }

  test("a builder that throws returns Left") {
    clean()
    val r = Harness.run(spark, throw new IllegalStateException("boom"))
    assert(r.left.exists(_.getMessage == "boom"), r)
  }

  test("a gate query on a missing sf dir returns Left") {
    clean()
    val missing = java.nio.file.Files.createTempDirectory("graft_harness")
      .resolve("no_such_sf").toString
    val r = Harness.run(spark, SparkEntry.queries("q_asof_join")(spark, missing))
    assert(r.isLeft, r)
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
}
