package perfbench

import graft.SparkEntry
import graft.core.Caches
import org.apache.spark.sql.SparkSession

/** The query-family workload: `SparkEntry.queries` over the fixed
  * sf0.1 test tables, each query written to the [[DigestSink]]. */
object Families {

  /** One timed query run: build, write to the digest sink, drop the
    * query's caches. Returns (seconds, digest); a throw propagates. */
  def runOne(spark: SparkSession, dataDir: String,
             name: String): (Double, Digest) = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, dataDir).write
        .format(classOf[DigestSink].getName).option("key", name)
        .mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, DigestSink.take(name))
    } finally { Caches.drain(); Caches.assertEmpty(spark) }
  }
}
