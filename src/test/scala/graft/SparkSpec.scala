package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession per JVM, fixture loading
  * (JSON written by tools/gen_fixtures.py), and numpy-style allclose
  * assertions (NaN == NaN; JSON null ≡ NaN ≡ SQL NULL for doubles).
  */
trait SparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSpec.session

  def fixture(name: String): JsonNode = SparkSpec.fixture(name)

  /** `body` run on a fresh temp dir named `prefix<random>`, which is
    * deleted with all it holds when `body` returns or throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally FileUtils.deleteDirectory(dir)
  }

  def darr(node: JsonNode): IndexedSeq[Double] =
    (0 until node.size()).map { i =>
      val n = node.get(i)
      if (n.isNull) Double.NaN else n.asDouble()
    }

  def larr(node: JsonNode): IndexedSeq[Long] =
    (0 until node.size()).map(i => node.get(i).asLong())

  def assertClose(actual: Double, expected: Double, clue: String = "",
                  rtol: Double = 1e-9, atol: Double = 1e-12): Unit = {
    if (expected.isNaN)
      assert(actual.isNaN, s"$clue: expected NaN, got $actual")
    else {
      val tol = atol + rtol * math.abs(expected)
      assert(!actual.isNaN && math.abs(actual - expected) <= tol,
        s"$clue: |$actual - $expected| > $tol")
    }
  }

  def assertAllClose(actual: Seq[Double], expected: Seq[Double],
                     clue: String = "", rtol: Double = 1e-9): Unit = {
    assert(actual.length == expected.length,
      s"$clue: length ${actual.length} != ${expected.length}")
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      assertClose(a, e, s"$clue[$i]", rtol)
    }
  }

  /** Single-entity points DF (entity_id, ts, value) from in-memory values,
    * ts = position — the FIXTURES.md §2 long-format contract. */
  def valuesDf(values: Seq[Double], entity: String = "e"): DataFrame = {
    import spark.implicits._
    values.zipWithIndex
      .map { case (v, i) => (entity, i.toLong, v) }
      .toDF("entity_id", "ts", "value")
  }

  /** First double of a one-row, one-column result. */
  def scalar(df: DataFrame): Double = {
    val r = df.collect()
    assert(r.length == 1, s"expected 1 row, got ${r.length}")
    if (r(0).isNullAt(0)) Double.NaN else r(0).getDouble(0)
  }
}

object SparkSpec {
  /** The mains' session profile ([[Harness.session]]) with 4 cores and
    * 4 shuffle partitions for small in-memory inputs. */
  lazy val session: SparkSession = Harness.session(4, partitions = 4)

  private val mapper = new ObjectMapper
  private val cache = scala.collection.concurrent.TrieMap.empty[String, JsonNode]

  def fixture(name: String): JsonNode = cache.getOrElseUpdate(name, {
    val in = getClass.getResourceAsStream(s"/fixtures/$name.json")
    require(in != null, s"fixture $name.json not on test classpath")
    try mapper.readTree(in) finally in.close()
  })
}
