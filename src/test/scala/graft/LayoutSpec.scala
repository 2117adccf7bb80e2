package graft

import graft.core.{Layout, TokenGen}
import org.apache.spark.sql.functions._

/** Layout/skew helpers: salted aggregation equals direct aggregation. */
class LayoutSpec extends SparkSpec {

  import spark.implicits._

  test("saltedAgg equals the direct groupBy on a skewed key") {
    val docs = TokenGen.docs(spark, 30, skewed = true)
    val pts = TokenGen.points(docs) // skewed: 1% docs 32x longer
    val direct = pts.groupBy($"entity_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("s"),
        max($"value").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val salted = Layout.saltedAgg(pts, "entity_id", nSalts = 8,
      Seq(count(lit(1)).as("n"), sum($"value").as("s"),
        max($"value").as("mx")),
      Map("n" -> (sum(_)), "s" -> (sum(_)), "mx" -> (max(_))))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (n, s, m)) =>
      val (dn, ds, dm) = direct(k)
      assert(n == dn, s"count@$k")
      assertClose(s, ds, s"sum@$k", rtol = 1e-12)
      assert(m == dm, s"max@$k")
    }
  }
}
