package graft

import graft.core.Tables

/** The DSv2 catalog source seam: a full-fidelity round-trip. */
class SourcesSinksSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("DSv2 catalog round-trip: V2 CTAS through createTable, read back " +
    "as a BatchScan via the Tables.t catalog seam — results identical") {
    withTempDir("graft_cat") { wh =>
      spark.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.core.GraftParquetCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft_cat.root", wh)
      try {
        val truth = spark.read.parquet(s"$sf/events.parquet")
        // genuine V2 CTAS: plans CreateTableAsSelect against the catalog
        truth.writeTo("graft_cat.db.events").create()
        assert(new java.io.File(s"$wh/db/events").listFiles()
          .exists(_.getName.endsWith(".parquet")), "CTAS wrote no files")
        // the production seam: Tables.t resolves <catalog>.<db>.<name>
        spark.conf.set("graft.catalog", "graft_cat")
        spark.conf.set("graft.catalog.db", "db")
        val back = try Tables.events(spark, "IGNORED_WHEN_CATALOG_SET")
        finally {
          spark.conf.unset("graft.catalog")
          spark.conf.unset("graft.catalog.db")
        }
        assert(back.schema == truth.schema,
          s"catalog schema drifted: ${back.schema.toDDL}")
        // the read is the DSv2 path (BatchScan), not the V1 file scan
        val plan = back.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.BatchScanExec]),
          s"catalog read did not plan a DSv2 BatchScan:\n$plan")
        assert(canon(back) == canon(truth), "catalog round-trip not exact")
        // catalog surface: list / exists / rename / drop
        val cat = spark.sessionState.catalogManager.catalog("graft_cat")
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        val ns = Array("db")
        val id = org.apache.spark.sql.connector.catalog.Identifier
          .of(ns, "events")
        assert(cat.listTables(ns).map(_.name).toSeq == Seq("events"))
        assert(cat.tableExists(id))
        val id2 = org.apache.spark.sql.connector.catalog.Identifier
          .of(ns, "events2")
        cat.renameTable(id, id2)
        assert(!cat.tableExists(id) && cat.tableExists(id2))
        assert(canon(spark.read.table("graft_cat.db.events2")) ==
          canon(truth), "rename lost rows")
        assert(cat.dropTable(id2) && !cat.tableExists(id2))
      } finally {
        spark.conf.unset("spark.sql.catalog.graft_cat")
        spark.conf.unset("spark.sql.catalog.graft_cat.root")
      }
    }
  }
}
