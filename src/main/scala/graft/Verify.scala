package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs under
  * the bench's session profile ([[Harness.session]]); a query that
  * throws writes no parquet, so the compare counts it as failing. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma list of queries ([[Harness.select]]; local
    // iteration only — the driver always passes two args = full gate)
    val (sfDir, outDir) = (args(0), args(1))
    val queries = Harness.select(args.lift(2))
    val spark = Harness.session(Harness.cores)
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      Harness.run(spark, fn(spark, sfDir),
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .left.foreach(e =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"))
    }
    // keys in name order, so two dumps compare byte for byte
    val json = SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
