package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check_oracle.py`). Runs on the session and per-query run
  * `Bench` times (`Session`). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg (unused by the driver): comma-separated substring
    // filters over query names (OR), for fast single-query iteration
    val Array(sfDir, outDir) = args.take(2)
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    Session.select(SparkEntry.queries, args.lift(2).getOrElse(""))
      .foreach { case (name, fn) =>
        val sink = (df: org.apache.spark.sql.DataFrame) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Session.run(spark, sink)(fn(spark, sfDir)).error.foreach(e =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      }
    val json = (SparkEntry.oracleSql ++ SparkEntry.dataOracles(spark, sfDir))
      .map { case (k, v) => s"${Session.jsonString(k)}: ${Session.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
