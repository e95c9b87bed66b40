package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The remaining load-surface operators (SURVEY.md §2.1 S4–S7, S9): SELECT
  * INTO temp, INSERT INTO append, TRUNCATE, DROP, and the diagnostic line
  * extractor — driven as one load-script-shaped flow (the reference's
  * GenerateLoadScript loop, GenerateLoadScript-V1.sql:61-153).
  */
class LoadPipelineSpec extends SparkSpec {

  test("append / truncate / drop round-trip like a load-script iteration") {
    val r = Tables.region(spark, sfDir)
    r.write.mode("overwrite").format("parquet").saveAsTable("load_target")
    // S5: INSERT INTO append
    Ctas.append(Tables.region(spark, sfDir), "load_target")
    assert(spark.table("load_target").count() === r.count() * 2)
    // S6: TRUNCATE between iterations
    spark.sql("TRUNCATE TABLE load_target")
    assert(spark.table("load_target").count() === 0)
    Ctas.append(Tables.region(spark, sfDir), "load_target")
    assert(spark.table("load_target").count() === r.count())
    // S7: DROP cleanup
    spark.sql("DROP TABLE load_target")
    assert(!spark.catalog.tableExists("load_target"))
  }

  test("SELECT INTO temp-table semantics via temp view + cache") {
    val top = Tables.orders(spark, sfDir)
      .orderBy(col("o_totalprice").desc).limit(5).cache()
    top.createOrReplaceTempView("temp_top5")
    assert(spark.sql("SELECT COUNT(*) FROM temp_top5").collect()(0).getLong(0) === 5)
    spark.catalog.dropTempView("temp_top5")
    top.unpersist()
  }

  test("line extractor returns the requested window with 1-based numbering") {
    val dir = Files.createTempDirectory("graft_lines")
    Files.write(dir.resolve("big.txt"),
      (1 to 100).map(i => s"line-$i").mkString("\n").getBytes)
    val got = LineExtract.lines(spark, dir.toString, offset = 10, count = 3)
      .orderBy("line_number").collect()
    assert(got.map(_.getString(1)).toSeq === Seq("line-11", "line-12", "line-13"))
    assert(got.head.getLong(0) === 11L)
  }
}
