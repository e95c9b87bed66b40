package graft.observability

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The plan advisor flags the shapes that kill 100 TB runs — and stays
  * quiet on the library's own disciplined plans.
  */
class PlanLintSpec extends SparkSpec {

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanLint.lint(df).map(_.rule).toSet

  test("flags a cartesian product") {
    val a = Tables.nation(spark, sfDir)
    val b = Tables.region(spark, sfDir)
    val r = rules(a.crossJoin(b).filter(col("n_name") > col("r_name")))
    assert(r.contains("cartesian-product") || r.contains("nested-loop-join"), r)
  }

  test("flags a global sort without a limit") {
    assert(rules(Tables.lineitem(spark, sfDir).orderBy(col("l_extendedprice")))
      .contains("global-sort"))
    // ... but a top-k plans as TakeOrderedAndProject and stays clean
    assert(!rules(Tables.lineitem(spark, sfDir)
      .orderBy(col("l_extendedprice")).limit(5)).contains("global-sort"))
  }

  test("flags a Scala UDF where an expression would do") {
    val shout = udf((s: String) => s.toUpperCase)
    assert(rules(Tables.nation(spark, sfDir).select(shout(col("n_name"))))
      .contains("scala-udf"))
    assert(!rules(Tables.nation(spark, sfDir).select(upper(col("n_name"))))
      .contains("scala-udf"))
  }

  test("flags a final aggregate with no partial phase") {
    // sort-based fallback keeps partial+final, so flagship aggregates pass
    val clean = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag")).agg(count(lit(1)))
    assert(!rules(clean).contains("no-partial-agg"))
  }

  test("the flagship star join lints clean") {
    val f = rules(graft.operators.CoreQueries.q10StarJoin(spark, sfDir))
    assert(!f.contains("cartesian-product") && !f.contains("global-sort") &&
      !f.contains("python-udf") && !f.contains("scala-udf"), f)
  }

  test("findings surface as a frame for the monitoring layer") {
    val df = PlanLint.asFrame(spark,
      Tables.lineitem(spark, sfDir).orderBy(col("l_shipdate")))
    assert(df.columns.toSeq === Seq("rule", "severity", "detail"))
    assert(df.filter(col("rule") === "global-sort").count() === 1)
  }

  test("windowFunnels catches constant-key windows, not real partitioning") {
    import org.apache.spark.sql.expressions.Window
    def funnels(df: org.apache.spark.sql.DataFrame): Seq[PlanLint.Finding] = {
      // collect() executes THIS QueryExecution (a write action would plan
      // its own, leaving df's metrics empty)
      df.collect()
      PlanLint.windowFunnels(df.queryExecution.executedPlan, 1000L)
    }
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
    // partitionBy(lit(1)) hashes every row into ONE bucket of a
    // default-width exchange — same funnel as no partitioning at all
    val constant = li.withColumn("s",
      sum(col("l_quantity")).over(Window.partitionBy(lit(1))))
    assert(funnels(constant).nonEmpty,
      "constant-key window over the fact table must flag")
    val unpart = li.withColumn("s",
      sum(col("l_quantity")).over(Window.partitionBy()))
    assert(funnels(unpart).nonEmpty,
      "unpartitioned window over the fact table must flag")
    val keyed = li.withColumn("s",
      sum(col("l_quantity")).over(Window.partitionBy(col("l_orderkey"))))
    assert(funnels(keyed).isEmpty,
      "a genuinely keyed window must stay clean")
  }

  test("the continuous lint journal records offenders per executed action") {
    val j = new QueryJournal(spark).start()
    try {
      Tables.lineitem(spark, sfDir).orderBy(col("l_shipdate")).collect()
      j.flush()
      val f = j.findings.filter(col("rule") === "global-sort")
      assert(f.count() >= 1, "the executed global sort must be journaled")
      new MonitoringViews(spark, j).registerQueryViews()
      assert(spark.sql(
        "SELECT COUNT(*) FROM vw_plan_findings WHERE rule = 'global-sort'")
        .collect()(0).getLong(0) >= 1)
    } finally j.stop()
  }
}
