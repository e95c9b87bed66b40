package graft.observability

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Session, SparkSpec, Tables}

/** The task-grain skew rule flags one-hot-key stages from the journal's
  * real task metrics — and stays quiet on evenly keyed work.
  */
class TaskSkewSpec extends SparkSpec {

  // 50k rows on ONE key, 500 spread across 500 others: the window
  // shuffle hands ~99% of the stream to a single task
  private def hotKey: DataFrame = {
    import spark.implicits._
    (1 to 50500).map(i =>
      (if (i <= 50000) 0L else i.toLong % 500, i.toLong)).toDF("k", "v")
      .repartition(8)
      .withColumn("r", sum(col("v"))
        .over(Window.partitionBy(col("k")).orderBy(col("v"))))
  }

  // AQE coalesces this test's byte-tiny shuffles into ONE task, hiding the
  // row spread (at real scale the hot task exceeds the advisory partition
  // size, so coalescing keeps the spread visible) — pin partition widths
  // for the fixture
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, saved)
  }

  /** The task rows one journal records while `df` runs to the noop sink. */
  private def tasksOf(df: => DataFrame): Seq[QueryJournal.TaskRow] = {
    val j = new QueryJournal(spark).start()
    try {
      Session.noop(df)
      val h = j.handover()
      assert(h.drained, "bus must drain")
      h.tasks
    } finally j.stop()
  }

  private def skewOf(df: => DataFrame, minRows: Long,
      ratio: Double): Seq[PlanLint.Finding] =
    uncoalesced(PlanLint.taskSkew(tasksOf(df), minRows, ratio, 0L))

  test("flags a hot-key window stage and resets after drain") {
    val found = skewOf(hotKey, 10000L, 8.0)
    assert(found.exists(_.rule == "task-skew"),
      s"hot-key stage must flag, got $found")
  }

  test("the byte floor silences coalescing-artifact row imbalance") {
    // same hot-key shape, but judged with a bench-default byte floor: a
    // 50k-row long column is ~1 MB — the AQE-coalescing regime where row
    // ratios are meaningless — so the rule must stay quiet
    assert(PlanLint.taskSkew(tasksOf(hotKey), 10000L, 8.0,
      32L * 1024 * 1024).isEmpty,
      "byte-tiny stages must not flag under the byte floor")
  }

  test("stays quiet on evenly keyed shuffles at the same thresholds") {
    import spark.implicits._
    val even = (1 to 50500).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .repartition(8)
      .withColumn("r", sum(col("v"))
        .over(Window.partitionBy(col("k")).orderBy(col("v"))))
    assert(skewOf(even, 10000L, 8.0).isEmpty)
  }

  test("one journal hands each query's findings to that query alone") {
    // Bench's attribution: two queries back to back through Session.run,
    // one handover after each — the funnel finding belongs to the first,
    // the skew finding to the second, and neither leaks into the other
    val j = new QueryJournal(spark).start()
    try {
      def funnels(h: QueryJournal.Handover) =
        h.findings.filter(_.rule == "global-window-funnel")
      val constantKey = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_quantity"))
        .withColumn("s",
          sum(col("l_quantity")).over(Window.partitionBy(lit(1))))
      assert(Session.run(spark)(constantKey).ok)
      val first = j.handover()
      uncoalesced(assert(Session.run(spark)(hotKey).ok))
      val second = j.handover()
      assert(first.drained && second.drained, "bus must drain")
      assert(funnels(first).nonEmpty, "the funnel is the first query's")
      assert(PlanLint.taskSkew(first.tasks, 10000L, 8.0, 0L).isEmpty)
      assert(funnels(second).isEmpty, "the funnel must not leak forward")
      assert(PlanLint.taskSkew(second.tasks, 10000L, 8.0, 0L).nonEmpty,
        "the hot key is the second query's")
      val third = j.handover()
      assert(third.tasks.isEmpty && third.findings.isEmpty,
        "a handover forgets what it handed over")
    } finally j.stop()
  }
}
