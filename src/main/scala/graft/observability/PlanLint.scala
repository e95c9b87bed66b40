package graft.observability

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Physical-plan anti-pattern advisor — the engine-side analog of the
  * reference's sqlops monitoring checks (reference:
  * samples/sqlops/MonitoringScripts — the toolkit's queries exist to catch
  * plans that won't survive production): walk an executed plan and report
  * the shapes that kill 100 TB runs before the cluster finds out. The same
  * rules PlansSpec pins for THIS library's queries, packaged for the
  * library's USERS to run against their own composition.
  *
  * Rules:
  *   - `cartesian-product`   — CartesianProductExec anywhere (O(n·m) rows).
  *   - `nested-loop-join`    — BroadcastNestedLoopJoin with a non-equi
  *                             condition (each probe row scans the build
  *                             side; fine for scalar widgets, fatal on two
  *                             large inputs) — severity info, since the
  *                             deliberate scalar/probe-batch pattern is
  *                             legitimate and small.
  *   - `python-udf`          — BatchEvalPython / ArrowEvalPython stages
  *                             (breaks WholeStageCodegen, serializes rows).
  *   - `scala-udf`           — ScalaUDF expressions in any operator.
  *   - `global-sort`         — a global SortExec not feeding a limit
  *                             (TakeOrdered plans as its own node, so any
  *                             surviving global sort is a full-data sort).
  *   - `filter-above-scan`   — a file scan whose data filters did NOT push
  *                             down (post-scan FilterExec carries work the
  *                             format could have skipped).
  *   - `shuffle-fanout`      — more than `maxShuffles` hash exchanges (each
  *                             is a full materialization of the stream).
  *
  * The walk unwraps AQE (initial plan — lint is a pre-flight check, not a
  * post-mortem; pair with QueryJournal metrics for the latter).
  */
object PlanLint {

  final case class Finding(rule: String, severity: String, detail: String)

  val MaxShuffles = 8

  /** The funnel rule's floor, as [[QueryJournal]] applies it to every
    * executed query: 1000 rows, below |documents| (5,000 at sf0.1) so the
    * CORPUS axis is gated, not just the fact/event axes — the r7 floor of
    * 10k was blind to every per-document window. Post-rollup report
    * windows are ≤ a few hundred rows at bench scale, so 1k stays
    * false-positive-free.
    */
  val FunnelMinRows = 1000L

  /** The task-skew gate's floors ([[taskSkew]]'s defaults), calibrated on
    * the full sf0.1 bench: a stage whose max task reads >= SkewMinRows
    * shuffle rows AND >= SkewRatio x the others' mean is one hot key
    * owning the stream. Byte floor: below it, row imbalance is the AQE
    * coalescer packing byte-small map outputs, not a hot key (a hot key is
    * the one thing coalescing can't split, so it exceeds the advisory size
    * at scale).
    */
  val SkewMinRows = 20000L
  val SkewRatio = 8.0
  val SkewMinBytes = 32L * 1024 * 1024

  def lint(df: DataFrame): Seq[Finding] = lintPlan(df.queryExecution.executedPlan)

  def lintPlan(root: SparkPlan): Seq[Finding] = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val nodes = collectAll(unwrap(root)).map(unwrap)
    val findings = scala.collection.mutable.ArrayBuffer.empty[Finding]

    nodes.foreach {
      case c: CartesianProductExec =>
        findings += Finding("cartesian-product", "error",
          s"CartesianProduct over ${c.left.nodeName} x ${c.right.nodeName}")
      case j: BroadcastNestedLoopJoinExec =>
        findings += Finding("nested-loop-join", "info",
          s"BroadcastNestedLoopJoin (${j.joinType}) — fine for scalar " +
            "widgets, fatal on two large inputs")
      case s: SortExec if s.global =>
        findings += Finding("global-sort", "warn",
          "global sort without a limit — TakeOrderedAndProject would plan " +
            "as its own node, so this sorts the full stream")
      case _ => ()
    }

    if (nodes.exists(n => n.nodeName.contains("BatchEvalPython") ||
        n.nodeName.contains("ArrowEvalPython")))
      findings += Finding("python-udf", "error",
        "Python UDF stage breaks codegen and serializes every row")

    if (nodes.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))))
      findings += Finding("scala-udf", "warn",
        "ScalaUDF in the plan — a Catalyst expression would stay in codegen")

    // filter-above-scan: a FilterExec whose child scan reports no pushed
    // data filters while the filter references scan attributes
    nodes.foreach {
      case f: org.apache.spark.sql.execution.FilterExec => f.child match {
        case scan: org.apache.spark.sql.execution.FileSourceScanExec
            if scan.dataFilters.isEmpty =>
          findings += Finding("filter-above-scan", "warn",
            s"filter ${f.condition.sql} sits above ${scan.nodeName} with " +
              "no pushed data filters — the format scans rows the " +
              "predicate could have skipped")
        case scan: BatchScanExec if !scan.scan.description.contains("PushedFilters: [") ||
            scan.scan.description.contains("PushedFilters: []") =>
          findings += Finding("filter-above-scan", "warn",
            s"filter ${f.condition.sql} sits above an unpushed V2 scan")
        case _ => ()
      }
      case _ => ()
    }

    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    if (shuffles > MaxShuffles)
      findings += Finding("shuffle-fanout", "info",
        s"$shuffles shuffle exchanges — each materializes the full stream; " +
          "check for reusable partitioning or missing pre-aggregation")

    // final aggregate with no partial phase below it (map-side combine
    // missing): flag Final-mode aggs whose subtree holds no Partial-mode agg
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    def aggModes(p: SparkPlan) = p match {
      case h: HashAggregateExec => h.aggregateExpressions.map(_.mode)
      case o: ObjectHashAggregateExec => o.aggregateExpressions.map(_.mode)
      case s: SortAggregateExec => s.aggregateExpressions.map(_.mode)
      case _ => Seq.empty
    }
    nodes.filter(aggModes(_).contains(Final)).foreach { fin =>
      val hasPartial = collectAll(fin).drop(1).exists(aggModes(_).contains(Partial))
      if (!hasPartial)
        findings += Finding("no-partial-agg", "warn",
          s"${fin.nodeName} finalizes with no map-side partial phase below " +
            "it — the shuffle carries raw rows instead of partial states")
    }

    findings.toSeq
  }

  /** Runtime funnel rule over an EXECUTED plan: an unpartitioned WindowExec
    * is only a scale-killer when the stream it funnels into one task grows
    * with the corpus — a 10-row decile rollup is fine, a |parts| rollup is
    * not, and no static rule can tell them apart. So this reads the
    * single-partition exchange's post-run `shuffleRecordsWritten` metric
    * (the rows that actually crossed into the funnel) and flags windows
    * whose input met `minRows`. Walks the FINAL adaptive plan (metrics live
    * there), descending into AQE query-stage wrappers.
    */
  def windowFunnels(root: SparkPlan, minRows: Long): Seq[Finding] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.window.WindowExec
    def allFinal(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allFinal(a.executedPlan)
      case q: QueryStageExec => Seq(q) ++ allFinal(q.plan)
      case other => Seq(other) ++ other.children.flatMap(allFinal) ++
        other.subqueries.flatMap(allFinal)
    }
    val nodes = allFinal(root)
    // a constant partition key is materialized as an aliased project
    // column (_w0 = lit(...)) below the window, so foldability must be
    // resolved through the plan's alias definitions
    val aliasDefs: Map[Long, org.apache.spark.sql.catalyst.expressions.Expression] =
      nodes.flatMap {
        case p: org.apache.spark.sql.execution.ProjectExec =>
          p.projectList.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Alias =>
              a.exprId.id -> a.child
          }
        case _ => Seq.empty
      }.toMap
    def constKey(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.foldable || (e match {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          aliasDefs.get(a.exprId.id).exists(_.foldable)
        case _ => false
      })
    nodes
      // an all-constant partitionSpec (e.g. partitionBy(lit(1))) is the
      // same single-task funnel as no spec at all — hash(constant) sends
      // every row to one partition
      .collect { case w: WindowExec if w.partitionSpec.forall(constKey) => w }
      .flatMap { w =>
        def oneBucket(e: ShuffleExchangeExec): Boolean =
          e.outputPartitioning.numPartitions == 1 ||
            (e.outputPartitioning match {
              // hash(constants) sends every row to a single bucket even
              // when numPartitions is the session default
              case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
                h.expressions.forall(constKey)
              case _ => false
            })
        val rows = allFinal(w.child).collectFirst {
          case e: ShuffleExchangeExec if oneBucket(e) =>
            Seq("shuffleRecordsWritten", "numOutputRows", "recordsRead")
              .collectFirst(Function.unlift(e.metrics.get))
              .map(_.value)
        }.flatten
        rows.filter(_ >= minRows).map(n =>
          Finding("global-window-funnel", "error",
            s"unpartitioned window funneled $n rows into one task — " +
              "two-level bucket device (descPrefixSum/doubledRankBelow) " +
              "restores parallelism"))
      }
  }

  /** Runtime shuffle-skew rule — the task-grain complement to
    * [[windowFunnels]] (reference: the sqlops monitoring scripts'
    * data-skew checks over distribution-incompatible joins; here measured
    * from real task metrics, not catalog heuristics). A plan can partition
    * "correctly" and still die at 100 TB when one key owns the stream — a
    * window keyed by a low-cardinality axis, a join on a hot key the AQE
    * skew rule didn't split (it only handles sort-merge sides), an
    * exploded-array hotspot. None of that is visible in plan SHAPE; it is
    * visible in the spread of shuffle-read rows across a stage's tasks.
    *
    * Over the journal's task rows (those that reported metrics), grouped
    * by stage, this reports every stage whose max task met `minRows` AND
    * exceeded `ratio` × the mean of the OTHER tasks (the plain mean
    * includes the hot task itself, which halves the measured ratio on
    * narrow stages) — both conditions, so tiny-but-lumpy report stages and
    * big-but-even fact scans stay quiet. Single-task stages are skipped: a
    * deliberate single-partition merge (TakeOrdered final, scalar rollup)
    * has no "spread", and corpus-sized single-task funnels are
    * [[windowFunnels]]'s rule.
    *
    * `minBytes` separates hot keys from AQE coalescing artifacts: the
    * coalescer packs byte-SMALL map outputs into few tasks, so a
    * byte-tiny stage can show an extreme row ratio that means nothing at
    * scale (the first full-bench run flagged two unique-key stages whose
    * "skew" was 1 MB of coalesced longs), while a genuinely hot key is
    * the one thing coalescing can never split — it exceeds the advisory
    * partition size by construction. Pass 0 to disable the byte floor
    * (tests with synthetic byte-tiny fixtures).
    */
  def taskSkew(tasks: Seq[QueryJournal.TaskRow], minRows: Long = SkewMinRows,
      ratio: Double = SkewRatio, minBytes: Long = SkewMinBytes): Seq[Finding] =
    tasks.flatMap(t => t.shuffleRead.map(t.request.step_index -> _))
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1).flatMap { case (stage, reads) =>
        val rows = reads.map(_._1)
        val (n, mx, mxB) = (rows.size, rows.max, reads.map(_._2).max)
        val restMean =
          math.max(1.0, (rows.sum - mx).toDouble / math.max(1, n - 1))
        Option.when(n >= 2 && mx >= minRows && mxB >= minBytes &&
            mx.toDouble >= ratio * restMean)(Finding("task-skew", "warn",
          s"stage $stage: max task read $mx shuffle rows ($mxB bytes) " +
            s"vs ${restMean.toLong} mean across the other ${n - 1} tasks — " +
            "one key owns the stream; salt it, bucket it, or move the hot " +
            "group through the two-level device"))
      }

  /** All nodes including those inside AQE-wrapped subtrees. */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.initialPlan)
      case other => Seq(other) ++ other.children.flatMap(collectAll) ++
        other.subqueries.flatMap(collectAll)
    }
    here
  }

  /** The findings as a frame, for dashboard surfacing next to the
    * monitoring views.
    */
  def asFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    lint(df).toDF("rule", "severity", "detail")
  }
}
