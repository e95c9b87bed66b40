package graft.observability

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

/** Request/step/data-movement journal — the engine's observability layer
  * standing in for the reference's DMV surface (SURVEY.md §3.1):
  *
  *  - `requests`     ≈ sys.dm_pdw_exec_requests (reference:
  *    solutions/monitoring/scripts/views/microsoft.vw_active_queries.sql:4-11)
  *  - `steps`        ≈ sys.dm_pdw_request_steps — one row per Spark stage,
  *    the engine's DSQL-step analog (microsoft.vw_query_steps.sql:38-56)
  *  - `stepDetails`  ≈ sys.dm_pdw_dms_workers — shuffle/data-movement bytes
  *    and rows per step (microsoft.vw_query_step_details.sql:24-33)
  *
  * Labels: the reference's OPTION(LABEL='...') workload tracing
  * (CTASLoad-Example.sql:90, whitepaper.md:133-138) maps to the Spark job
  * description. Local properties are thread-local, so the label is captured
  * from the event payloads (SQLExecutionStart.description, JobStart
  * properties) rather than read back on the listener thread.
  *
  * The engine's one observer (its only SparkListener and
  * QueryExecutionListener): plan-lint findings and per-task shuffle reads
  * are rows here too, so Bench's lint gates, `Scratch profile` and the
  * monitoring views all read it. A harness that calls [[handover]] once
  * per query keeps it bounded.
  */
object QueryJournal {
  final case class RequestRow(request_id: Long, label: String, status: String,
      error: String, submit_time: java.sql.Timestamp, duration_ms: Long)
  final case class StepRow(request_label: String, stage_id: Int, attempt: Int,
      name: String, n_tasks: Int, status: String,
      input_bytes: Long, input_rows: Long, output_rows: Long,
      shuffle_read_bytes: Long, shuffle_write_bytes: Long, duration_ms: Long)

  /** Per-task row ≈ one per-distribution SQL request: a Spark task is the
    * per-distribution work unit of a stage exactly as a DSQL step fans out
    * per distribution (reference:
    * solutions/monitoring/scripts/views/microsoft.vw_sql_requests.sql:60-79).
    */
  final case class SqlRequestRow(request_id: String, step_index: Int,
      pdw_node_id: String, distribution_id: Int, status: String,
      error_id: String, start_time: java.sql.Timestamp,
      end_time: java.sql.Timestamp, total_elapsed_time: Long,
      row_count: Long, spid: Long, command: String)

  /** A task's request row and shuffle (rows, bytes) read, if it had metrics. */
  final case class TaskRow(request: SqlRequestRow, shuffleRead: Option[(Long, Long)])

  /** A plan-lint finding of one executed action (e.g. "collect"). */
  final case class FindingRow(action: String, rule: String, severity: String,
    detail: String)

  /** The rows since the previous handover; if the bus did not drain, late
    * events of these queries arrive with the next one.
    */
  final case class Handover(drained: Boolean, requests: Seq[RequestRow],
      steps: Seq[StepRow], tasks: Seq[TaskRow], findings: Seq[FindingRow])
}

final class QueryJournal(spark: SparkSession) {
  import QueryJournal._

  private val requestsBuf = new ConcurrentLinkedQueue[RequestRow]()
  private val stepsBuf = new ConcurrentLinkedQueue[StepRow]()
  private val tasksBuf = new ConcurrentLinkedQueue[TaskRow]()
  private val findingsBuf = new ConcurrentLinkedQueue[FindingRow]()
  private val execStarts = new ConcurrentHashMap[Long, (String, Long)]()
  private val stageLabels = new ConcurrentHashMap[Int, String]()
  private val stageNames = new ConcurrentHashMap[Int, String]()
  // per-executor scratch-space accounting: (memory spilled, disk spilled,
  // shuffle bytes written) — the node-local temp allocation the reference's
  // TempdbConsumption widget reads from session space usage
  private val nodeScratch =
    new ConcurrentHashMap[String, Array[java.util.concurrent.atomic.AtomicLong]]()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val lbl = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      js.stageIds.foreach(id => stageLabels.put(id, lbl))
      js.stageInfos.foreach(si => stageNames.put(si.stageId, si.name))
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val ti = te.taskInfo
      if (ti != null) {
        Option(te.taskMetrics).foreach { m =>
          val a = nodeScratch.computeIfAbsent(ti.executorId,
            _ => Array.fill(3)(new java.util.concurrent.atomic.AtomicLong))
          a(0).addAndGet(m.memoryBytesSpilled)
          a(1).addAndGet(m.diskBytesSpilled)
          a(2).addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
        val shuffleRead = Option(te.taskMetrics).map(m =>
          (m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead))
        val rows = Option(te.taskMetrics).fold(0L)(_.inputMetrics.recordsRead) +
          shuffleRead.fold(0L)(_._1)
        tasksBuf.add(TaskRow(SqlRequestRow(
          stageLabels.getOrDefault(te.stageId, ""),
          te.stageId, ti.executorId, ti.index,
          if (ti.successful) "Complete" else "Failed",
          te.reason match {
            case org.apache.spark.Success => ""
            case r => r.toString.take(200)
          },
          new java.sql.Timestamp(ti.launchTime),
          new java.sql.Timestamp(ti.finishTime),
          ti.duration, rows, ti.taskId,
          stageNames.getOrDefault(te.stageId, "")), shuffleRead))
      }
    }

    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      val m = si.taskMetrics
      stepsBuf.add(StepRow(
        stageLabels.getOrDefault(si.stageId, ""),
        si.stageId, si.attemptNumber(), si.name, si.numTasks,
        si.failureReason.fold("Complete")(_ => "Failed"),
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)))
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        // description = spark.job.description when set, else the call site
        execStarts.put(s.executionId, (s.description, s.time))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(e.executionId)).foreach {
          case (desc, start) =>
            val err = e.errorMessage.getOrElse("")
            requestsBuf.add(RequestRow(
              e.executionId, desc,
              if (err.isEmpty) "Completed" else "Failed", err,
              new java.sql.Timestamp(start), e.time - start))
        }
      case _ => ()
    }
  }

  /** Continuous lint: the QueryExecutionListener is the one Spark hook
    * that hands over the real QueryExecution (the event bus carries only a
    * SparkPlanInfo skeleton), so every executed query is linted here —
    * the always-on version of the reference's run-the-monitoring-scripts-
    * nightly workflow. A failed query gets the static rules; a finished one
    * also gets the runtime funnel rule, whose metrics only it has. A rule
    * that throws drops its findings, never the query.
    */
  private val lintListener = new QueryExecutionListener {
    private def record(funcName: String, rule: => Seq[PlanLint.Finding]): Unit =
      (try rule catch { case _: Throwable => Seq.empty }).foreach(f =>
        findingsBuf.add(FindingRow(funcName, f.rule, f.severity, f.detail)): Unit)
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      record(funcName, PlanLint.lintPlan(qe.executedPlan))
      record(funcName,
        PlanLint.windowFunnels(qe.executedPlan, PlanLint.FunnelMinRows))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        error: Exception): Unit =
      record(funcName, PlanLint.lintPlan(qe.executedPlan))
  }

  def start(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(lintListener)
    this
  }

  def stop(): Unit = {
    spark.listenerManager.unregister(lintListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Listener delivery is async: block until the bus has drained (a fixed
    * sleep silently misses recently finished queries under load); false
    * if it did not within 10 s.
    */
  def flush(): Boolean =
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(
      spark.sparkContext, 10000L)

  /** Drain the bus, then hand over, and forget, every row recorded since
    * the previous handover.
    */
  def handover(): Handover = {
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
    val drained = flush()
    Handover(drained, take(requestsBuf), take(stepsBuf), take(tasksBuf),
      take(findingsBuf))
  }

  private def snapshot[T <: Product : TypeTag](rows: => Iterable[T]): DataFrame = {
    import spark.implicits._
    flush(); rows.toSeq.toDF()
  }

  def requests: DataFrame = snapshot(requestsBuf.asScala)
  def steps: DataFrame = snapshot(stepsBuf.asScala)

  /** Per-distribution request map ≈ sys.dm_pdw_sql_requests: one row per
    * task, with the reference view's column names (vw_sql_requests).
    */
  def sqlRequests: DataFrame = snapshot(tasksBuf.asScala.map(_.request))

  /** Every executed query's plan-lint findings (vw_plan_findings). */
  def findings: DataFrame = snapshot(findingsBuf.asScala)

  /** Per-node scratch-space widget ≈ TempdbConsumption.sql (reference:
    * samples/sqlops/MonitoringScripts/TempdbConsumption.sql:1-8): the
    * reference sums user+internal tempdb page allocations per node; the
    * Spark analog of node-local temp allocation is shuffle files (user
    * objects) plus spill files (internal objects) written to executor-local
    * disk. Reference column shape exactly.
    */
  def tempdbConsumption: DataFrame = snapshot(nodeScratch.asScala
    .map { case (exec, a) => (exec, (a(1).get() + a(2).get()) / 1024L) })
    .toDF("pdw_node_id", "Tempdb_Space_Allocated_KB")

  /** Engine-shaped spill detail behind [[tempdbConsumption]]. */
  def spillDetail: DataFrame = snapshot(nodeScratch.asScala
    .map { case (exec, a) => (exec, a(0).get(), a(1).get(), a(2).get()) })
    .toDF("pdw_node_id", "memory_bytes_spilled", "disk_bytes_spilled",
      "shuffle_write_bytes")

  /** Data-movement summary per label ≈ DMS worker rollup. */
  def stepDetails: DataFrame = {
    import org.apache.spark.sql.functions._
    steps.groupBy(col("request_label"))
      .agg(
        count(lit(1)).as("n_steps"),
        sum(col("input_bytes")).as("input_bytes"),
        sum(col("shuffle_read_bytes")).as("shuffle_read_bytes"),
        sum(col("shuffle_write_bytes")).as("shuffle_write_bytes"),
        sum(col("duration_ms")).as("total_ms"))
  }
}
