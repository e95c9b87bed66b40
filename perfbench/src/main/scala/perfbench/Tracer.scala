package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one layer. Times are epoch milliseconds; `parent` is
  * the span that caused this one (0 for none) and `op` the operation it
  * belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    label: String, start: Double, end: Double)

/** Spans and counters for a traced run, recorded from outside the program:
  * the harness opens spans around its calls into the program's public
  * functions, and Spark's public listener interfaces supply the job, stage,
  * task and planning figures. When `enabled` is false every method is a
  * pass-through and no listener sees an event.
  */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  @volatile var enabled = false

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch ms at sub-ms resolution, aligned with event times. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  // the client thread's innermost open span: (id, op, name); also stored as
  // a Spark local property so each job is attributed to the span that
  // submitted it even when the listener bus delivers the event late
  @volatile private var current: (Long, Long, String) = (0L, 0L, "")
  @volatile var sc: org.apache.spark.SparkContext = null
  private val SpanProp = "perfbench.span"

  private def setCurrent(c: (Long, Long, String)): Unit = {
    current = c
    if (sc != null) sc.setLocalProperty(SpanProp, s"${c._1},${c._2},${c._3}")
  }

  def add(name: String, v: Double): Unit = synchronized {
    counts(name) = counts.getOrElse(name, 0.0) + v
  }
  def counters: Map[String, Double] = synchronized(counts.toMap)
  def spans: Seq[Span] = synchronized(done.toList)

  /** Run `body` inside a span named `name`; `op` starts a new operation. */
  def span[T](name: String, label: String = "", op: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val outer = current
      val id = ids.incrementAndGet()
      val opId = if (op) id else outer._2
      val t0 = now
      setCurrent((id, opId, name))
      try body
      finally {
        setCurrent(outer)
        val s = Span(id, outer._1, name, opId, label, t0, now)
        synchronized(done += s)
      }
    }

  // ---- Spark scheduler events ----
  private val openJobs = mutable.Map.empty[Int, (Long, Long, Long, Double)] // job -> id, parent, op, start
  private val stageJob = mutable.Map.empty[Int, (Long, Long)] // stage -> job span id, op

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val (parent, op, parentName) = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.split(",", 3)).collect { case Array(a, b, c) => (a.toLong, b.toLong, c) }
      .getOrElse(current)
    val id = ids.incrementAndGet()
    synchronized {
      openJobs(e.jobId) = (id, parent, op, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = (id, op))
    }
    add("exec.jobs", 1)
    if (parentName == "operators.build") add("operators.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    openJobs.remove(e.jobId).foreach { case (id, parent, op, t0) =>
      done += Span(id, parent, "exec.job", op, s"job ${e.jobId}", t0, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val info = e.stageInfo
    add("exec.stages", 1)
    add("exec.tasks", info.numTasks)
    for (t0 <- info.submissionTime; t1 <- info.completionTime) synchronized {
      val (parent, op) = stageJob.getOrElse(info.stageId, (0L, 0L))
      done += Span(ids.incrementAndGet(), parent, "exec.stage", op,
        s"stage ${info.stageId}", t0.toDouble, t1.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_ms", m.executorRunTime)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime)
      add("exec.shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("Tables.scan_bytes", m.inputMetrics.bytesRead)
      add("Tables.scan_rows", m.inputMetrics.recordsRead)
      val info = e.taskInfo
      add("exec.sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    }
  }

  // ---- Catalyst: planning phases and exchanges of each finished action ----
  private val actions = mutable.ArrayBuffer.empty[(Map[String, Double], Int)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val exchanges = collectWithSubqueries(qe.executedPlan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      }.sum
      synchronized(actions += ((phases, exchanges)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Record the plan figures of the last action seen (the op's final
    * action: the listener bus delivers in posting order and the caller has
    * drained it) and forget the earlier ones.
    */
  def takeFinalAction(): Unit = {
    val last = synchronized { val l = actions.lastOption; actions.clear(); l }
    last.foreach { case (phases, exchanges) =>
      add("plans.analysis_ms", phases.getOrElse(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS, 0.0))
      add("plans.optimizer_ms", phases.getOrElse(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION, 0.0))
      add("plans.planning_ms", phases.getOrElse(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING, 0.0))
      add("plans.exchanges", exchanges)
    }
  }
}

/** Process-wide counters read before and after a timed region. */
object Gauges {
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenMs: Double = CodeGenerator.compileTime / 1e6
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** JVM heap in MB after full collections, repeated until one frees less
    * than 1 MB: Spark's ContextCleaner drops unreachable broadcasts and
    * shuffles on its own thread, only after a collection has found them.
    */
  def liveHeapMb: Double = {
    def collect() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var before = Double.MaxValue
    var after = collect()
    var rounds = 1
    while (rounds < 4 || (before - after > 1.0 && rounds < 20)) {
      before = after
      after = collect()
      rounds += 1
    }
    after
  }

  /** Self time of each layer: a span's duration minus the part of its
    * interval covered by its child spans, summed per layer name.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }
        (s.end - s.start) - covered(kids)
      }.sum
    }
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    for ((a, b) <- iv.sortBy(_._1)) {
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}
