package perfbench

import java.io.File
import scala.collection.mutable
import graft.{SparkEntry, Tables}

object Workloads {

  /** The warehouse's own SQL surface: the CoreQueries/FunctionQueries gate
    * entries q01-q48. Short queries whose cost is mostly per-query fixed
    * cost (planning, codegen, job scheduling); none launches a job while
    * it is being built.
    */
  val starOlap: Seq[String] = Seq(
    "q01_pricing_summary", "q02_count_distinct", "q03_conditional_agg", "q04_having",
    "q05_scalar_agg", "q06_stats_agg", "q07_view_composition", "q08_approx_distinct",
    "q09_portable_hll", "q10_star_join", "q11_left_join", "q12_right_join",
    "q13_full_join", "q14_anti_join", "q15_semi_join", "q16_cross_scalars",
    "q17_scalar_subquery", "q18_exists_sql", "q19_in_subquery", "q20_row_number",
    "q21_rank_agg", "q22_lag_lead", "q23_running_sum", "q24_moving_agg",
    "q25_first_last", "q26_dense_ntile", "q30_topk", "q32_union_all",
    "q33_union_distinct", "q34_intersect", "q35_except", "q36_rollup", "q37_pivot",
    "q38_string_agg", "q40_string_funcs", "q41_date_funcs", "q42_math_funcs",
    "q43_case_banding", "q44_null_handling", "q45_casts", "q46_predicates",
    "q47_stat_composites", "q48_convert_styles")

  /** Iterative and dedup pipelines, three kinds: entries that launch jobs
    * and pin eager checkpoints before the final action (q274, q68),
    * job-heavy final actions (q548, q470), and CPU-dense dedup kernels
    * (q54, q55, q65).
    */
  val pipeline: Seq[String] = Seq(
    "q274_hits", "q68_dedup_clusters",
    "q548_distribution_advisor", "q470_tukey_nonadditivity",
    "q54_ngram_jaccard", "q55_minhash_lsh", "q65_ppjoin_jaccard")

  /** The pipeline's ingest, run at the start of every pass: the documents
    * corpus arrives as '|'-delimited text (about 1% of the base lines
    * corrupted), loads with a 5% reject threshold, lands by CTAS in a
    * round-robin table plus two trickle appends, then gets statistics and
    * a rebuild.
    */
  def docsIngest(ctx: Ctx): Ingest = new Ingest(ctx, "docs",
    Tables(ctx.spark, ctx.data, "documents"), corruptCol = "n_chars", perMille = 10,
    rejectPct = 5.0, trickleKey = "doc_id", trickles = 2)

  def apply(ctx: Ctx, name: String, digests: => Map[String, (Long, String)]): Workload =
    name match {
      case "star_olap" => new Workload(ctx, name, starOlap, digests, None)
      case "pipeline" => new Workload(ctx, name, pipeline, digests, Some(docsIngest(ctx)))
      case _ => throw new IllegalArgumentException(s"unknown workload $name")
    }

  /** Oracle SQL of every workload entry, as JSON for `digests.py`. */
  def dump(): String = {
    val oracles = SparkEntry.oracleSql
    Report.obj((starOlap ++ pipeline).map { name =>
      name -> Report.str(oracles.getOrElse(name,
        throw new IllegalStateException(s"$name has no oracle to check it against")))
    })
  }

  /** Per-layer metric names, emitted by every traced run in this order. */
  val layerMetrics: Seq[String] = Seq(
    "operators.build_ms", "operators.build_jobs", "operators.checkpoints",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_per_stage",
    "exec.sched_delay_ms", "exec.no_stage_frac",
    "codegen.compiles", "codegen.compile_ms",
    "plans.analysis_ms", "plans.optimizer_ms", "plans.planning_ms", "plans.exchanges",
    "exec.action_ms", "exec.task_cpu_ms", "exec.task_run_ms", "exec.cores_busy",
    "exec.gc_ms", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "Tables.scan_bytes", "Tables.scan_rows",
    "sources.load_ms", "sources.rejected_rows", "sources.ctas_ms", "sources.append_ms",
    "sources.files_written", "sources.bytes_written", "sources.ingest_rows_per_s",
    "sources.stored_bytes_per_input_byte",
    "maintenance.stats_ms", "maintenance.rebuild_ms",
    "jvm.gc_ms")

  /** Layers whose self time a traced run reports (span names). */
  val spanLayers: Seq[String] = Seq("op", "operators.build", "exec.action", "exec.job",
    "exec.stage", "sources.load", "sources.ctas", "sources.append",
    "maintenance.stats", "maintenance.rebuild")
}

/** What a timed block measured; `passMs` holds each pass's wall time. */
final case class Block(latencies: Seq[Double], passMs: Seq[Double],
    attempted: Long, failed: Long, layers: Map[String, Double] = Map.empty) {
  def passes: Int = passMs.size
  def wallMs: Double = passMs.sum
  /** Queries per minute of the median pass, so one pass slowed by a
    * neighbour on the machine does not move the figure.
    */
  def qpm: Double = 60000.0 * latencies.size / passes / Report.median(passMs)
}

/** One workload: program entries in an order shuffled by the seed, each
  * timed like `graft.Bench`, behind an optional ingest at the start of
  * every pass.
  *
  * A run sets up, checks every output in a first (cold) pass, runs one
  * more pass untimed so no timed pass is the JIT's first, then times a
  * fixed number of passes, one for every started 10 s of `seconds`. The
  * count never depends on the clock, so every run measures
  * the same work however fast the machine runs. A traced run instead times
  * four passes, untraced, traced, traced, untraced: the traced ones give
  * the per-layer figures, and the tracing overhead compares the two kinds
  * with neither always first.
  */
final class Workload(ctx: Ctx, val name: String, names: Seq[String],
    expected: Map[String, (Long, String)], ingest: Option[Ingest]) {
  import ctx._
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  // one order for the warm-up and every timed pass: a pass compiles more
  // classes than Spark's codegen cache holds, so every class misses, as in
  // graft.Bench, rather than the seed deciding which queries find theirs
  private val order = new scala.util.Random(seed).shuffle(fns)

  /** The cold first pass, which checks every output: the ingest's text is
    * exported and one ingest cycle checked, then each entry's result is
    * collected and compared with its expected digest. Returns (attempted,
    * failed).
    */
  private def checkPass(): (Long, Long) = {
    var attempted = fns.size.toLong
    var failed = 0L
    ingest.foreach { in =>
      try {
        in.prepare()
        val b = in.cycle(-1)
        attempted += b.attempted
        failed += b.failed
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] ingest set-up failed: $e")
        attempted += 1
        failed += 1
      }
    }
    for ((n, fn) <- order) if (!check(n, fn)) failed += 1
    (attempted, failed)
  }

  private def check(n: String, fn: graft.Q): Boolean =
    try {
      graft.Tuning.reset(spark)
      val (rows, digest) = Digest.of(fn(spark, data))
      expected.get(n) match {
        case Some((r, d)) if r == rows && d == digest => true
        case e =>
          System.err.println(s"[perfbench] $n: output check failed: got $rows rows $digest, expected $e")
          false
      }
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $n failed: $e"); false
    } finally {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

  private def pass(i: Int): Block = {
    val pre = ingest.map(_.cycle(i))
    val lat = mutable.ArrayBuffer.empty[Double]
    var failed = pre.fold(0L)(_.failed)
    for ((n, fn) <- order) {
      try lat += timeQuery(n)(fn(spark, data))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: $e"); failed += 1
      }
    }
    Block(lat.toSeq, Seq(lat.sum + pre.fold(0.0)(_.wallMs)),
      fns.size + pre.fold(0L)(_.attempted), failed, pre.fold(Map.empty[String, Double])(_.layers))
  }

  /** One timed pass per entry of `traced`, which says whether the tracer
    * records it.
    */
  private def timedPasses(traced: Seq[Boolean]): Seq[(Block, Boolean)] = {
    val out = traced.zipWithIndex.map { case (on, k) =>
      val before = (Gauges.codegenCompiles, Gauges.codegenMs, Gauges.gcMs)
      // the previous pass's events are dropped before the tracer listens
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext, 10000L)
      tracer.enabled = on
      val b = pass(k + 1)
      if (on) {
        org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext, 10000L)
        tracer.enabled = false
        tracer.add("codegen.compiles", (Gauges.codegenCompiles - before._1).toDouble)
        tracer.add("codegen.compile_ms", Gauges.codegenMs - before._2)
        tracer.add("jvm.gc_ms", Gauges.gcMs - before._3)
      }
      (b, on)
    }
    System.err.println(s"[perfbench] $name pass wall (ms): " + out.map { case (b, on) =>
      f"${b.wallMs}%.0f" + (if (on) "t" else "") }.mkString(" "))
    out
  }

  /** How much slower the traced passes ran a layer rate, as a share of the
    * untraced passes' rate (0 when the workload has no such layer).
    */
  private def overhead(plain: Block, traced: Block, rate: String): Double = {
    val p = plain.layers.getOrElse(rate, 0.0)
    if (p > 0) (p - traced.layers.getOrElse(rate, 0.0)) / p else 0.0
  }

  private def merge(blocks: Seq[Block]): Block = {
    val layers = blocks.flatMap(_.layers.keys).distinct.map(k =>
      k -> blocks.map(_.layers.getOrElse(k, 0.0)).sum / blocks.size).toMap
    Block(blocks.flatMap(_.latencies), blocks.flatMap(_.passMs),
      blocks.map(_.attempted).sum, blocks.map(_.failed).sum, layers)
  }

  def run(): String = {
    val sessionS = uptime
    val (checked, checkFailed) = checkPass()
    val checkedS = uptime
    val warm = pass(0)
    val setupS = uptime
    System.err.println(f"[perfbench] $name set-up: session $sessionS%.1f s, check pass " +
      f"${checkedS - sessionS}%.1f s, warm-up pass ${setupS - checkedS}%.1f s")
    val timed = timedPasses(if (trace) Seq(false, true, true, false)
      else Seq.fill(math.max(1, math.ceil(seconds / 10).toInt))(false))
    val untracedPasses = timed.filterNot(_._2).map(_._1)
    val untraced = merge(untracedPasses)
    val (tailPct, tailMs) = Report.tail(untracedPasses.map(_.latencies))
    val metrics: Seq[(String, Double)] = if (!trace) {
      Seq("setup_s" -> setupS,
        "queries_per_min" -> untraced.qpm,
        "query_p50_ms" -> Report.median(untraced.latencies),
        "query_tail_ms" -> tailMs,
        "live_heap_mb" -> Gauges.liveHeapMb)
    } else {
      val traced = merge(timed.filter(_._2).map(_._1))
      val per = 1.0 / traced.passes
      val c = tracer.counters
      val spans = tracer.spans
      val self = Gauges.selfTimes(spans)
      val ops = spans.filter(_.name == "op")
      val opMs = ops.map(s => s.end - s.start).sum
      val stagesByOp = spans.filter(_.name == "exec.stage").groupBy(_.op)
      val idle = ops.map { o =>
        val iv = stagesByOp.getOrElse(o.id, Nil)
          .map(s => (math.max(s.start, o.start), math.min(s.end, o.end))).filter(p => p._2 > p._1)
        (o.end - o.start) - Gauges.covered(iv)
      }.sum
      def spanMs(n: String) = spans.filter(_.name == n).map(s => s.end - s.start).sum
      val derived = Map(
        "operators.build_ms" -> spanMs("operators.build"),
        "exec.action_ms" -> spanMs("exec.action"))
      val totals = c ++ derived
      val ratios = Map(
        "exec.tasks_per_stage" -> c.getOrElse("exec.tasks", 0.0) / math.max(1.0, c.getOrElse("exec.stages", 0.0)),
        "exec.no_stage_frac" -> (if (opMs > 0) idle / opMs else 0.0),
        "exec.cores_busy" -> (if (opMs > 0) c.getOrElse("exec.task_cpu_ms", 0.0) / opMs else 0.0))
      val named = Workloads.layerMetrics.map { m =>
        m -> ratios.getOrElse(m, traced.layers.getOrElse(m, totals.getOrElse(m, 0.0) * per))
      }
      val selfMetrics = Workloads.spanLayers.map(l => s"self.$l.ms" -> self.getOrElse(l, 0.0) * per)
      Report.writeTrace(new File(work, "trace.json").getPath, name, seed, spans, self)
      System.err.println(s"[perfbench] $name self time per pass (ms): " +
        selfMetrics.map { case (k, v) => f"$k=$v%.1f" }.mkString(" "))
      named ++ selfMetrics ++ Seq(
        "trace.passes" -> traced.passes.toDouble,
        "trace.queries_per_min" -> traced.qpm,
        "trace.overhead_frac" -> (untraced.qpm - traced.qpm) / untraced.qpm,
        "trace.ingest_overhead_frac" -> overhead(untraced, traced, "sources.ingest_rows_per_s"),
        "query.samples" -> untraced.latencies.size.toDouble,
        "query.tail_pct" -> tailPct.toDouble)
    }
    val attempted = checked + warm.attempted + timed.map(_._1.attempted).sum
    val failed = checkFailed + warm.failed + timed.map(_._1.failed).sum
    Report.result(attempted, failed, metrics,
      Seq("checked" -> checked.toString, "check_failed" -> checkFailed.toString,
        "tail_percentile" -> tailPct.toString, "passes" -> timed.size.toString))
  }
}
