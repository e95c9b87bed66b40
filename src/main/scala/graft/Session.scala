package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness (SURVEY.md §7.1 module 1): the session every main and
  * the test suites run on, and the per-query run every harness times, so
  * the measured program is the verified program.
  *
  * Posture: local[cores], shuffle partitions sized to the cores (not the
  * 200 default), AQE with [[Tuning]]'s coalescing floor, UTC, UI off,
  * WARN. CBO, the replicated-table broadcast rule
  * (`plans.GraftExtensions`) and the T-SQL dialect
  * (`functions.TSqlRegistry.register`) are opt-in library calls, not part
  * of it: a second builder applies its runtime confs to the live session,
  * so a posture that set them would change the plans of every harness that
  * shares the JVM.
  *
  * ANSI stays off deliberately: the T-SQL compatibility layer relies on
  * non-ANSI null-on-bad-cast semantics. Integer-overflow safety for
  * high-magnitude composite sums is handled where it matters instead —
  * those aggregates accumulate in DECIMAL(38,0) (exact to ~10^27 rows per
  * group, NULL on overflow) rather than wrapping int64; see q01/q47.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core of the machine. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cores: Int = defaultCores,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tuning.FloorKey, Tuning.defaultFloor)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark =
      warehouseDir.fold(b)(d => b.config("spark.sql.warehouse.dir", d))
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns once per unpartitioned window, and the corpus's
    // post-rollup report windows are unpartitioned by design (tiny frames).
    // The gate on the ones that are not tiny is PlanLint.windowFunnels
    // (runtime row counts, in Bench's plan_lint.json), not this log line.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** The sink every timed run uses: materializes every row and column and
    * writes nothing (a plain count() would let Catalyst prune projections
    * in map-only queries and under-report).
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** One query run: wall seconds of build plus sink, and its failure. */
  final case class Run(seconds: Double, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
    /** The seconds, or the failure rethrown. */
    def get: Double = error.fold(seconds)(e => throw e)
  }

  /** Run one query the way every harness does. Resets [[Tuning]] first (a
    * query's `cpuDenseShuffles` must never leak into the next), times the
    * build plus the sink, and after the clock stops drops every cached
    * plan (else the next identical plan reuses it, blocks released) and
    * every RDD the query pinned (an eager localCheckpoint registers as
    * persistent), so later queries never pay for earlier ones' state —
    * also when the build or the sink throws. A failure is returned with
    * its elapsed time, not thrown: callers decide whether an early abort
    * may count.
    */
  def run(spark: SparkSession, sink: DataFrame => Unit = noop)(
      build: => DataFrame): Run = {
    Tuning.reset(spark)
    val t0 = System.nanoTime()
    try {
      val error = try { sink(build); None } catch { case e: Throwable => Some(e) }
      Run((System.nanoTime() - t0) / 1e9, error)
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(org.apache.spark.graft.StorageBridge.release)
    }
  }

  /** The entries whose name contains any of the comma-separated filters,
    * by name (every harness's query selector; "" selects every entry).
    */
  def select[V](all: Map[String, V], filters: String): Seq[(String, V)] = {
    val fs = filters.split(',').toSeq
    all.toSeq.filter(kv => fs.exists(kv._1.contains)).sortBy(_._1)
  }

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make a
    * reader's json.load fail and silently zero the round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
