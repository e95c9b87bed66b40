package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tuning

/** The benchmark's JVM side. `run.py` builds it, generates the inputs and
  * calls it as
  *
  *   perfbench.Main --mode run --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --digests FILE --out FILE
  *
  * It sets up a session the way `graft.Bench` does, warms up with a pass
  * that also checks every output and one more untimed pass, times a fixed
  * number of whole passes of the workload (set by S) from one client
  * thread, and writes the metrics as JSON to FILE. `--mode dump` instead
  * writes the oracle SQL of the workloads' entries for `digests.py`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = a("work")
    val spark = session(work)
    val tracer = new Tracer
    tracer.sc = spark.sparkContext
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val out = a("mode") match {
      case "dump" => Workloads.dump()
      case "run" =>
        val ctx = Ctx(spark, tracer, a("data"), work, a("seed").toLong,
          a("seconds").toDouble, a("trace") == "1")
        Workloads(ctx, a("workload"), Expected.load(a("digests"))).run()
    }
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  /** The posture of `graft.Bench`: local[cores], shuffle partitions = cores,
    * AQE with a 1m coalescing floor, UTC. Scratch state stays under `work`.
    */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, data: String, work: String,
    seed: Long, seconds: Double, trace: Boolean) {

  /** Run one program query the way `graft.Bench.timeOnce` does: reset the
    * per-query tuning, build, run into the `noop` sink, then unpersist the
    * RDDs the query pinned. Returns the wall time of build plus action.
    */
  def timeQuery(label: String)(build: => DataFrame): Double = {
    Tuning.reset(spark)
    val t0 = System.nanoTime()
    tracer.span("op", label, op = true) {
      val df = tracer.span("operators.build")(build)
      tracer.span("exec.action")(df.write.format("noop").mode("overwrite").save())
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val pinned = spark.sparkContext.getPersistentRDDs.values
    if (tracer.enabled) tracer.add("operators.checkpoints", pinned.size)
    pinned.foreach(_.unpersist(blocking = false))
    if (tracer.enabled) {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext, 10000L)
      tracer.takeFinalAction()
    }
    ms
  }

  /** A timed step that is not a query (a load, a CTAS, maintenance). */
  def timeStep[T](layer: String, label: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span("op", label, op = true)(tracer.span(layer)(body))
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Seconds since the JVM started. */
  def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** Expected results: `digests.tsv` rows of name, row count, digest. */
object Expected {
  def load(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map { case Array(n, r, d) => n -> (r.toLong, d) }.toMap
}

/** Latency summary and the JSON the harness hands back to `run.py`. */
object Report {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail, per pass: the highest whole percentile that has at least
    * ten of the pass's samples beyond it (nearest rank), or the maximum
    * when a pass has ten samples or fewer; reported as the median over the
    * passes, like the queries per minute. Returns the percentile and the
    * tail.
    */
  def tail(passes: Seq[Seq[Double]]): (Int, Double) = {
    val ps = passes.filter(_.nonEmpty)
    val n = if (ps.isEmpty) 0 else ps.map(_.size).min
    val p = if (n <= 10) 100 else math.floor(100.0 * (n - 10) / n).toInt
    val perPass = ps.map { xs =>
      val s = xs.sorted
      s(math.min(s.size, math.max(1, math.ceil(p / 100.0 * s.size).toInt)) - 1)
    }
    (p, median(perPass))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(attempted: Long, failed: Long, metrics: Seq[(String, Double)],
      info: Seq[(String, String)]): String =
    obj(Seq("attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, v) => k -> num(v) })) ++ info)

  /** Write spans and per-layer self times of a traced run. */
  def writeTrace(path: String, workload: String, seed: Long, spans: Seq[Span],
      self: Map[String, Double]): Unit = {
    new File(path).getParentFile.mkdirs()
    val sb = new StringBuilder
    sb ++= "{\"workload\": " + str(workload) + ", \"seed\": " + seed + ",\n"
    sb ++= "\"self_ms\": " + obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }) + ",\n"
    sb ++= "\"spans\": [\n"
    sb ++= spans.sortBy(s => (s.start, s.id)).map { s =>
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name),
        "op" -> s.op.toString, "label" -> str(s.label), "start" -> num(s.start),
        "end" -> num(s.end)))
    }.mkString(",\n")
    sb ++= "\n]}\n"
    Files.writeString(Paths.get(path), sb.toString)
  }
}
