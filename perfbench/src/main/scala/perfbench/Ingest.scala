package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.catalog.TablePolicy
import graft.maintenance.{Compaction, Statistics}
import graft.sources.{Ctas, ExternalFileFormat, ExternalTable, RejectType}

/** The write path of the warehouse, timed from outside, for one table:
  * `data` arrives as '|'-delimited text with `perMille` of its base lines
  * corrupted in `corruptCol`, loads through PolyBase-style
  * `ExternalTable.load` with a `rejectPct` percentage reject threshold,
  * lands by `Ctas.create` in a round-robin table, takes `trickles`
  * twentieths of the rows (split on `trickleKey`, uncorrupted) as that
  * many `Ctas.append` batches, then gets `Statistics.createStatistics` and
  * `Compaction.rebuild`. Every cycle is checked (untimed): the loaded
  * table's contents against the clean source and the rejected rows against
  * the injected count.
  */
final class Ingest(ctx: Ctx, table: String, data: DataFrame, corruptCol: String,
    perMille: Int, rejectPct: Double, trickleKey: String, trickles: Int) {
  import ctx._

  private val fmt = ExternalFileFormat(fieldTerminator = "|")
  private val text = new File(work, "text").getAbsolutePath
  private val stage = new File(work, "stage").getAbsolutePath
  private var textRows = 0L
  private var textBytes = 0L
  private var injected = 0L
  private var expected: (Long, BigDecimal) = (0L, BigDecimal(0))

  private def hashOf(salt: Long, cols: Seq[Column]) =
    xxhash64((lit(seed * 31 + salt) +: cols): _*)

  /** Export the table to '|'-delimited text with its corrupted lines and
    * trickle batches, and compute the expected contents.
    */
  def prepare(): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    // trickle batches are small enough that one bad line would breach a
    // percentage threshold, so only the base load carries corrupted lines
    val part = pmod(hashOf(1, Seq(col(trickleKey))), lit(20L))
    val base = 20 - trickles
    val isBad = part < base &&
      pmod(hashOf(0, data.columns.toSeq.map(col)), lit(1000L)) < perMille
    val out = data.select(data.columns.toSeq.map { c =>
      if (c == corruptCol) when(isBad, lit("#bad")).otherwise(col(c).cast("string")).as(c)
      else col(c)
    }: _*)
    def export(df: DataFrame, dir: String) =
      ExternalTable.export(df, s"$text/$dir", fmt, writers = cores)
    textRows = export(out.where(part < base), table) +
      (1 to trickles).map(b => export(out.where(part === base - 1 + b), s"${table}_$b")).sum
    textBytes = dataFiles(new File(text)).map(_.length).sum
    injected = data.where(isBad).count()
    expected = Digest.fingerprint(data.where(!isBad))
    System.err.println(s"[perfbench] ingest: $textRows text rows, $textBytes text bytes, " +
      s"$injected corrupted")
  }

  private def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  private def load(dir: String, st: String): DataFrame =
    ExternalTable(s"$text/$dir", data.schema, fmt, RejectType.Percentage(rejectPct))
      .load(spark, s"$st/$dir")

  /** One cycle: its steps are timed, its checks and clean-up are not. */
  def cycle(i: Int): Block = {
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wall = 0.0
    var attempted = 0L
    var failed = 0L
    def step[T](l: String, label: String)(body: => T): T = {
      attempted += 1
      val (r, ms) = timeStep(l, label)(body)
      wall += ms
      layer(s"${l}_ms") += ms
      r
    }
    val st = s"$stage/c$i"
    try {
      val df = step("sources.load", s"load $table")(load(table, st))
      step("sources.ctas", s"ctas $table")(Ctas.create(spark, df, table, TablePolicy()))
      for (b <- 1 to trickles) {
        val df = step("sources.load", s"load ${table}_$b")(load(s"${table}_$b", st))
        step("sources.append", s"append ${table}_$b")(Ctas.append(df, table))
      }
      step("maintenance.stats", s"statistics $table")(Statistics.createStatistics(spark, table))
      val ingestMs = wall
      step("maintenance.rebuild", s"rebuild $table")(Compaction.rebuild(spark, table))
      // checks, untimed
      val got = Digest.fingerprint(spark.table(table).drop(Ctas.MonthKeyCol))
      val rejected = textRows - got._1
      val checks = Seq(s"$table contents" -> (got == expected),
        s"rejected rows $rejected vs injected $injected" -> (rejected == injected))
      checks.filterNot(_._2).foreach { case (what, _) =>
        System.err.println(s"[perfbench] ingest cycle $i: check failed: $what")
      }
      attempted += checks.size
      failed += checks.count(!_._2)
      val files = dataFiles(new File(new File(work, "warehouse"), table))
      val stored = files.map(_.length).sum.toDouble
      layer("sources.rejected_rows") += rejected
      layer("sources.files_written") += files.size
      layer("sources.bytes_written") += stored
      layer("sources.ingest_rows_per_s") += got._1 / (ingestMs / 1000.0)
      layer("sources.stored_bytes_per_input_byte") += stored / textBytes
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] ingest cycle $i failed: $e")
      failed += 1
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_graft_rebuild")
      deleteRecursively(new File(st))
    }
    Block(Nil, Seq(wall), attempted, failed, layer.toMap)
  }
}
