package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive result digests.
  *
  * [[of]] canonicalises a collected result the way `digests.py` canonicalises
  * a DuckDB oracle result (columns sorted by name; doubles, floats and
  * decimals compared as the bits of the nearest double; timestamps as naive
  * ISO strings in UTC; NaN as NULL), hashes each row, and hashes the sorted
  * row hashes — so the two sides agree without sorting rows by value.
  */
object Digest {

  private val Hex = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    for (i <- bytes.indices) {
      out(2 * i) = Hex((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(bytes(i) & 0xf)
    }
    new String(out)
  }

  private def sha(alg: String, s: String): String =
    hex(MessageDigest.getInstance(alg).digest(s.getBytes("UTF-8")))

  private def bits(d: Double): String =
    if (d.isNaN) "NULL"
    else {
      val h = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      "d:" + "0" * (16 - h.length) + h
    }

  private def pad(v: Int, width: Int): String = {
    val s = v.toString
    "0" * (width - s.length) + s
  }

  private def iso(t: java.time.LocalDateTime): String = {
    val base = s"${pad(t.getYear, 4)}-${pad(t.getMonthValue, 2)}-${pad(t.getDayOfMonth, 2)}" +
      s"T${pad(t.getHour, 2)}:${pad(t.getMinute, 2)}:${pad(t.getSecond, 2)}"
    val micros = t.getNano / 1000
    if (micros == 0) base else s"$base.${pad(micros, 6)}"
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => bits(d)
    case f: Float => bits(f.toDouble)
    case d: java.math.BigDecimal => bits(d.doubleValue)
    case d: scala.math.BigDecimal => bits(d.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case t: java.sql.Timestamp =>
      iso(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
    case t: java.time.Instant => iso(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => iso(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => hex(b)
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  /** Digest of a collected result with the given column names. */
  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rowHashes = rows.map(r => sha("SHA-1", order.map(i => cell(r.get(i))).mkString("\u001f")))
    sha("SHA-256", order.map(columns).mkString(",") + "\n" + rowHashes.sorted.mkString("\n"))
  }

  def of(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    (rows.length.toLong, of(df.columns.toSeq, rows))
  }

  /** Order-insensitive fingerprint computed inside Spark, for tables too big
    * to collect: row count plus the sum of per-row 64-bit hashes.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
