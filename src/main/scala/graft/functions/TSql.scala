package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** T-SQL-compatible scalar function layer (SURVEY.md §2.8).
  *
  * Every function here is a pure composition of Catalyst expressions
  * (`org.apache.spark.sql.functions._`) — zero serialization boundaries, all
  * codegen-friendly, no Scala UDFs. Semantics follow the dialect documented in
  * the reference white paper (reference:
  * white-papers/Integrating MicroStrategy Analytics with Azure SQL Data
  * Warehouse.md:508-603) and the live usage in its scripts.
  */
object TSql {

  // ---------------------------------------------------------------- null ops

  /** T-SQL ISNULL(x, d) (reference: samples/sqlops/MonitoringScripts/MemoryGrant.sql:85). */
  def isnull(c: Column, d: Column): Column = coalesce(c, d)

  /** T-SQL NULLIF (whitepaper.md:553,555). */
  def nullif(c: Column, d: Column): Column = when(c === d, lit(null)).otherwise(c)

  // ---------------------------------------------------------------- strings

  /** T-SQL QUOTENAME: bracket-quote an identifier, doubling any `]`
    * (reference: solutions/monitoring/scripts/views/microsoft.vw_table_sizes.sql:48).
    */
  def quotename(c: Column): Column =
    concat(lit("["), regexp_replace(c, "\\]", "]]"), lit("]"))

  /** T-SQL LEN: string length ignoring trailing spaces (whitepaper.md:595). */
  def len(c: Column): Column = length(rtrim(c))

  /** T-SQL CHARINDEX(needle, haystack): 1-based position, 0 when absent
    * (reference: samples/scripts/data-load/GenerateLoadScript-V2.sql:155).
    */
  def charindex(needle: Column, haystack: Column): Column = instr(haystack, needle)

  /** T-SQL LEFT(s, n) (whitepaper.md:594). */
  def left(c: Column, n: Int): Column = substring(c, 1, n)

  /** T-SQL RIGHT(s, n): last n chars, whole string when n exceeds length
    * (whitepaper.md:599). Spark's negative-start substring has exactly these
    * semantics.
    */
  def right(c: Column, n: Int): Column = substring(c, -n, n)

  /** T-SQL-style InitCap pattern: capitalize ONLY the first character, keep
    * the rest unchanged (whitepaper.md:593 — unlike Spark's per-word initcap).
    */
  def initcapFirst(c: Column): Column =
    concat(upper(substring(c, 1, 1)), substring(c, 2, Int.MaxValue))

  // ---------------------------------------------------------------- datetime

  /** T-SQL GETDATE() (vw_table_sizes.sql:44). */
  def getdate(): Column = current_timestamp()

  /** T-SQL DATEADD(unit, n, ts) (whitepaper.md:515-516,
    * TableHealthCount.sql:95). Month/quarter/year arithmetic is calendar-aware
    * (add_months); sub-day units are exact interval arithmetic.
    */
  def dateadd(unit: String, n: Column, ts: Column): Column = unit.toLowerCase match {
    // Calendar-aware month arithmetic that keeps time-of-day and clamps to
    // month end (Jan 31 + 1 month = Feb 28/29), matching T-SQL.
    case "year" | "yy" | "yyyy"  => timestamp_add("MONTH", n * 12, ts)
    case "quarter" | "qq" | "q"  => timestamp_add("MONTH", n * 3, ts)
    case "month" | "mm" | "m"    => timestamp_add("MONTH", n, ts)
    case "week" | "wk" | "ww"    => timestamp_add("DAY", n * 7, ts)
    case "day" | "dd" | "d"      => timestamp_add("DAY", n, ts)
    case "hour" | "hh"           => timestamp_add("HOUR", n, ts)
    case "minute" | "mi" | "n"   => timestamp_add("MINUTE", n, ts)
    case "second" | "ss" | "s"   => timestamp_add("SECOND", n, ts)
    case "millisecond" | "ms"    => timestamp_add("MILLISECOND", n, ts)
    case u => throw new IllegalArgumentException(s"DATEADD unit: $u")
  }

  def dateadd(unit: String, n: Int, ts: Column): Column = dateadd(unit, lit(n), ts)

  /** T-SQL DATEDIFF(unit, a, b): counts **unit-boundary crossings**, not
    * elapsed intervals (e.g. DATEDIFF(year, '2023-12-31', '2024-01-01') = 1).
    * The monitoring toolkit depends on this exact semantic
    * (reference: solutions/monitoring/scripts/views/microsoft.vw_query_queue.sql:19
    * uses MILLISECOND; samples/sqlops/MonitoringScripts/LatestBackup.sql:6 uses
    * SECOND). Implemented by truncating both endpoints to the unit boundary
    * and differencing — pure long arithmetic, codegen-friendly.
    */
  def datediff(unit: String, a: Column, b: Column): Column = {
    def floorDiv(c: Column, micros: Long): Column =
      floor(unix_micros(c).cast("double") / lit(micros.toDouble)).cast("long")
    unit.toLowerCase match {
      case "year" | "yy" | "yyyy" => (year(b) - year(a)).cast("long")
      case "quarter" | "qq" | "q" =>
        ((year(b) * 4 + quarter(b)) - (year(a) * 4 + quarter(a))).cast("long")
      case "month" | "mm" | "m" =>
        ((year(b) * 12 + month(b)) - (year(a) * 12 + month(a))).cast("long")
      case "week" | "wk" | "ww" =>
        // T-SQL counts Sunday-start week boundaries; 1970-01-01 was a Thursday
        // so shift epoch-days by 4 to align floor-division to Sundays.
        (floor((date_diff(to_date(b), to_date(lit("1970-01-01"))) + lit(4)) / 7) -
          floor((date_diff(to_date(a), to_date(lit("1970-01-01"))) + lit(4)) / 7)).cast("long")
      case "day" | "dd" | "d" => date_diff(to_date(b), to_date(a)).cast("long")
      case "hour" | "hh"      => floorDiv(b, 3600000000L) - floorDiv(a, 3600000000L)
      case "minute" | "mi" | "n" => floorDiv(b, 60000000L) - floorDiv(a, 60000000L)
      case "second" | "ss" | "s" => floorDiv(b, 1000000L) - floorDiv(a, 1000000L)
      case "millisecond" | "ms"  => floorDiv(b, 1000L) - floorDiv(a, 1000L)
      case u => throw new IllegalArgumentException(s"DATEDIFF unit: $u")
    }
  }

  /** T-SQL DATEPART(unit, ts) (whitepaper.md:521-531). WEEKDAY is 1=Sunday..7
    * like the T-SQL default `@@DATEFIRST`=7 — matches Spark's dayofweek.
    */
  def datepart(unit: String, ts: Column): Column = unit.toLowerCase match {
    case "year" | "yy" | "yyyy"    => year(ts)
    case "quarter" | "qq" | "q"    => quarter(ts)
    case "month" | "mm" | "m"      => month(ts)
    case "day" | "dd" | "d"        => dayofmonth(ts)
    case "dayofyear" | "dy" | "y"  => dayofyear(ts)
    case "week" | "wk" | "ww"      => weekofyear(ts)
    case "weekday" | "dw"          => dayofweek(ts)
    case "hour" | "hh"             => hour(ts)
    case "minute" | "mi" | "n"     => minute(ts)
    case "second" | "ss" | "s"     => second(ts)
    case u => throw new IllegalArgumentException(s"DATEPART unit: $u")
  }

  /** T-SQL CONVERT(varchar, ts, style) — the commonly used date styles
    * (style-coded formats; CONVERT usage at reference:
    * solutions/monitoring/scripts/procs/microsoft.sp_create_statistics.sql:69).
    */
  def convertStyle(ts: Column, style: Int): Column = style match {
    case 101 => date_format(ts, "MM/dd/yyyy")
    case 103 => date_format(ts, "dd/MM/yyyy")
    case 112 => date_format(ts, "yyyyMMdd")
    case 120 => date_format(ts, "yyyy-MM-dd HH:mm:ss")
    case 23 => date_format(ts, "yyyy-MM-dd")
    case s => throw new IllegalArgumentException(s"CONVERT style: $s")
  }

  /** Month-start idiom (whitepaper.md:525). */
  def monthStart(ts: Column): Column = trunc(ts, "month")

  /** Month-end idiom (whitepaper.md:526). */
  def monthEnd(ts: Column): Column = last_day(ts)

  // ---------------------------------------------------------------- numeric

  /** T-SQL STDEVP / VARP aliases (whitepaper.md:511-514). */
  def stdev(c: Column): Column  = stddev_samp(c)
  def stdevp(c: Column): Column = stddev_pop(c)
  def varSamp(c: Column): Column = var_samp(c)
  def varp(c: Column): Column    = var_pop(c)

  /** MOD with divide-by-zero → NULL guard, as the whitepaper's composite
    * (whitepaper.md:553).
    */
  def modSafe(a: Column, b: Column): Column = a % nullif(b, lit(0))

  // The whitepaper's documented composite ladder for functions the engine
  // lacks natively (whitepaper.md:535-564). All are expression compositions;
  // the libm-backed ones (log/exp/trig) are unit-tested rather than
  // oracle-checked — libm is not bit-portable across engines.

  /** DEGREES composite (whitepaper.md:544). */
  def degrees(x: Column): Column = x * lit(180.0) / lit(math.Pi)

  /** RADIANS composite (whitepaper.md:557). */
  def radians(x: Column): Column = x * lit(math.Pi) / lit(180.0)

  /** ATN2 — T-SQL's atan2 argument order (whitepaper.md:540). */
  def atn2(y: Column, x: Column): Column = atan2(y, x)

  /** ACOSH composite ln(x + √(x²−1)) (whitepaper.md:536). */
  def acosh(x: Column): Column = log(x + sqrt(x * x - 1))

  /** ASINH composite ln(x + √(x²+1)) (whitepaper.md:537). */
  def asinh(x: Column): Column = log(x + sqrt(x * x + 1))

  /** ATANH composite ln((1+x)/(1−x))/2 (whitepaper.md:539). */
  def atanh(x: Column): Column = log((lit(1.0) + x) / (lit(1.0) - x)) / 2

  /** QUOTIENT composite: integer part of a division, NULL on zero divisor
    * (whitepaper.md:556).
    */
  def quotient(a: Column, b: Column): Column =
    (a.cast("double") / nullif(b, lit(0)).cast("double")).cast("long")

  /** TRUNC toward zero at scale n (whitepaper.md:562 TruncFunction). */
  def truncNum(x: Column, n: Int): Column = {
    val p = math.pow(10, n)
    (x * p).cast("long").cast("double") / p
  }

  /** RANDBETWEEN composite over RAND (whitepaper.md:558): uniform integer in
    * [lo, hi], seeded for determinism.
    */
  def randbetween(lo: Int, hi: Int, seed: Long): Column =
    (rand(seed) * (hi - lo + 1)).cast("int") + lo

  /** InverseFisher composite: (EXP(2x)-1)/(EXP(2x)+1) = tanh, exactly the
    * documented expression (whitepaper.md:589).
    */
  def inverseFisher(x: Column): Column =
    (exp(lit(2) * x) - 1) / (exp(lit(2) * x) + 1)

  /** Standardize composite: (x-mean)/stdev, NULL when stdev ≤ 0
    * (whitepaper.md:590).
    */
  def standardize(x: Column, mean: Column, stdevC: Column): Column =
    when(stdevC > 0, (x - mean) / stdevC).otherwise(lit(null))

  // --------------------------------------------------------------- collation

  /** Case-insensitive equality — T-SQL's default collation compares strings
    * case-insensitively (SURVEY.md §7.4 risk 1), unlike Spark's binary
    * default. Use where dialect parity requires CI semantics.
    */
  def ciEquals(a: Column, b: Column): Column = upper(a) === upper(b)

  /** Case-insensitive LIKE. */
  def ciLike(c: Column, pattern: String): Column =
    upper(c).like(pattern.toUpperCase)

  // ------------------------------------------------------------- conversions

  /** Canonical money-ish decimal casts used across the engine so that results
    * are exact and engine-independent (T-SQL DECIMAL(18,2)/(18,3) columns,
    * reference: samples/databases/wide-world-importers/tables/fact.sale.sql:15-20).
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec3(c: Column): Column = c.cast(DecimalType(18, 3))
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Exact integer → DOUBLE (the one IEEE rounding); the DuckDB twin is
    * `Exact.dbl`.
    */
  def d(c: String): Column = col(c).cast("double")
  def d(c: Column): Column = c.cast("double")

  /** Money as exact integer cents. T-SQL's MONEY is itself a fixed-point
    * int64 (10^-4 units — reference:
    * samples/scripts/data-load/GenerateLoadScript-V2.sql:108-109 maps MONEY),
    * so integer fixed-point is the faithful money representation — and unlike
    * a double→DECIMAL cast, `round(x*100)` is engine-exact: the ×100 product
    * is the same IEEE double everywhere, and its half-away-from-zero rounding
    * at scale 0 (a representable boundary) agrees between Spark's
    * BigDecimal(HALF_UP-on-shortest-string) and DuckDB's binary rounding.
    * Double→DECIMAL(p,s) casts do NOT have that property (the x.xx5 boundary
    * is not a representable double) — never use them where cross-engine
    * bit-exactness matters (SURVEY.md §7.4 risk 1).
    */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Exact integer thousandths — same engine-exactness argument as [[cents]]. */
  def mills(c: Column): Column = round(c * 1000, 0).cast("long")

  /** Hundredths of a unit fraction (e.g. discount 0.07 → 7): exact integer
    * percent for 2-decimal rate columns.
    */
  def pct(c: Column): Column = round(c * 100, 0).cast("long")

  /** Render integer cents as a fixed-point money string ("-123.45"). Built
    * from abs(c) with a sign prefix: floor(c/100) rounds toward -inf while
    * (c % 100) keeps the dividend's sign, so rendering negative cents
    * directly would produce garbage like "-124.-4" (ADVICE r2).
    */
  def moneyString(c: Column): Column = {
    val a = abs(c)
    concat(
      when(c < 0, lit("-")).otherwise(lit("")),
      floor(a / lit(100)).cast("long").cast("string"), lit("."),
      lpad((a % 100).cast("string"), 2, "0"))
  }

  /** American-soundex letter classes, A→Z (vowels + H/W/Y code 0). */
  private val SoundexCodes = "01230120022455012623010202"

  /** SOUNDEX-class phonetic key — the T-SQL SOUNDEX/DIFFERENCE surface
    * (reference: the monitoring toolkit targets a T-SQL engine whose string
    * family includes SOUNDEX; SURVEY.md §2.8). This is the engine-PORTABLE
    * variant: standard soundex letter classes, adjacent-duplicate collapse,
    * zero-drop, LETTER + 3 digits zero-padded — everything built from
    * translate + positional array ops, because the collapse step cannot use
    * backreference regex (DuckDB's RE2 has none) and Spark's builtin
    * `soundex` applies the H/W-transparency rule no other engine's SQL can
    * cheaply reproduce. Stays fully inside codegen (split/filter/transform
    * HOFs, no UDF).
    */
  def phoneticKey(word: Column): Column = {
    val w = upper(regexp_replace(word, "[^A-Za-z]", ""))
    val d = translate(w, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", SoundexCodes)
    val ds = split(d, "")
    val n = size(ds)
    // positions 2..n whose class differs from the previous position's
    val kept = when(n >= 2,
      filter(sequence(lit(2), n),
        i => element_at(ds, i) =!= element_at(ds, i - 1)))
      .otherwise(array().cast("array<int>"))
    val tail = array_join(transform(kept, i => element_at(ds, i)), "")
    concat(substring(w, 1, 1),
      rpad(substring(regexp_replace(tail, "0", ""), 1, 3), 3, "0"))
  }

  /** T-SQL DIFFERENCE over two [[phoneticKey]]s: the count of positions
    * (1..4) where the keys agree — 4 = phonetically identical, 0 = nothing
    * shared.
    */
  def phoneticDifference(k1: Column, k2: Column): Column =
    (1 to 4).map { i =>
      when(substring(k1, i, 1) === substring(k2, i, 1), 1L).otherwise(0L)
    }.reduce(_ + _)
}
