package graft.functions

/** The integer-exact SQL spellings of `docs/SCALE.md` §2, one helper per
  * spelling. Query builders splice these strings into `expr`/`selectExpr`
  * (Spark) and into oracle SQL (DuckDB), so each returns EXACTLY the text
  * its callers always produced: oracle SQL stays byte-identical and every
  * analyzed plan is unchanged (`plans/manifest_sf0.001.tsv`).
  *
  * Division semantics (den > 0 unless the name says Signed):
  *  - `fdiv*`: num ≥ 0. `(a − a % b) / b` divides an exact multiple, so
  *    the result is integral and representation-exact in both engines.
  *  - `sdiv*`: any-sign num, truncated toward zero by factoring the sign
  *    out — Spark `div` and `%` truncate, DuckDB `//` floors, so `|num|`
  *    is divided and the sign re-applied.
  *  - `*Signed`: any-sign num AND den.
  *  - suffix `Bigint`: BIGINT result; otherwise DECIMAL(38,0).
  *  - infix `Div`: Spark `div` instead of `%` (same values, different
  *    plans — the spellings are kept apart so no plan moves).
  *  - prefix `duck` (and [[dbl]]): DuckDB-only (`//`, HUGEINT, VARCHAR).
  * PropertySpec checks every Spark-side helper against BigInt truncation.
  */
object Exact {

  /** Accumulation type for corpus-scale counts and moments. */
  val dec = "decimal(38,0)"

  // --------------------------------------------- Spark (%-forms parse in DuckDB)

  def fdiv(a: String, b: String): String =
    s"CAST((($a) - ($a) % ($b)) / ($b) AS DECIMAL(38,0))"

  def fdivBigint(a: String, b: String): String =
    s"CAST((($a) - ($a) % ($b)) / ($b) AS BIGINT)"

  def sdiv(num: String, den: String): String =
    s"""CAST(CASE WHEN $num >= 0 THEN 1 ELSE -1 END *
       | CAST((abs($num) - abs($num) % ($den)) / ($den) AS DECIMAL(38,0))
       | AS DECIMAL(38,0))""".stripMargin.replace("\n", " ")

  def sdivBigint(num: String, den: String): String =
    s"""CAST(CASE WHEN $num >= 0 THEN 1 ELSE -1 END *
       | CAST((abs($num) - abs($num) % ($den)) / ($den) AS DECIMAL(38,0))
       | AS BIGINT)""".stripMargin.replace("\n", " ")

  def sdivSigned(num: String, den: String): String =
    s"""CAST(CASE WHEN ($num) * CASE WHEN $den >= 0 THEN 1 ELSE -1 END
       | >= 0 THEN 1 ELSE -1 END *
       | CAST((abs($num) - abs($num) % abs($den)) / abs($den)
       |   AS DECIMAL(38,0))
       | AS DECIMAL(38,0))""".stripMargin.replace("\n", " ")

  /** The sign as a branch around [[fdiv]] instead of a factor. */
  def sdivCases(num: String, den: String): String =
    s"""CASE WHEN $num < 0 THEN -(${fdiv(s"-($num)", den)})
       |     ELSE ${fdiv(num, den)} END""".stripMargin.replace("\n", " ")

  /** num·10⁶ / den, BIGINT: the e6-quantized ratio. */
  def sdivE6(num: String, den: String): String =
    s"""CASE WHEN $num >= 0
       |  THEN CAST(CAST($num AS DECIMAL(38,0)) * 1000000 DIV $den AS BIGINT)
       |  ELSE -CAST(CAST(-($num) AS DECIMAL(38,0)) * 1000000 DIV $den AS BIGINT)
       |END""".stripMargin

  def sdivDiv(num: String, den: String): String =
    s"""CAST(CASE WHEN $num >= 0 THEN 1 ELSE -1 END *
       | (abs($num) div ($den)) AS BIGINT)""".stripMargin.replace("\n", " ")

  def sdivSignedDiv(n: String, d: String): String =
    s"""(CASE WHEN (($n) < 0) != (($d) < 0) THEN -1 ELSE 1 END *
       | (ABS(CAST(($n) AS DECIMAL(38,0)))
       |  div ABS(CAST(($d) AS DECIMAL(38,0)))))"""
      .stripMargin.replace("\n", " ")

  /** `div` with the sign as a branch; each arm cast to BIGINT. */
  def sdivDivCases(num: String, den: String): String =
    s"""CASE WHEN $num < 0 THEN -CAST(((-($num)) div ($den)) AS BIGINT)
       |     ELSE CAST((($num) div ($den)) AS BIGINT) END""".stripMargin

  /** [[sdivDivCases]] with one cast around the CASE. */
  def sdivDivCasesCast(num: String, den: String): String =
    s"""CAST(CASE WHEN $num < 0 THEN -((-($num)) div ($den))
       |     ELSE ($num) div ($den) END AS BIGINT)""".stripMargin

  /** [[sdivDivCases]] testing `>= 0`, no cast. */
  def sdivDivCasesPos(num: String, den: String): String =
    s"""CASE WHEN $num >= 0 THEN ($num) div ($den)
       | ELSE -((-($num)) div ($den)) END"""
      .stripMargin.replace("\n", " ")

  /** [[sdivDivCasesPos]] negating through `abs`. */
  def sdivDivCasesAbs(num: String, den: String): String =
    s"""CASE WHEN $num >= 0 THEN $num div ($den)
       | ELSE -(abs($num) div ($den)) END"""
      .stripMargin.replace("\n", " ")

  // --------------------------------------------- Scala, at plan-build time

  /** Truncating division toward zero, den > 0. */
  def sdivLong(num: Long, den: Long): Long =
    (if (num >= 0) 1L else -1L) * (math.abs(num) / den)

  def sdivLong(num: BigInt, den: BigInt): Long =
    ((if (num >= 0) BigInt(1) else BigInt(-1)) *
      (num.abs / den)).toLong

  // --------------------------------------------- DuckDB (oracle SQL only)

  /** DuckDB twin of `TSql.d`: DECIMAL/HUGEINT → DOUBLE through its
    * exact decimal text, the correctly rounded value Spark's cast gives.
    */
  def dbl(x: String): String = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"

  def duckSdiv(num: String, den: String): String =
    s"""CASE WHEN $num >= 0 THEN 1 ELSE -1 END *
       | (ABS($num) // ($den))""".stripMargin.replace("\n", " ")

  def duckSdivE6(num: String): String =
    s"CASE WHEN ($num) >= 0 THEN 1 ELSE -1 END * (ABS($num) // 1000000)"

  def duckSdivBigint(num: String, den: String): String =
    s"CAST((CASE WHEN $num >= 0 THEN 1 ELSE -1 END) * (ABS($num) // $den) AS BIGINT)"

  def duckSdivHuge(num: String, den: String): String =
    s"""CAST(CASE WHEN $num >= 0 THEN 1 ELSE -1 END *
       | (ABS($num) // ($den)) AS HUGEINT)""".stripMargin
      .replace("\n", " ")

  def duckSdivSigned(n: String, d: String): String =
    s"""((CASE WHEN (($n) < 0) != (($d) < 0) THEN -1 ELSE 1 END) *
       | (ABS(CAST(($n) AS HUGEINT)) // ABS(CAST(($d) AS HUGEINT))))"""
      .stripMargin.replace("\n", " ")
}
