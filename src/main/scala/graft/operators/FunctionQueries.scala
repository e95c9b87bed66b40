package graft.operators

import graft.{Q, Tables}
import graft.functions.TSql
import graft.functions.Exact._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Scalar-function surface — SURVEY.md §2.8 (string / date / math / null /
  * conversion / CASE / predicate forms P4–P10), exercised end-to-end so every
  * function is oracle-checked, not just unit-tested.
  *
  * All of these are pure Catalyst expression compositions — they stay inside
  * WholeStageCodegen, which is the property that matters at 100 TB: the scalar
  * layer adds zero serialization or virtual-call overhead on the scan path.
  */
object FunctionQueries {

  /** String functions (whitepaper.md:591-603 + live usages):
    * UPPER/LOWER/SUBSTRING/REPLACE/CONCAT/TRIM ladders, T-SQL LEN
    * (trailing-space-insensitive), QUOTENAME, CHARINDEX, LEFT/RIGHT.
    */
  val q40Strings: Q = (s, dir) => {
    val p = Tables.part(s, dir)
    p.select(
      col("p_partkey"),
      upper(col("p_name")).as("up_name"),
      lower(col("p_brand")).as("low_brand"),
      substring(col("p_type"), 1, 4).as("type4"),
      length(col("p_name")).as("name_len"),
      regexp_replace(col("p_name"), " ", "_").as("snake_name"),
      concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
      TSql.charindex(lit("e"), col("p_name")).as("pos_e"),
      TSql.left(col("p_name"), 3).as("left3"),
      TSql.right(col("p_name"), 3).as("right3"),
      TSql.quotename(col("p_name")).as("quoted"),
      TSql.len(concat(col("p_name"), lit("   "))).as("tsql_len"),
      ltrim(rtrim(concat(lit("  "), col("p_name"), lit("  ")))).as("trimmed"))
  }

  val q40Sql: String =
    """SELECT p_partkey,
      |  UPPER(p_name) AS up_name,
      |  LOWER(p_brand) AS low_brand,
      |  SUBSTRING(p_type, 1, 4) AS type4,
      |  CAST(LENGTH(p_name) AS INT) AS name_len,
      |  REPLACE(p_name, ' ', '_') AS snake_name,
      |  p_brand || ':' || p_type AS brand_type,
      |  CAST(STRPOS(p_name, 'e') AS INT) AS pos_e,
      |  LEFT(p_name, 3) AS left3,
      |  RIGHT(p_name, 3) AS right3,
      |  '[' || REPLACE(p_name, ']', ']]') || ']' AS quoted,
      |  CAST(LENGTH(RTRIM(p_name || '   ')) AS INT) AS tsql_len,
      |  LTRIM(RTRIM('  ' || p_name || '  ')) AS trimmed
      |FROM part""".stripMargin

  /** Date/time functions with T-SQL semantics: DATEPART family, DATEADD
    * (calendar-aware, keeps time-of-day), boundary-crossing DATEDIFF, month
    * start/end idioms (whitepaper.md:515-532; DATEDIFF boundary semantics per
    * reference: solutions/monitoring/scripts/views/microsoft.vw_query_queue.sql:19).
    */
  val q41Dates: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.select(
      col("o_orderkey"),
      TSql.datepart("year", col("o_orderdate")).as("yr"),
      TSql.datepart("quarter", col("o_orderdate")).as("qtr"),
      TSql.datepart("month", col("o_orderdate")).as("mo"),
      TSql.datepart("day", col("o_orderdate")).as("dy"),
      TSql.datepart("dayofyear", col("o_orderdate")).as("doy"),
      TSql.datepart("weekday", col("o_orderdate")).as("dow"),
      TSql.dateadd("day", 30, col("o_orderdate")).as("plus30d"),
      TSql.dateadd("month", 2, col("o_orderdate")).as("plus2mo"),
      TSql.datediff("day", lit("1995-01-01").cast("timestamp"), col("o_orderdate"))
        .as("days_since"),
      TSql.datediff("month", lit("1995-01-01").cast("timestamp"), col("o_orderdate"))
        .as("months_since"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      TSql.monthEnd(col("o_orderdate")).as("month_end"),
      col("o_orderdate").cast("date").as("as_date"))
  }

  val q41Sql: String =
    """SELECT o_orderkey,
      |  CAST(YEAR(o_orderdate) AS INT) AS yr,
      |  CAST(QUARTER(o_orderdate) AS INT) AS qtr,
      |  CAST(MONTH(o_orderdate) AS INT) AS mo,
      |  CAST(DAY(o_orderdate) AS INT) AS dy,
      |  CAST(DAYOFYEAR(o_orderdate) AS INT) AS doy,
      |  CAST(DAYOFWEEK(o_orderdate) + 1 AS INT) AS dow,
      |  o_orderdate + INTERVAL 30 DAY AS plus30d,
      |  o_orderdate + INTERVAL 2 MONTH AS plus2mo,
      |  DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
      |  DATE_DIFF('month', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS months_since,
      |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
      |  LAST_DAY(o_orderdate) AS month_end,
      |  CAST(o_orderdate AS DATE) AS as_date
      |FROM orders""".stripMargin

  /** Math functions (whitepaper.md:535-564): ABS/CEILING/FLOOR/SQRT/ROUND/
    * MOD/SIGN plus deterministic POWER-by-multiplication. Doubles here are
    * bit-identical across engines (exact inputs, IEEE ops).
    */
  val q42Math: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_quantity") - 25.0).as("abs_dev"),
      ceil(col("l_extendedprice") / 1000.0).cast("long").as("price_ceil_k"),
      floor(col("l_extendedprice") / 1000.0).cast("long").as("price_floor_k"),
      sqrt(col("l_quantity")).as("qty_sqrt"),
      (col("l_quantity") * col("l_quantity")).as("qty_sq"),
      (col("l_orderkey") % 7).as("mod7"),
      signum(col("l_quantity") - 25.0).as("sign_dev"),
      round(col("l_quantity") / 2.0, 0).as("half_rounded"),
      greatest(col("l_quantity"), lit(25.0)).as("qty_hi"),
      least(col("l_quantity"), lit(25.0)).as("qty_lo"))
  }

  val q42Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  ABS(l_quantity - 25.0) AS abs_dev,
      |  CAST(CEIL(l_extendedprice / 1000.0) AS BIGINT) AS price_ceil_k,
      |  CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS price_floor_k,
      |  SQRT(l_quantity) AS qty_sqrt,
      |  l_quantity * l_quantity AS qty_sq,
      |  l_orderkey % 7 AS mod7,
      |  CAST(SIGN(l_quantity - 25.0) AS DOUBLE) AS sign_dev,
      |  ROUND(l_quantity / 2.0, 0) AS half_rounded,
      |  GREATEST(l_quantity, 25.0) AS qty_hi,
      |  LEAST(l_quantity, 25.0) AS qty_lo
      |FROM lineitem""".stripMargin

  /** Searched CASE banding (P10) + BETWEEN (P7) + compound booleans (P9) —
    * the query-slots widget idiom
    * (reference: solutions/monitoring/scripts/views/microsoft.vw_query_slots.sql:30-33).
    */
  val q43CaseBanding: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.select(
      when(col("o_totalprice") < 10000, "small")
        .when(col("o_totalprice").between(10000, 100000), "medium")
        .otherwise("large").as("band"),
      when(col("o_orderstatus") === "F" || col("o_orderstatus") === "P", "done_ish")
        .otherwise("open").as("phase"))
      .groupBy(col("band"), col("phase"))
      .agg(count(lit(1)).as("n"))
  }

  val q43Sql: String =
    """SELECT
      |  CASE WHEN o_totalprice < 10000 THEN 'small'
      |       WHEN o_totalprice BETWEEN 10000 AND 100000 THEN 'medium'
      |       ELSE 'large' END AS band,
      |  CASE WHEN o_orderstatus = 'F' OR o_orderstatus = 'P' THEN 'done_ish'
      |       ELSE 'open' END AS phase,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** NULL handling (whitepaper.md:553-566): NULLIF / ISNULL(coalesce) /
    * IS NULL predicates / null-skipping aggregation over synthesized nulls.
    */
  val q44Nulls: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val disc = TSql.nullif(col("l_discount"), lit(0.0))
    l.select(
      col("l_orderkey"), col("l_linenumber"),
      disc.as("disc_or_null"),
      TSql.isnull(disc, lit(-1.0)).as("disc_filled"),
      disc.isNull.cast("int").as("is_free"),
      TSql.modSafe(col("l_orderkey"), lit(0)).as("mod_zero_null"))
  }

  val q44Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  NULLIF(l_discount, 0.0) AS disc_or_null,
      |  COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_filled,
      |  CAST(NULLIF(l_discount, 0.0) IS NULL AS INT) AS is_free,
      |  l_orderkey % NULLIF(0, 0) AS mod_zero_null
      |FROM lineitem""".stripMargin

  /** CAST/CONVERT surface (68 CAST occurrences in the reference; §2.8):
    * double→int on whole values, decimal→string exact-scale rendering,
    * timestamp→date, int→string, string→int round-trip.
    */
  val q45Casts: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    // Fixed-point rendering built from exact integer cents (engine-exact;
    // double→DECIMAL→string diverges at the x.xx5 boundary, see TSql.cents).
    val priceStr = TSql.moneyString(TSql.cents(col("l_extendedprice")))
    l.select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity").cast("int").as("qty_int"),
      priceStr.as("price_str"),
      col("l_shipdate").cast("date").as("ship_date"),
      col("l_shipdate").cast("date").cast("string").as("ship_str"),
      col("l_linenumber").cast("string").as("line_str"),
      col("l_linenumber").cast("string").cast("int").as("line_roundtrip"),
      TSql.mills(col("l_quantity")).as("qty_mills"))
  }

  val q45Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(l_quantity AS INT) AS qty_int,
      |  CASE WHEN CAST(ROUND(l_extendedprice*100) AS BIGINT) < 0 THEN '-' ELSE '' END
      |    || CAST(CAST(FLOOR(ABS(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100) AS BIGINT) AS VARCHAR)
      |    || '.' || LPAD(CAST(ABS(CAST(ROUND(l_extendedprice*100) AS BIGINT)) % 100 AS VARCHAR), 2, '0') AS price_str,
      |  CAST(l_shipdate AS DATE) AS ship_date,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str,
      |  CAST(l_linenumber AS VARCHAR) AS line_str,
      |  CAST(CAST(l_linenumber AS VARCHAR) AS INT) AS line_roundtrip,
      |  CAST(ROUND(l_quantity*1000) AS BIGINT) AS qty_mills
      |FROM lineitem""".stripMargin

  /** Predicate forms (P3-P5): LIKE / NOT LIKE / IN / NOT IN / inequality
    * (reference: samples/scripts/deployments/GenerateScripts.ps1:49,
    * whitepaper.md:135-137).
    */
  val q46Predicates: Q = (s, dir) => {
    val p = Tables.part(s, dir)
    p.filter(
      col("p_name").like("%e%") &&
        !col("p_name").like("small%") &&
        col("p_brand").isin("Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5") &&
        !col("p_type").isin("ECONOMY") &&
        col("p_size") >= 5 && col("p_size") <= 45 && col("p_size") =!= 20)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q46Sql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
      |WHERE p_name LIKE '%e%' AND p_name NOT LIKE 'small%'
      |  AND p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#4','Brand#5')
      |  AND p_type NOT IN ('ECONOMY')
      |  AND p_size >= 5 AND p_size <= 45 AND p_size <> 20""".stripMargin

  /** Statistical composites (whitepaper.md:589-590): per-row Standardize
    * against group mean/stdev derived from exact integer power sums — every
    * double is produced by the same IEEE-exact op chain (-, *, /, sqrt) on
    * both engines, so raw doubles hash-match. (InverseFisher = tanh is
    * exercised in TSqlSpec only: libm exp() is not bit-portable across
    * engines.)
    */
  val q47StatComposites: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val qtyC = TSql.cents(col("l_quantity"))
    // s2's per-row term (qtyC² ≤ 2.5e7) would wrap an int64 sum at ~4e11
    // rows per group; DECIMAL(38,0) accumulation is exact to ~10^30 rows
    // and overflows to NULL instead of silently wrapping (ADVICE r2).
    val stats = l.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(qtyC).cast("double").as("s1"),
        sum((qtyC * qtyC).cast("decimal(38,0)")).cast("double").as("s2"))
      .select(col("l_returnflag"),
        (col("s1") / col("n")).as("mean_c"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
          (col("n") - lit(1.0))).as("stdev_c"))
    l.join(broadcast(stats), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        TSql.standardize(qtyC.cast("double"), col("mean_c"), col("stdev_c"))
          .as("z_qty"))
  }

  val q47Sql: String =
    """WITH stats AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_c,
      |    sqrt((CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT) * CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
      |      - CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) * CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
      |      / (CAST(COUNT(*) AS DOUBLE) - 1.0)) AS stdev_c
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_orderkey, l_linenumber, l.l_returnflag,
      |  CASE WHEN stdev_c > 0
      |       THEN (CAST(CAST(ROUND(l_quantity*100) AS BIGINT) AS DOUBLE) - mean_c) / stdev_c
      |       ELSE NULL END AS z_qty
      |FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag""".stripMargin

  /** T-SQL CONVERT style-coded date rendering (styles 23/101/112/120). */
  val q48ConvertStyles: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.select(
      col("o_orderkey"),
      TSql.convertStyle(col("o_orderdate"), 101).as("style_101"),
      TSql.convertStyle(col("o_orderdate"), 112).as("style_112"),
      TSql.convertStyle(col("o_orderdate"), 120).as("style_120"),
      TSql.convertStyle(col("o_orderdate"), 23).as("style_23"))
  }

  val q48Sql: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%m/%d/%Y') AS style_101,
      |  strftime(o_orderdate, '%Y%m%d') AS style_112,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS style_120,
      |  strftime(o_orderdate, '%Y-%m-%d') AS style_23
      |FROM orders""".stripMargin

  /** Fan-out bound for fuzzy-match blocks, same construction as
    * TextQueries.DfCap: a block of m records emits ≤ m²/2 pairs, so capping
    * block size bounds candidates BY CONSTRUCTION (oversized blocks mean
    * the blocking key is wrong, not that the engine should grind through
    * them).
    */
  val FuzzyBlockCap = 1000

  /** Fuzzy record linkage: near-duplicate customer names by Levenshtein
    * distance ≤ 1 inside blocking buckets (all but the last two name
    * characters — the standard blocking strategy that makes record linkage
    * subquadratic). Pair generation is the grouped in-place i<j shape
    * shared with q54/q63: one shuffle on the block key, fan-out capped,
    * and the edit distance — identical dynamic-program semantics in both
    * engines — runs only on candidates.
    */
  val q92FuzzyMatch: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val blocked = c.select(col("c_custkey"),
      col("c_name"), substring(col("c_name"), 1, 16).as("blk"))
    // members of a block share their 16-char prefix BY CONSTRUCTION, and a
    // common prefix never changes edit distance (any optimal alignment maps
    // it to itself), so the DP runs on the short suffixes only — the full
    // n×m table on every candidate pair is pure waste. The oracle computes
    // the full-string distance independently, so the gate also proves the
    // stripping is distance-preserving.
    val suffix = (m: org.apache.spark.sql.Column) =>
      substring(m.getField("c_name"), 17, Int.MaxValue)
    blocked.groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("c_custkey"), col("c_name"))))
        .as("ms"))
      .filter(size(col("ms")).between(2, FuzzyBlockCap))
      .select(graft.functions.Pairs.inPlace(col("ms"), (x, y) =>
        struct(x.getField("c_custkey").as("cust_a"),
          y.getField("c_custkey").as("cust_b"),
          levenshtein(suffix(x), suffix(y)).as("edit_dist"))).as("p"))
      .select(col("p.cust_a"), col("p.cust_b"), col("p.edit_dist"))
      .filter(col("edit_dist") <= 1)
  }

  val q92Sql: String =
    s"""WITH blocked AS (
      |  SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer),
      |capped AS (
      |  SELECT blk FROM blocked GROUP BY blk
      |  HAVING COUNT(*) BETWEEN 2 AND $FuzzyBlockCap)
      |SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
      |FROM blocked a
      |JOIN blocked b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
      |WHERE a.blk IN (SELECT blk FROM capped)
      |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin

  /** Sorted-neighborhood candidate window: records within SnmWindow−1 rank
    * positions of each other (per pass) become candidate pairs — fan-out is
    * SnmWindow−1 per record BY CONSTRUCTION, the sort-order analog of
    * FuzzyBlockCap.
    */
  val SnmWindow = 4

  /** Multi-pass sorted-neighborhood record linkage — the OTHER classic
    * blocking strategy next to q92's key blocking: sort by a fuzzy key,
    * slide a fixed window over the sort order, and verify only
    * window-local pairs. Two passes with complementary keys (name, and
    * reversed name) so a typo ANYWHERE in the string still lands the pair
    * adjacent in at least one order — prefix blocking (q92) structurally
    * misses edits inside its block key. Ranks come from
    * [[graft.functions.Identity.zipDense]] (per-partition offsets over the
    * range-partitioned sort — no single-partition ROW_NUMBER window), the
    * window explode is a bounded ≤3-row fan-out joined back on rank, and
    * Levenshtein runs only on candidates. Output: verified pairs (edit
    * distance ≤ 1) with how many passes surfaced them.
    */
  val q142SortedNeighborhood: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
    def pass(key: org.apache.spark.sql.Column, src: String) = {
      val ranked = graft.functions.Identity.zipDense(
        c.orderBy(key, col("c_custkey")), "rn")
      val probes = ranked.select(col("c_custkey").as("k_a"),
        col("c_name").as("n_a"),
        explode(sequence(col("rn") + 1, col("rn") + (SnmWindow - 1)))
          .as("rn2"))
      probes.join(ranked.select(col("c_custkey").as("k_b"),
          col("c_name").as("n_b"), col("rn").as("rn2")), "rn2")
        .select(lit(src).as("src"),
          least(col("k_a"), col("k_b")).as("cust_a"),
          greatest(col("k_a"), col("k_b")).as("cust_b"),
          when(col("k_a") <= col("k_b"), col("n_a")).otherwise(col("n_b"))
            .as("name_a"),
          when(col("k_a") <= col("k_b"), col("n_b")).otherwise(col("n_a"))
            .as("name_b"))
    }
    pass(col("c_name"), "fwd").unionByName(pass(reverse(col("c_name")), "rev"))
      .groupBy(col("cust_a"), col("cust_b"), col("name_a"), col("name_b"))
      .agg(countDistinct(col("src")).as("n_passes"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("cust_a"), col("cust_b"),
        levenshtein(col("name_a"), col("name_b")).as("edit_dist"),
        col("n_passes"))
  }

  val q142Sql: String =
    s"""WITH ra AS (
      |  SELECT c_custkey, c_name,
      |    ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
      |  FROM customer),
      |rb AS (
      |  SELECT c_custkey, c_name,
      |    ROW_NUMBER() OVER (ORDER BY reverse(c_name), c_custkey) AS rn
      |  FROM customer),
      |cand AS (
      |  SELECT 'fwd' AS src,
      |    LEAST(a.c_custkey, b.c_custkey) AS cust_a,
      |    GREATEST(a.c_custkey, b.c_custkey) AS cust_b
      |  FROM ra a JOIN ra b ON b.rn - a.rn BETWEEN 1 AND ${SnmWindow - 1}
      |  UNION ALL
      |  SELECT 'rev',
      |    LEAST(a.c_custkey, b.c_custkey),
      |    GREATEST(a.c_custkey, b.c_custkey)
      |  FROM rb a JOIN rb b ON b.rn - a.rn BETWEEN 1 AND ${SnmWindow - 1}),
      |grouped AS (
      |  SELECT cust_a, cust_b, COUNT(DISTINCT src) AS n_passes
      |  FROM cand GROUP BY 1, 2)
      |SELECT cust_a, cust_b,
      |  CAST(levenshtein(x.c_name, y.c_name) AS INT) AS edit_dist, n_passes
      |FROM grouped
      |JOIN customer x ON cust_a = x.c_custkey
      |JOIN customer y ON cust_b = y.c_custkey
      |WHERE levenshtein(x.c_name, y.c_name) <= 1""".stripMargin

  /** Time-series gap filling with forward fill: densify each user's event
    * history onto a per-user daily spine and carry the last observed daily
    * total across gap days — the resample/ffill every feature pipeline
    * needs before windowed training features. Spine fan-out is bounded by
    * each user's own active span (never the global calendar), the fill is
    * one window with IGNORE NULLS `last`, and all values are exact integer
    * cents.
    */
  val q93GapFill: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(TSql.cents(col("value"))).as("day_value_c"),
        count(lit(1)).as("n_events"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_value_c"), ignoreNulls = true).over(w)
          .as("filled_value_c"),
        when(col("day_value_c").isNull, "gap").otherwise("observed")
          .as("status"))
  }

  val q93Sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS day_value_c,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id, CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1) b),
      |f AS (
      |  SELECT s.user_id, s.day, d.day_value_c,
      |    COALESCE(d.n_events, 0) AS n_events
      |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
      |SELECT user_id, day, n_events,
      |  LAST_VALUE(day_value_c IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS filled_value_c,
      |  CASE WHEN day_value_c IS NULL THEN 'gap' ELSE 'observed' END AS status
      |FROM f""".stripMargin

  // ----------------------------------------- q126: one-pass column profile

  /** Table profiling — the engine-side twin of the reference's CREATE
    * STATISTICS surface (graft.maintenance.Statistics manages stats
    * lifecycle; this query COMPUTES a full profile): per column of `orders`,
    * row/null/distinct counts and min/max, in long format.
    *
    * Values canonicalize to sortable strings first — integers, cents and
    * epoch-millis zero-padded to fixed width so lexicographic order IS
    * numeric order, strings as-is — then ONE scan explodes each row into
    * (col_name, repr) pairs and a two-level aggregation does the rest:
    * groupBy(col_name, repr) with map-side combine (well-distributed — the
    * heavy keys are exactly the low-cardinality columns that combine best),
    * then groupBy(col_name) over the distinct-value frame. That is the
    * at-scale profile shape: naive per-column DISTINCT would either rescan
    * the table per column or expand one aggregate per COUNT(DISTINCT);
    * here distinct counting is a COUNT over the first-level groups. The
    * zero-padding strips off the min/max reprs on output.
    */
  val q126ColumnProfile: Q = (s, dir) => {
    def pad(c: Column): Column = lpad(c.cast("string"), 20, "0")
    val reprs = Seq(
      "o_orderkey" -> pad(col("o_orderkey")),
      "o_custkey" -> pad(col("o_custkey")),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> pad(TSql.cents(col("o_totalprice"))),
      // o_orderdate arrives TIMESTAMP_NTZ; unix_millis needs TIMESTAMP — the
      // cast is identity under the session's fixed UTC zone
      "o_orderdate" -> pad(unix_millis(col("o_orderdate").cast("timestamp"))),
      "o_orderpriority" -> col("o_orderpriority"))
    val padded = Set("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val exploded = Tables.orders(s, dir)
      .select(explode(array(reprs.map { case (n, c) =>
        struct(lit(n).as("col_name"), c.as("repr")) }: _*)).as("c"))
      .select(col("c.col_name"), col("c.repr"))
    def unpad(c: Column): Column =
      when(col("col_name").isin(padded.toSeq: _*),
        coalesce(nullif(regexp_replace(c, "^0+", ""), lit("")), lit("0")))
        .otherwise(c)
    exploded
      .groupBy(col("col_name"), col("repr"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("repr").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(col("repr")).as("n_distinct"),
        min(col("repr")).as("mn"), max(col("repr")).as("mx"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
        unpad(col("mn")).as("min_repr"),
        unpad(col("mx")).as("max_repr"))
  }

  val q126Sql: String =
    """WITH l AS (
      |  SELECT 'o_orderkey' AS col_name,
      |    LPAD(CAST(o_orderkey AS VARCHAR), 20, '0') AS repr FROM orders
      |  UNION ALL SELECT 'o_custkey',
      |    LPAD(CAST(o_custkey AS VARCHAR), 20, '0') FROM orders
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'o_totalprice',
      |    LPAD(CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS VARCHAR), 20, '0')
      |    FROM orders
      |  UNION ALL SELECT 'o_orderdate',
      |    LPAD(CAST(epoch_ms(o_orderdate) AS VARCHAR), 20, '0') FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
      |agg AS (
      |  SELECT col_name, COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN repr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |    COUNT(DISTINCT repr) AS n_distinct,
      |    MIN(repr) AS mn, MAX(repr) AS mx
      |  FROM l GROUP BY col_name)
      |SELECT col_name, n_rows, n_nulls, n_distinct,
      |  CASE WHEN col_name IN ('o_orderkey','o_custkey','o_totalprice','o_orderdate')
      |    THEN COALESCE(NULLIF(REGEXP_REPLACE(mn, '^0+', ''), ''), '0')
      |    ELSE mn END AS min_repr,
      |  CASE WHEN col_name IN ('o_orderkey','o_custkey','o_totalprice','o_orderdate')
      |    THEN COALESCE(NULLIF(REGEXP_REPLACE(mx, '^0+', ''), ''), '0')
      |    ELSE mx END AS max_repr
      |FROM agg""".stripMargin

  // ------------------------- q256: phonetic blocking (SOUNDEX surface)

  /** q256: phonetic blocking audit — the SOUNDEX/DIFFERENCE member of the
    * entity-resolution family (q92 edit-distance match, q142 sorted
    * neighborhood): part names block by the portable phonetic key of their
    * first word ([[TSql.phoneticKey]] — the T-SQL SOUNDEX-class function,
    * built engine-portably since the collapse step can't use backreference
    * regex). Per block: member/word counts, the lexical extremes, and the
    * candidate-pair budget the blocker admits (n_words choose 2 — the
    * number every downstream verifier must bound, pattern #1 in
    * docs/SCALE.md). Keys are computed in one codegen-friendly map pass;
    * the rollup shuffles once on the key; block detail rows are bounded by
    * the phonetic key space (≤ 26·7³), never the corpus.
    */
  val q256PhoneticBlocking: Q = (s, dir) => {
    val p = Tables.part(s, dir)
      .select(upper(regexp_replace(split(col("p_name"), " ").getItem(0),
        "[^A-Za-z]", "")).as("w"))
    p.withColumn("pkey", TSql.phoneticKey(col("w")))
      .groupBy(col("pkey"))
      .agg(count(lit(1)).as("n_parts"),
        countDistinct(col("w")).as("n_words"),
        min(col("w")).as("word_lo"), max(col("w")).as("word_hi"))
      .select(col("pkey"), col("n_parts"), col("n_words"), col("word_lo"),
        col("word_hi"),
        expr("n_words * (n_words - 1) DIV 2").as("block_pairs"))
      .orderBy(col("pkey"))
  }

  val q256Sql: String =
    """WITH words AS (
      |  SELECT upper(regexp_replace(string_split(p_name, ' ')[1],
      |    '[^A-Za-z]', '', 'g')) AS w
      |  FROM part),
      |dw AS (SELECT DISTINCT w, translate(w, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |    '01230120022455012623010202') AS ds
      |  FROM words),
      |collapsed AS (
      |  SELECT w, ds,
      |    COALESCE(string_agg(CASE WHEN substr(ds, i, 1) <> substr(ds, i-1, 1)
      |      THEN substr(ds, i, 1) END, '' ORDER BY i), '') AS tail
      |  FROM dw, UNNEST(GENERATE_SERIES(2, LEN(ds))) AS u(i)
      |  GROUP BY w, ds),
      |keyed AS (
      |  SELECT dw.w,
      |    substr(dw.w, 1, 1) ||
      |      rpad(substr(replace(COALESCE(c.tail, ''), '0', ''), 1, 3), 3, '0')
      |      AS pkey
      |  FROM dw LEFT JOIN collapsed c ON dw.w = c.w AND dw.ds = c.ds)
      |SELECT pkey, COUNT(*) AS n_parts, COUNT(DISTINCT keyed.w) AS n_words,
      |  MIN(keyed.w) AS word_lo, MAX(keyed.w) AS word_hi,
      |  COUNT(DISTINCT keyed.w) * (COUNT(DISTINCT keyed.w) - 1) // 2
      |    AS block_pairs
      |FROM words JOIN keyed ON words.w = keyed.w
      |GROUP BY pkey ORDER BY pkey""".stripMargin

  // ------------------- q315: Fellegi-Sunter probabilistic linkage scoring

  /** Match/possible decision thresholds (e6 bits of evidence). */
  private val FsMatchE6 = 3000000L

  /** q315: Fellegi–Sunter match scoring — the PROBABILISTIC leg of the
    * record-linkage stack (q92 blocks + edit distance, q142 windows,
    * q256 phonetic keys; this one turns field agreements into calibrated
    * log-likelihood evidence): for candidate pairs inside q92's bounded
    * prefix blocks, each comparison field f contributes
    *
    *   agree:    w_f = log2(m_f / u_f)
    *   disagree: w̄_f = log2((1−m_f) / (1−u_f))
    *
    * with m = 0.9 and u ESTIMATED FROM THE DATA as the chance-agreement
    * probability Σ_v freq_v² / N² per field (nation, segment, $1000
    * balance band). The u's floor once at e12; the weights are portable
    * e6 log2 integers ([[graft.functions.Text.log2e6SparkSql]] — e.g.
    * w = log2e6(9·10¹¹) − log2e6(u_e12), exactly the same integer in both
    * engines), so every pair's total evidence and its match/possible/
    * non-match class are exact.
    *
    * Plan: three value rollups → one broadcast u-scalar row; candidate
    * pairs generate IN PLACE from the grouped block member list (block
    * size ≤ 100 by construction of the 16-char prefix — bounded fan-out,
    * the q55/q63 discipline); top-20 is TakeOrdered.
    */
  val q315FellegiSunter: Q = (s, dir) => {
    // blocked pair comparison stages are CPU-dense on byte-small keys
    // (measured 3.75 -> 1.60 s at a 64k coalescing floor); inert at scale
    graft.Tuning.cpuDenseShuffles(s)
    import graft.functions.{Pairs, Text}
    val c = Tables.customer(s, dir).select(col("c_custkey"),
      substring(col("c_name"), 1, 16).as("blk"),
      col("c_nationkey").cast("long").as("nat"),
      col("c_mktsegment").as("seg"),
      expr("CAST(ROUND(c_acctbal*100) AS BIGINT) div 100000").as("bb"))
      .localCheckpoint() // three u rollups + the block grouping read it
    def uOf(field: String) = c.groupBy(col(field)).agg(count(lit(1)).as("f"))
      .agg(sum(col("f").cast("decimal(38,0)") * col("f")).as("sf2"),
        sum(col("f")).cast("decimal(38,0)").as("n"))
      .select(expr(fdiv("sf2 * 1000000000000", "n * n")).cast("long")
        .as(s"u_$field"))
    val us = uOf("nat").crossJoin(uOf("seg")).crossJoin(uOf("bb"))
    def wa(u: String) = expr(Text.log2e6SparkSql("900000000000")) -
      expr(Text.log2e6SparkSql(u))
    def wd(u: String) = expr(Text.log2e6SparkSql("100000000000")) -
      expr(Text.log2e6SparkSql(s"1000000000000 - $u"))
    val pairs = c.groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("c_custkey").as("k"),
        col("nat").as("nat"), col("seg").as("seg"), col("bb").as("bb"))))
        .as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(Pairs.inPlace(col("ms"), (x, y) =>
        struct(x.getField("k").as("cust_a"), y.getField("k").as("cust_b"),
          (x.getField("nat") === y.getField("nat")).cast("long").as("ag_nat"),
          (x.getField("seg") === y.getField("seg")).cast("long").as("ag_seg"),
          (x.getField("bb") === y.getField("bb")).cast("long").as("ag_bb")))
        .as("p"))
      .select(col("p.*"))
    pairs.crossJoin(broadcast(us))
      .select(col("cust_a"), col("cust_b"),
        col("ag_nat"), col("ag_seg"), col("ag_bb"),
        (when(col("ag_nat") === 1, wa("u_nat")).otherwise(wd("u_nat")) +
          when(col("ag_seg") === 1, wa("u_seg")).otherwise(wd("u_seg")) +
          when(col("ag_bb") === 1, wa("u_bb")).otherwise(wd("u_bb")))
          .cast("long").as("weight_e6"))
      .withColumn("class",
        when(col("weight_e6") >= FsMatchE6, "match")
          .when(col("weight_e6") >= 0L, "possible").otherwise("nonmatch"))
      .orderBy(col("weight_e6").desc, col("cust_a"), col("cust_b"))
      .limit(20)
  }

  val q315Sql: String = {
    import graft.functions.Text
    def u(field: String, alias: String) =
      s"""(SELECT CAST(SUM(CAST(f AS HUGEINT) * f) * 1000000000000
         |   // (SUM(CAST(f AS HUGEINT)) * SUM(CAST(f AS HUGEINT))) AS BIGINT)
         | FROM (SELECT COUNT(*) AS f FROM base GROUP BY $field)) AS $alias"""
        .stripMargin.replace("\n", " ")
    def wa(uc: String) = s"(${Text.log2e6DuckSql("900000000000")} - " +
      s"${Text.log2e6DuckSql(uc)})"
    def wd(uc: String) = s"(${Text.log2e6DuckSql("100000000000")} - " +
      s"${Text.log2e6DuckSql(s"1000000000000 - $uc")})"
    s"""WITH base AS (
       |  SELECT c_custkey, substr(c_name, 1, 16) AS blk,
       |    CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
       |    CAST(ROUND(c_acctbal*100) AS BIGINT) // 100000 AS bb
       |  FROM customer),
       |us AS (SELECT ${u("nat", "u_nat")}, ${u("seg", "u_seg")},
       |  ${u("bb", "u_bb")}),
       |pairs AS (
       |  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       |    CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS ag_nat,
       |    CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS ag_seg,
       |    CASE WHEN a.bb = b.bb THEN 1 ELSE 0 END AS ag_bb
       |  FROM base a JOIN base b
       |    ON a.blk = b.blk AND a.c_custkey < b.c_custkey),
       |scored AS (
       |  SELECT cust_a, cust_b, ag_nat, ag_seg, ag_bb,
       |    (CASE WHEN ag_nat = 1 THEN ${wa("u_nat")} ELSE ${wd("u_nat")} END
       |     + CASE WHEN ag_seg = 1 THEN ${wa("u_seg")} ELSE ${wd("u_seg")} END
       |     + CASE WHEN ag_bb = 1 THEN ${wa("u_bb")} ELSE ${wd("u_bb")} END)
       |      AS weight_e6
       |  FROM pairs CROSS JOIN us)
       |SELECT cust_a, cust_b, ag_nat, ag_seg, ag_bb,
       |  CAST(weight_e6 AS BIGINT) AS weight_e6,
       |  CASE WHEN weight_e6 >= $FsMatchE6 THEN 'match'
       |       WHEN weight_e6 >= 0 THEN 'possible'
       |       ELSE 'nonmatch' END AS class
       |FROM scored
       |ORDER BY weight_e6 DESC, cust_a, cust_b
       |LIMIT 20""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q315_fellegi_sunter" -> q315FellegiSunter,
    "q256_phonetic_blocking" -> q256PhoneticBlocking,
    "q126_column_profile" -> q126ColumnProfile,
    "q92_fuzzy_match" -> q92FuzzyMatch,
    "q142_sorted_neighborhood" -> q142SortedNeighborhood,
    "q93_gap_fill" -> q93GapFill,
    "q48_convert_styles" -> q48ConvertStyles,
    "q47_stat_composites" -> q47StatComposites,
    "q40_string_funcs" -> q40Strings,
    "q41_date_funcs" -> q41Dates,
    "q42_math_funcs" -> q42Math,
    "q43_case_banding" -> q43CaseBanding,
    "q44_null_handling" -> q44Nulls,
    "q45_casts" -> q45Casts,
    "q46_predicates" -> q46Predicates)

  val oracles: Map[String, String] = Map(
    "q315_fellegi_sunter" -> q315Sql,
    "q256_phonetic_blocking" -> q256Sql,
    "q126_column_profile" -> q126Sql,
    "q92_fuzzy_match" -> q92Sql,
    "q142_sorted_neighborhood" -> q142Sql,
    "q93_gap_fill" -> q93Sql,
    "q48_convert_styles" -> q48Sql,
    "q47_stat_composites" -> q47Sql,
    "q40_string_funcs" -> q40Sql,
    "q41_date_funcs" -> q41Sql,
    "q42_math_funcs" -> q42Sql,
    "q43_case_banding" -> q43Sql,
    "q44_null_handling" -> q44Sql,
    "q45_casts" -> q45Sql,
    "q46_predicates" -> q46Sql)
}
