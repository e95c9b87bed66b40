package graft.operators

import graft.{Q, Tables}
import graft.functions.TSql._
import graft.functions.Text
import graft.functions.Exact._
import graft.functions.Text.{log2e6DuckSql => duckL2, log2e6SparkSql => l2}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Core relational operator inventory — SURVEY.md §2.2 (projection/filter),
  * §2.3 (joins), §2.4 (aggregation), §2.5 (windows), §2.6 (sort/limit),
  * §2.7 (set ops).
  *
  * Numeric discipline: money aggregates are computed in exact integer cents
  * (`TSql.cents` — T-SQL MONEY is itself a scaled int64, reference:
  * samples/scripts/data-load/GenerateLoadScript-V2.sql:108-109), so sums are
  * pure int64 arithmetic and the only fractional outputs are single IEEE
  * divisions of exact integers — bit-identical across engines. Double→DECIMAL
  * casts are avoided in outputs: engines disagree on the unrepresentable
  * x.xx5 rounding boundary (SURVEY.md §7.4 risk 1).
  * Ordering discipline: every window/top-k has a total order (unique
  * tiebreaker) so results are deterministic across engines.
  *
  * Scale notes (100 TB design): aggregations pre-reduce map-side
  * (HashAggregate partial/final — the same per-distribution partial aggregation
  * the reference MPP engine performs); small dimensions (region, nation,
  * supplier) are broadcast exactly like the reference's REPLICATE tables
  * (reference: whitepaper.md:37-39,50-51); large-large joins shuffle on their
  * equi-keys and rely on AQE for skew.
  */
object CoreQueries {

  // -------------------------------------------------------------------------
  // Aggregations (§2.4)
  // -------------------------------------------------------------------------

  /** TPC-H Q1-shaped pricing summary: hash aggregate with SUM/AVG/COUNT over
    * exact fixed-point money (A1, A2, A9). Money lives in integer cents
    * (`TSql.cents` — T-SQL MONEY is itself a scaled int64), so sums are exact
    * int64 arithmetic on both engines; disc/charge composites stay in integer
    * 10^-4/10^-6 units; the one fractional output (avg) is a single IEEE
    * division of two exact integers — bit-identical everywhere.
    *
    * The e4/e6 composites accumulate in DECIMAL(38,0): a per-row charge term
    * is ~1.1e11, which would silently wrap an int64 sum at ~10^8 rows per
    * group (real at 100 TB; Spark wraps with ansi off where DuckDB raises).
    * Decimal sums are exact to 38 digits (~10^27 rows/group) and overflow to
    * NULL — loud, not wrong. The final cast to long keeps the driver-stable
    * BIGINT output type; qty/base-price sums (≤10^7/row) stay int64.
    */
  val q01Agg: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val qtyC = cents(col("l_quantity"))
    val extC = cents(col("l_extendedprice"))
    val discP = pct(col("l_discount"))
    val taxP = pct(col("l_tax"))
    l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qtyC).as("sum_qty_c"),
        sum(extC).as("sum_base_price_c"),
        sum((extC * (lit(100L) - discP)).cast("decimal(38,0)"))
          .cast("long").as("sum_disc_price_e4"),
        sum((extC * (lit(100L) - discP) * (lit(100L) + taxP))
          .cast("decimal(38,0)")).cast("long").as("sum_charge_e6"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty_c"),
        col("sum_base_price_c"), col("sum_disc_price_e4"), col("sum_charge_e6"),
        (col("sum_qty_c").cast("double") /
          (col("count_order") * lit(100L)).cast("double")).as("avg_qty"),
        col("count_order"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** COUNT(DISTINCT) per group (A3) — exact at test scale; the 100 TB path is
    * approx_count_distinct (q08).
    */
  val q02CountDistinct: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
  }

  val q02Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Conditional aggregation SUM(CASE WHEN ...) pivot-style widgets (A4) —
    * the monitoring toolkit's signature idiom
    * (reference: samples/sqlops/MonitoringScripts/TableHealthCount.sql:16-36).
    */
  val q03ConditionalAgg: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val tpC = cents(col("o_totalprice"))
    o.groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("long").as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).cast("long").as("n_p"),
        sum(when(col("o_orderstatus") === "F", tpC).otherwise(lit(0L))).as("f_total_c"))
      .select(col("o_orderpriority"), col("n_f"), col("n_o"), col("n_p"),
        col("f_total_c"),
        // NULL-skipping AVG(CASE) (A9): one exact-integer IEEE division,
        // NULL when the group has no 'F' rows — identical on both engines.
        when(col("n_f") > 0, col("f_total_c").cast("double") /
          (col("n_f") * lit(100L)).cast("double")).as("f_avg"))
  }

  val q03Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS f_total_c,
      |  CASE WHEN SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0
      |       THEN CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(o_totalprice*100) AS BIGINT) ELSE 0 END) AS DOUBLE)
      |            / CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100 AS DOUBLE)
      |       ELSE NULL END AS f_avg
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** HAVING over aggregates (A5) — skew-check idiom
    * (reference: solutions/monitoring/scripts/views/microsoft.vw_tables_with_skew.sql:19).
    */
  val q04Having: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"),
        count(lit(1)).as("n"))
      .filter(col("sum_qty_c") > lit(510000L))
  }

  val q04Sql: String =
    """SELECT l_suppkey, l_returnflag,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_suppkey, l_returnflag
      |HAVING SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) > 510000""".stripMargin

  /** Grand-total scalar aggregate, no GROUP BY (A6)
    * (reference: samples/sqlops/MonitoringScripts/UserActivities.sql:6-8).
    */
  val q05ScalarAgg: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.agg(
      count(lit(1)).as("n_rows"),
      min(col("l_orderkey")).as("min_key"),
      max(col("l_orderkey")).as("max_key"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"),
      sum(dec2(col("l_extendedprice"))).cast(DecimalType(18, 2)).as("total_price"))
  }

  val q05Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
      |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_price
      |FROM lineitem""".stripMargin

  /** STDEV/VAR family (A8) computed from exact decimal power sums so the
    * result is bit-identical across engines: both sides evaluate the same
    * IEEE-double expression over exactly-converted decimal sums.
    */
  val q06Stats: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val q = dec2(col("l_quantity"))
    l.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(q).cast("double").as("s1"),
        sum(q * q).cast("double").as("s2"))
      .select(
        col("l_returnflag"),
        col("n").cast("long").as("n_rows"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - lit(1.0)))
          .as("var_samp"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - lit(1.0)))
          .as("stdev"),
        ((col("s2") - col("s1") * col("s1") / col("n")) / col("n")).as("var_pop"))
  }

  val q06Sql: String =
    """WITH t AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  ((s2 - s1 * s1 / n) / (n - 1.0)) AS var_samp,
      |  sqrt((s2 - s1 * s1 / n) / (n - 1.0)) AS stdev,
      |  ((s2 - s1 * s1 / n) / n) AS var_pop
      |FROM t""".stripMargin

  /** Aggregate over view-over-view composition (A7, D2) — the monitoring
    * toolkit's layered-view pattern (reference:
    * solutions/monitoring/scripts/views/microsoft.vw_table_space_by_distribution_type.sql:19-30
    * reads vw_table_sizes): SQL text through temp views, exercising the
    * engine's SQL entry point.
    */
  val q07ViewComposition: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
    s.sql(
      """CREATE OR REPLACE TEMPORARY VIEW g_supp_rollup AS
        |SELECT l_suppkey,
        |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  COUNT(*) AS n
        |FROM g_lineitem GROUP BY l_suppkey""".stripMargin)
    s.sql(
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(r.sum_qty_c) AS BIGINT) AS rollup_qty_c
        |FROM g_lineitem l JOIN g_supp_rollup r ON l.l_suppkey = r.l_suppkey
        |GROUP BY l_returnflag""".stripMargin)
  }

  val q07Sql: String =
    """WITH g_supp_rollup AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT l_returnflag,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(r.sum_qty_c) AS BIGINT) AS rollup_qty_c
      |FROM lineitem l JOIN g_supp_rollup r ON l.l_suppkey = r.l_suppkey
      |GROUP BY l_returnflag""".stripMargin

  /** approx_count_distinct — the 100 TB cardinality path (Spark's native
    * HLL++ sketch). The sketch estimate itself is engine-specific, so the
    * exact-compare gate can't hash it; instead the query ships its OWN
    * accuracy contract in the output: the hashed columns are the exact
    * NDVs plus within-tolerance flags (default-rsd 0.05 sketch checked at
    * 3σ ≈ 15%, the rsd-0.01 sketch at 3%), and the oracle asserts the
    * flags are 1. HLL++ is deterministic for fixed data, so the row is a
    * stable, checkable contract — if a Spark upgrade degrades the sketch
    * past tolerance, the gate goes red. The exact-NDV audit columns are
    * the gate's instrument; a production run at 100 TB drops them and
    * keeps only the sketch (the same pattern as q290's percentile audit).
    */
  val q08ApproxDistinct: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    // sketches in ONE pass; the exact audit counts come from separate
    // (flag, key) rollups — two COUNT(DISTINCT)s in one aggregate plan
    // as an Expand that triples the fact stream with no map-side
    // combine (29 s at sf0.1), while the rollups partial-aggregate
    val approx = l.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("a_orders"),
        approx_count_distinct(col("l_partkey"), 0.01).as("a_parts"))
    val exactO = l.select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_orders"))
    val exactP = l.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    approx.join(exactO, "l_returnflag").join(exactP, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("a_orders") - col("exact_orders")) * 100 <=
          col("exact_orders") * 15).cast("long").as("orders_within_15pct"),
        (abs(col("a_parts") - col("exact_parts")) * 100 <=
          col("exact_parts") * 3).cast("long").as("parts_within_3pct"))
  }

  val q08Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  CAST(1 AS BIGINT) AS orders_within_15pct,
      |  CAST(1 AS BIGINT) AS parts_within_3pct
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // deterministic portable-HLL constants: p=8 → m=256 registers over the
  // top 8 bits of the 60-bit portable hash; the remaining 52 bits feed the
  // leading-zero rank (1..53). m is sized so the raw (uncorrected) regime
  // n ≳ 2.5·m holds at every test SF — the small-range linear-counting
  // correction needs ln, which is not bit-portable across engines; at
  // larger corpora raise p (the construction is identical for any p). The
  // estimator constant alpha·m²·2^W is ONE Scala-computed double inlined
  // identically into engine and oracle.
  // the shared portable-HLL construction lives in graft.functions.Hll;
  // q09/q101/q113 build the SAME p=8 sketch
  private val Hll8 = graft.functions.Hll(8)
  private val HllM = Hll8.m
  private val HllW = Hll8.w
  private val HllEstC: Double = Hll8.estC

  private def hllBucketRank(h: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =
    Hll8.bucketRank(h)

  private val hllLadderSql: String = Hll8.ladderSql

  /** Approximate NDV that the exact-compare gate can still check — unlike
    * q08's engine-native sketch (whose binary registers differ per engine),
    * this HLL is built entirely from the portable md5 hash family: register
    * index = top p hash bits, register value = max leading-zero rank of the
    * low W bits (a W-arm comparison ladder — no libm), and the raw Flajolet
    * estimator is exact integer register sums (Σ 2^(W+1-rank) ≤ 2^61,
    * int64-exact) finished by a single IEEE division. Both engines produce
    * the bit-identical estimate. Raw-regime caveat: no small-range
    * linear-counting correction (it needs ln, which is not bit-portable),
    * so m is sized for the n ≳ 2.5·m loads where HLL runs uncorrected
    * (~1.04/√m ≈ 6.5% standard error at m=256); measured against q02's
    * exact counts in QueriesSpec.
    *
    * Scale shape: two map-side-combining shuffles — (flag, register) max,
    * then an m-row-per-group register sum. The shuffle carries at most
    * groups×m tiny rows regardless of data volume.
    */
  val q09PortableHll: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val h = graft.functions.Text.portableHash(col("l_orderkey").cast("string"))
    val (bucket, rank) = hllBucketRank(h)
    l.select(col("l_returnflag"), bucket.as("b"), rank.as("r"))
      .groupBy(col("l_returnflag"), col("b"))
      .agg(max(col("r")).as("mr"))
      .groupBy(col("l_returnflag"))
      .agg((sum(expr(s"shiftleft(cast(1 as bigint), ${HllW + 1} - mr)")) +
        (lit(HllM.toLong) - count(lit(1))) * lit(1L << (HllW + 1))).as("t"))
      .select(col("l_returnflag"),
        (lit(HllEstC) / col("t").cast("double")).as("est_orders"))
  }

  /** Sketch MERGE rollup — the property that makes sketches the 100 TB
    * answer to distinct counting: per-group HLL registers (q09's portable
    * construction) merge by elementwise MAX into a grand-total sketch
    * without touching the raw data again. Output = each group's estimate
    * plus an `ALL` row whose estimate comes from the MERGED registers —
    * associativity of max means the merged sketch is bit-identical to one
    * built directly over the union, which QueriesSpec asserts and the
    * oracle reproduces. At scale this is how per-partition / per-day
    * sketches roll up to corpus NDV with a shuffle of m rows per group.
    */
  val q101HllRollup: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val h = graft.functions.Text.portableHash(col("l_orderkey").cast("string"))
    val (bucket, rank) = hllBucketRank(h)
    val regs = l.select(col("l_returnflag"), bucket.as("b"), rank.as("r"))
      .groupBy(col("l_returnflag"), col("b"))
      .agg(max(col("r")).as("mr"))
      .localCheckpoint() // the group sketches feed both branches once
    def estimate(grouped: org.apache.spark.sql.RelationalGroupedDataset,
        scope: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
      grouped
        .agg((sum(expr(s"shiftleft(cast(1 as bigint), ${HllW + 1} - mr)")) +
          (lit(HllM.toLong) - count(lit(1))) * lit(1L << (HllW + 1))).as("t"))
        .select(scope.as("scope"),
          (lit(HllEstC) / col("t").cast("double")).as("est_orders"))
    val perFlag = estimate(regs.groupBy(col("l_returnflag")), col("l_returnflag"))
    // MERGE: elementwise max over the per-group registers, then estimate
    val merged = estimate(
      regs.groupBy(col("b")).agg(max(col("mr")).as("mr")).groupBy(),
      lit("ALL"))
    perFlag.union(merged)
  }

  val q101Sql: String = {
    s"""WITH h AS (
       |  SELECT l_returnflag,
       |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       |  FROM lineitem),
       |ranked AS (
       |  SELECT l_returnflag, hv >> $HllW AS b, w,
       |    CASE $hllLadderSql
       |      ELSE ${HllW + 1} END AS r
       |  FROM (SELECT l_returnflag, hv, hv & ${(1L << HllW) - 1} AS w FROM h)),
       |regs AS (
       |  SELECT l_returnflag, b, MAX(r) AS mr FROM ranked GROUP BY 1, 2),
       |merged AS (SELECT b, MAX(mr) AS mr FROM regs GROUP BY b)
       |SELECT l_returnflag AS scope,
       |  $HllEstC / CAST(SUM(CAST(1 AS BIGINT) << (${HllW + 1} - mr)) +
       |    ($HllM - COUNT(*)) * (CAST(1 AS BIGINT) << ${HllW + 1}) AS DOUBLE) AS est_orders
       |FROM regs GROUP BY l_returnflag
       |UNION ALL
       |SELECT 'ALL',
       |  $HllEstC / CAST(SUM(CAST(1 AS BIGINT) << (${HllW + 1} - mr)) +
       |    ($HllM - COUNT(*)) * (CAST(1 AS BIGINT) << ${HllW + 1}) AS DOUBLE)
       |FROM merged""".stripMargin
  }

  /** q113: sketch SET ALGEBRA — union and intersection cardinalities of two
    * part populations (parts on urgent vs high-priority orders) from HLL
    * registers alone. The union sketch is the elementwise max (exact for
    * union), intersection comes from inclusion-exclusion over three
    * estimates — the standard sketch move where exact distinct-intersection
    * would need a shuffle of both raw sets. ONE scan, ONE register shuffle:
    * all three sketches are conditional maxes in the same bucket
    * aggregation. The overlap estimate composes three identically-ordered
    * IEEE divisions, so the oracle reproduces it bit-for-bit. The sets are
    * sized well past the register count on purpose: the raw estimator has
    * no small-range (linear counting) branch — its `ln` is not
    * bit-portable — so cardinalities must dominate m for accuracy.
    */
  val q113HllSetAlgebra: Q = (s, dir) => {
    val e = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).filter(
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
    val h = graft.functions.Text.portableHash(col("l_partkey").cast("string"))
    val (bucket, rank) = hllBucketRank(h)
    val regs = e.select(col("o_orderpriority"), bucket.as("b"), rank.as("r"))
      .groupBy(col("b"))
      .agg(max(when(col("o_orderpriority") === "1-URGENT", col("r"))).as("mr_a"),
        max(when(col("o_orderpriority") === "2-HIGH", col("r"))).as("mr_b"),
        max(col("r")).as("mr_u"))
    def t(mr: String) =
      sum(when(col(mr).isNotNull,
        expr(s"shiftleft(cast(1 as bigint), ${HllW + 1} - $mr)"))
        .otherwise(lit(0L))) +
        (lit(HllM.toLong) - count(col(mr))) * lit(1L << (HllW + 1))
    def est(tc: String) = lit(HllEstC) / col(tc).cast("double")
    regs.agg(t("mr_a").as("ta"), t("mr_b").as("tb"), t("mr_u").as("tu"))
      .select(est("ta").as("est_urgent_parts"),
        est("tb").as("est_high_parts"),
        est("tu").as("est_union"),
        (est("ta") + est("tb") - est("tu")).as("est_overlap"))
  }

  val q113Sql: String = {
    def t(mr: String) =
      s"""SUM(CASE WHEN $mr IS NOT NULL
         |      THEN CAST(1 AS BIGINT) << (${HllW + 1} - $mr) ELSE 0 END) +
         |    ($HllM - COUNT($mr)) * (CAST(1 AS BIGINT) << ${HllW + 1})""".stripMargin
    s"""WITH h AS (
       |  SELECT o_orderpriority,
       |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
       |ranked AS (
       |  SELECT o_orderpriority, hv >> $HllW AS b,
       |    CASE $hllLadderSql
       |      ELSE ${HllW + 1} END AS r
       |  FROM (SELECT o_orderpriority, hv, hv & ${(1L << HllW) - 1} AS w FROM h)),
       |regs AS (
       |  SELECT b,
       |    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN r END) AS mr_a,
       |    MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN r END) AS mr_b,
       |    MAX(r) AS mr_u
       |  FROM ranked GROUP BY b),
       |ts AS (
       |  SELECT ${t("mr_a")} AS ta,
       |    ${t("mr_b")} AS tb,
       |    ${t("mr_u")} AS tu
       |  FROM regs)
       |SELECT $HllEstC / CAST(ta AS DOUBLE) AS est_urgent_parts,
       |  $HllEstC / CAST(tb AS DOUBLE) AS est_high_parts,
       |  $HllEstC / CAST(tu AS DOUBLE) AS est_union,
       |  $HllEstC / CAST(ta AS DOUBLE) + $HllEstC / CAST(tb AS DOUBLE)
       |    - $HllEstC / CAST(tu AS DOUBLE) AS est_overlap
       |FROM ts""".stripMargin
  }

  // ---------------------------------------- q141: rolling sketch NDV

  /** q141's sketch: m=64 registers — sized down from the q09 family's 256
    * so the 28-day windows (hundreds of distinct parts at test SFs) stay in
    * the raw-estimator regime n ≳ 2.5·m.
    */
  private val HllRoll = graft.functions.Hll(6)

  /** Rolling NDV window length in days (windows are [w-27, w]). */
  val RollWindowDays = 28

  /** Rolling 28-day distinct-parts-shipped per day via MERGEABLE sketches —
    * the long-window companion to q137's exact trick. An exact 28-day
    * rolling distinct pays 28× the deduplicated entity-days; the sketch
    * path pays a constant per CALENDAR DAY: one scan folds each day into
    * m=64 portable-HLL registers (map-side max-combine), each day's
    * register row is exploded to the ≤28 window-ends it serves, and
    * windows merge by elementwise register MAX — associative, so the
    * merged sketch is bit-identical to one built directly over the window,
    * and the estimate stays oracle-exact (the q09 portable construction:
    * integer register sums, one IEEE division). Every stage after the
    * first rollup is calendar-bounded — days × m × 28 rows regardless of
    * raw data volume — which is why sketch rollup is THE 100 TB answer to
    * sliding distinct counts.
    */
  val q141RollingSketchNdv: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val h = graft.functions.Text.portableHash(col("l_partkey").cast("string"))
    val (bucket, rank) = HllRoll.bucketRank(h)
    val daily = li.select(
        expr("unix_timestamp(l_shipdate) DIV 86400").as("day"),
        bucket.as("b"), rank.as("r"))
      .groupBy(col("day"), col("b")).agg(max(col("r")).as("mr"))
    val mx = li.agg(
      max(expr("unix_timestamp(l_shipdate) DIV 86400")).as("maxday"))
    daily.join(broadcast(mx))
      .select(col("b"), col("mr"),
        explode(sequence(col("day"),
          least(col("day") + (RollWindowDays - 1), col("maxday")))).as("wday"))
      .groupBy(col("wday"), col("b")).agg(max(col("mr")).as("mr"))
      .groupBy(col("wday"))
      .agg(HllRoll.tCol("mr").as("t"))
      .select(col("wday").as("day"), HllRoll.estCol(col("t")).as("est_parts_28d"))
  }

  /** Spec hook: the window sketch built DIRECTLY (filter days first, then
    * registers) — SketchLinkageSpec pins merge ≡ direct bit-for-bit.
    */
  private[operators] def directWindowEstimate(
      dfDayPart: org.apache.spark.sql.DataFrame): Double = {
    val h = graft.functions.Text.portableHash(col("l_partkey").cast("string"))
    val (bucket, rank) = HllRoll.bucketRank(h)
    dfDayPart.select(bucket.as("b"), rank.as("r"))
      .groupBy(col("b")).agg(max(col("r")).as("mr"))
      .groupBy()
      .agg(HllRoll.tCol("mr").as("t"))
      .select(HllRoll.estCol(col("t")))
      .collect()(0).getDouble(0)
  }

  val q141Sql: String =
    s"""WITH h AS (
       |  SELECT CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400 AS day,
       |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       |  FROM lineitem),
       |ranked AS (
       |  SELECT day, hv >> ${HllRoll.w} AS b,
       |    CASE ${HllRoll.ladderSql}
       |      ELSE ${HllRoll.w + 1} END AS r
       |  FROM (SELECT day, hv, hv & ${(1L << HllRoll.w) - 1} AS w FROM h)),
       |regs AS (SELECT day, b, MAX(r) AS mr FROM ranked GROUP BY 1, 2),
       |mx AS (SELECT MAX(day) AS maxday FROM regs),
       |contrib AS (
       |  SELECT b, mr,
       |    UNNEST(generate_series(day, LEAST(day + ${RollWindowDays - 1}, maxday))) AS wday
       |  FROM regs, mx),
       |merged AS (SELECT wday, b, MAX(mr) AS mr FROM contrib GROUP BY 1, 2)
       |SELECT wday AS day,
       |  ${HllRoll.estSql("mr")} AS est_parts_28d
       |FROM merged GROUP BY wday""".stripMargin

  // ---------------------------------------- q145: bloom-reduced join

  /** Expected build-side cardinality for q145's bloom (8 bits each ≈ 3%
    * false positives; sized for the largest test SF's one-year order
    * subset).
    */
  val BloomExpectedOrders = 65536L

  /** Star join with explicit semi-join reduction ([[graft.plans.BloomReduce]]):
    * revenue by priority for one year of orders, where the lineitem scan is
    * pre-filtered by a bloom filter built from the qualifying orderkeys —
    * rows that cannot join are dropped AT THE SCAN, before the join
    * shuffle, which at 100 TB is the difference between shuffling the
    * whole fact table and shuffling the ~1/7 that survives the dimension
    * predicate. This is the engine-forced version of Spark's own
    * InjectRuntimeFilter (same BloomFilterAggregate/MightContain machinery,
    * same false-positive safety: the equi-join re-checks exactly, so the
    * result — and the oracle, a plain join — is unchanged by construction).
    */
  val q145BloomJoin: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val bloom = graft.plans.BloomReduce.bloomOf(
      o, col("o_orderkey"), BloomExpectedOrders)
    Tables.lineitem(s, dir)
      .filter(graft.plans.BloomReduce.mightContain(bloom, col("l_orderkey")))
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("v_c"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("v_c")).as("revenue_c"))
  }

  val q145Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS revenue_c
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------- q146: snapshot rollup diff

  /** q146's snapshot cutoff: v1 = shipments before this instant, v2 = the
    * full table.
    */
  val SnapshotCutoff = "1999-01-01"

  /** Snapshot diff of the per-part revenue rollup between two points in
    * time — the table-compare every incremental pipeline runs after a
    * load. Because both snapshots are PREDICATES over one immutable fact
    * table (shipdate < cutoff vs all), the diff needs NO self-join and no
    * second scan: one conditional-aggregate pass computes both rollups and
    * classifies each part added / changed / unchanged. The general
    * two-table form of this diff is a FULL OUTER join on the key (q13's
    * shape); the temporal special case is the one worth optimizing because
    * it is the common case — same table, two as-of predicates — and halves
    * the scan cost.
    */
  val q146SnapshotDiff: Q = (s, dir) => {
    val isV1 = col("l_shipdate") < lit(SnapshotCutoff).cast("timestamp")
    Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(when(isV1, 1L).otherwise(0L)).as("n_v1"),
        count(lit(1)).as("n_v2"),
        sum(when(isV1, cents(col("l_extendedprice"))).otherwise(0L))
          .as("rev_v1_c"),
        sum(cents(col("l_extendedprice"))).as("rev_v2_c"))
      .select(col("l_partkey"), col("n_v1"), col("n_v2"),
        col("rev_v1_c"), col("rev_v2_c"),
        (col("rev_v2_c") - col("rev_v1_c")).as("delta_c"),
        when(col("n_v1") === 0L, "added")
          .when(col("n_v2") > col("n_v1"), "changed")
          .otherwise("unchanged").as("status"))
  }

  val q146Sql: String =
    s"""SELECT l_partkey,
      |  CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
      |  COUNT(*) AS n_v2,
      |  CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |    THEN CAST(ROUND(l_extendedprice*100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS rev_v1_c,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS rev_v2_c,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) -
      |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |      THEN CAST(ROUND(l_extendedprice*100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS delta_c,
      |  CASE WHEN SUM(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |      THEN 1 ELSE 0 END) = 0 THEN 'added'
      |    WHEN COUNT(*) > SUM(CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |      THEN 1 ELSE 0 END) THEN 'changed'
      |    ELSE 'unchanged' END AS status
      |FROM lineitem GROUP BY l_partkey""".stripMargin

  // ---------------------------------------- q149: portable count-min sketch

  /** Count-min geometry: d independent hash rows × w counters. Sized so the
    * expected per-row collision inflation at N events is visible but small
    * (εN ≈ e·N/w); the MIN over d rows keeps the overestimate tight.
    */
  val CmDepth = 4
  val CmWidth = 256

  /** One row of the CM hash family: the portable md5 hash of "i:key",
    * reduced mod w — independent across i, identical in both engines.
    */
  private def cmBucket(i: Int, key: org.apache.spark.sql.Column) =
    graft.functions.Text.portableHash(concat(lit(s"$i:"), key)) % CmWidth

  /** Count-min sketch per-key frequency estimates, fully portable — the
    * fourth member of the mergeable-sketch suite (HLL NDV q09/q101/q141,
    * bottom-k quantiles q91, Misra-Gries heavy hitters q138): d×w integer
    * counters (one grouped count after a d-way explode — counters merge by
    * ADDITION, so per-partition/per-day sketches roll up like q101's
    * registers), probed by MIN over each key's d buckets. Every operation
    * is integer hashing, counting, and MIN — bit-portable by construction,
    * so even the ESTIMATES pass the exact-compare gate. Output pins the CM
    * guarantee against ground truth: est ≥ exact always (overcount ≥ 0),
    * est ≤ exact + collisions. The sketch state is d·w counters regardless
    * of key cardinality — the bounded-state answer to per-key counting
    * when keys are unbounded.
    */
  val q149CountMin: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val counters = e.select(col("user_id").cast("string").as("k"))
      .select(explode(array((0 until CmDepth).map(i =>
        struct(lit(i).as("r"), cmBucket(i, col("k")).as("c"))): _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))
    val probes = e.filter(col("user_id") < 20)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
    val probeBuckets = probes.select(col("user_id"), col("exact_n"),
      explode(array((0 until CmDepth).map(i =>
        struct(lit(i).as("r"),
          cmBucket(i, col("user_id").cast("string")).as("c"))): _*)).as("rc"))
      .select(col("user_id"), col("exact_n"),
        col("rc.r").as("r"), col("rc.c").as("c"))
    probeBuckets.join(broadcast(counters), Seq("r", "c"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("n")).as("est_n"))
      .select(col("user_id"), col("est_n"), col("exact_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
  }

  val q149Sql: String = {
    def bucket(keyExpr: String) =
      s"""CAST(concat('0x', substr(md5(concat(r, ':', $keyExpr)), 1, 15))
         | AS BIGINT) % $CmWidth""".stripMargin
    s"""WITH rows_ AS (SELECT UNNEST(range($CmDepth)) AS r),
      |rc AS (
      |  SELECT r, ${bucket("CAST(user_id AS VARCHAR)")} AS c
      |  FROM events, rows_),
      |counters AS (SELECT r, c, COUNT(*) AS n FROM rc GROUP BY 1, 2),
      |probes AS (
      |  SELECT user_id, COUNT(*) AS exact_n FROM events
      |  WHERE user_id < 20 GROUP BY user_id),
      |pb AS (
      |  SELECT user_id, exact_n, r,
      |    ${bucket("CAST(user_id AS VARCHAR)")} AS c
      |  FROM probes, rows_),
      |est AS (
      |  SELECT user_id, exact_n, MIN(n) AS est_n
      |  FROM pb JOIN counters USING (r, c)
      |  GROUP BY user_id, exact_n)
      |SELECT user_id, est_n, exact_n, est_n - exact_n AS overcount
      |FROM est""".stripMargin
  }

  // ---------------------------------------- q150: incremental rollup merge

  /** Incremental materialized-rollup maintenance: yesterday's rollup plus a
    * rollup of only the new partition equals a full rebuild — BY THE
    * ALGEBRA of the aggregates (SUM/COUNT/MIN/MAX are associative and
    * commutative; AVG is rebuilt from SUM and COUNT at read time, never
    * stored). The gate runs both sides through one query: base rollup
    * (shipdate < cutoff) and delta rollup (≥ cutoff) are unioned and
    * re-aggregated — aggregate-of-aggregates — and the oracle is the
    * DIRECT full rollup, so the equivalence is checked bit-for-bit. At
    * 100 TB this is the difference between scanning one day and rescanning
    * seven years: the base rollup would be a stored table, and only the
    * delta ever touches raw data. The reference's nightly CTAS rebuilds
    * (samples/scripts/data-load/CTASLoad-Example.sql) are the rebuild-side
    * of this trade.
    */
  val q150IncrementalRollup: Q = (s, dir) => {
    val cutoff = lit(SnapshotCutoff).cast("timestamp")
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          min(expr("unix_timestamp(l_shipdate) DIV 86400")).as("min_ship_day"),
          max(expr("unix_timestamp(l_shipdate) DIV 86400")).as("max_ship_day"))
    val li = Tables.lineitem(s, dir)
    val base = rollup(li.filter(col("l_shipdate") < cutoff))
    val delta = rollup(li.filter(col("l_shipdate") >= cutoff))
    base.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_qty_c")).as("sum_qty_c"),
        min(col("min_ship_day")).as("min_ship_day"),
        max(col("max_ship_day")).as("max_ship_day"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_rows"),
        col("sum_qty_c"),
        expr("CAST(sum_qty_c DIV n_rows AS BIGINT)").as("avg_qty_c"),
        col("min_ship_day"), col("max_ship_day"))
  }

  val q150Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  CAST(CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
      |    // COUNT(*) AS BIGINT) AS avg_qty_c,
      |  MIN(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400) AS min_ship_day,
      |  MAX(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400) AS max_ship_day
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // -------------------------------- q197: incremental JOIN-view maintenance

  /** q197: incremental maintenance of a JOIN view — q150 maintains a
    * single-table rollup; the join view V = π(orders ⋈ lineitem) needs the
    * classic delta algebra: with both bases split into old + delta,
    *   V_new = agg( R_old⋈S_old ∪ ΔR⋈S_old ∪ R_old⋈ΔS ∪ ΔR⋈ΔS )
    * (distributivity of ⋈ over ∪, then aggregate-of-aggregates exactly as
    * q150). The engine computes the FOUR maintenance terms separately —
    * R_old⋈S_old standing in for the stored view — and merges; the oracle
    * is the direct full join rollup, so the equivalence is the gate check
    * itself. The splits are deliberately independent (orders by date,
    * lineitem by line number) so every term is non-empty. At 100 TB only
    * the two Δ-sided joins touch new data, and each joins a day's delta
    * against the other base — the nightly-maintenance cost model.
    */
  val q197JoinViewMaintenance: Q = (s, dir) => {
    val cutoff = lit(SnapshotCutoff).cast("timestamp")
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderpriority"), col("o_orderdate"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_linenumber"), cents(col("l_extendedprice")).as("rev_c"))
    val oOld = o.filter(col("o_orderdate") < cutoff)
    val oNew = o.filter(col("o_orderdate") >= cutoff)
    val lOld = l.filter(col("l_linenumber") <= 3)
    val lNew = l.filter(col("l_linenumber") > 3)
    def term(r: org.apache.spark.sql.DataFrame,
        ss: org.apache.spark.sql.DataFrame) =
      r.join(ss, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"), sum(col("rev_c")).as("revenue_c"))
    term(oOld, lOld).unionByName(term(oNew, lOld))
      .unionByName(term(oOld, lNew)).unionByName(term(oNew, lNew))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_lines")).as("n_lines"),
        sum(col("revenue_c")).as("revenue_c"))
  }

  val q197Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS revenue_c
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------- q198: event-study lift

  /** Event-study window length in days on each side of the pivot. */
  val EventStudyDays = 28L

  /** q198: event-study / promotion-lift analysis per brand — mean daily
    * shipped revenue in the [[EventStudyDays]]-day window before the pivot
    * date vs the window after, and the relative lift: the standard
    * pre/post panel behind "did the price change move the needle?". Both
    * windows aggregate in ONE scan of the date-pruned fact slice
    * (conditional aggregation, the q146 pattern); means and lift are exact
    * integer divisions. At scale the shipdate predicate prunes partitions
    * to the 56-day study window before any shuffle.
    */
  val q198EventStudy: Q = (s, dir) => {
    val pivot = lit(SnapshotCutoff).cast("timestamp")
    val lo = date_sub(pivot.cast("date"), EventStudyDays.toInt)
    val hi = date_add(pivot.cast("date"), EventStudyDays.toInt)
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo.cast("timestamp") &&
        col("l_shipdate") < hi.cast("timestamp"))
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    val isPre = col("l_shipdate") < pivot
    li.groupBy(col("p_brand"))
      .agg(sum(when(isPre, cents(col("l_extendedprice"))).otherwise(0L))
          .as("pre_rev_c"),
        sum(when(!isPre, cents(col("l_extendedprice"))).otherwise(0L))
          .as("post_rev_c"),
        sum(isPre.cast("long")).as("n_pre_lines"),
        sum((!isPre).cast("long")).as("n_post_lines"))
      .withColumn("pre_daily_c", expr(s"pre_rev_c DIV $EventStudyDays"))
      .withColumn("post_daily_c", expr(s"post_rev_c DIV $EventStudyDays"))
      .filter(col("pre_rev_c") > 0)
      // sign-factored: Spark DIV truncates, DuckDB // floors — they agree
      // only on non-negative operands, and below-baseline brands go negative
      .withColumn("lift_e6", expr(
        """CASE WHEN post_rev_c >= pre_rev_c
          |  THEN (post_rev_c - pre_rev_c) * 1000000 DIV pre_rev_c
          |  ELSE -((pre_rev_c - post_rev_c) * 1000000 DIV pre_rev_c)
          |END""".stripMargin))
  }

  val q198Sql: String =
    s"""WITH w AS (
      |  SELECT p_brand, l_shipdate,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS rev_c,
      |    CASE WHEN l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |         THEN 1 ELSE 0 END AS pre
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '$SnapshotCutoff 00:00:00'
      |      - INTERVAL $EventStudyDays DAY
      |    AND l_shipdate < TIMESTAMP '$SnapshotCutoff 00:00:00'
      |      + INTERVAL $EventStudyDays DAY),
      |g AS (
      |  SELECT p_brand,
      |    CAST(SUM(CASE WHEN pre = 1 THEN rev_c ELSE 0 END) AS BIGINT)
      |      AS pre_rev_c,
      |    CAST(SUM(CASE WHEN pre = 0 THEN rev_c ELSE 0 END) AS BIGINT)
      |      AS post_rev_c,
      |    CAST(SUM(pre) AS BIGINT) AS n_pre_lines,
      |    CAST(SUM(1 - pre) AS BIGINT) AS n_post_lines
      |  FROM w GROUP BY p_brand)
      |SELECT p_brand, pre_rev_c, post_rev_c, n_pre_lines, n_post_lines,
      |  CAST(pre_rev_c // $EventStudyDays AS BIGINT) AS pre_daily_c,
      |  CAST(post_rev_c // $EventStudyDays AS BIGINT) AS post_daily_c,
      |  CAST(CASE WHEN post_rev_c >= pre_rev_c
      |    THEN (post_rev_c - pre_rev_c) * 1000000 // pre_rev_c
      |    ELSE -((pre_rev_c - post_rev_c) * 1000000 // pre_rev_c)
      |  END AS BIGINT) AS lift_e6
      |FROM g WHERE pre_rev_c > 0""".stripMargin

  // ------------------------------------------- q214: Mann-Kendall trend

  /** q214: Mann-Kendall trend detection — the NON-PARAMETRIC "is this
    * series trending?" test, chosen here precisely because it is exact in
    * integer arithmetic end to end (no mean, no variance estimate, no
    * float): per order priority, the weekly order-count series yields
    * S = Σ_{i<j} sgn(x_j − x_i) via the grouped in-place i<j pair
    * generator over the week-ordered series (weeks per group are bounded
    * — ~a hundred — so the quadratic is metadata-scale), and the 2σ
    * significance test S² compares against the exact integer variance:
    * 18·S² > 4·n(n−1)(2n+5) ⇔ |S| > 2·√Var. Tie-corrected variance is
    * deliberately omitted (documented conservative bias toward "trend"
    * when ties abound). One fact rollup; everything after runs on
    * |priorities × weeks| rows.
    */
  val q214MannKendall: Q = (s, dir) => {
    val weekly = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"),
        expr("unix_timestamp(o_orderdate) DIV 604800").as("wk"))
      .agg(count(lit(1)).as("cnt"))
    val series = weekly.groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_list(struct(col("wk"), col("cnt"))))
        .as("pts"))
    val pairs = series.select(col("o_orderpriority"),
        size(col("pts")).as("n"),
        graft.functions.Pairs.inPlace(col("pts"), (x, y) =>
          signum(y.getField("cnt") - x.getField("cnt")).cast("long")).as("sg"))
    pairs.groupBy(col("o_orderpriority"), col("n"))
      .agg(sum(col("sg")).as("s_stat"))
      .select(col("o_orderpriority"), col("n").cast("long").as("n_weeks"),
        col("s_stat"),
        (col("s_stat") * col("s_stat") * 18 >
          lit(4L) * col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5))
          .as("is_trending"),
        when(col("s_stat") > 0, "up").when(col("s_stat") < 0, "down")
          .otherwise("flat").as("direction"))
  }

  val q214Sql: String =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 604800 AS wk,
      |    COUNT(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |s AS (
      |  SELECT a.o_orderpriority,
      |    CAST(SUM(SIGN(b.cnt - a.cnt)) AS BIGINT) AS s_stat
      |  FROM w a JOIN w b
      |    ON a.o_orderpriority = b.o_orderpriority AND a.wk < b.wk
      |  GROUP BY 1),
      |n AS (SELECT o_orderpriority, COUNT(*) AS n_weeks FROM w GROUP BY 1)
      |SELECT o_orderpriority, n_weeks, s_stat,
      |  s_stat * s_stat * 18 >
      |    4 * n_weeks * (n_weeks - 1) * (2 * n_weeks + 5) AS is_trending,
      |  CASE WHEN s_stat > 0 THEN 'up' WHEN s_stat < 0 THEN 'down'
      |       ELSE 'flat' END AS direction
      |FROM s JOIN n USING (o_orderpriority)""".stripMargin

  // ------------------------------------------- q215: Theil-Sen slope

  /** q215: Theil–Sen slope — q214 answers "is it trending?"; this answers
    * "how fast?", robustly: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(w_j − w_i) over the week-ordered series, immune to
    * outlier weeks that wreck least squares. Each slope is quantized to
    * an exact e6 integer with SIGN-FACTORED truncating division (Δy can
    * be negative; Spark DIV truncates, DuckDB // floors, they agree only
    * on non-negative operands), and the median is percentile_disc over
    * those integers — an actual pair's slope, bit-portable. Same bounded
    * in-place pair generation as q214; one rollup feeds both.
    */
  val q215TheilSen: Q = (s, dir) => {
    val weekly = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"),
        expr("unix_timestamp(o_orderdate) DIV 604800").as("wk"))
      .agg(count(lit(1)).as("cnt"))
    val series = weekly.groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_list(struct(col("wk"), col("cnt"))))
        .as("pts"))
    val slopes = series.select(col("o_orderpriority"),
        graft.functions.Pairs.inPlace(col("pts"), (x, y) =>
          struct((y.getField("cnt") - x.getField("cnt")).as("dy"),
            (y.getField("wk") - x.getField("wk")).as("dw"))).as("p"))
      .select(col("o_orderpriority"),
        expr("""CASE WHEN p.dy >= 0 THEN p.dy * 1000000 DIV p.dw
               |     ELSE -((-p.dy) * 1000000 DIV p.dw) END""".stripMargin)
          .as("slope_e6"))
    slopes.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_e6)")
          .cast("long").as("median_slope_e6"),
        min(col("slope_e6")).as("min_slope_e6"),
        max(col("slope_e6")).as("max_slope_e6"))
  }

  val q215Sql: String =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 604800 AS wk,
      |    COUNT(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |sl AS (
      |  SELECT a.o_orderpriority,
      |    CASE WHEN b.cnt - a.cnt >= 0
      |         THEN (b.cnt - a.cnt) * 1000000 // (b.wk - a.wk)
      |         ELSE -((a.cnt - b.cnt) * 1000000 // (b.wk - a.wk)) END
      |      AS slope_e6
      |  FROM w a JOIN w b
      |    ON a.o_orderpriority = b.o_orderpriority AND a.wk < b.wk)
      |SELECT o_orderpriority, COUNT(*) AS n_pairs,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_e6)
      |    AS median_slope_e6,
      |  MIN(slope_e6) AS min_slope_e6, MAX(slope_e6) AS max_slope_e6
      |FROM sl GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------- q213: top-k per group

  /** q213: top-k per group — the canonical "best 3 parts per brand by
    * revenue" report as a ranking window + rank filter. Worth a dedicated
    * operator row because of how it EXECUTES at scale: Spark rewrites the
    * rank predicate into WindowGroupLimit (partial group limits run
    * map-side BEFORE the shuffle, so only ≤ k rows per brand per mapper
    * move), which PlansSpec pins — the group-wise analog of q30's
    * TakeOrderedAndProject. Total order (revenue desc, partkey) keeps the
    * gate hashable.
    */
  val q213GroupTopK: Q = (s, dir) => {
    val rev = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("revenue_c"))
    rev.withColumn("rnk", row_number().over(
        Window.partitionBy(col("p_brand"))
          .orderBy(col("revenue_c").desc, col("p_partkey"))))
      .filter(col("rnk") <= 3)
  }

  val q213Sql: String =
    """WITH rev AS (
      |  SELECT p_brand, p_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS revenue_c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey)
      |SELECT p_brand, p_partkey, revenue_c, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
      |    ORDER BY revenue_c DESC, p_partkey) AS rnk
      |  FROM rev) t
      |WHERE rnk <= 3""".stripMargin

  // ------------------------------------------- q211: rank migration

  /** q211: brand rank migration — the "top movers" report: each brand's
    * revenue rank within each ship month, with its previous-month rank
    * and the signed delta (null on a brand's first month). Rank is
    * ROW_NUMBER over (revenue desc, brand) — total order, so the gate
    * hashes it. One fact rollup to |month × brand| rows; both windows
    * (ranking, month-over-month lag) run on that rollup, never the fact.
    */
  val q211RankMigration: Q = (s, dir) => {
    val monthly = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(expr("unix_timestamp(l_shipdate) DIV 86400 DIV 30").as("mon"),
        col("p_brand"))
      .agg(sum(cents(col("l_extendedprice"))).as("revenue_c"))
    val rankW = Window.partitionBy(col("mon"))
      .orderBy(col("revenue_c").desc, col("p_brand"))
    val lagW = Window.partitionBy(col("p_brand")).orderBy(col("mon"))
    monthly.withColumn("rnk", row_number().over(rankW))
      .withColumn("prev_rnk", lag(col("rnk"), 1).over(lagW))
      .withColumn("rank_delta", col("prev_rnk") - col("rnk"))
  }

  val q211Sql: String =
    """WITH monthly AS (
      |  SELECT CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400 // 30 AS mon,
      |    p_brand,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS revenue_c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY mon
      |    ORDER BY revenue_c DESC, p_brand) AS INT) AS rnk
      |  FROM monthly)
      |SELECT mon, p_brand, revenue_c, rnk,
      |  LAG(rnk) OVER (PARTITION BY p_brand ORDER BY mon) AS prev_rnk,
      |  LAG(rnk) OVER (PARTITION BY p_brand ORDER BY mon) - rnk AS rank_delta
      |FROM ranked""".stripMargin

  // ------------------------------------------- q209: skew partition plan

  /** Heaviest keys reported by the q209 salting plan. */
  val SkewPlanTopN = 10

  /** q209: skew partition planner — the offline statistics pass behind
    * [[SkewJoin]]: for the [[SkewPlanTopN]] heaviest join keys, the
    * salting factor that levels each back to the MEDIAN key load
    * (ceil division, exact integers — the target adapts to the data, so
    * the plan is meaningful at any scale factor) and the resulting worst
    * slice size. This is the reference's skew-detection view
    * (vw_tables_with_skew) turned actionable: feed `salt_factor` straight
    * into SkewJoin.saltedInner or a re-keyed CTAS; `is_skewed` marks keys
    * that actually need it. One map-side-combined rollup; the median is a
    * percentile_disc over the |keys|-sized rollup.
    */
  val q209SkewPlan: Q = (s, dir) => {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_rows"))
    val med = counts.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_rows)")
        .cast("long").as("median_rows"))
    counts.crossJoin(broadcast(med))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_rows").desc, col("l_suppkey"))))
      .filter(col("rk") <= SkewPlanTopN).drop("rk")
      .withColumn("salt_factor",
        expr("(n_rows + median_rows - 1) DIV median_rows"))
      .withColumn("worst_slice_rows",
        expr("(n_rows + salt_factor - 1) DIV salt_factor"))
      .withColumn("is_skewed", col("salt_factor") > 1)
  }

  val q209Sql: String =
    s"""WITH c AS (
      |  SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_rows)
      |    AS median_rows FROM c),
      |top AS (
      |  SELECT l_suppkey, n_rows, median_rows FROM (
      |    SELECT c.*, m.median_rows,
      |      ROW_NUMBER() OVER (ORDER BY n_rows DESC, l_suppkey) AS rk
      |    FROM c, m) t
      |  WHERE rk <= $SkewPlanTopN)
      |SELECT l_suppkey, n_rows, median_rows,
      |  (n_rows + median_rows - 1) // median_rows AS salt_factor,
      |  (n_rows + (n_rows + median_rows - 1) // median_rows - 1)
      |    // ((n_rows + median_rows - 1) // median_rows) AS worst_slice_rows,
      |  (n_rows + median_rows - 1) // median_rows > 1 AS is_skewed
      |FROM top""".stripMargin

  // ------------------------------------------- q208: ABC-XYZ matrix

  /** q208: ABC-XYZ inventory classification — the two-axis segmentation
    * planners actually use: ABC by cumulative revenue share (q112's
    * running-share machinery, but with EXACT integer threshold compares:
    * cum·10 ≤ total·8 for A, cum·20 ≤ total·19 for B) crossed with XYZ by
    * demand variability over observed weeks (X steady, Z erratic), where
    * the CV² thresholds are exact integer inequalities over the q117
    * co-moment sums: with S = Σq and Q = Σq², CV² = (n·Q − S²)/S², so
    * X ⇔ 4·(n·Q − S²) ≤ S² (CV ≤ ½) and Y ⇔ n·Q − S² ≤ S² (CV ≤ 1) —
    * products in DECIMAL(38,0)/HUGEINT. Output is the 9-cell matrix with
    * part counts and revenue mass. Two part-keyed rollups; the running
    * share uses the two-level [[descPrefixSum]] device, so the |parts|
    * rollup never funnels through one sort task.
    */
  val q208AbcXyz: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val rev = l.groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("revenue_c"))
    val total = rev.select(sum(col("revenue_c")).cast(dec).as("total_c"))
    // two-level prefix (descPrefixSum), not a global window: the running
    // share parallelizes across value buckets instead of one sort task
    val abc = descPrefixSum(rev, "revenue_c", "l_partkey", "cum_raw")
      .crossJoin(broadcast(total))
      .withColumn("cum_c", col("cum_raw").cast(dec))
      .select(col("l_partkey"), col("revenue_c"),
        when(col("cum_c") * 10 <= col("total_c") * 8, "A")
          .when(col("cum_c") * 20 <= col("total_c") * 19, "B")
          .otherwise("C").as("abc"))
    val weekly = l.select(col("l_partkey"),
        expr("unix_timestamp(l_shipdate) DIV 604800").as("wk"),
        cents(col("l_quantity")).as("q_c"))
      .groupBy(col("l_partkey"), col("wk"))
      .agg(sum(col("q_c")).as("wq"))
    val xyz = weekly.groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("wq").cast(dec)).as("sq"),
        // cast BEFORE multiplying: wq is a per-group sum, and a Long×Long
        // product wraps silently at warehouse scale (the oracle multiplies
        // in HUGEINT)
        sum(col("wq").cast(dec) * col("wq").cast(dec)).as("qq"))
      .select(col("l_partkey"),
        when((col("n") * col("qq") - col("sq") * col("sq")) * 4 <=
          col("sq") * col("sq"), "X")
          .when(col("n") * col("qq") - col("sq") * col("sq") <=
            col("sq") * col("sq"), "Y")
          .otherwise("Z").as("xyz"))
    abc.join(xyz, "l_partkey")
      .groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"), sum(col("revenue_c")).as("revenue_c"))
  }

  val q208Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS revenue_c
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT CAST(SUM(revenue_c) AS HUGEINT) AS total_c FROM rev),
      |abc AS (
      |  SELECT l_partkey, revenue_c,
      |    CASE WHEN CAST(cum_c AS HUGEINT) * 10 <= total_c * 8 THEN 'A'
      |         WHEN CAST(cum_c AS HUGEINT) * 20 <= total_c * 19 THEN 'B'
      |         ELSE 'C' END AS abc
      |  FROM (SELECT l_partkey, revenue_c, total_c,
      |          SUM(revenue_c) OVER (ORDER BY revenue_c DESC, l_partkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
      |        FROM rev CROSS JOIN tot) t),
      |weekly AS (
      |  SELECT l_partkey,
      |    CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 604800 AS wk,
      |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS wq
      |  FROM lineitem GROUP BY 1, 2),
      |xyz AS (
      |  SELECT l_partkey,
      |    CASE WHEN (n * qq - sq * sq) * 4 <= sq * sq THEN 'X'
      |         WHEN n * qq - sq * sq <= sq * sq THEN 'Y'
      |         ELSE 'Z' END AS xyz
      |  FROM (SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS n,
      |          CAST(SUM(wq) AS HUGEINT) AS sq,
      |          CAST(SUM(CAST(wq AS HUGEINT) * wq) AS HUGEINT) AS qq
      |        FROM weekly GROUP BY l_partkey) m)
      |SELECT abc, xyz, COUNT(*) AS n_parts,
      |  CAST(SUM(revenue_c) AS BIGINT) AS revenue_c
      |FROM abc JOIN xyz USING (l_partkey)
      |GROUP BY abc, xyz""".stripMargin

  // ------------------------------------------- q207: aggregate navigation

  /** q207: summary-table routed aggregation — the gate-facing face of
    * [[graft.plans.AggregateNavigator]]: the per-returnflag quantity
    * report is answered from the (returnflag, linestatus) ROLLUP, not the
    * fact table — the navigator picks it because the requested grain is a
    * subset, then re-aggregates by the aggregate algebra (SUM/COUNT by
    * SUM, MIN/MAX by MIN/MAX, AVG derived). The oracle computes the
    * direct full-scan answer, so the rollup route's correctness IS the
    * gate check (the q150/q197 pattern, lifted into a reusable router).
    * A decoy summary at an incompatible grain is registered to prove
    * selection, and QueriesSpec asserts the fact is scanned only to build
    * the summary, never by the routed query.
    */
  val q207AggNavigator: Q = (s, dir) => {
    import graft.plans.AggregateNavigator
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_suppkey"),
        cents(col("l_quantity")).as("qty_c"))
    val s1 = AggregateNavigator.Summary("s_flag_status",
      Set("l_returnflag", "l_linestatus"),
      AggregateNavigator.build(li, Seq("l_returnflag", "l_linestatus"),
        Seq("qty_c")).localCheckpoint())
    val s2 = AggregateNavigator.Summary("s_supp",
      Set("l_suppkey"),
      AggregateNavigator.build(li, Seq("l_suppkey"),
        Seq("qty_c")).localCheckpoint())
    val (src, out) = AggregateNavigator.route(Seq(s2, s1), li,
      Seq("l_returnflag"), Seq("qty_c"))
    require(src == "s_flag_status", s"router must pick the covering rollup, got $src")
    out
  }

  val q207Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
      |  MIN(CAST(ROUND(l_quantity*100) AS BIGINT)) AS min_qty_c,
      |  MAX(CAST(ROUND(l_quantity*100) AS BIGINT)) AS max_qty_c,
      |  CAST(CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
      |    // COUNT(*) AS BIGINT) AS avg_qty_c
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------- q205: price dispersion

  /** Minimum offers per part for the q205 dispersion report. */
  val DispersionMinOffers = 5L

  /** q205: price-dispersion / law-of-one-price audit — per part, how far
    * apart are the unit prices its line items actually transacted at?
    * Unit price is exact integer arithmetic (extended-price cents scaled
    * ×100, truncating-divided by quantity cents — both engines on
    * nonnegative operands), and the spread/median come from min/max and
    * percentile_disc over those integers. Parts below
    * [[DispersionMinOffers]] offers are excluded (a 2-offer "spread" is
    * noise). A wide spread flags inconsistent pricing or data-quality
    * problems upstream. One map-side-combined rollup keyed by part.
    */
  val q205PriceDispersion: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("""CAST(ROUND(l_extendedprice*100) AS BIGINT) * 100
               | DIV CAST(ROUND(l_quantity*100) AS BIGINT)""".stripMargin)
          .as("unit_c"))
    // The (part, unit_c) rollup IS the partial aggregation percentile_disc
    // never gets (its WITHIN GROUP plans as an ObjectHashAggregate that
    // buffers every raw unit price per part — full-row shuffle, no
    // codegen); the median then reads off below-counts from the house
    // two-level rank selection, the same ceil(n/2) target percentile_disc
    // defines (boundary-verified by q347/q356/q378).
    val byV = li.groupBy(col("l_partkey"), col("unit_c"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val stats = byV.groupBy(col("l_partkey"))
      .agg(sum(col("cnt")).as("n_offers"),
        min(col("unit_c")).as("min_unit_c"),
        max(col("unit_c")).as("max_unit_c"))
      .filter(col("n_offers") >= DispersionMinOffers)
    val med = AuditQueries
      .doubledRankBelow(byV, Seq("l_partkey"), "unit_c", 100000L)
      .join(stats.select(col("l_partkey"), col("n_offers")), "l_partkey")
      .filter(col("below") + col("cnt") >= expr("(n_offers + 1) div 2"))
      .groupBy(col("l_partkey"))
      .agg(min(col("unit_c")).as("median_unit_c"))
    stats.join(med, "l_partkey")
      .select(col("l_partkey"), col("n_offers"), col("min_unit_c"),
        col("max_unit_c"), col("median_unit_c"),
        expr("(max_unit_c - min_unit_c) * 1000000 DIV min_unit_c")
          .as("spread_e6"))
  }

  val q205Sql: String =
    s"""WITH u AS (
      |  SELECT l_partkey,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) * 100
      |      // CAST(ROUND(l_quantity*100) AS BIGINT) AS unit_c
      |  FROM lineitem)
      |SELECT l_partkey, COUNT(*) AS n_offers,
      |  MIN(unit_c) AS min_unit_c, MAX(unit_c) AS max_unit_c,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY unit_c) AS median_unit_c,
      |  CAST((MAX(unit_c) - MIN(unit_c)) * 1000000 // MIN(unit_c) AS BIGINT)
      |    AS spread_e6
      |FROM u GROUP BY l_partkey
      |HAVING COUNT(*) >= $DispersionMinOffers""".stripMargin

  // --------------------------------------- q206: return-rate outliers

  /** q206: supplier return-rate outliers — the forensic screen "which
    * suppliers' goods come back too often?": per supplier, returned-line
    * share versus the corpus rate, flagged when the deviation exceeds two
    * binomial standard errors. The 2σ test runs ENTIRELY in integers
    * (the q120 trick, lifted to proportions): with d = n_ret·N − R·n and
    * variance term 4·R·(N−R)·n, the flag is d² > var — products
    * accumulate in DECIMAL(38,0)/HUGEINT because d² overflows int64 at
    * warehouse scale. No float means the page-someone bit is
    * bit-identical on any engine. One supplier rollup plus a broadcast
    * corpus scalar.
    */
  val q206ReturnOutliers: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"),
        (col("l_returnflag") === "R").cast("long").as("ret"))
    val corpus = li.agg(count(lit(1)).cast(dec).as("n_tot"),
      sum(col("ret")).cast(dec).as("r_tot"))
    li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("ret")).as("n_returned"))
      .crossJoin(broadcast(corpus))
      .select(col("l_suppkey"), col("n_lines"), col("n_returned"),
        expr("n_returned * 1000000 DIV n_lines").as("rate_e6"),
        (col("n_tot") * col("n_returned") - col("r_tot") * col("n_lines"))
          .as("d"),
        (lit(4).cast(dec) * col("r_tot") * (col("n_tot") - col("r_tot")) *
          col("n_lines")).as("v"))
      .select(col("l_suppkey"), col("n_lines"), col("n_returned"),
        col("rate_e6"),
        (col("d") * col("d") > col("v")).as("is_outlier"),
        when(col("d") > 0, "high").when(col("d") < 0, "low").otherwise("at_rate")
          .as("direction"))
  }

  val q206Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem),
      |c AS (SELECT COUNT(*) AS n_tot, SUM(ret) AS r_tot FROM li),
      |s AS (
      |  SELECT l_suppkey, COUNT(*) AS n_lines,
      |    CAST(SUM(ret) AS BIGINT) AS n_returned
      |  FROM li GROUP BY l_suppkey)
      |SELECT l_suppkey, n_lines, n_returned,
      |  CAST(n_returned * 1000000 // n_lines AS BIGINT) AS rate_e6,
      |  (CAST(n_tot AS HUGEINT) * n_returned - CAST(r_tot AS HUGEINT) * n_lines)
      |    * (CAST(n_tot AS HUGEINT) * n_returned - CAST(r_tot AS HUGEINT) * n_lines)
      |    > 4 * CAST(r_tot AS HUGEINT) * (n_tot - r_tot) * n_lines AS is_outlier,
      |  CASE WHEN CAST(n_tot AS HUGEINT) * n_returned
      |            > CAST(r_tot AS HUGEINT) * n_lines THEN 'high'
      |       WHEN CAST(n_tot AS HUGEINT) * n_returned
      |            < CAST(r_tot AS HUGEINT) * n_lines THEN 'low'
      |       ELSE 'at_rate' END AS direction
      |FROM s, c""".stripMargin

  /** q117: correlation & regression — Pearson r, population covariance,
    * and the least-squares slope/intercept of price against quantity per
    * return flag. Spark's corr/covar/regr_* aggregates stream double
    * co-moments in partition order (not reproducible across engines or
    * partitionings), so the co-moments here are EXACT integer sums over
    * integer cents accumulated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB):
    *   A = n·Σxy − Σx·Σy,  B = n·Σx² − (Σx)²,  C = n·Σy² − (Σy)²
    * then r = A / (√B·√C), cov_pop = A/n², slope = A/B — each a fixed
    * expression over exactly-represented integers, identical in both
    * engines. ONE aggregation pass; the shuffle carries five sums per
    * group.
    */
  val q117CorrRegression: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val x = cents(col("l_quantity"))
    val y = cents(col("l_extendedprice"))
    // sums accumulate IN decimal (a long sum would wrap silently first at
    // large scale); n² runs in decimal for the same reason
    val g = l.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(x.cast(dec)).as("sx"), sum(y.cast(dec)).as("sy"),
        sum((x * y).cast(dec)).as("sxy"),
        sum((x * x).cast(dec)).as("sxx"),
        sum((y * y).cast(dec)).as("syy"))
    g.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("a"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("b"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("c"),
        col("sx"), col("sy"))
      .select(col("l_returnflag"), col("n_rows"),
        (col("a").cast("double") /
          (sqrt(col("b").cast("double")) * sqrt(col("c").cast("double"))))
          .as("corr_qty_price"),
        (col("a").cast("double") /
          (col("n") * col("n")).cast("double")).as("covar_pop"),
        (col("a").cast("double") / col("b").cast("double")).as("regr_slope"),
        ((col("sy").cast("double") -
          (col("a").cast("double") / col("b").cast("double")) *
            col("sx").cast("double")) /
          col("n_rows").cast("double")).as("regr_intercept"))
  }

  val q117Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS sx,
      |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sy,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) *
      |        CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sxy,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) *
      |        CAST(ROUND(l_quantity*100) AS BIGINT)) AS sxx,
      |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) *
      |        CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS syy
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n,
      |    n * sxy - sx * sy AS a,
      |    n * sxx - sx * sx AS b,
      |    n * syy - sy * sy AS c,
      |    sx, sy
      |  FROM s)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  CAST(CAST(a AS VARCHAR) AS DOUBLE) /
      |    (sqrt(CAST(CAST(b AS VARCHAR) AS DOUBLE)) *
      |     sqrt(CAST(CAST(c AS VARCHAR) AS DOUBLE))) AS corr_qty_price,
      |  CAST(CAST(a AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(n * n AS VARCHAR) AS DOUBLE) AS covar_pop,
      |  CAST(CAST(a AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(b AS VARCHAR) AS DOUBLE) AS regr_slope,
      |  (CAST(CAST(sy AS VARCHAR) AS DOUBLE) -
      |    (CAST(CAST(a AS VARCHAR) AS DOUBLE) /
      |     CAST(CAST(b AS VARCHAR) AS DOUBLE))
      |    * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / CAST(n AS DOUBLE)
      |    AS regr_intercept
      |FROM m""".stripMargin

  /** Benford expectations log10(1 + 1/d), computed ONCE in Scala and
    * inlined as identical double literals into both engines — runtime libm
    * is not bit-portable, plan-build constants are.
    */
  private val BenfordShare: Map[Int, Double] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap

  /** q118: Benford's-law digit audit — the first-digit distribution of
    * invoice amounts against the log expectation, the forensic-accounting
    * screen for fabricated figures. First digits come from the integer-cent
    * string (no float formatting), shares are single divisions over a
    * 9-row rollup, and each digit's deviation is one subtraction against
    * the inlined constant. Map-side combining count, 9-row window.
    */
  val q118Benford: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val digit = substring(cents(col("l_extendedprice")).cast("string"), 1, 1)
      .cast("int")
    val all = Window.partitionBy()
    val benford = BenfordShare.foldLeft(lit(null).cast("double")) {
      case (els, (d, p)) => when(col("digit") === d, lit(p)).otherwise(els)
    }
    l.select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / sum(col("n")).over(all)).as("share"))
      .select(col("digit"), col("n"), col("share"),
        benford.as("benford_share"),
        (col("share") - benford).as("deviation"))
  }

  val q118Sql: String = {
    // string-cast literals: DuckDB types a bare decimal literal as DECIMAL
    // and its decimal→double conversion double-rounds (one ulp off strtod);
    // CAST('…' AS DOUBLE) parses with strtod exactly like the JVM
    val cases = (1 to 9).map(d =>
      s"WHEN $d THEN CAST('${BenfordShare(d)}' AS DOUBLE)").mkString("\n      ")
    s"""WITH d AS (
      |  SELECT CAST(SUBSTR(CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |    AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM lineitem),
      |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
      |s AS (
      |  SELECT digit, n, CAST(n AS DOUBLE) / SUM(n) OVER () AS share FROM c)
      |SELECT digit, n, share,
      |  CASE digit $cases END AS benford_share,
      |  share - CASE digit $cases END AS deviation
      |FROM s""".stripMargin
  }

  // ------------------- shared two-level distributed prefix sum

  /** Prefix total over a METADATA-SIZED bucket rollup via a broadcast
    * non-equi self-join — the serial step of the two-level prefix devices.
    * An unpartitioned window would be correct too, but it funnels even the
    * rollup through one task and trips the single-partition plan lint; the
    * triangle join stays a broadcast nested loop over ≤~4k rows. Returns
    * (bktCol, prior) where prior sums `sumCol` over buckets strictly
    * BEFORE bkt in the given direction (0 when none).
    */
  private def bucketPrior(bRoll: org.apache.spark.sql.DataFrame,
      bktCol: String, sumCol: String, desc: Boolean)
      : org.apache.spark.sql.DataFrame =
    Prefix.bucketPrior(bRoll, bktCol, sumCol, desc)

  /** Distributed running sum of `valueCol` over (valueCol DESC, tieCol
    * ASC), ROWS UNBOUNDED PRECEDING..CURRENT — the Pareto/ABC cumulative
    * device. A plain `Window.orderBy` funnels the whole entity rollup
    * through ONE sort task no matter how many executors; two levels
    * restore parallelism with bit-identical output (int64 addition is
    * associative): ≤1025 value-range buckets give a metadata rollup whose
    * prior totals come from [[bucketPrior]], and the within-bucket running
    * window partitions by bucket (parallelism = #buckets, each holding a
    * ~1/1024 value slice). Requires valueCol ≥ 0; ties on valueCol land in
    * one bucket, so the tie-break never crosses buckets.
    */
  private def descPrefixSum(df: org.apache.spark.sql.DataFrame,
      valueCol: String, tieCol: String, out: String)
      : org.apache.spark.sql.DataFrame =
    Prefix.runningSum(df, valueCol, Seq(tieCol), valueCol, out,
      desc = true, includeCurrent = true)

  /** q112: Pareto / ABC classification — parts ranked by revenue with the
    * cumulative revenue share banded into A (first 80%), B (to 95%), C
    * (tail): the inventory-analysis staple. The heavy pass is the per-part
    * revenue rollup (exact integer cents); the running share comes from
    * [[descPrefixSum]] — the two-level bucket device, NOT a global window,
    * so the |parts| rollup never funnels through one sort task — and the
    * grand total broadcasts. The banding arithmetic is unchanged from the
    * single-window formulation and bit-identical to it.
    */
  val q112AbcClasses: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val rev = l.groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("revenue_c"))
    val total = rev.select(sum(col("revenue_c")).as("total_c"))
    descPrefixSum(rev, "revenue_c", "l_partkey", "cum_c")
      .crossJoin(broadcast(total))
      .select(col("l_partkey"), col("revenue_c"),
        (col("cum_c").cast("double") / col("total_c")).as("cum_share"))
      .select(col("l_partkey"), col("revenue_c"), col("cum_share"),
        when(col("cum_share") <= 0.8, lit("A"))
          .when(col("cum_share") <= 0.95, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
  }

  val q112Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
      |  FROM lineitem GROUP BY l_partkey),
      |tot AS (SELECT CAST(SUM(revenue_c) AS BIGINT) AS total_c FROM rev),
      |shares AS (
      |  SELECT l_partkey, revenue_c,
      |    CAST(SUM(revenue_c) OVER (ORDER BY revenue_c DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      / total_c AS cum_share
      |  FROM rev CROSS JOIN tot)
      |SELECT l_partkey, revenue_c, cum_share,
      |  CASE WHEN cum_share <= 0.8 THEN 'A'
      |       WHEN cum_share <= 0.95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM shares""".stripMargin

  val q09Sql: String = {
    s"""WITH h AS (
       |  SELECT l_returnflag,
       |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       |  FROM lineitem),
       |ranked AS (
       |  SELECT l_returnflag, hv >> $HllW AS b, w,
       |    CASE $hllLadderSql
       |      ELSE ${HllW + 1} END AS r
       |  FROM (SELECT l_returnflag, hv, hv & ${(1L << HllW) - 1} AS w FROM h)),
       |regs AS (
       |  SELECT l_returnflag, b, MAX(r) AS mr FROM ranked GROUP BY 1, 2)
       |SELECT l_returnflag,
       |  $HllEstC / CAST(SUM(CAST(1 AS BIGINT) << (${HllW + 1} - mr)) +
       |    ($HllM - COUNT(*)) * (CAST(1 AS BIGINT) << ${HllW + 1}) AS DOUBLE) AS est_orders
       |FROM regs GROUP BY l_returnflag""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Joins (§2.3)
  // -------------------------------------------------------------------------

  /** Multi-table inner equi-join chain (J1) with broadcast dimensions (J9):
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, revenue rollup.
    * nation/region are REPLICATE-class tables → broadcast; lineitem⋈orders is
    * the large-large shuffle join on the hash key (reference distribution key
    * pattern: fact.sale.sql:27-30).
    */
  val q10StarJoin: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (dec2(lit(1)) - dec2(col("l_discount"))))
          .cast(DecimalType(18, 4)).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q10Sql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY r_name, n_name""".stripMargin

  /** LEFT OUTER join (J2), written scale-first: pre-aggregate the fact side
    * before joining so the join input is |customers| not |orders|.
    */
  val q11LeftJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val byCust = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("o_totalprice"))).as("tot_c"))
    c.join(byCust, col("c_custkey") === col("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"),
        coalesce(col("tot_c"), lit(0L)).as("total_spent_c"))
  }

  val q11Sql: String =
    """SELECT c_custkey, c_name,
      |  COUNT(o_orderkey) AS n_orders,
      |  CAST(COALESCE(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) AS total_spent_c
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name""".stripMargin

  /** RIGHT OUTER join (J3)
    * (reference: solutions/monitoring/scripts/views/microsoft.vw_sql_requests.sql:21-22).
    */
  val q12RightJoin: Q = (s, dir) => {
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1995-06-01").cast("timestamp"))
    o.join(l, col("o_orderkey") === col("l_orderkey"), "right")
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderdate"),
        col("o_orderstatus"))
  }

  val q12Sql: String =
    """SELECT l_orderkey, l_linenumber, o_orderdate, o_orderstatus
      |FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') o
      |RIGHT JOIN (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00') l
      |ON o_orderkey = l_orderkey""".stripMargin

  /** FULL OUTER join (J4) of two aggregates (whitepaper.md:261). */
  val q13FullJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val p = Tables.supplier(s, dir).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(p, col("c_nationkey") === col("s_nationkey"), "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  val q13Sql: String =
    """SELECT COALESCE(c.c_nationkey, p.s_nationkey) AS nationkey,
      |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
      |FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) p
      |ON c.c_nationkey = p.s_nationkey""".stripMargin

  /** Anti-join (J5): customers with no orders — the outer-join-null-probe
    * pattern (reference: samples/scripts/deployments/AddTableChanges.sql:62-65)
    * expressed as a proper left_anti join.
    */
  val q14AntiJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
  }

  val q14Sql: String =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** Semi-join (J6/J7): parts that ship in large quantities — EXISTS/IN
    * (reference: microsoft.vw_tables_with_skew.sql:9-19; whitepaper.md:391-411).
    */
  val q15SemiJoin: Q = (s, dir) => {
    val p = Tables.part(s, dir)
    val l = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
    p.join(l, col("p_partkey") === col("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
  }

  val q15Sql: String =
    """SELECT p_partkey, p_name, p_brand FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 49)""".stripMargin

  /** Cross join of single-row scalar-aggregate derived tables (J8) — the
    * monitoring dashboard widget pattern
    * (reference: samples/sqlops/MonitoringScripts/UserActivities.sql:3-31).
    */
  val q16CrossScalars: Q = (s, dir) => {
    val a = Tables.orders(s, dir).agg(count(lit(1)).as("total_orders"))
    val b = Tables.customer(s, dir).agg(count(lit(1)).as("total_customers"))
    val c = Tables.lineitem(s, dir)
      .agg(sum(dec2(col("l_extendedprice"))).cast(DecimalType(18, 2)).as("total_revenue"))
    a.crossJoin(b).crossJoin(c)
  }

  val q16Sql: String =
    """SELECT total_orders, total_customers, total_revenue
      |FROM (SELECT COUNT(*) AS total_orders FROM orders) a
      |CROSS JOIN (SELECT COUNT(*) AS total_customers FROM customer) b
      |CROSS JOIN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_revenue FROM lineitem) c""".stripMargin

  /** Scalar subquery in a predicate (J11): parts priced above the mean
    * (reference: microsoft.vw_sql_requests.sql:18-19 uses a scalar subquery).
    */
  val q17ScalarSubquery: Q = (s, dir) => {
    val p = Tables.part(s, dir)
    // price > AVG(price) as an exact integer cross-multiply (price_c * n >
    // sum_c) — no division, so no float rounding at the predicate boundary.
    val avgPrice = p.agg(sum(cents(col("p_retailprice"))).as("sum_c"),
      count(lit(1)).as("n_parts"))
    p.crossJoin(broadcast(avgPrice))
      .filter(cents(col("p_retailprice")) * col("n_parts") > col("sum_c"))
      .select(col("p_partkey"), col("p_name"),
        cents(col("p_retailprice")).as("p_price_c"))
  }

  val q17Sql: String =
    """SELECT p_partkey, p_name, CAST(ROUND(p_retailprice*100) AS BIGINT) AS p_price_c
      |FROM part
      |WHERE CAST(ROUND(p_retailprice*100) AS BIGINT) * (SELECT COUNT(*) FROM part) >
      |  (SELECT CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT) FROM part)""".stripMargin

  // -------------------------------------------------------------------------
  // Window functions (§2.5)
  // -------------------------------------------------------------------------

  /** ROW_NUMBER per partition with a total order (W1/W2): first 5 shipments
    * per supplier. (The reference's ORDER BY (SELECT NULL) form is
    * nondeterministic; here the order key is total so results hash-match.)
    */
  val q20RowNumber: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    l.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"))
  }

  val q20Sql: String =
    """SELECT l_suppkey, CAST(rn AS INT) AS rn, l_orderkey, l_linenumber, l_shipdate FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn <= 5""".stripMargin

  /** RANK over an aggregate (W3) — the whitepaper's flagship OLAP example
    * (reference: whitepaper.md:188-197): rank nations by revenue within
    * region.
    */
  val q21RankAgg: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice"))).as("revenue_c"))
    rev.withColumn("rnk",
      rank().over(Window.partitionBy(col("r_name")).orderBy(col("revenue_c").desc)))
  }

  val q21Sql: String =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name)
      |SELECT r_name, n_name, revenue_c,
      |  CAST(RANK() OVER (PARTITION BY r_name ORDER BY revenue_c DESC) AS INT) AS rnk
      |FROM rev""".stripMargin

  /** LAG/LEAD (W4) (whitepaper.md:568-569): previous/next order totals per
    * customer.
    */
  val q22LagLead: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
      col("o_custkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("total_c"),
      lag(cents(col("o_totalprice")), 1).over(w).as("prev_total_c"),
      lead(cents(col("o_totalprice")), 1).over(w).as("next_total_c"))
  }

  val q22Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS total_c,
      |  LAG(CAST(ROUND(o_totalprice*100) AS BIGINT), 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_total_c,
      |  LEAD(CAST(ROUND(o_totalprice*100) AS BIGINT), 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_total_c
      |FROM orders""".stripMargin

  /** Running (cumulative) aggregate (W7) — RunningSum/RunningCount
    * (whitepaper.md:582-588).
    */
  val q23Running: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(
      col("o_custkey"), col("o_orderkey"),
      sum(cents(col("o_totalprice"))).over(w).as("running_total_c"),
      count(lit(1)).over(w).as("running_n"))
  }

  val q23Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total_c,
      |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
      |FROM orders""".stripMargin

  /** Moving-window aggregate (W6) — MovingSum/MovingMax over a bounded frame
    * (whitepaper.md:570-576).
    */
  val q24Moving: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    o.select(
      col("o_custkey"), col("o_orderkey"),
      sum(cents(col("o_totalprice"))).over(w).as("moving_sum_c"),
      max(cents(col("o_totalprice"))).over(w).as("moving_max_c"),
      min(cents(col("o_totalprice"))).over(w).as("moving_min_c"))
  }

  val q24Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_sum_c,
      |  CAST(MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_max_c,
      |  CAST(MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_min_c
      |FROM orders""".stripMargin

  /** FIRST_VALUE / LAST_VALUE over explicit frames (W5, W8)
    * (whitepaper.md:567,577-581).
    */
  val q25FirstLast: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.select(
      col("o_custkey"), col("o_orderkey"),
      first(cents(col("o_totalprice"))).over(ord).as("first_total_c"),
      last(cents(col("o_totalprice"))).over(full).as("last_total_c"))
  }

  val q25Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  FIRST_VALUE(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_total_c,
      |  LAST_VALUE(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_total_c
      |FROM orders""".stripMargin

  /** Correlated EXISTS through the SQL entry point (P8/J7) — Catalyst's
    * RewritePredicateSubquery decorrelates it to a semi join (SURVEY.md §4;
    * reference: whitepaper.md:391-411).
    */
  val q18ExistsSql: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("g_customer")
    Tables.orders(s, dir).createOrReplaceTempView("g_orders")
    s.sql(
      """SELECT c_custkey, c_name FROM g_customer
        |WHERE EXISTS (SELECT 1 FROM g_orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin)
  }

  val q18Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin

  /** IN (subquery) semi-join through SQL (J6; reference:
    * microsoft.vw_tables_with_skew.sql:9-19 uses IN over a grouped-HAVING
    * subquery).
    */
  val q19InSubquery: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("g_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
    s.sql(
      """SELECT o_orderkey, o_orderdate FROM g_orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM g_lineitem
        |  GROUP BY l_orderkey
        |  HAVING COUNT(*) >= 7)""".stripMargin)
  }

  val q19Sql: String =
    """SELECT o_orderkey, o_orderdate FROM orders
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING COUNT(*) >= 7)""".stripMargin

  /** DENSE_RANK + NTILE quartiles (extended W-family). */
  val q26DenseNtile: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(
      col("o_custkey"), col("o_orderkey"),
      dense_rank().over(byCust).as("drnk"),
      ntile(4).over(byCust).as("quartile"))
  }

  val q26Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS drnk,
      |  CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS quartile
      |FROM orders""".stripMargin

  /** ROLLUP hierarchy totals — an extension beyond the reference corpus
    * (SURVEY.md §2.4 notes GROUPING SETS/CUBE/ROLLUP appear nowhere in it),
    * included because any BI tool pointed at this engine will emit them.
    * Subtotal rows carry NULL group keys identically on both engines.
    */
  val q36Rollup: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("sum_qty_c"))
  }

  val q36Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** GROUPING SETS with GROUPING_ID — the general multi-granularity
    * aggregate (ROLLUP/CUBE are special cases; q36 covers ROLLUP). The set
    * list ((rf, ls), (ls), ()) is deliberately NOT a rollup of either
    * column order, exercising the arbitrary-sets path; grouping_id's bit
    * vector (first listed column = MSB, 1 = aggregated-away) matches
    * GROUPING(rf, ls) on the oracle side. One Expand + one hash aggregate:
    * the multi-granularity answer costs one shuffle, not one scan per set.
    */
  val q77GroupingSets: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("sum_qty_c"))
  }

  val q77Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin

  /** Distribution window functions: PERCENT_RANK and CUME_DIST over the
    * per-returnflag quantity ordering. Both are rational counts ((rank-1)/
    * (n-1), peers/n) — IEEE divisions of exact integers, so bit-portable
    * across engines; ties share a value, so no tie-break ordering is needed
    * for determinism.
    */
  val q78DistributionFuncs: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(cents(col("l_quantity")))
    l.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      cents(col("l_quantity")).as("qty_c"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  val q78Sql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag,
      |  CAST(ROUND(l_quantity*100) AS BIGINT) AS qty_c,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT))""".stripMargin

  /** Ordered-set aggregates: PERCENTILE_DISC quartiles (an actual data
    * value — no arithmetic, portable by construction) and PERCENTILE_CONT
    * median over integer cents (interpolation at 0.5 between int64 values
    * is exact in IEEE doubles on both engines: sum ≤ 2^53 and halving only
    * shifts the exponent).
    */
  val q79Percentiles: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.groupBy(col("l_returnflag"))
      .agg(
        // disc picks an actual (integer-cents) value but Spark evaluates the
        // percentile family in doubles — cast back; exact, the value is an
        // int64-representable member of the input
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT))").cast("long").as("q1_c"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT))").as("median_c"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT))").cast("long").as("q3_c"))
  }

  val q79Sql: String =
    """SELECT l_returnflag,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT)) AS q1_c,
      |  percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT)) AS median_c,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY CAST(ROUND(l_quantity*100) AS BIGINT)) AS q3_c
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Range (interval) join without an equality key — shipments in transit
    * during each urgent order's fulfillment window. The window is a
    * deterministic derivation of the order row ([o_orderdate,
    * +((o_orderkey%3)+1) days]); the join keys on NOTHING but time overlap,
    * the case Spark would otherwise plan as a broadcast-nested-loop.
    * [[RangeJoin.pointInInterval]] turns it into a bucket equi-join on
    * one-day bins (≤ 5 bins per ≤ 4-day window). Same-order lines are
    * excluded — via the subtraction described below, since day-collapse
    * erases per-pair identity — and empty windows survive via
    * aggregate-then-left-join with zero defaults.
    */
  val q81RangeJoin: Q = (s, dir) => {
    val windows = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate").as("win_start"),
        expr("o_orderdate + make_interval(0,0,0,(o_orderkey % 3)+1,0,0,0)")
          .as("win_end"))
    val ships = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"), cents(col("l_quantity")).as("qty_c"))
    // Density collapse before the bin join: its cost is points-per-bucket ×
    // intervals-per-bucket, and ship events are day-granular, so they
    // collapse ~|lineitem|/|days|-fold onto their day first (a 240× candidate
    // reduction at sf0.1). The per-pair same-order exclusion that collapse
    // erases is restored by SUBTRACTING a plain o_orderkey equi-join
    // correction — the inclusion-exclusion move q89 uses, applied to the
    // range-join plan. Output is identical to the direct pair formulation.
    val dayRollup = ships.groupBy(col("l_shipdate"))
      .agg(count(lit(1)).as("n_day"), sum(col("qty_c")).as("qty_day_c"))
    val matchedAll = RangeJoin.pointInInterval(dayRollup, "l_shipdate",
        windows, "win_start", "win_end", binDays = 1)
      .groupBy(col("o_orderkey"))
      .agg(sum(col("n_day")).as("n_all"), sum(col("qty_day_c")).as("qty_all_c"))
    val sameOrder = windows
      .join(ships, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("win_start") &&
        col("l_shipdate") <= col("win_end"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_same"), sum(col("qty_c")).as("qty_same_c"))
    windows.join(matchedAll, Seq("o_orderkey"), "left")
      .join(sameOrder, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("win_start"), col("win_end"),
        (coalesce(col("n_all"), lit(0L)) -
          coalesce(col("n_same"), lit(0L))).as("n_in_transit"),
        (coalesce(col("qty_all_c"), lit(0L)) -
          coalesce(col("qty_same_c"), lit(0L))).as("transit_qty_c"))
  }

  val q81Sql: String =
    """WITH w AS (
      |  SELECT o_orderkey, o_orderdate AS win_start,
      |    o_orderdate + INTERVAL 1 DAY * ((o_orderkey % 3) + 1) AS win_end
      |  FROM orders WHERE o_orderpriority = '1-URGENT')
      |SELECT w.o_orderkey, w.win_start, w.win_end,
      |  COUNT(l.l_orderkey) AS n_in_transit,
      |  COALESCE(CAST(SUM(CAST(ROUND(l.l_quantity*100) AS BIGINT)) AS BIGINT), 0) AS transit_qty_c
      |FROM w LEFT JOIN lineitem l
      |  ON l.l_shipdate >= w.win_start AND l.l_shipdate <= w.win_end
      | AND l.l_orderkey <> w.o_orderkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** q81's range AGGREGATE restated as prefix-sum arithmetic
    * ([[RangeJoin.rangeAggregate]]): per-window count/sum = prefix(end) −
    * prefix(start−1) over a dense daily spine, minus an equi-join correction
    * for the excluded same-order lines. Identical output to q81 (same
    * oracle SQL) from an O(points + windows) plan — no bucket join at all,
    * where q81 runs the day-collapsed bucket join (its candidate volume
    * grows with window length × DAY density, flat in point count). The
    * trio: raw [[RangeJoin.pointInInterval]] when you need the matched
    * pairs themselves (q97's shape), q81 when you aggregate over
    * collapsible points, q89 when you need only prefix-summable aggregates.
    */
  val q89RangeAggPrefix: Q = (s, dir) => {
    val windows = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate").as("win_start"),
        expr("o_orderdate + make_interval(0,0,0,(o_orderkey % 3)+1,0,0,0)")
          .as("win_end"))
    val ships = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"), cents(col("l_quantity")).as("qty_c"))
    val gross = RangeJoin.rangeAggregate(ships, "l_shipdate", "qty_c",
      windows, "win_start", "win_end")
    // same-order lines inside the window: a plain equi-join on the order key
    val own = windows.join(ships, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("win_start") &&
        col("l_shipdate") <= col("win_end"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("own_n"), sum(col("qty_c")).as("own_qty"))
    gross.join(own, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("win_start"), col("win_end"),
        (col("n_points") - coalesce(col("own_n"), lit(0L))).as("n_in_transit"),
        (col("sum_qty_c") - coalesce(col("own_qty"), lit(0L))).as("transit_qty_c"))
  }

  /** Interval-OVERLAP join ([[RangeJoin.intervalOverlap]]): urgent-order
    * fulfillment windows vs high-priority windows, matched on nothing but
    * time intersection — the interval×interval generalization of q81's
    * point-in-interval probe. The bucket equi-join emits each overlapping
    * pair exactly once (first-shared-bucket rule, no dedup shuffle); the
    * aggregate reports per urgent window how many high windows it collides
    * with and the summed overlap length in whole days — exact integer date
    * arithmetic. Zero-overlap windows survive via the left re-join.
    */
  val q97IntervalOverlap: Q = (s, dir) => {
    def windows(prio: String, prefix: String) = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === prio)
      .select(col("o_orderkey").as(s"${prefix}key"),
        col("o_orderdate").as(s"${prefix}start"),
        expr(s"o_orderdate + make_interval(0,0,0,(o_orderkey % 3)+1,0,0,0)")
          .as(s"${prefix}end"))
    val urgent = windows("1-URGENT", "u_")
    val high = windows("2-HIGH", "h_")
    val matched = RangeJoin.intervalOverlap(
        urgent, "u_start", "u_end", high, "h_start", "h_end", binDays = 4)
      .groupBy(col("u_key"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(org.apache.spark.sql.functions.datediff(to_date(least(col("u_end"), col("h_end"))),
          to_date(greatest(col("u_start"), col("h_start")))) + 1)
          .as("overlap_days"))
    urgent.join(matched, Seq("u_key"), "left")
      .select(col("u_key").as("o_orderkey"), col("u_start").as("win_start"),
        col("u_end").as("win_end"),
        coalesce(col("n_overlaps"), lit(0L)).as("n_overlaps"),
        coalesce(col("overlap_days"), lit(0L)).as("overlap_days"))
  }

  val q97Sql: String =
    """WITH u AS (
      |  SELECT o_orderkey, o_orderdate AS win_start,
      |    o_orderdate + INTERVAL 1 DAY * ((o_orderkey % 3) + 1) AS win_end
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |h AS (
      |  SELECT o_orderkey, o_orderdate AS win_start,
      |    o_orderdate + INTERVAL 1 DAY * ((o_orderkey % 3) + 1) AS win_end
      |  FROM orders WHERE o_orderpriority = '2-HIGH')
      |SELECT u.o_orderkey, u.win_start, u.win_end,
      |  COUNT(h.o_orderkey) AS n_overlaps,
      |  -- DuckDB GREATEST/LEAST skip NULLs, so the unmatched left rows must
      |  -- be excluded explicitly or they'd contribute their own window length
      |  COALESCE(CAST(SUM(CASE WHEN h.o_orderkey IS NOT NULL THEN
      |    DATE_DIFF('day',
      |      CAST(GREATEST(u.win_start, h.win_start) AS DATE),
      |      CAST(LEAST(u.win_end, h.win_end) AS DATE)) + 1 END) AS BIGINT), 0)
      |    AS overlap_days
      |FROM u LEFT JOIN h
      |  ON u.win_start <= h.win_end AND h.win_start <= u.win_end
      |GROUP BY 1, 2, 3""".stripMargin

  /** Native PIVOT — the declarative twin of the reference's SUM(CASE...)
    * widget pivots (TableHealthCount.sql:16-36): status counts spread into
    * columns per priority. Absent combinations are 0 on both engines.
    */
  val q37Pivot: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
  }

  val q37Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** STRING_AGG with deterministic ordering (sorted distinct members), the
    * list-building idiom of dynamic-SQL generators.
    */
  val q38StringAgg: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.groupBy(col("l_returnflag"))
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
        countDistinct(col("l_linestatus")).as("n_statuses"))
  }

  val q38Sql: String =
    """SELECT l_returnflag,
      |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
      |  COUNT(DISTINCT l_linestatus) AS n_statuses
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // -------------------------------------------------------------------------
  // Sorts / limits (§2.6)
  // -------------------------------------------------------------------------

  /** TOP n + ORDER BY (O2): planned as TakeOrderedAndProject — no global sort
    * materialization (reference: samples/sqlops/MonitoringScripts/LatestBackup.sql:2-10).
    * Total order via o_orderkey tiebreak for cross-engine determinism.
    */
  val q30TopK: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        dec2(col("o_totalprice")).as("total"))
  }

  val q30Sql: String =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS total
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // -------------------------------------------------------------------------
  // Set operations (§2.7)
  // -------------------------------------------------------------------------

  /** UNION ALL (U1) (reference: samples/sqlops/MonitoringScripts/StorageSize.sql:100,199). */
  val q32UnionAll: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_nationkey").cast("int").as("nationkey"),
        lit("customer").as("src"))
    val p = Tables.supplier(s, dir)
      .select(col("s_nationkey").cast("int").as("nationkey"),
        lit("supplier").as("src"))
    c.unionAll(p)
  }

  val q32Sql: String =
    """SELECT CAST(c_nationkey AS INT) AS nationkey, 'customer' AS src FROM customer
      |UNION ALL
      |SELECT CAST(s_nationkey AS INT) AS nationkey, 'supplier' AS src FROM supplier""".stripMargin

  /** UNION DISTINCT (U2) (whitepaper.md:437-456). */
  val q33UnionDistinct: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(col("c_nationkey").cast("int").as("nationkey"))
    val p = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey"))
    c.union(p).distinct()
  }

  val q33Sql: String =
    """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
      |UNION
      |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier""".stripMargin

  /** INTERSECT (U2) (whitepaper.md:451). Nations that have both a customer
    * with negative balance and a supplier.
    */
  val q34Intersect: Q = (s, dir) => {
    val c = Tables.customer(s, dir).filter(col("c_acctbal") < 0)
      .select(col("c_nationkey").cast("int").as("nationkey"))
    val p = Tables.supplier(s, dir)
      .select(col("s_nationkey").cast("int").as("nationkey"))
    c.intersect(p)
  }

  val q34Sql: String =
    """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_acctbal < 0
      |INTERSECT
      |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier""".stripMargin

  /** EXCEPT (U2) (whitepaper.md:437-456). */
  val q35Except: Q = (s, dir) => {
    val n = Tables.nation(s, dir).select(col("n_nationkey").cast("int").as("nationkey"))
    val c = Tables.customer(s, dir).filter(col("c_acctbal") > 9900)
      .select(col("c_nationkey").cast("int").as("nationkey"))
    n.except(c)
  }

  val q35Sql: String =
    """SELECT CAST(n_nationkey AS INT) AS nationkey FROM nation
      |EXCEPT
      |SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer WHERE c_acctbal > 9900""".stripMargin

  // -------------------------------------------------------------------------

  // -------------------------------------- q123: skyline (Pareto frontier)

  /** Skyline (Pareto frontier) of the part catalog under (price ↓, size ↑):
    * a part survives iff no other part is at-most-as-expensive AND
    * at-least-as-large with one strict — the multi-objective "best
    * tradeoffs" operator (Börzsönyi et al., ICDE 2001) that T-SQL writes as
    * a quadratic NOT EXISTS self-join (exactly what the oracle runs).
    *
    * The 2-D skyline needs no pairwise comparison at all: sort by price and
    * a part is dominated iff a strictly-cheaper part reaches its size, or an
    * equal-priced part exceeds it. The scalable shape avoids a global
    * row-level sort window:
    *
    *  1. collapse to one row per DISTINCT price (map-combining shuffle;
    *     the collapsed frame is price-domain-sized — cents in a bounded
    *     catalog range — independent of row count, the same bounded-spine
    *     argument as [[RangeJoin.rangeAggregate]]),
    *  2. running max of size over strictly-cheaper prices on that collapsed
    *     frame (single-partition window over a bounded-domain frame),
    *  3. broadcast the per-price thresholds back and filter: survive iff
    *     size > best-at-cheaper AND size = best-at-same-price.
    *
    * Ties survive together (neither strictly dominates), matching the NOT
    * EXISTS semantics row-for-row.
    */
  val q123Skyline: Q = (s, dir) => {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), cents(col("p_retailprice")).as("price_c"),
        col("p_size"))
    val perPrice = p.groupBy(col("price_c"))
      .agg(max(col("p_size")).as("best_sz"))
    // prefix max over the price grain via the two-level bucket device —
    // distinct prices grow with the catalog, so no global-window funnel
    val thresholds =
      Prefix.runningMax(perPrice, "price_c", Nil, "best_sz", "best_cheaper")
    p.join(broadcast(thresholds), Seq("price_c"))
      .filter(col("p_size") === col("best_sz") &&
        (col("best_cheaper").isNull || col("p_size") > col("best_cheaper")))
      .select(col("p_partkey"), col("price_c"), col("p_size"))
  }

  val q123Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_c,
      |    p_size
      |  FROM part)
      |SELECT p_partkey, price_c, p_size FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
      |    AND (b.price_c < a.price_c OR b.p_size > a.p_size))""".stripMargin

  // ------------------------------------------- q152: proportional allocation

  /** q152: exact proportional allocation with largest-remainder rounding —
    * spread each order's header total (integer cents) across its line items
    * proportionally to extended price, such that the allocated cents SUM
    * EXACTLY to the header total per order (the invoice/GL allocation every
    * warehouse finance pipeline runs; the reference's orders carry the same
    * header-total-vs-line-detail split, reference:
    * samples/databases/wide-world-importers/tables/fact.order.sql).
    *
    * Pure integer arithmetic: base share = ⌊T·w/W⌋, then the per-order
    * deficit r = T − Σ⌊·⌋ goes to the r lines with the largest remainder
    * (T·w mod W), line number as the deterministic tie-break — the
    * largest-remainder (Hamilton) method. T·w is bounded PER ORDER
    * (≤ ~5e14 for TPC-H money domains), so int64 never overflows at any
    * corpus scale — the bound is per-group, not corpus-wide.
    *
    * Scale shape: one shuffle join lineitem⋈orders on the order key, then
    * per-order windows over ≤ 7 rows each; the date filter prunes the scan
    * before the join (PushedFilters on both sides at the parquet scan).
    */
  val q152Allocation: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice")).as("w_c"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-02-01"))
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("t_c"))
    val ord = Window.partitionBy(col("l_orderkey"))
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("w_ord", sum(col("w_c")).over(ord))
      .withColumn("tw", col("t_c") * col("w_c"))
      .withColumn("base_c", expr("tw div w_ord"))
      .withColumn("rem", col("tw") % col("w_ord"))
    j.withColumn("deficit", col("t_c") - sum(col("base_c")).over(ord))
      .withColumn("rk", row_number().over(
        ord.orderBy(col("rem").desc, col("l_linenumber"))))
      .select(col("l_orderkey"), col("l_linenumber"), col("w_c"),
        (col("base_c") +
          when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("alloc_c"))
  }

  val q152Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS w_c
      |  FROM lineitem),
      |o AS (
      |  SELECT o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS t_c
      |  FROM orders
      |  WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1995-02-01'),
      |j AS (
      |  SELECT l_orderkey, l_linenumber, w_c, t_c,
      |    CAST(SUM(w_c) OVER (PARTITION BY l_orderkey) AS BIGINT) AS w_ord,
      |    t_c * w_c AS tw
      |  FROM li JOIN o ON l_orderkey = o_orderkey),
      |b AS (
      |  SELECT *, tw // w_ord AS base_c, tw % w_ord AS rem FROM j),
      |d AS (
      |  SELECT *,
      |    t_c - SUM(base_c) OVER (PARTITION BY l_orderkey) AS deficit,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |      ORDER BY rem DESC, l_linenumber) AS rk
      |  FROM b)
      |SELECT l_orderkey, l_linenumber, w_c,
      |  base_c + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS alloc_c
      |FROM d""".stripMargin

  // ------------------------------------------- q155: clamped running balance

  /** q155: non-negative running inventory balance per part — the stock
    * ledger recurrence x_t = max(0, x_{t-1} + δ_t) (shipments draw down,
    * returns restock, stock never goes negative), which looks inherently
    * serial but has the exact closed form
    *   x_t = S_t − min(0, min_{τ≤t} S_τ)
    * over the raw prefix sums S: TWO stacked window passes (running sum,
    * then running min of it) turn the sequential recurrence into a fully
    * parallel plan — no recursion, no iteration, one shuffle on the part
    * key. All arithmetic is integer quantity-cents; the per-part rollup
    * reports the ending and peak clamped balance next to the raw net.
    * The same trick generalizes to any max(0, ·)-clamped accumulator
    * (credit limits, token buckets, drawdown accounting).
    */
  val q155ClampedBalance: Q = (s, dir) => {
    val byTime = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val run = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val l = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"),
        when(col("l_returnflag") === "R", cents(col("l_quantity")))
          .otherwise(-cents(col("l_quantity"))).as("delta_q"))
      .withColumn("s_run", sum(col("delta_q")).over(run))
    val x = l.withColumn("m_run", min(col("s_run")).over(run))
      .withColumn("bal_q",
        col("s_run") - least(lit(0L), col("m_run")))
      .withColumn("rn_last", row_number().over(
        Window.partitionBy(col("l_partkey")).orderBy(
          col("l_shipdate").desc, col("l_orderkey").desc,
          col("l_linenumber").desc)))
    x.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_moves"),
        sum(when(col("rn_last") === 1, col("bal_q"))).as("end_balance_q"),
        max(col("bal_q")).as("peak_balance_q"),
        sum(col("delta_q")).as("raw_net_q"))
  }

  val q155Sql: String =
    """WITH moves AS (
      |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
      |    CASE WHEN l_returnflag = 'R'
      |      THEN CAST(ROUND(l_quantity*100) AS BIGINT)
      |      ELSE -CAST(ROUND(l_quantity*100) AS BIGINT) END AS delta_q
      |  FROM lineitem),
      |s AS (
      |  SELECT *, CAST(SUM(delta_q) OVER w AS BIGINT) AS s_run
      |  FROM moves
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS UNBOUNDED PRECEDING)),
      |x AS (
      |  SELECT *, s_run - LEAST(0, MIN(s_run) OVER w) AS bal_q,
      |    ROW_NUMBER() OVER (PARTITION BY l_partkey
      |      ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC)
      |      AS rn_last
      |  FROM s
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT l_partkey, COUNT(*) AS n_moves,
      |  CAST(SUM(CASE WHEN rn_last = 1 THEN bal_q END) AS BIGINT)
      |    AS end_balance_q,
      |  MAX(bal_q) AS peak_balance_q,
      |  CAST(SUM(delta_q) AS BIGINT) AS raw_net_q
      |FROM x GROUP BY l_partkey""".stripMargin

  // ------------------------------------------- q159: weighted median

  /** q159: weighted median — the quantity-weighted median unit price per
    * return flag (each lineitem's price counts with its quantity's weight:
    * the "typical traded price", robust where the unweighted median is
    * distorted by many small lots). Exact integer sweep: pre-aggregate
    * weight per distinct price (map-side combined — the window then runs
    * over DISTINCT prices, not rows), running weight over the price order,
    * and the weighted median is the smallest price whose doubled
    * cumulative weight reaches the total — 2·cumw ≥ W in pure int64, no
    * fractional comparison anywhere.
    */
  val q159WeightedMedian: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("v_c"),
        cents(col("l_quantity")).as("w"))
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val g = l.groupBy(col("l_returnflag"), col("v_c"))
      .agg(sum(col("w")).as("wv"))
      .withColumn("cumw", sum(col("wv")).over(
        byFlag.orderBy(col("v_c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("w_total", sum(col("wv")).over(byFlag))
    g.filter(col("cumw") * 2 >= col("w_total"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("v_c")).as("wmedian_c"), max(col("w_total")).as("w_total"))
  }

  val q159Sql: String =
    """WITH g AS (
      |  SELECT l_returnflag, CAST(ROUND(l_extendedprice*100) AS BIGINT) AS v_c,
      |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS wv
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, v_c,
      |    CAST(SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v_c
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
      |    CAST(SUM(wv) OVER (PARTITION BY l_returnflag) AS BIGINT) AS w_total
      |  FROM g)
      |SELECT l_returnflag, MIN(v_c) AS wmedian_c, MAX(w_total) AS w_total
      |FROM c WHERE cumw * 2 >= w_total
      |GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------- q160: Gini concentration

  /** q160: Gini coefficient of customer revenue per nation — the
    * concentration summary next to q112's ABC classes: how unequal is the
    * revenue distribution across a nation's customers? Uses the rank
    * formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over revenue sorted
    * ascending: revenue is an exact integer-cents rollup, ranks come from
    * one window pass (custkey as the deterministic tie-break — swapping
    * equal values leaves Σi·x unchanged, so ties are benign), the two
    * moments accumulate in DECIMAL(38,0)/HUGEINT, and the coefficient is
    * ONE fixed IEEE expression over them. Customers with no orders are out
    * of scope (revenue rollup is an inner join); the window runs per
    * nation over customer-level rollups — thousands of rows per nation,
    * not fact rows.
    */
  val q160Gini: Q = (s, dir) => {
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
    val byNation = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("rev_c"), col("c_custkey"))
    val ranked = rev.withColumn("i", row_number().over(byNation))
    val g = ranked.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("rev_c").cast(dec)).as("s0"),
        sum(col("i").cast(dec) * col("rev_c").cast(dec)).as("s1"))
    g.select(col("c_nationkey"), col("n").cast("long").as("n_customers"),
      col("s0").cast("long").as("revenue_c"),
      ((lit(2.0) * d(col("s1")) - d(col("n") + lit(1)) * d(col("s0"))) /
        (d(col("n")) * d(col("s0")))).as("gini"))
  }

  val q160Sql: String =
    """WITH rev AS (
      |  SELECT c_nationkey, c_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |    ORDER BY rev_c, c_custkey) AS i
      |  FROM rev),
      |m AS (
      |  SELECT c_nationkey, COUNT(*) AS n,
      |    SUM(CAST(rev_c AS HUGEINT)) AS s0,
      |    SUM(CAST(i AS HUGEINT) * CAST(rev_c AS HUGEINT)) AS s1
      |  FROM ranked GROUP BY 1)
      |SELECT c_nationkey, CAST(n AS BIGINT) AS n_customers,
      |  CAST(s0 AS BIGINT) AS revenue_c,
      |  (2.0 * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) -
      |    CAST(CAST(n + 1 AS VARCHAR) AS DOUBLE) *
      |    CAST(CAST(s0 AS VARCHAR) AS DOUBLE)) /
      |  (CAST(CAST(n AS VARCHAR) AS DOUBLE) *
      |    CAST(CAST(s0 AS VARCHAR) AS DOUBLE)) AS gini
      |FROM m""".stripMargin

  // ------------------------------------------- q163: percent-of-parent

  /** q163: percent-of-parent hierarchical shares — revenue by region →
    * nation → share of nation within its region and of the region within
    * the whole, the drill-down decomposition every BI hierarchy renders.
    * ONE fact aggregation at the leaf grain (nation), then parent and
    * grand totals are windows over the 25-row rollup — the fact table is
    * never re-scanned per level (the multi-pass shape the reference's
    * report stacks simulate with nested views). Shares are single IEEE
    * divisions of exact integer cents; dimensions broadcast.
    */
  val q163PercentOfParent: Q = (s, dir) => {
    val rev = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
    val byRegion = Window.partitionBy(col("r_name"))
    val all = Window.partitionBy()
    rev.withColumn("region_c", sum(col("rev_c")).over(byRegion))
      .withColumn("grand_c", sum(col("rev_c")).over(all))
      .select(col("r_name"), col("n_name"), col("rev_c"),
        (col("rev_c").cast("double") / col("region_c").cast("double"))
          .as("share_of_region"),
        (col("region_c").cast("double") / col("grand_c").cast("double"))
          .as("region_share_of_total"))
  }

  val q163Sql: String =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name),
      |t AS (
      |  SELECT *,
      |    CAST(SUM(rev_c) OVER (PARTITION BY r_name) AS BIGINT) AS region_c,
      |    CAST(SUM(rev_c) OVER () AS BIGINT) AS grand_c
      |  FROM rev)
      |SELECT r_name, n_name, rev_c,
      |  CAST(rev_c AS DOUBLE) / CAST(region_c AS DOUBLE) AS share_of_region,
      |  CAST(region_c AS DOUBLE) / CAST(grand_c AS DOUBLE)
      |    AS region_share_of_total
      |FROM t""".stripMargin

  // ------------------------------------------- q170: shipping SLA latency

  /** q170: order-to-ship latency SLA report per order priority — the
    * fulfillment dashboard staple: per priority band, line count, exact
    * median/p90 latency in days (percentile_disc picks actual members of
    * the integer day-latency set, so both engines select the identical
    * element — no interpolated float percentiles), worst case, and the
    * fraction shipped within the 90-day SLA as integer e6. Latencies are
    * pure epoch-day subtractions; the one shuffle is the co-partitioned
    * lineitem↔orders key join, and the rollup is |priorities|-sized.
    */
  val q170SlaLatency: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      expr("unix_timestamp(l_shipdate) DIV 86400").as("ship_day"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderpriority"),
      expr("unix_timestamp(o_orderdate) DIV 86400").as("order_day"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        (col("ship_day") - col("order_day")).as("latency_d"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_d)")
          .cast("long").as("median_d"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_d)")
          .cast("long").as("p90_d"),
        max(col("latency_d")).as("max_d"),
        sum(when(col("latency_d") <= 90L, 1L).otherwise(0L))
          .as("n_within_sla"))
      .withColumn("sla_rate_e6",
        expr("""CAST(CAST(n_within_sla AS DECIMAL(38,0)) * 1000000
                | div n_lines AS BIGINT)""".stripMargin))
  }

  val q170Sql: String =
    """WITH j AS (
      |  SELECT o_orderpriority,
      |    CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400 -
      |    CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS latency_d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_d)
      |    AS BIGINT) AS median_d,
      |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_d)
      |    AS BIGINT) AS p90_d,
      |  MAX(latency_d) AS max_d,
      |  CAST(SUM(CASE WHEN latency_d <= 90 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_within_sla,
      |  CAST((CAST(SUM(CASE WHEN latency_d <= 90 THEN 1 ELSE 0 END)
      |    AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT) AS sla_rate_e6
      |FROM j GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------- q171: open-order backlog

  /** q171: open-order backlog over time by event differencing — how many
    * orders are open (placed but not fully shipped) at the end of each
    * day. Each order contributes +1 on its order day and −1 the day after
    * its LAST line ships; the running sum of those deltas over the day
    * axis IS the backlog. This is the scalable formulation: the naive
    * day×order interval join materializes |days|·|open orders| rows, the
    * delta stream is exactly 2 rows per order collapsing into a
    * |days|-sized rollup, and the running sum runs over that tiny series.
    * Both deltas emit from ONE joined pass via an inline explode — no
    * union re-scan. Output: every day the backlog changes, its net change
    * and end-of-day level.
    */
  val q171Backlog: Q = (s, dir) => {
    val close = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(expr("unix_timestamp(l_shipdate) DIV 86400")).as("close_day"))
    val bounds = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("unix_timestamp(o_orderdate) DIV 86400").as("order_day"))
      .join(close, col("o_orderkey") === col("l_orderkey"))
    // an order is open at least on its order day: the synthetic data has
    // lines shipping before the order date, which would otherwise emit the
    // -1 before the +1 and undercount every day in between
    val deltas = bounds
      .withColumn("eff_close", greatest(col("close_day"), col("order_day")))
      .select(explode(array(
        struct(col("order_day").as("day"), lit(1L).as("delta")),
        struct((col("eff_close") + 1L).as("day"), lit(-1L).as("delta"))))
        .as("e"))
      .select(col("e.day").as("day"), col("e.delta").as("delta"))
      .groupBy(col("day")).agg(sum(col("delta")).as("net_change"))
    // running balance via the two-level day-bucket device: the day spine
    // is calendar-bounded but grows with retention horizon, and the gate
    // treats every >1k-row single-task window as a funnel
    Prefix.runningSum(deltas, "day", Nil, "net_change", "open_orders",
      includeCurrent = true)
  }

  val q171Sql: String =
    """WITH close AS (
      |  SELECT l_orderkey,
      |    MAX(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400)
      |      AS close_day
      |  FROM lineitem GROUP BY l_orderkey),
      |bounds AS (
      |  SELECT CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400
      |      AS order_day,
      |    close_day
      |  FROM orders JOIN close ON o_orderkey = l_orderkey),
      |b2 AS (
      |  SELECT order_day, GREATEST(close_day, order_day) AS eff_close
      |  FROM bounds),
      |deltas AS (
      |  SELECT day, CAST(SUM(delta) AS BIGINT) AS net_change FROM (
      |    SELECT order_day AS day, 1 AS delta FROM b2
      |    UNION ALL
      |    SELECT eff_close + 1, -1 FROM b2)
      |  GROUP BY day)
      |SELECT day, net_change,
      |  CAST(SUM(net_change) OVER (ORDER BY day) AS BIGINT) AS open_orders
      |FROM deltas""".stripMargin

  // ------------------------------------------- q172: supplier HHI

  /** q172: supplier concentration per part as the Herfindahl–Hirschman
    * index — Σ share² of each supplier's revenue in the part, the
    * antitrust/procurement-risk measure that q160's Gini complements
    * (Gini ranks inequality, HHI flags single-source dependency; a part
    * with HHI near 1e6 has one effective supplier). Exact: HHI_e6 =
    * (Σ rᵢ² × 1e6) DIV R² with every product in DECIMAL(38,0) — squared
    * cent revenues cross int64 at ~$10⁷ per (part, supplier). Two
    * aggregations, both partial+final: (part, supplier) revenue, then the
    * |parts|-sized moment rollup.
    */
  val q172SupplierHhi: Q = (s, dir) => {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("r_c"))
    rev.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r_c").cast(dec)).as("tot"),
        sum((col("r_c").cast(dec) * col("r_c").cast(dec))).as("sum_sq"))
      .select(col("l_partkey"), col("n_suppliers"),
        col("tot").cast("long").as("total_c"),
        expr("""CAST(sum_sq * 1000000 div (tot * tot) AS BIGINT)""")
          .as("hhi_e6"))
  }

  val q172Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS r_c
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |m AS (
      |  SELECT l_partkey, COUNT(*) AS n_suppliers,
      |    SUM(CAST(r_c AS HUGEINT)) AS tot,
      |    SUM(CAST(r_c AS HUGEINT) * r_c) AS sum_sq
      |  FROM rev GROUP BY l_partkey)
      |SELECT l_partkey, n_suppliers, CAST(tot AS BIGINT) AS total_c,
      |  CAST((sum_sq * 1000000) // (tot * tot) AS BIGINT) AS hhi_e6
      |FROM m""".stripMargin

  // ------------------------------------------- q175: price-volume-mix bridge

  /** q175: price-volume-mix revenue bridge between two periods — the FP&A
    * waterfall explaining WHY revenue moved: per part, the month-over-month
    * change splits into a price effect (old volume at the new unit price),
    * a volume effect (old price on the volume change), and the joint/mix
    * residual; effects then roll up by brand. The decomposition CONSERVES
    * exactly — price + volume + joint ≡ Δrevenue per row — because the two
    * rational effects truncate through sign-factored integer division and
    * the joint term is defined as the remainder. Parts active in only one
    * period take the whole change as volume (new/discontinued), skipping
    * the zero-quantity divisions.
    *
    * One lineitem pass: both periods aggregate as conditional sums in the
    * same (part) rollup — no period self-join — then a broadcast part-dim
    * join and a |brands|-sized rollup. Quantity×revenue cross-products run
    * in DECIMAL(38,0).
    */
  val q175PriceVolumeMix: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-05-01").cast("timestamp"))
      .select(col("l_partkey"),
        (col("l_shipdate") < lit("1995-04-01").cast("timestamp")).as("p1"),
        cents(col("l_quantity")).as("q_c"),
        cents(col("l_extendedprice")).as("r_c"))
    val byPart = li.groupBy(col("l_partkey"))
      .agg(sum(when(col("p1"), col("q_c")).otherwise(0L)).as("q1"),
        sum(when(col("p1"), col("r_c")).otherwise(0L)).as("r1"),
        sum(when(!col("p1"), col("q_c")).otherwise(0L)).as("q2"),
        sum(when(!col("p1"), col("r_c")).otherwise(0L)).as("r2"))
    val eff = byPart
      .withColumn("delta_c", col("r2") - col("r1"))
      .withColumn("pn",
        col("q1").cast(dec) * col("r2").cast(dec) -
          col("q2").cast(dec) * col("r1").cast(dec))
      .withColumn("vn", col("r1").cast(dec) * (col("q2") - col("q1")).cast(dec))
      .withColumn("price_eff_c",
        when(col("q1") > 0L && col("q2") > 0L, expr(sdivDivCases("pn", "q2"))).otherwise(0L))
      .withColumn("volume_eff_c",
        when(col("q1") > 0L && col("q2") > 0L, expr(sdivDivCases("vn", "q1")))
          .otherwise(col("delta_c")))
      .withColumn("joint_c",
        col("delta_c") - col("price_eff_c") - col("volume_eff_c"))
    eff.join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("r1")).as("r1_c"), sum(col("r2")).as("r2_c"),
        sum(col("delta_c")).as("delta_c"),
        sum(col("price_eff_c")).as("price_eff_c"),
        sum(col("volume_eff_c")).as("volume_eff_c"),
        sum(col("joint_c")).as("joint_c"))
  }

  val q175Sql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |    l_shipdate < TIMESTAMP '1995-04-01' AS p1,
      |    CAST(ROUND(l_quantity*100) AS BIGINT) AS q_c,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS r_c
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-03-01'
      |    AND l_shipdate < TIMESTAMP '1995-05-01'),
      |by_part AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CASE WHEN p1 THEN q_c ELSE 0 END) AS BIGINT) AS q1,
      |    CAST(SUM(CASE WHEN p1 THEN r_c ELSE 0 END) AS BIGINT) AS r1,
      |    CAST(SUM(CASE WHEN NOT p1 THEN q_c ELSE 0 END) AS BIGINT) AS q2,
      |    CAST(SUM(CASE WHEN NOT p1 THEN r_c ELSE 0 END) AS BIGINT) AS r2
      |  FROM li GROUP BY l_partkey),
      |eff AS (
      |  SELECT *,
      |    r2 - r1 AS delta_c,
      |    CAST(q1 AS HUGEINT) * r2 - CAST(q2 AS HUGEINT) * r1 AS pn,
      |    CAST(r1 AS HUGEINT) * (q2 - q1) AS vn
      |  FROM by_part),
      |eff2 AS (
      |  SELECT *,
      |    CASE WHEN q1 > 0 AND q2 > 0 THEN
      |      CASE WHEN pn < 0 THEN -CAST((-pn) // q2 AS BIGINT)
      |           ELSE CAST(pn // q2 AS BIGINT) END
      |    ELSE 0 END AS price_eff_c,
      |    CASE WHEN q1 > 0 AND q2 > 0 THEN
      |      CASE WHEN vn < 0 THEN -CAST((-vn) // q1 AS BIGINT)
      |           ELSE CAST(vn // q1 AS BIGINT) END
      |    ELSE delta_c END AS volume_eff_c
      |  FROM eff)
      |SELECT p_brand, COUNT(*) AS n_parts,
      |  CAST(SUM(r1) AS BIGINT) AS r1_c, CAST(SUM(r2) AS BIGINT) AS r2_c,
      |  CAST(SUM(delta_c) AS BIGINT) AS delta_c,
      |  CAST(SUM(price_eff_c) AS BIGINT) AS price_eff_c,
      |  CAST(SUM(volume_eff_c) AS BIGINT) AS volume_eff_c,
      |  CAST(SUM(delta_c - price_eff_c - volume_eff_c) AS BIGINT) AS joint_c
      |FROM eff2 JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  // ------------------------------------------- q176: surrogate-key gaps

  /** q176: surrogate-key gap detection over the FACT table's foreign-key
    * sequence — the load-audit that catches silently dropped batches and
    * childless orders: every missing run in the orderkey sequence observed
    * in lineitem (the driver data has 27 such keys per 1500 at sf0.001)
    * reports its bounds and size. NOT a global sorted lag: keys bucket
    * into ≤4097 ranges, in-bucket gaps come from a lag window PARTITIONED
    * by bucket (parallelism = #buckets), and the gaps that straddle bucket
    * boundaries come from the (bkt, min, max) metadata rollup joined to
    * the next non-empty bucket's min — a broadcast non-equi join over ≤4k
    * rows. Bit-identical to the single-sort formulation: every gap lies
    * either inside one bucket or between consecutive non-empty buckets.
    * Output is one row per GAP (rare by construction), not per key.
    */
  val q176KeyGaps: Q = (s, dir) => {
    val keys = Tables.lineitem(s, dir).select(col("l_orderkey")
      .as("o_orderkey")).distinct()
    val scal = keys.agg(min(col("o_orderkey")).as("kmn"),
      max(col("o_orderkey")).as("kmx"))
    val bucketed = keys.crossJoin(broadcast(scal))
      .withColumn("bkt",
        expr("(o_orderkey - kmn) div ((kmx - kmn) div 4096 + 1)"))
      .drop("kmn", "kmx")
    val inW = Window.partitionBy(col("bkt")).orderBy(col("o_orderkey"))
    val inner = bucketed
      .withColumn("prev_key", lag(col("o_orderkey"), 1).over(inW))
      .filter(col("prev_key").isNotNull &&
        col("o_orderkey") - col("prev_key") > 1L)
      .select((col("prev_key") + 1L).as("gap_start"),
        (col("o_orderkey") - 1L).as("gap_end"),
        (col("o_orderkey") - col("prev_key") - 1L).as("n_missing"))
    val bRoll = bucketed.groupBy(col("bkt"))
      .agg(min(col("o_orderkey")).as("bmin"), max(col("o_orderkey")).as("bmax"))
    val nxt = bRoll.select(col("bkt").as("nb"), col("bmin").as("nmin"))
    val border = bRoll.join(broadcast(nxt), col("nb") > col("bkt"))
      .groupBy(col("bkt"), col("bmax"))
      .agg(min_by(col("nmin"), col("nb")).as("next_min"))
      .filter(col("next_min") - col("bmax") > 1L)
      .select((col("bmax") + 1L).as("gap_start"),
        (col("next_min") - 1L).as("gap_end"),
        (col("next_min") - col("bmax") - 1L).as("n_missing"))
    inner.unionAll(border)
  }

  val q176Sql: String =
    """WITH keys AS (SELECT DISTINCT l_orderkey AS o_orderkey FROM lineitem),
      |l AS (
      |  SELECT o_orderkey,
      |    LAG(o_orderkey) OVER (ORDER BY o_orderkey) AS prev_key
      |  FROM keys)
      |SELECT prev_key + 1 AS gap_start, o_orderkey - 1 AS gap_end,
      |  o_orderkey - prev_key - 1 AS n_missing
      |FROM l WHERE prev_key IS NOT NULL AND o_orderkey - prev_key > 1""".stripMargin

  // ------------------------------------------- q178: split-shipment spans

  /** q178: split-shipment analysis — per order, the span in days between
    * its first and last line shipment, rolled up per priority: how often
    * does an order ship as one consignment (span 0), and how long do the
    * stragglers drag? Two partial+final aggregations (order grain, then
    * |priorities|); the span percentile is percentile_disc over integer
    * days — an actual member, bit-portable.
    */
  val q178ShipSpans: Q = (s, dir) => {
    val spans = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg((max(expr("unix_timestamp(l_shipdate) DIV 86400")) -
        min(expr("unix_timestamp(l_shipdate) DIV 86400"))).as("span_d"),
        count(lit(1)).as("n_lines"))
    spans.join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("span_d") === 0L, 1L).otherwise(0L)).as("n_single"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY span_d)")
          .cast("long").as("p90_span_d"),
        max(col("span_d")).as("max_span_d"))
      .withColumn("single_rate_e6",
        expr("""CAST(CAST(n_single AS DECIMAL(38,0)) * 1000000
                | div n_orders AS BIGINT)""".stripMargin))
  }

  val q178Sql: String =
    """WITH spans AS (
      |  SELECT l_orderkey,
      |    MAX(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400) -
      |    MIN(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400) AS span_d
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN span_d = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_single,
      |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY span_d) AS BIGINT)
      |    AS p90_span_d,
      |  MAX(span_d) AS max_span_d,
      |  CAST((CAST(SUM(CASE WHEN span_d = 0 THEN 1 ELSE 0 END) AS HUGEINT)
      |    * 1000000) // COUNT(*) AS BIGINT) AS single_rate_e6
      |FROM spans JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------- q179: dispersion index

  /** q179: order-arrival burstiness per market segment — the index of
    * dispersion (variance-to-mean ratio) of per-customer order counts:
    * ≈1e6 means Poisson-like arrivals, above means bursty/clumped, below
    * means regular — the statistical backbone of capacity planning.
    * Computed exactly: D = (n·Σx² − (Σx)²) / (n·Σx) as one e6 truncating
    * division of DECIMAL(38,0) moments. Only customers with ≥1 order are
    * observed (the orders table defines the population; the zero-order
    * tail would need the customer dimension and is a different question).
    */
  val q179DispersionIndex: Q = (s, dir) => {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("x"))
    perCust.join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .select(col("c_mktsegment"), col("n_customers"), col("sx"),
        expr(s"""CAST((CAST(n_customers AS $dec) * sxx
                 |  - CAST(sx AS $dec) * CAST(sx AS $dec)) * 1000000
                 |  div (CAST(n_customers AS $dec) * CAST(sx AS $dec))
                 |  AS BIGINT)""".stripMargin).as("dispersion_e6"))
  }

  val q179Sql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, COUNT(*) AS x FROM orders GROUP BY o_custkey),
      |j AS (
      |  SELECT c_mktsegment, x
      |  FROM per_cust JOIN customer ON o_custkey = c_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n_customers,
      |  CAST(SUM(x) AS BIGINT) AS sx,
      |  CAST(((COUNT(*) * SUM(CAST(x AS HUGEINT) * x)
      |    - CAST(SUM(x) AS HUGEINT) * SUM(x)) * 1000000)
      |    // (COUNT(*) * CAST(SUM(x) AS HUGEINT)) AS BIGINT)
      |    AS dispersion_e6
      |FROM j GROUP BY c_mktsegment""".stripMargin

  // ------------------------------------------- q180: OTIF by order month

  /** q180: on-time-in-full — per order month, the fraction of orders whose
    * EVERY line shipped within the 90-day SLA (q170 grades lines; OTIF
    * grades whole orders, the customer-promise KPI). The per-order verdict
    * is a max-latency comparison (in-full-on-time ⇔ the slowest line made
    * it), so the order grain needs only the worst line, not the line list.
    * Month keys are date_format/strftime numeric strings — locale-free in
    * both engines.
    */
  val q180Otif: Q = (s, dir) => {
    val worst = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(expr("unix_timestamp(l_shipdate) DIV 86400")).as("worst_day"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        expr("unix_timestamp(o_orderdate) DIV 86400").as("order_day"))
      .join(worst, col("o_orderkey") === col("l_orderkey"))
      .withColumn("otif",
        when(col("worst_day") - col("order_day") <= 90L, 1L).otherwise(0L))
      .groupBy(col("order_month"))
      .agg(count(lit(1)).as("n_orders"), sum(col("otif")).as("n_otif"))
      .withColumn("otif_rate_e6",
        expr("""CAST(CAST(n_otif AS DECIMAL(38,0)) * 1000000
                | div n_orders AS BIGINT)""".stripMargin))
  }

  val q180Sql: String =
    """WITH worst AS (
      |  SELECT l_orderkey,
      |    MAX(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400)
      |      AS worst_day
      |  FROM lineitem GROUP BY l_orderkey),
      |graded AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |    CASE WHEN worst_day -
      |        CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 <= 90
      |      THEN 1 ELSE 0 END AS otif
      |  FROM orders JOIN worst ON o_orderkey = l_orderkey)
      |SELECT order_month, COUNT(*) AS n_orders,
      |  CAST(SUM(otif) AS BIGINT) AS n_otif,
      |  CAST((CAST(SUM(otif) AS HUGEINT) * 1000000) // COUNT(*) AS BIGINT)
      |    AS otif_rate_e6
      |FROM graded GROUP BY order_month""".stripMargin

  // ------------------------------------------- q181: k-anonymity audit

  /** q181: k-anonymity / l-diversity audit — before publishing a customer
    * extract, how identifiable are its rows? Quasi-identifier = (nation,
    * $1000 account-balance band); sensitive attribute = market segment.
    * The report is one row: group count, minimum group size (the k in
    * k-anonymity), minimum sensitive-value diversity (the l), how many
    * ROWS sit in groups smaller than 5 (re-identification candidates) and
    * how many GROUPS expose a single segment value (attribute-disclosure
    * candidates), each as an exact e6 rate.
    *
    * The balance band offsets by +100000 cents before the truncating
    * division so the operand is never negative (negative operands are
    * where Spark's div and DuckDB's // part ways — q167 note); band 0 is
    * the overdrawn cohort. Two aggregations, both partial+final; the QI
    * rollup is the only corpus-scale shuffle.
    */
  val q181KAnonymity: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        expr("(CAST(ROUND(c_acctbal*100) AS BIGINT) + 100000) div 100000")
          .as("bal_band"),
        col("c_mktsegment"))
    val groups = c.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("c_mktsegment")).as("l"))
    groups.agg(
        count(lit(1)).as("n_groups"),
        sum(col("k")).as("n_rows"),
        min(col("k")).as("k_min"),
        min(col("l")).as("l_min"),
        sum(when(col("k") < 5L, col("k")).otherwise(0L)).as("rows_below_k5"),
        sum(when(col("l") < 2L, 1L).otherwise(0L)).as("groups_below_l2"))
      .select(col("n_groups"), col("n_rows"), col("k_min"), col("l_min"),
        col("rows_below_k5"), col("groups_below_l2"),
        expr("""CAST(CAST(rows_below_k5 AS DECIMAL(38,0)) * 1000000
                | div n_rows AS BIGINT)""".stripMargin)
          .as("risky_row_rate_e6"),
        expr("""CAST(CAST(groups_below_l2 AS DECIMAL(38,0)) * 1000000
                | div n_groups AS BIGINT)""".stripMargin)
          .as("exposed_group_rate_e6"))
  }

  val q181Sql: String =
    """WITH qi AS (
      |  SELECT c_nationkey,
      |    (CAST(ROUND(c_acctbal*100) AS BIGINT) + 100000) // 100000
      |      AS bal_band,
      |    c_mktsegment
      |  FROM customer),
      |groups AS (
      |  SELECT c_nationkey, bal_band, COUNT(*) AS k,
      |    COUNT(DISTINCT c_mktsegment) AS l
      |  FROM qi GROUP BY c_nationkey, bal_band),
      |agg AS (
      |  SELECT COUNT(*) AS n_groups, CAST(SUM(k) AS BIGINT) AS n_rows,
      |    MIN(k) AS k_min, MIN(l) AS l_min,
      |    CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
      |      AS rows_below_k5,
      |    CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS groups_below_l2
      |  FROM groups)
      |SELECT n_groups, n_rows, k_min, l_min, rows_below_k5, groups_below_l2,
      |  CAST((CAST(rows_below_k5 AS HUGEINT) * 1000000) // n_rows AS BIGINT)
      |    AS risky_row_rate_e6,
      |  CAST((CAST(groups_below_l2 AS HUGEINT) * 1000000) // n_groups
      |    AS BIGINT) AS exposed_group_rate_e6
      |FROM agg""".stripMargin

  // ------------------------------------------- q154: two-feature OLS

  /** q154: multiple linear regression (two regressors) per group — extended
    * price regressed on quantity and discount per return flag, solved in
    * closed form from the 2×2 normal equations (Cramer's rule). Extends
    * q117's single-regressor scheme: all nine moments are EXACT integer
    * sums over cents accumulated in DECIMAL(38,0)/HUGEINT, the centered
    * co-moments (n·Σxy − Σx·Σy) stay exact in decimal, and only the final
    * Cramer expressions run in IEEE double — each a fixed expression over
    * exactly-agreed inputs, so both engines produce bit-identical
    * coefficients. ONE aggregation pass; the shuffle carries nine sums per
    * group (the same partial/final shape as any MPP aggregate).
    */
  val q154Ols2: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val x1 = cents(col("l_quantity"))
    val x2 = cents(col("l_discount"))
    val y = cents(col("l_extendedprice"))
    val g = l.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(x1.cast(dec)).as("sx1"), sum(x2.cast(dec)).as("sx2"),
        sum(y.cast(dec)).as("sy"),
        sum((x1 * x1).cast(dec)).as("sx1x1"),
        sum((x2 * x2).cast(dec)).as("sx2x2"),
        sum((x1 * x2).cast(dec)).as("sx1x2"),
        sum((x1 * y).cast(dec)).as("sx1y"),
        sum((x2 * y).cast(dec)).as("sx2y"))
    val m = g.select(col("l_returnflag"), col("n"),
      col("sx1"), col("sx2"), col("sy"),
      (col("n") * col("sx1x1") - col("sx1") * col("sx1")).as("a11"),
      (col("n") * col("sx1x2") - col("sx1") * col("sx2")).as("a12"),
      (col("n") * col("sx2x2") - col("sx2") * col("sx2")).as("a22"),
      (col("n") * col("sx1y") - col("sx1") * col("sy")).as("b1"),
      (col("n") * col("sx2y") - col("sx2") * col("sy")).as("b2"))
    val det = d("a11") * d("a22") - d("a12") * d("a12")
    val beta1 = (d("b1") * d("a22") - d("b2") * d("a12")) / det
    val beta2 = (d("a11") * d("b2") - d("a12") * d("b1")) / det
    m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
      beta1.as("beta_qty"), beta2.as("beta_disc"),
      ((d("sy") - beta1 * d("sx1") - beta2 * d("sx2")) / d("n"))
        .as("beta_intercept"))
  }

  val q154Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS sx1,
      |    SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS sx2,
      |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sy,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) *
      |        CAST(ROUND(l_quantity*100) AS BIGINT)) AS sx1x1,
      |    SUM(CAST(ROUND(l_discount*100) AS BIGINT) *
      |        CAST(ROUND(l_discount*100) AS BIGINT)) AS sx2x2,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) *
      |        CAST(ROUND(l_discount*100) AS BIGINT)) AS sx1x2,
      |    SUM(CAST(ROUND(l_quantity*100) AS BIGINT) *
      |        CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sx1y,
      |    SUM(CAST(ROUND(l_discount*100) AS BIGINT) *
      |        CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS sx2y
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n, sx1, sx2, sy,
      |    n * sx1x1 - sx1 * sx1 AS a11,
      |    n * sx1x2 - sx1 * sx2 AS a12,
      |    n * sx2x2 - sx2 * sx2 AS a22,
      |    n * sx1y - sx1 * sy AS b1,
      |    n * sx2y - sx2 * sy AS b2
      |  FROM s),
      |dd AS (
      |  SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |    CAST(CAST(a11 AS VARCHAR) AS DOUBLE) AS a11,
      |    CAST(CAST(a12 AS VARCHAR) AS DOUBLE) AS a12,
      |    CAST(CAST(a22 AS VARCHAR) AS DOUBLE) AS a22,
      |    CAST(CAST(b1 AS VARCHAR) AS DOUBLE) AS b1,
      |    CAST(CAST(b2 AS VARCHAR) AS DOUBLE) AS b2,
      |    CAST(CAST(sx1 AS VARCHAR) AS DOUBLE) AS sx1,
      |    CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) AS sx2,
      |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(n AS VARCHAR) AS DOUBLE) AS nd
      |  FROM m)
      |SELECT l_returnflag, n_rows,
      |  (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta_qty,
      |  (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS beta_disc,
      |  (sy - ((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)) * sx1
      |      - ((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12)) * sx2) / nd
      |    AS beta_intercept
      |FROM dd""".stripMargin

  // ------------------------------- q285: market-share-by-year (Q8 shape)

  /** q285: national market share — the TPC-H Q8 SHAPE: a 7-table snowflake
    * (fact → orders → customer → nation → region, plus part and
    * supplier → nation) with a conditional-aggregate ratio per year: of
    * the ECONOMY-part revenue sold to EUROPE customers, what share came
    * from NATION_3 suppliers? The share is the exact integer division of
    * two e4 revenue sums; both legs of the CASE ride ONE aggregation, so
    * the ratio costs nothing beyond the join tree.
    *
    * Scale: part and the two nation/region legs broadcast; the plan's
    * only wide shuffles are fact⋈orders and the year rollup — the
    * canonical snowflake lowering.
    */
  val q285MarketShare: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val nat = Tables.nation(s, dir)
    val reg = Tables.region(s, dir)
    val custEurope = cust
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supNation = sup
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val rev = (cents(col("l_extendedprice")) *
      (lit(100L) - cents(col("l_discount")))).as("rev_e4")
    li.join(broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(custEurope, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .select(year(col("o_orderdate")).as("o_year"), rev, col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(sum(col("rev_e4")).as("total_rev_e4"),
        sum(when(col("supp_nation") === "NATION_3", col("rev_e4"))
          .otherwise(0L)).as("nation_rev_e4"))
      .select(col("o_year"), col("total_rev_e4"), col("nation_rev_e4"),
        expr("""CAST(CAST(nation_rev_e4 AS DECIMAL(38,0)) * 1000000
                | div total_rev_e4 AS BIGINT)""".stripMargin)
          .as("mkt_share_e6"))
      .orderBy(col("o_year"))
  }

  val q285Sql: String =
    """WITH base AS (
      |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS rev_e4,
      |    sn.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey)
      |SELECT CAST(o_year AS INT) AS o_year,
      |  CAST(SUM(rev_e4) AS BIGINT) AS total_rev_e4,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 ELSE 0 END)
      |    AS BIGINT) AS nation_rev_e4,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 ELSE 0 END)
      |    * 1000000 // SUM(rev_e4) AS BIGINT) AS mkt_share_e6
      |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin

  // ------------------------------- q287: volume shipping (Q7 shape)

  /** q287: bilateral trade volume — the TPC-H Q7 SHAPE: supplier-nation ↔
    * customer-nation flows for ONE unordered pair of nations, either
    * direction, by year. The disjunctive pair predicate
    * ((s=A ∧ c=B) ∨ (s=B ∧ c=A)) is applied AFTER two independent
    * broadcast nation legs (never as a join condition — a disjunctive
    * equi-join would fall off the hash-join path into a nested loop).
    * Revenue in exact e4 integers.
    */
  val q287VolumeShipping: Q = (s, dir) => {
    val natA = "NATION_1"
    val natB = "NATION_3"
    val li = Tables.lineitem(s, dir)
    val nat = Tables.nation(s, dir)
    val supN = Tables.supplier(s, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .filter(col("supp_nation").isin(natA, natB))
      .select(col("s_suppkey"), col("supp_nation"))
    val custN = Tables.customer(s, dir)
      .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
      .filter(col("cust_nation").isin(natA, natB))
      .select(col("c_custkey"), col("cust_nation"))
    li.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .select(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("rev_e4"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("volume_e4"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q287Sql: String =
    """WITH flows AS (
      |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |    EXTRACT(year FROM l_shipdate) AS l_year,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS rev_e4
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_3')
      |      OR (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_1')))
      |SELECT supp_nation, cust_nation, CAST(l_year AS INT) AS l_year,
      |  COUNT(*) AS n_lines, CAST(SUM(rev_e4) AS BIGINT) AS volume_e4
      |FROM flows GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------- q286: top supplier view (Q15 shape)

  /** q286: top supplier(s) by quarterly revenue — the TPC-H Q15 SHAPE: an
    * aggregate VIEW consumed twice, once to find MAX(total_revenue) and
    * once to select the supplier(s) attaining it (an equality join against
    * a scalar subquery — ties all surface, no arbitrary LIMIT 1). Revenue
    * is exact e4 integers, so "equals the max" is an integer comparison —
    * the float-equality trap the textbook Q15 carries is structurally
    * absent.
    *
    * Scale: one supplier rollup off the date-pruned fact scan (predicate
    * pushed to parquet), the scalar max broadcast back over the rollup,
    * supplier dim broadcast for names.
    */
  val q286TopSupplier: Q = (s, dir) => {
    val lo = lit("2000-01-01").cast("timestamp")
    val hi = lit("2000-04-01").cast("timestamp")
    val revenue = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice")) *
        (lit(100L) - cents(col("l_discount")))).as("total_rev_e4"))
    val maxRev = revenue.agg(max(col("total_rev_e4")).as("max_rev"))
    revenue.crossJoin(broadcast(maxRev))
      .filter(col("total_rev_e4") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
      .orderBy(col("s_suppkey"))
  }

  val q286Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
      |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
      |      AS total_rev_e4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
      |    AND l_shipdate < TIMESTAMP '2000-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_rev_e4
      |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev_e4 = (SELECT MAX(total_rev_e4) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // ----------------------------- q235: correlated aggregate subquery shape

  /** q235: small-quantity-order revenue — the TPC-H Q17 query SHAPE: a
    * predicate against a CORRELATED aggregate (each line compares to ITS
    * part's average quantity). The Spark side writes the decorrelated plan
    * directly — the per-part rollup joined back to the fact, which is
    * exactly what a correct optimizer lowers the subquery to — while the
    * ORACLE keeps the correlated-subquery syntax verbatim: the gate then
    * proves the two formulations equivalent, not just self-consistent.
    * The 50%-of-average predicate is the exact integer cross-multiply
    * qty_c · 2n < Σqty_c (no division, no float boundary).
    *
    * Scale: one per-part rollup (shuffle on partkey), one fact join on the
    * same key (collocatable), one scalar output row.
    */
  val q235CorrelatedAgg: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"),
        count(lit(1)).as("n_lines"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(cents(col("l_quantity")) * 2 * col("n_lines") < col("sum_qty_c"))
      .agg(count(lit(1)).as("n_small_lines"),
        sum(cents(col("l_extendedprice"))).as("revenue_c"))
      .select(col("n_small_lines"),
        coalesce(col("revenue_c"), lit(0L)).as("revenue_c"))
  }

  val q235Sql: String =
    """SELECT COUNT(*) AS n_small_lines,
      |  COALESCE(CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
      |    AS BIGINT), 0) AS revenue_c
      |FROM lineitem l1
      |WHERE CAST(ROUND(l1.l_quantity*100) AS BIGINT) * 2 *
      |  (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |  <
      |  (SELECT CAST(SUM(CAST(ROUND(l3.l_quantity*100) AS BIGINT)) AS BIGINT)
      |   FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)""".stripMargin

  // ----------------------------- q236: multi-correlated EXISTS shape

  /** Lateness horizon for q236 (days from order date to shipment). */
  private val LateDays = 100

  /** q236: suppliers who were the SOLE late shipper in a multi-supplier
    * order — the TPC-H Q21 SHAPE, the canonical hard decorrelation case:
    * one EXISTS (another supplier shipped in the same order) and one
    * NOT EXISTS (no OTHER supplier shipped late in it) against the same
    * fact under different aliases. The Spark side composes it as a
    * semi-join plus an anti-join on (orderkey, supplier ≠) pairs — the
    * plan decorrelation produces; the oracle keeps the nested
    * EXISTS/NOT EXISTS text. Top 25 suppliers by offence count.
    */
  val q236SoleLateSupplier: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
    val late = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > expr(s"o_orderdate + INTERVAL $LateDays DAYS"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val anyOther = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      .distinct()
    val lateOther = late.select(col("ok").as("ok3"), col("sk").as("sk3"))
    late
      .join(anyOther, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
        "left_semi")
      .join(lateOther, col("ok") === col("ok3") && col("sk") =!= col("sk3"),
        "left_anti")
      .groupBy(col("sk").as("suppkey"))
      .agg(count(lit(1)).as("n_sole_late"))
      .orderBy(col("n_sole_late").desc, col("suppkey"))
      .limit(25)
  }

  val q236Sql: String =
    s"""WITH late AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_shipdate > o_orderdate + INTERVAL $LateDays DAY)
       |SELECT sk AS suppkey, COUNT(*) AS n_sole_late
       |FROM late l1
       |WHERE EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.ok AND l2.l_suppkey <> l1.sk)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM late l3
       |    WHERE l3.ok = l1.ok AND l3.sk <> l1.sk)
       |GROUP BY sk
       |ORDER BY n_sole_late DESC, suppkey
       |LIMIT 25""".stripMargin

  // ----------------------------- q237: HAVING vs global-threshold subquery

  /** q237: important parts — the TPC-H Q11 SHAPE: a grouped aggregate
    * filtered by a scalar subquery over the SAME aggregation (parts whose
    * revenue exceeds 0.05% of total revenue). The Spark side computes the
    * per-part rollup ONCE (localCheckpoint — the threshold re-aggregates
    * the rollup, never the fact) and broadcasts the 1-row threshold; the
    * oracle keeps the HAVING-with-subquery text. Exact integer comparison:
    * part_c · 10⁴·2 > total_c ⇔ share > 0.05%.
    */
  val q237ImportantParts: Q = (s, dir) => {
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("part_c"))
      .localCheckpoint()
    val total = perPart.agg(sum(col("part_c")).as("total_c"))
    perPart.crossJoin(broadcast(total))
      .filter(col("part_c") * 20000L > col("total_c"))
      .select(col("l_partkey"), col("part_c"))
      .orderBy(col("part_c").desc, col("l_partkey"))
      .limit(25)
  }

  val q237Sql: String =
    """WITH pp AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS part_c
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, part_c
      |FROM pp
      |WHERE part_c * 20000 > (SELECT SUM(part_c) FROM pp)
      |ORDER BY part_c DESC, l_partkey
      |LIMIT 25""".stripMargin

  // ----------------------------- q239: drill-across two-fact report

  /** q239: drill-across — the multi-fact BI pattern done right: SALES
    * metrics (revenue, orders) and ENGAGEMENT metrics (events, actives,
    * purchases) live in different fact tables at different grains, so each
    * fact aggregates INDEPENDENTLY to the conformed customer-segment grain
    * and only the metadata-sized rollups merge (full outer, zero-filled).
    * The anti-pattern this exists to avoid is joining the two facts row to
    * row — a |lineitem|×|events| blowup with double-counted measures; the
    * drill-across merge is the textbook fix (Kimball's terminology),
    * and at 100 TB it is the difference between two independent fact
    * shuffles and a cross-fact join. All measures exact integers.
    */
  val q239DrillAcross: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val sales = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        sum(cents(col("l_extendedprice"))).as("revenue_c"))
    val engagement = Tables.events(s, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_active_users"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase_events"))
    sales.join(engagement, Seq("segment"), "full_outer")
      .select(col("segment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue_c"), lit(0L)).as("revenue_c"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_active_users"), lit(0L)).as("n_active_users"),
        coalesce(col("n_purchase_events"), lit(0L)).as("n_purchase_events"))
      .orderBy(col("segment"))
  }

  val q239Sql: String =
    """WITH sales AS (
      |  SELECT c_mktsegment AS segment,
      |    COUNT(DISTINCT o_orderkey) AS n_orders,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS revenue_c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |eng AS (
      |  SELECT c_mktsegment AS segment,
      |    COUNT(*) AS n_events,
      |    COUNT(DISTINCT user_id) AS n_active_users,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purchase_events
      |  FROM events JOIN customer ON user_id = c_custkey
      |  GROUP BY 1)
      |SELECT COALESCE(sales.segment, eng.segment) AS segment,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  COALESCE(revenue_c, 0) AS revenue_c,
      |  COALESCE(n_events, 0) AS n_events,
      |  COALESCE(n_active_users, 0) AS n_active_users,
      |  COALESCE(n_purchase_events, 0) AS n_purchase_events
      |FROM sales FULL OUTER JOIN eng ON sales.segment = eng.segment
      |ORDER BY 1""".stripMargin

  // ----------------------------- q244: trimmed and winsorized means

  /** q244: robust means report — the outlier-resistant location estimates
    * next to q148's median/MAD screen: per return flag, the plain mean,
    * the 5–95% TRIMMED mean (rows outside the percentile bounds dropped)
    * and the WINSORIZED mean (rows clamped to the bounds) of the
    * extended price, all in exact integer cents. Bounds are
    * percentile_disc values (actual data points), so trimming/clamping
    * compares integers to integers and every mean is an exact sum DIV
    * count — a float trimmed mean would be partition-order-sensitive.
    * Trimmed vs winsorized disagreement quantifies how much tail mass
    * the clamp preserved.
    *
    * Plan: the percentile bounds come from the two-level rank-target
    * device over the (flag, value) rollup — percentile_disc(p) selects
    * the smallest value whose inclusive below-count reaches ceil(p·n),
    * and a native per-group percentile aggregate would buffer each
    * group's whole value stream in one task (3 groups = 3 tasks at any
    * cluster size). Then one conditional re-aggregation of the fact
    * against the broadcast bounds.
    */
  val q244RobustMeans: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
    val byV = li.groupBy(col("l_returnflag"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val ranked = AuditQueries.doubledRankBelow(
      byV, Seq("l_returnflag"), "c", 100000L)
    val nPer = byV.groupBy(col("l_returnflag")).agg(sum(col("cnt")).as("ng"))
    val bounds = ranked.join(broadcast(nPer), "l_returnflag")
      .withColumn("t05", expr("(ng * 5 + 99) div 100"))
      .withColumn("t95", expr("(ng * 95 + 99) div 100"))
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("below") < col("t05") &&
          col("t05") <= col("below") + col("cnt"), col("c"))).as("lo"),
        min(when(col("below") < col("t95") &&
          col("t95") <= col("below") + col("cnt"), col("c"))).as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .groupBy(col("l_returnflag"))
      // cents sums accumulate in DECIMAL(38,0) - the q01 convention: a
      // per-flag cents total wraps int64 in the 10^11-rows-per-group range
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).as("sum_c"),
        sum(when(col("c").between(col("lo"), col("hi")), col("c"))
          .cast("decimal(38,0)")).as("trim_sum_c"),
        sum(when(col("c").between(col("lo"), col("hi")), 1L).otherwise(0L))
          .as("trim_n"),
        sum(greatest(least(col("c"), col("hi")), col("lo"))
          .cast("decimal(38,0)")).as("winsor_sum_c"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .select(col("l_returnflag"), col("n"), col("lo"), col("hi"),
        expr("CAST(sum_c DIV n AS BIGINT)").as("mean_c"),
        expr("CAST(trim_sum_c DIV trim_n AS BIGINT)").as("trimmed_mean_c"),
        expr("CAST(winsor_sum_c DIV n AS BIGINT)").as("winsor_mean_c"))
      .orderBy(col("l_returnflag"))
  }

  val q244Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag, CAST(ROUND(l_extendedprice*100) AS BIGINT) AS c
      |  FROM lineitem),
      |b AS (
      |  SELECT l_returnflag,
      |    CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY c) AS BIGINT) AS lo,
      |    CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY c) AS BIGINT) AS hi
      |  FROM li GROUP BY l_returnflag)
      |SELECT li.l_returnflag, COUNT(*) AS n, MAX(lo) AS lo, MAX(hi) AS hi,
      |  CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_c,
      |  CAST(SUM(CASE WHEN c BETWEEN lo AND hi THEN c END) //
      |    SUM(CASE WHEN c BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS trimmed_mean_c,
      |  CAST(SUM(GREATEST(LEAST(c, hi), lo)) // COUNT(*) AS BIGINT)
      |    AS winsor_mean_c
      |FROM li JOIN b USING (l_returnflag)
      |GROUP BY li.l_returnflag
      |ORDER BY li.l_returnflag""".stripMargin

  // ----------------------------- q246: Lorenz concentration curve

  /** q246: the Lorenz curve behind q160's Gini coefficient — cumulative
    * revenue share by customer decile, the concentration CURVE a revenue
    * team reads ("the top decile carries 38% of revenue") where the
    * coefficient only summarizes. Customers rank by ascending revenue
    * (custkey tie-break), including zero-revenue customers via the left
    * join, exact NTILE(10) deciles form without any global sort, and
    * every share is an exact integer e6 division of cents sums.
    * Spec-level identity: the last row's cum_share_e6 is exactly 10⁶.
    *
    * NTILE reconstruction (bit-identical to the window form): each
    * customer's row number under (rev_c, c_custkey) is
    * rn = #customers with smaller rev (two-level value-bucket prefix over
    * the DISTINCT-value rollup, serial step = [[bucketPrior]] join)
    * + #same-rev customers with smaller key ([[graft.operators.AuditQueries.doubledRankBelow]]
    * partitioned by (rev, key-bucket) — the zero-revenue cluster, the one
    * skewed value at corpus scale, shards across key buckets)
    * + 1, and NTILE(k) is closed-form in (rn, n): the first n%k deciles
    * take n/k+1 rows, the rest n/k. The 10-row decile rollup then
    * accumulates via a broadcast triangle join, not a window.
    */
  val q246LorenzCurve: Q = (s, dir) => {
    val rev = Tables.customer(s, dir).select(col("c_custkey"))
      .join(Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_c")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), coalesce(col("rev_c"), lit(0L)).as("rev_c"))
    val vc = rev.groupBy(col("rev_c")).agg(count(lit(1)).as("cnt"))
    val scal = vc.agg(min(col("rev_c")).as("pfx_mn"),
      max(col("rev_c")).as("pfx_mx"))
    val vb = vc.crossJoin(broadcast(scal))
      .withColumn("pfx_bkt",
        expr("(rev_c - pfx_mn) div ((pfx_mx - pfx_mn) div 1024 + 1)"))
      .drop("pfx_mn", "pfx_mx")
    val bRoll = vb.groupBy(col("pfx_bkt")).agg(sum(col("cnt")).as("pfx_bsum"))
    val prior = bucketPrior(bRoll, "pfx_bkt", "pfx_bsum", desc = false)
    val inW = Window.partitionBy(col("pfx_bkt")).orderBy(col("rev_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val belowV = vb.join(broadcast(prior), Seq("pfx_bkt"))
      .withColumn("below_v",
        col("prior") + coalesce(sum(col("cnt")).over(inW), lit(0L)))
      .select(col("rev_c"), col("below_v"))
    val withinRank = AuditQueries.doubledRankBelow(
      rev.withColumn("cnt", lit(1L)), Seq("rev_c"), "c_custkey", 100000L)
    val n = rev.agg(count(lit(1)).as("n_cust"))
    val deciled = withinRank.join(belowV, Seq("rev_c"))
      .withColumn("rn", col("below_v") + col("below") + 1L)
      .crossJoin(broadcast(n))
      .withColumn("nt_base", expr("n_cust div 10"))
      .withColumn("nt_rem", expr("n_cust % 10"))
      .withColumn("decile",
        when(col("rn") <= col("nt_rem") * (col("nt_base") + 1L),
          expr("(rn - 1) div (nt_base + 1) + 1"))
          .otherwise(expr("""nt_rem + (rn - nt_rem * (nt_base + 1) - 1)
            | div greatest(nt_base, 1) + 1""".stripMargin.replace("\n", " "))))
    val rolled = deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev_c")).as("decile_rev_c"))
    val total = rolled.agg(sum(col("decile_rev_c")).as("total_c"))
    val cumSrc = rolled.select(col("decile").as("ob"),
      col("decile_rev_c").as("os"))
    rolled.join(broadcast(cumSrc), col("ob") <= col("decile"))
      .groupBy(col("decile"), col("n_customers"), col("decile_rev_c"))
      .agg(sum(col("os")).as("cum_c"))
      .crossJoin(broadcast(total))
      // DECIMAL: corpus-scale cents totals x 1e6 wrap int64
      .select(col("decile"), col("n_customers"), col("decile_rev_c"),
        expr("""CAST(CAST(decile_rev_c AS DECIMAL(38,0)) * 1000000
               |  DIV total_c AS BIGINT)""".stripMargin).as("share_e6"),
        expr("""CAST(CAST(cum_c AS DECIMAL(38,0)) * 1000000
               |  DIV total_c AS BIGINT)""".stripMargin).as("cum_share_e6"))
      .orderBy(col("decile"))
  }

  val q246Sql: String =
    """WITH rev AS (
      |  SELECT c_custkey, COALESCE(o.rev_c, 0) AS rev_c
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey,
      |      CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |        AS rev_c
      |    FROM orders GROUP BY o_custkey) o ON c_custkey = o.o_custkey),
      |d AS (
      |  SELECT c_custkey, rev_c,
      |    NTILE(10) OVER (ORDER BY rev_c, c_custkey) AS decile
      |  FROM rev),
      |r AS (
      |  SELECT decile, COUNT(*) AS n_customers,
      |    CAST(SUM(rev_c) AS BIGINT) AS decile_rev_c
      |  FROM d GROUP BY decile)
      |SELECT decile, n_customers, decile_rev_c,
      |  CAST(CAST(decile_rev_c AS HUGEINT) * 1000000 //
      |    SUM(decile_rev_c) OVER () AS BIGINT) AS share_e6,
      |  CAST(CAST(SUM(decile_rev_c) OVER (ORDER BY decile) AS HUGEINT)
      |    * 1000000 // SUM(decile_rev_c) OVER () AS BIGINT) AS cum_share_e6
      |FROM r
      |ORDER BY decile""".stripMargin

  // ----------------------------- q248: like-for-like (comparable) growth

  /** q248: like-for-like revenue growth — the retail "comparable sales"
    * metric: naive YoY growth confounds customer-base changes with
    * behavior changes, so each consecutive year pair reports growth ONLY
    * over customers active in BOTH years (the comparable base), next to
    * the raw totals. Both effects decompose: raw growth = comparable
    * growth + base churn. Exact: cents sums in DECIMAL(38,0), growth as
    * a sign-factored e6 ratio of exact integers.
    *
    * Plan: one (customer, year) rollup; the year-pair self-join runs on
    * that rollup (|customers|·|years| rows), never on the fact.
    */
  val q248LikeForLike: Q = (s, dir) => {
    val cy = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("cust"), year(col("o_orderdate")).as("yr"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      .localCheckpoint()
    val paired = cy.select(col("cust"), col("yr"), col("rev_c"))
      .join(cy.select(col("cust"), (col("yr") - 1).as("yr"),
        col("rev_c").as("next_rev_c")), Seq("cust", "yr"))
    paired.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_comparable"),
        sum(col("rev_c").cast("decimal(38,0)")).as("prev_dec"),
        sum(col("next_rev_c").cast("decimal(38,0)")).as("cur_dec"))
      .select(col("yr").as("base_year"), col("n_comparable"),
        expr("CAST(prev_dec AS BIGINT)").as("rev_base_c"),
        expr("CAST(cur_dec AS BIGINT)").as("rev_next_c"),
        expr("""CASE WHEN cur_dec >= prev_dec
               |THEN CAST((cur_dec - prev_dec) * 1000000 DIV prev_dec AS BIGINT)
               |ELSE -CAST((prev_dec - cur_dec) * 1000000 DIV prev_dec AS BIGINT)
               |END""".stripMargin).as("growth_e6"))
      .orderBy(col("base_year"))
  }

  val q248Sql: String =
    """WITH cy AS (
      |  SELECT o_custkey AS cust, EXTRACT(YEAR FROM o_orderdate) AS yr,
      |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders GROUP BY 1, 2),
      |p AS (
      |  SELECT a.yr, a.rev_c, b.rev_c AS next_rev_c
      |  FROM cy a JOIN cy b ON a.cust = b.cust AND b.yr = a.yr + 1)
      |SELECT CAST(yr AS INT) AS base_year, COUNT(*) AS n_comparable,
      |  CAST(SUM(CAST(rev_c AS HUGEINT)) AS BIGINT) AS rev_base_c,
      |  CAST(SUM(CAST(next_rev_c AS HUGEINT)) AS BIGINT) AS rev_next_c,
      |  CASE WHEN SUM(CAST(next_rev_c AS HUGEINT)) >= SUM(CAST(rev_c AS HUGEINT))
      |    THEN CAST((SUM(CAST(next_rev_c AS HUGEINT)) - SUM(CAST(rev_c AS HUGEINT)))
      |      * 1000000 // SUM(CAST(rev_c AS HUGEINT)) AS BIGINT)
      |    ELSE -CAST((SUM(CAST(rev_c AS HUGEINT)) - SUM(CAST(next_rev_c AS HUGEINT)))
      |      * 1000000 // SUM(CAST(rev_c AS HUGEINT)) AS BIGINT)
      |  END AS growth_e6
      |FROM p
      |GROUP BY yr
      |ORDER BY base_year""".stripMargin

  // ----------------------------- q252: Poisson-bootstrap confidence interval

  /** Replicate count for the bootstrap; ranks 2 and R-1 of the sorted
    * replicate means bound a ~96% percentile interval.
    */
  private val BootReps = 48

  /** Poisson(1) inverse-CDF thresholds, e6-quantized: a uniform draw
    * u ∈ [0, 10⁶) maps to the count of thresholds ≤ u — the per-row
    * replicate weight. Shared literals on both engines, so the "random"
    * weights are bit-identical everywhere.
    */
  private val PoisT = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
    999406L, 999917L)

  /** q252: Poisson-bootstrap CI for the mean order value per priority — THE
    * resampling construction that survives scale (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): classical bootstrap
    * resampling needs R full copies of the data, while Poisson bootstrap
    * gives each row an independent Poisson(1) replicate weight, so all R
    * replicates materialize from ONE corpus pass as a map-side explode —
    * no data duplication, no sampling coordination across executors.
    *
    * Weights are a pure function of (order key, replicate): one portable
    * digest per order seeds R universal-hash draws (q67's
    * reproducible-randomness principle, q55's one-digest trick), so the CI is
    * deterministic across runs, engines and cluster sizes, and the DuckDB
    * oracle reproduces it bit-exactly. Replicate means are exact integer
    * cents (DECIMAL(38,0) sums, truncating division of nonnegatives); the
    * interval picks ranked replicate VALUES (ranks 2 / R-1 with a replicate-id
    * tie-break), never interpolates. The R-fold expansion happens after
    * projecting to (group, cents) — 48× a two-column stream, and the
    * post-rollup is |groups|×R rows: metadata at any corpus size. At 100 TB
    * swap the md5 portable hash for HashMode.Fast exactly as q55_prod does.
    */
  private def poissonBootstrap(mode: Text.HashMode): Q = (s, dir) => {
    // R-replicate hash fan-out over a single-split scan ran one-task
    // (2.05 s at sf0.1) — spread keys first (guide §2.5); no-op at scale
    val o = Tables.parallelizedBy(
      Tables.orders(s, dir).select(col("o_orderpriority").as("pri"),
        col("o_orderkey"), cents(col("o_totalprice")).as("c")),
      col("o_orderkey"))
    val full = o.groupBy(col("pri")).agg(count(lit(1)).as("n_orders"),
      expr("CAST(SUM(CAST(c AS DECIMAL(38,0))) DIV COUNT(*) AS BIGINT)")
        .as("mean_c"))
    // ONE digest per order, R draws from the universal hash family
    // (a_r·h32 + b_r) mod P — the MinHash trick: the cryptographic digest
    // is the dominant CPU term, so replicate streams derive from cheap
    // integer mixes of one 32-bit seed (exact in int64 by the family's
    // a < 2^29 design, reproduced literal-for-literal in the oracle)
    val fam = Text.hashFamily(BootReps)
    val h32 = mode.hash(col("o_orderkey").cast("string"))
      .bitwiseAND(lit(0xFFFFFFFFL))
    val us = array((0 until BootReps).map { i =>
      (col("h32") * fam(i)._1 + fam(i)._2) % Text.HashP % 1000000L
    }: _*)
    val w = PoisT.map(t => when(col("u") >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val reps = o
      .withColumn("h32", h32)
      .select(col("pri"), col("c"), posexplode(us).as(Seq("r", "u")))
      .withColumn("w", w)
      .groupBy(col("pri"), col("r"))
      .agg(expr("""CAST(SUM(CAST(w * c AS DECIMAL(38,0)))
                  | DIV NULLIF(SUM(w), 0) AS BIGINT)""".stripMargin)
        .as("rep_mean_c"))
    val rw = Window.partitionBy(col("pri"))
      .orderBy(col("rep_mean_c"), col("r"))
    val ci = reps.withColumn("rk", row_number().over(rw))
      .groupBy(col("pri"))
      .agg(max(when(col("rk") === 2, col("rep_mean_c"))).as("boot_lo_c"),
        max(when(col("rk") === BootReps - 1, col("rep_mean_c")))
          .as("boot_hi_c"))
    full.join(ci, "pri")
      .select(col("pri").as("o_orderpriority"), col("n_orders"),
        col("mean_c"), col("boot_lo_c"), col("boot_hi_c"))
      .orderBy(col("o_orderpriority"))
  }

  /** Oracle mode: portable md5 hash, reproduced bit-exactly by DuckDB. */
  val q252PoissonBootstrap: Q = poissonBootstrap(Text.HashMode.Portable)

  /** Production mode: xxhash64 replicate draws — the 100 TB default; the
    * bench twin documents what md5 oracle portability costs (the digest
    * count is rows × R, the engine's single biggest avoidable CPU term
    * here exactly as in the fingerprint stack).
    */
  val q252PoissonBootstrapProd: Q = poissonBootstrap(Text.HashMode.Fast)

  /** Bench-only production-hash twins (never in the oracle gate — their
    * draws are xxhash64-seeded, so no DuckDB reproduction exists).
    */
  val productionQueries: Map[String, Q] =
    Map("q252_poisson_bootstrap_prod" -> q252PoissonBootstrapProd)

  val q252Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS pri, o_orderkey AS k,
       |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
       |  FROM orders),
       |full_s AS (
       |  SELECT pri, COUNT(*) AS n_orders,
       |    CAST(SUM(CAST(c AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_c
       |  FROM o GROUP BY pri),
       |h AS (
       |  SELECT pri, c,
       |    CAST(concat('0x', substr(md5(CAST(k AS VARCHAR)), 1, 15))
       |      AS BIGINT) & 4294967295 AS h32
       |  FROM o),
       |fam(r, fa, fb) AS (VALUES ${Text.hashFamily(BootReps).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")}),
       |dr AS (
       |  SELECT pri, c, r, ((h32 * fa + fb) % ${Text.HashP}) % 1000000 AS u
       |  FROM h CROSS JOIN fam),
       |wtd AS (
       |  SELECT pri, r, c,
       |    CASE WHEN u < ${PoisT(0)} THEN 0 WHEN u < ${PoisT(1)} THEN 1
       |         WHEN u < ${PoisT(2)} THEN 2 WHEN u < ${PoisT(3)} THEN 3
       |         WHEN u < ${PoisT(4)} THEN 4 WHEN u < ${PoisT(5)} THEN 5
       |         WHEN u < ${PoisT(6)} THEN 6 ELSE 7 END AS w
       |  FROM dr),
       |rm AS (
       |  SELECT pri, r,
       |    CAST(SUM(CAST(w*c AS HUGEINT)) // NULLIF(SUM(w), 0) AS BIGINT)
       |      AS rep_mean_c
       |  FROM wtd GROUP BY pri, r),
       |rk AS (
       |  SELECT pri, rep_mean_c,
       |    ROW_NUMBER() OVER (PARTITION BY pri ORDER BY rep_mean_c, r) AS rk
       |  FROM rm)
       |SELECT full_s.pri AS o_orderpriority, n_orders, mean_c,
       |  MAX(CASE WHEN rk = 2 THEN rep_mean_c END) AS boot_lo_c,
       |  MAX(CASE WHEN rk = ${BootReps - 1} THEN rep_mean_c END) AS boot_hi_c
       |FROM full_s JOIN rk USING (pri)
       |GROUP BY full_s.pri, n_orders, mean_c
       |ORDER BY 1""".stripMargin

  // ----------------------------- q255: l-diversity detail report

  /** q255: per-group l-diversity detail — the drill-down behind q181's
    * k-anonymity summary (Machanavajjhala et al., "l-Diversity: Privacy
    * Beyond k-Anonymity", 2006). For every quasi-identifier group
    * (nation × balance band) over the sensitive market segment: group size
    * k, distinct-l, the dominant sensitive value's count and e6 share, the
    * recursive disclosure ratio top/(k−top) (worst-case posterior odds an
    * adversary gains from group membership), and a pass flag for
    * distinct-3 + recursive (2,l) diversity (top < 2·rest). Every ratio is
    * a truncating integer division of nonnegative counts — bit-exact across
    * engines.
    *
    * Plan: two stacked hash aggregations, both keyed on the QI prefix, so
    * the second is a near-local fold of the first; detail rows = |QI groups|
    * — bounded by the QI domain, not the corpus, at any scale.
    */
  val q255LDiversity: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        expr("(CAST(ROUND(c_acctbal*100) AS BIGINT) + 100000) div 100000")
          .as("bal_band"),
        col("c_mktsegment"))
    c.groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_sv"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("n_sv")).as("k"), count(lit(1)).as("l"),
        max(col("n_sv")).as("top_n"))
      .select(col("c_nationkey"), col("bal_band"), col("k"), col("l"),
        col("top_n"),
        expr("CAST(top_n * 1000000 DIV k AS BIGINT)").as("top_share_e6"),
        expr("""CASE WHEN k > top_n
                | THEN CAST(top_n * 1000000 DIV (k - top_n) AS BIGINT)
                | END""".stripMargin).as("rec_ratio_e6"),
        when(col("l") >= 3 &&
            col("top_n") < (col("k") - col("top_n")) * 2, 1L)
          .otherwise(0L).as("div_ok"))
      .orderBy(col("c_nationkey"), col("bal_band"))
  }

  val q255Sql: String =
    """WITH c AS (
      |  SELECT c_nationkey,
      |    (CAST(ROUND(c_acctbal*100) AS BIGINT) + 100000) // 100000 AS bal_band,
      |    c_mktsegment
      |  FROM customer),
      |cell AS (
      |  SELECT c_nationkey, bal_band, c_mktsegment, COUNT(*) AS n_sv
      |  FROM c GROUP BY 1, 2, 3),
      |grp AS (
      |  SELECT c_nationkey, bal_band, SUM(n_sv) AS k, COUNT(*) AS l,
      |    MAX(n_sv) AS top_n
      |  FROM cell GROUP BY 1, 2)
      |SELECT c_nationkey, bal_band, CAST(k AS BIGINT) AS k, l,
      |  CAST(top_n AS BIGINT) AS top_n,
      |  CAST(top_n * 1000000 // k AS BIGINT) AS top_share_e6,
      |  CASE WHEN k > top_n
      |    THEN CAST(top_n * 1000000 // (k - top_n) AS BIGINT) END
      |    AS rec_ratio_e6,
      |  CASE WHEN l >= 3 AND top_n < (k - top_n) * 2
      |    THEN 1 ELSE 0 END AS div_ok
      |FROM grp
      |ORDER BY c_nationkey, bal_band""".stripMargin

  // ----------------------------- q258: dormant-capital report (TPC-H Q22 shape)

  /** q258: the TPC-H Q22 "global sales opportunity" shape (scalar-subquery
    * threshold + NOT EXISTS anti-join + rollup), completing the q235–q237
    * subquery-shape panel: customers with above-average positive balances
    * and NO orders in the trailing window (cutoff 2000-01-01 — Q22's
    * "7 years" adapted to this corpus' date range), rolled up per nation.
    * The average comparison never divides — `bal·n > Σbal` cross-multiplies
    * the exact cents so the threshold predicate is pure int64 arithmetic (a
    * float mean would make boundary customers engine-dependent); the
    * count/sum pair rides one broadcast scalar. Plan: scalar agg broadcast
    * to the customer scan, anti-join against the date-pruned orders key
    * projection (the date filter reaches the parquet scan; Bloom-prunable
    * at scale), one |nations| rollup.
    */
  val q258DormantCapital: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_c"))
    val thr = c.filter(col("bal_c") > 0)
      .agg(count(lit(1)).as("n_pos"),
        sum(col("bal_c").cast("decimal(38,0)")).as("sum_pos"))
    val rich = c.crossJoin(broadcast(thr))
      .filter(col("bal_c").cast("decimal(38,0)") * col("n_pos") > col("sum_pos"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val dormant = rich.join(recent,
      col("c_custkey") === col("o_custkey"), "left_anti")
    dormant.join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
      .orderBy(col("n_name"))
  }

  val q258Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_c
      |  FROM customer),
      |thr AS (
      |  SELECT COUNT(*) AS n_pos, SUM(CAST(bal_c AS HUGEINT)) AS sum_pos
      |  FROM c WHERE bal_c > 0)
      |SELECT n_name, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(bal_c AS HUGEINT)) AS BIGINT) AS totacctbal_c
      |FROM c CROSS JOIN thr
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE CAST(bal_c AS HUGEINT) * n_pos > sum_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ----------------------------- q261: Croston intermittent-demand forecast

  /** q261: Croston's method (Croston 1972) for intermittent demand — the
    * forecasting construction for sparse series where EWMA-on-zeros
    * collapses (most part-weeks have NO demand): exponential smoothing of
    * demand SIZE and demand INTERVAL separately, updated only on arrival
    * weeks, forecast = size/interval, with the Syntetos-Boylan smooth vs
    * intermittent classification (mean interval 1.32) closing the q208
    * ABC-XYZ segmentation's forecastability axis.
    *
    * The scale shape is the point: a sequential per-series recurrence
    * becomes ONE distributed pass — per-part arrival arrays (sort_array of
    * (week, demand) structs) folded by a codegen `aggregate` HOF in exact
    * e6 integer arithmetic (α=0.2 as ·2/·8 DIV 10, truncating on
    * nonnegatives). No driver loop, no per-series shuffle: series state
    * lives inside a partition-local fold, rows = |parts with demand|. The
    * oracle replays the identical fold via list_reduce (element-shaped
    * accumulator, so the init is the transformed first arrival on both
    * engines). Per-week demand is int64; corpus-scale weekly demands
    * beyond ~10¹⁷ units would need the DECIMAL widening of the q01
    * convention inside the lambda.
    */
  val q261CrostonForecast: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("unix_timestamp(l_shipdate) DIV 604800").as("wk"),
        expr("CAST(ROUND(l_quantity*100) AS BIGINT) DIV 100").as("qty"))
    val weekly = li.groupBy(col("l_partkey"), col("wk"))
      .agg(sum(col("qty")).as("d"))
    val series = weekly.groupBy(col("l_partkey"))
      .agg(sort_array(collect_list(struct(col("wk"), col("d")))).as("arr"),
        count(lit(1)).as("n_weeks"))
    series
      .select(col("l_partkey"), col("n_weeks"),
        expr("""aggregate(slice(arr, 2, size(arr) - 1),
               |  named_struct(
               |    'z', element_at(arr, 1).d * CAST(1000000 AS BIGINT),
               |    'p', CAST(1000000 AS BIGINT),
               |    'lastw', element_at(arr, 1).wk),
               |  (acc, x) -> named_struct(
               |    'z', (2 * x.d * 1000000 + 8 * acc.z) DIV 10,
               |    'p', (2 * (x.wk - acc.lastw) * 1000000 + 8 * acc.p) DIV 10,
               |    'lastw', x.wk))""".stripMargin).as("st"))
      .select(col("l_partkey"), col("n_weeks"),
        col("st.z").as("z_e6"), col("st.p").as("p_e6"),
        expr("CAST(CAST(st.z AS DECIMAL(38,0)) * 1000000 DIV st.p AS BIGINT)")
          .as("croston_e6"),
        when(col("st.p") < 1320000L, "smooth").otherwise("intermittent")
          .as("demand_class"))
      .orderBy(col("l_partkey"))
  }

  val q261Sql: String =
    """WITH li AS (
      |  SELECT l_partkey,
      |    CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 604800 AS wk,
      |    CAST(ROUND(l_quantity*100) AS BIGINT) // 100 AS qty
      |  FROM lineitem),
      |weekly AS (
      |  SELECT l_partkey, wk, CAST(SUM(qty) AS BIGINT) AS d
      |  FROM li GROUP BY 1, 2),
      |series AS (
      |  SELECT l_partkey, COUNT(*) AS n_weeks,
      |    list_sort(list({'wk': wk, 'd': d})) AS arr
      |  FROM weekly GROUP BY 1),
      |folded AS (
      |  SELECT l_partkey, n_weeks,
      |    list_reduce(
      |      list_transform(arr, e -> {'z': e.d * 1000000,
      |        'p': CAST(1000000 AS BIGINT), 'lastw': e.wk}),
      |      (acc, x) -> {'z': (2 * x.z + 8 * acc.z) // 10,
      |        'p': (2 * (x.lastw - acc.lastw) * 1000000 + 8 * acc.p) // 10,
      |        'lastw': x.lastw}) AS st
      |  FROM series)
      |SELECT l_partkey, n_weeks,
      |  CAST(st.z AS BIGINT) AS z_e6, CAST(st.p AS BIGINT) AS p_e6,
      |  CAST(CAST(st.z AS HUGEINT) * 1000000 // st.p AS BIGINT) AS croston_e6,
      |  CASE WHEN st.p < 1320000 THEN 'smooth' ELSE 'intermittent' END
      |    AS demand_class
      |FROM folded ORDER BY l_partkey""".stripMargin

  // ----------------------------- q263: Bloom-filter false-positive audit

  /** Bloom geometry: m bits / k hashes sized for a measurable FP rate at
    * the build-set cardinality (~hundreds of keys at sf0.01), so the audit
    * exercises real collisions rather than reporting zero.
    */
  private val BloomAuditBits = 16384L
  private val BloomAuditK = 3

  /** q263: Bloom false-positive audit — the MEASURED companion to q145's
    * bloom-pruned join and the BloomReduce runtime filter: the filter is
    * rebuilt RELATIONALLY (per-key hash positions → word/bit → 64-word
    * bit_or rollup), probed the same way, and compared against the exact
    * semi-join, so the reported fp_rate is the one this geometry actually
    * delivers on this data — not the textbook formula. Every step is
    * portable-hash + integer bit arithmetic, so the DuckDB oracle
    * reproduces the filter bit-for-bit.
    *
    * Scale shape: the build side folds to m/32 = 512 32-bit words (sign-safe shifts on every engine) (broadcast-sized
    * control metadata — exactly what BloomReduce ships to the probe scan);
    * the probe explodes k hashes per key against the BROADCAST word table
    * and reduces per key; the exact semi-join runs once for ground truth.
    * The FP accounting is what sizes m,k before a 100 TB run commits to a
    * filter that would pass half the corpus.
    */
  val q263BloomAudit: Q = (s, dir) => {
    val build = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val probe = Tables.customer(s, dir).select(col("c_custkey"))
    def positions(key: org.apache.spark.sql.Column) =
      (0 until BloomAuditK).map { i =>
      Text.portableHash(concat(key.cast("string"), lit(s"#$i"))) %
        BloomAuditBits
    }
    val words = build
      .select(explode(array(positions(col("o_custkey")): _*)).as("idx"))
      .select(expr("idx DIV 32").as("word"), (col("idx") % 32).as("bit"))
      .groupBy(col("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))")
        .as("w"))
    val probeBits = probe
      .select(col("c_custkey"),
        explode(array(positions(col("c_custkey")): _*)).as("idx"))
      .select(col("c_custkey"), expr("idx DIV 32").as("word"),
        (col("idx") % 32).as("bit"))
      .join(broadcast(words), Seq("word"), "left")
      .select(col("c_custkey"),
        when(col("w").isNull, 0L)
          .when(expr("w & shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
            =!= 0L, 1L)
          .otherwise(0L).as("hit"))
    val passed = probeBits.groupBy(col("c_custkey"))
      .agg(sum(col("hit")).as("nbits"))
      .filter(col("nbits") === BloomAuditK.toLong)
      .select(col("c_custkey"))
    val trueKeys = probe.join(build,
      col("c_custkey") === col("o_custkey"), "left_semi")
    val nBuild = build.count(); val nProbe = probe.count()
    val nPass = passed.count(); val nTrue = trueKeys.count()
    val nFp = nPass - nTrue
    import s.implicits._
    Seq((BloomAuditBits, BloomAuditK.toLong, nBuild, nProbe, nPass, nTrue,
      nFp,
      if (nProbe > nTrue) nFp * 1000000L / (nProbe - nTrue) else 0L))
      .toDF("m_bits", "k_hashes", "n_build", "n_probe", "n_pass", "n_true",
        "n_fp", "fp_rate_e6")
  }

  val q263Sql: String = {
    val hash = (tbl: String, key: String) => (0 until BloomAuditK).map(i =>
      s"SELECT $key AS key, CAST(concat('0x', substr(md5(CAST($key AS VARCHAR)" +
        s" || '#$i'), 1, 15)) AS BIGINT) % $BloomAuditBits AS idx FROM $tbl")
    s"""WITH build AS (
       |  SELECT DISTINCT o_custkey FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'),
       |bpos AS (${hash("build", "o_custkey").mkString(" UNION ALL ")}),
       |words AS (
       |  SELECT idx // 32 AS word, bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) AS w
       |  FROM bpos GROUP BY 1),
       |ppos AS (${hash("customer", "c_custkey").mkString(" UNION ALL ")}),
       |probe AS (
       |  SELECT p.key,
       |    CASE WHEN w IS NULL THEN 0
       |      WHEN (w & (CAST(1 AS BIGINT) << CAST(idx % 32 AS INT))) <> 0 THEN 1
       |      ELSE 0 END AS hit
       |  FROM ppos p LEFT JOIN words ON idx // 32 = word),
       |passed AS (
       |  SELECT key FROM probe GROUP BY key
       |  HAVING SUM(hit) = $BloomAuditK),
       |agg AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM build) AS n_build,
       |    (SELECT COUNT(*) FROM customer) AS n_probe,
       |    (SELECT COUNT(*) FROM passed) AS n_pass,
       |    (SELECT COUNT(*) FROM customer
       |     WHERE c_custkey IN (SELECT o_custkey FROM build)) AS n_true)
       |SELECT $BloomAuditBits AS m_bits, $BloomAuditK AS k_hashes,
       |  CAST(n_build AS BIGINT) AS n_build, CAST(n_probe AS BIGINT) AS n_probe,
       |  CAST(n_pass AS BIGINT) AS n_pass, CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_pass - n_true AS BIGINT) AS n_fp,
       |  CASE WHEN n_probe > n_true
       |    THEN CAST((n_pass - n_true) * 1000000 // (n_probe - n_true) AS BIGINT)
       |    ELSE 0 END AS fp_rate_e6
       |FROM agg""".stripMargin
  }

  // ----------------------------- q269: Laspeyres/Paasche/Fisher price index

  /** q269: the classical price-index triple between consecutive years
    * (Laspeyres base-weighted, Paasche current-weighted, Fisher their
    * geometric mean — the "ideal" index): per (part, year) unit prices are
    * exact integer cents-per-unit (cent sums DIV unit sums), the basket
    * joins on parts present in BOTH years, and the two index ratios are
    * e6 truncating divisions of DECIMAL(38,0) Σp·q sums. Fisher is the one
    * IEEE sqrt of their exact product — the only float in the panel.
    * The year-over-year revenue bridge (q175) decomposes a CHANGE;
    * these indices price a constant basket, which is why both exist.
    *
    * Plan: one fact pass to the (part, year) grain, a consecutive-year
    * self-join on the part key, |years| output rows.
    */
  val q269PriceIndex: Q = (s, dir) => {
    val py = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), year(col("l_shipdate")).as("yr"))
      .agg(expr("""CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
                  | DIV SUM(CAST(ROUND(l_quantity*100) AS BIGINT) DIV 100)
                  | AS BIGINT)""".stripMargin).as("p"),
        expr("CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT) DIV 100) AS BIGINT)")
          .as("q"))
    val a = py.select(col("l_partkey"), col("yr"), col("p").as("p0"),
      col("q").as("q0"))
    val b = py.select(col("l_partkey"), (col("yr") - 1).as("yr"),
      col("p").as("p1"), col("q").as("q1"))
    a.join(b, Seq("l_partkey", "yr"))
      .groupBy(col("yr").as("base_year"))
      .agg(count(lit(1)).as("n_parts"),
        sum(expr(s"CAST(p1 AS $dec) * q0")).as("l_num"),
        sum(expr(s"CAST(p0 AS $dec) * q0")).as("l_den"),
        sum(expr(s"CAST(p1 AS $dec) * q1")).as("p_num"),
        sum(expr(s"CAST(p0 AS $dec) * q1")).as("p_den"))
      .select(col("base_year"), col("n_parts"),
        expr("CAST(l_num * 1000000 DIV l_den AS BIGINT)").as("laspeyres_e6"),
        expr("CAST(p_num * 1000000 DIV p_den AS BIGINT)").as("paasche_e6"))
      .withColumn("fisher_e6",
        sqrt(col("laspeyres_e6").cast("double") * col("paasche_e6")))
      .orderBy(col("base_year"))
  }

  val q269Sql: String =
    """WITH py AS (
      |  SELECT l_partkey, year(l_shipdate) AS yr,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
      |      // SUM(CAST(ROUND(l_quantity*100) AS BIGINT) // 100) AS BIGINT)
      |      AS p,
      |    CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT) // 100) AS BIGINT)
      |      AS q
      |  FROM lineitem GROUP BY 1, 2),
      |j AS (
      |  SELECT a.yr AS base_year, a.p AS p0, a.q AS q0, b.p AS p1, b.q AS q1
      |  FROM py a JOIN py b
      |    ON a.l_partkey = b.l_partkey AND b.yr = a.yr + 1),
      |agg AS (
      |  SELECT base_year, COUNT(*) AS n_parts,
      |    SUM(CAST(p1 AS HUGEINT) * q0) AS l_num,
      |    SUM(CAST(p0 AS HUGEINT) * q0) AS l_den,
      |    SUM(CAST(p1 AS HUGEINT) * q1) AS p_num,
      |    SUM(CAST(p0 AS HUGEINT) * q1) AS p_den
      |  FROM j GROUP BY base_year)
      |SELECT base_year, CAST(n_parts AS BIGINT) AS n_parts,
      |  CAST(l_num * 1000000 // l_den AS BIGINT) AS laspeyres_e6,
      |  CAST(p_num * 1000000 // p_den AS BIGINT) AS paasche_e6,
      |  sqrt(CAST(CAST(l_num * 1000000 // l_den AS BIGINT) AS DOUBLE)
      |    * CAST(p_num * 1000000 // p_den AS BIGINT)) AS fisher_e6
      |FROM agg ORDER BY base_year""".stripMargin

  // ----------------------------- q270: autocorrelation function

  /** Largest lag (days) in the ACF panel. */
  private val AcfMaxLag = 7

  /** q270: the autocorrelation function of daily revenue at lags 1..7 —
    * the series-memory diagnostic behind q121's weekday seasonality and
    * q167's decomposition (a weekly cycle shows as an ACF peak at lag 7).
    * Each lag's Pearson correlation comes from exact DECIMAL(38,0)
    * co-moments over the observed-day pairs (the non-centered cross-sum
    * formula — no float accumulations, so the sums are partition-order
    * free), and the correlation is the single shared IEEE expression of
    * those integers, e6-rounded on output (above 2^53 DuckDB's
    * integer→double cast is not correctly rounded, so raw doubles differ
    * in terminal ULPs). Lag pairing joins the DAY ROLLUP to
    * itself shifted by the exploded lag — metadata-scale at any corpus
    * size; days without sales simply form no pair (documented: ACF over
    * the observed-day series).
    */
  val q270Acf: Q = (s, dir) => {
    val d = Tables.lineitem(s, dir)
      .groupBy(expr("unix_timestamp(l_shipdate) DIV 86400").as("day"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev"))
    val lagged = d.select(col("day"), col("rev").as("x"))
      .crossJoin(lagFrame(s))
      .join(d.select(col("day").as("day2"), col("rev").as("y")),
        col("day2") === col("day") + col("lag"))
    lagged.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(expr(s"CAST(x AS $dec) * x")).as("sxx"),
        sum(expr(s"CAST(y AS $dec) * y")).as("syy"),
        sum(expr(s"CAST(x AS $dec) * y")).as("sxy"))
      .select(col("lag"), col("n").as("n_pairs"),
        // e6-rounded: the co-moments exceed 2^53, and DuckDB's
        // HUGEINT→double cast is not correctly rounded, so the raw double
        // correlations differ in their last ULPs across engines; the e6
        // quantum is 10 orders above that noise
        round(((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))) *
          1000000d), 0).cast("long")
          .as("acf_e6"))
      .orderBy(col("lag"))
  }

  /** The 1..AcfMaxLag lag column as a one-row-per-lag literal frame. */
  private def lagFrame(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (1 to AcfMaxLag).map(_.toLong).toDF("lag")
  }

  val q270Sql: String =
    s"""WITH d AS (
       |  SELECT CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400 AS day,
       |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS rev
       |  FROM lineitem GROUP BY 1),
       |lags AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag),
       |p AS (
       |  SELECT lag, a.rev AS x, b.rev AS y
       |  FROM d a CROSS JOIN lags JOIN d b ON b.day = a.day + lag),
       |m AS (
       |  SELECT lag, COUNT(*) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM p GROUP BY lag)
       |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
       |  CAST(ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000)
       |    AS BIGINT) AS acf_e6
       |FROM m ORDER BY lag""".stripMargin

  // ------------------------------------------- q275: t-closeness audit

  /** q275: t-closeness — the third leg of the publish-an-extract privacy
    * trio (k-anonymity q181 guards group SIZE, l-diversity q255 guards
    * sensitive-value VARIETY; t-closeness guards the sensitive-value
    * DISTRIBUTION: a group can hold 3 distinct segments and still leak if
    * 98% of it is one segment the population holds at 20%). Per q181's
    * quasi-identifier groups (nation, balance band), the distance between
    * the group's market-segment distribution and the global one is the
    * variational distance ½·Σ_s |p_g(s) − p(s)| — the categorical EMD —
    * computed on the common denominator n_g·N so every term is an exact
    * integer: tvd_e6 = 10⁶·Σ_s |n_gs·N − N_s·n_g| DIV (2·n_g·N).
    *
    * Zero cells matter (an ABSENT segment contributes N_s·n_g), so groups
    * cross-join the 5-row segment rollup before the left join onto the
    * observed counts — fan-out is |groups|·|segments|, never corpus rows.
    */
  val q275TCloseness: Q = (s, dir) => {
    val rowsQ = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        expr("(CAST(ROUND(c_acctbal*100) AS BIGINT) + 100000) div 100000")
          .as("bal_band"),
        col("c_mktsegment").as("seg"))
    // ONE corpus pass: the (QI, seg) cell rollup is checkpointed and every
    // marginal (group sizes, segment totals, N) folds from it
    val cells = rowsQ.groupBy(col("c_nationkey"), col("bal_band"), col("seg"))
      .agg(count(lit(1)).as("n_gs"))
      .localCheckpoint()
    val groups = cells.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("n_gs")).as("n_g"))
    val segs = cells.groupBy(col("seg")).agg(sum(col("n_gs")).as("n_s"))
    val total = cells.agg(sum(col("n_gs")).as("n_all"))
    groups.crossJoin(broadcast(segs)).crossJoin(broadcast(total))
      .join(cells, Seq("c_nationkey", "bal_band", "seg"), "left")
      .select(col("c_nationkey"), col("bal_band"), col("n_g"), col("n_all"),
        abs(coalesce(col("n_gs"), lit(0L)).cast(dec) * col("n_all") -
          col("n_s").cast(dec) * col("n_g")).as("dev"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(max(col("n_g")).as("n_g"), max(col("n_all")).as("n_all"),
        sum(col("dev")).as("dev_sum"))
      .select(col("c_nationkey"), col("bal_band"),
        col("n_g").cast("long").as("n_g"),
        expr("""CAST(CAST(dev_sum AS DECIMAL(38,0)) * 1000000
                | DIV (2 * CAST(n_g AS DECIMAL(38,0)) * n_all)
                | AS BIGINT)""".stripMargin).as("tvd_e6"))
      .withColumn("t_breach", (col("tvd_e6") > 200000L).cast("int"))
      .orderBy(col("c_nationkey"), col("bal_band"))
  }

  val q275Sql: String =
    """WITH qi AS (
      |  SELECT c_nationkey,
      |    (CAST(ROUND(c_acctbal*100) AS BIGINT) + 100000) // 100000
      |      AS bal_band,
      |    c_mktsegment AS seg
      |  FROM customer),
      |cells AS (
      |  SELECT c_nationkey, bal_band, seg, COUNT(*) AS n_gs
      |  FROM qi GROUP BY c_nationkey, bal_band, seg),
      |groups AS (
      |  SELECT c_nationkey, bal_band, CAST(SUM(n_gs) AS BIGINT) AS n_g
      |  FROM cells GROUP BY c_nationkey, bal_band),
      |segs AS (SELECT seg, COUNT(*) AS n_s FROM qi GROUP BY seg),
      |total AS (SELECT COUNT(*) AS n_all FROM qi),
      |dev AS (
      |  SELECT g.c_nationkey, g.bal_band, g.n_g, n_all,
      |    ABS(CAST(COALESCE(c.n_gs, 0) AS HUGEINT) * n_all
      |        - CAST(s.n_s AS HUGEINT) * g.n_g) AS dev
      |  FROM groups g
      |  CROSS JOIN segs s
      |  CROSS JOIN total
      |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
      |    AND c.bal_band = g.bal_band AND c.seg = s.seg),
      |roll AS (
      |  SELECT c_nationkey, bal_band, MAX(n_g) AS n_g, MAX(n_all) AS n_all,
      |    SUM(dev) AS dev_sum
      |  FROM dev GROUP BY c_nationkey, bal_band)
      |SELECT c_nationkey, bal_band, CAST(n_g AS BIGINT) AS n_g,
      |  CAST(dev_sum * 1000000 // (2 * CAST(n_g AS HUGEINT) * n_all)
      |    AS BIGINT) AS tvd_e6,
      |  CAST(CASE WHEN dev_sum * 1000000
      |      // (2 * CAST(n_g AS HUGEINT) * n_all) > 200000
      |    THEN 1 ELSE 0 END AS INT) AS t_breach
      |FROM roll
      |ORDER BY c_nationkey, bal_band""".stripMargin

  // ------------------------------------------- q281: Theil decomposition

  /** q281: Theil-T inequality of supplier revenue, decomposed into
    * between-nation and within-nation components — the concentration
    * report q160's Gini cannot give (Gini does not decompose additively;
    * Theil does: T = T_between + T_within exactly, so a sourcing team sees
    * WHERE the concentration lives). Base-2 via the portable e6 log2, so
    * the panel reads in bits:
    *
    *   T        = Σ_i x_i·(log2 x_i + log2 N − log2 X) / X
    *   T_betw   = Σ_g X_g·(log2 X_g + log2 N − log2 X − log2 N_g) / X
    *   T_within = Σ_i x_i·(log2 x_i + log2 N_g − log2 X_g) / X
    *
    * Individual terms go negative (below-mean suppliers), so all three
    * final divisions are sign-factored; the additive identity holds to LUT
    * quantization (~0.006 bits/log — QueriesSpec pins the gap).
    *
    * Plan: one lineitem pass to the supplier revenue rollup (nation rides
    * the broadcast supplier dim), nation rollup + scalars fold from it,
    * one term pass over |suppliers| rows.
    */
  val q281TheilDecomposition: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("c"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val rev = li.groupBy(col("l_suppkey")).agg(sum(col("c")).as("x"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey").as("supp"), col("s_nationkey").as("nat"), col("x"))
      .localCheckpoint()
    val byNat = rev.groupBy(col("nat"))
      .agg(sum(col("x")).as("x_g"), count(lit(1)).as("n_g"))
    val scal = byNat.agg(sum(col("x_g")).as("x_all"),
      sum(col("n_g")).as("n_all"), count(lit(1)).as("k_nations"))
    val terms = rev.join(broadcast(byNat), Seq("nat"))
      .crossJoin(broadcast(scal))
      .select(col("nat"), col("x"), col("x_g"), col("n_g"),
        col("x_all"), col("n_all"), col("k_nations"),
        (col("x").cast(dec) *
          (expr(l2("x")) + expr(l2("n_all")) - expr(l2("x_all"))))
          .as("t_tot"),
        (col("x").cast(dec) *
          (expr(l2("x")) + expr(l2("n_g")) - expr(l2("x_g"))))
          .as("t_win"))
    val natTerms = byNat.crossJoin(broadcast(scal))
      .select(col("k_nations"),
        (col("x_g").cast(dec) *
          (expr(l2("x_g")) + expr(l2("n_all")) -
            expr(l2("x_all")) - expr(l2("n_g")))).as("t_btw"))
      .agg(max(col("k_nations")).as("k_nations"),
        sum(col("t_btw")).as("btw_num"))
    terms
      .agg(count(lit(1)).as("n_suppliers"), max(col("x_all")).as("x_all"),
        sum(col("t_tot")).as("tot_num"), sum(col("t_win")).as("win_num"))
      .crossJoin(broadcast(natTerms))
      .select(col("n_suppliers"), col("k_nations"),
        expr(sdivBigint("tot_num", "x_all")).as("t_total_e6"),
        expr(sdivBigint("btw_num", "x_all")).as("t_between_e6"),
        expr(sdivBigint("win_num", "x_all")).as("t_within_e6"))
  }

  val q281Sql: String = {
    s"""WITH rev AS (
       |  SELECT l_suppkey AS supp, s_nationkey AS nat,
       |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
       |      AS x
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY l_suppkey, s_nationkey),
       |by_nat AS (
       |  SELECT nat, CAST(SUM(x) AS BIGINT) AS x_g, COUNT(*) AS n_g
       |  FROM rev GROUP BY nat),
       |scal AS (
       |  SELECT CAST(SUM(x_g) AS BIGINT) AS x_all,
       |    CAST(SUM(n_g) AS BIGINT) AS n_all, COUNT(*) AS k_nations
       |  FROM by_nat),
       |terms AS (
       |  SELECT x_all,
       |    CAST(x AS HUGEINT) *
       |      (${duckL2("x")} + ${duckL2("n_all")} - ${duckL2("x_all")}) AS t_tot,
       |    CAST(x AS HUGEINT) *
       |      (${duckL2("x")} + ${duckL2("n_g")} - ${duckL2("x_g")}) AS t_win
       |  FROM rev JOIN by_nat USING (nat) CROSS JOIN scal),
       |nat_terms AS (
       |  SELECT MAX(k_nations) AS k_nations,
       |    SUM(CAST(x_g AS HUGEINT) *
       |      (${duckL2("x_g")} + ${duckL2("n_all")} - ${duckL2("x_all")} - ${duckL2("n_g")}))
       |      AS btw_num
       |  FROM by_nat CROSS JOIN scal),
       |agg AS (
       |  SELECT COUNT(*) AS n_suppliers, MAX(x_all) AS x_all,
       |    SUM(t_tot) AS tot_num, SUM(t_win) AS win_num
       |  FROM terms)
       |SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
       |  CAST(k_nations AS BIGINT) AS k_nations,
       |  ${duckSdivBigint("tot_num", "x_all")} AS t_total_e6,
       |  ${duckSdivBigint("btw_num", "x_all")} AS t_between_e6,
       |  ${duckSdivBigint("win_num", "x_all")} AS t_within_e6
       |FROM agg CROSS JOIN nat_terms""".stripMargin
  }

  // ------------------------------------------- q305: grouped exact mode

  /** q305: exact MODE per group — the most-frequent-value aggregate (SQL's
    * MODE() WITHIN GROUP), which Spark lacks natively: the modal order
    * priority per market segment, with a deterministic lowest-value
    * tiebreak. The scale shape is the standard two-stage rollup: value
    * counts first (map-side combinable), then a struct-min argmax over the
    * (group, value) rollup — no window over corpus rows, no collect. The
    * modal share floors once at e6.
    */
  val q305GroupedMode: Q = (s, dir) => {
    val joined = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("v"))
    val counts = joined.groupBy(col("segment"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("segment"))
      .agg(min(struct((-col("cnt")).as("negc"), col("v").as("v"))).as("best"),
        sum(col("cnt")).as("n_total"))
      .select(col("segment"), col("best.v").as("mode_value"),
        (-col("best.negc")).as("mode_count"), col("n_total"),
        expr(fdiv("(-best.negc) * 1000000", "n_total")).cast("long")
          .as("share_e6"))
      .orderBy(col("segment"))
  }

  val q305Sql: String =
    """WITH j AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |counts AS (
      |  SELECT segment, v, COUNT(*) AS cnt FROM j GROUP BY segment, v),
      |ranked AS (
      |  SELECT segment, v, cnt,
      |    SUM(cnt) OVER (PARTITION BY segment) AS n_total,
      |    ROW_NUMBER() OVER (PARTITION BY segment
      |      ORDER BY cnt DESC, v) AS rk
      |  FROM counts)
      |SELECT segment, v AS mode_value, CAST(cnt AS BIGINT) AS mode_count,
      |  CAST(n_total AS BIGINT) AS n_total,
      |  CAST(cnt * 1000000 // n_total AS BIGINT) AS share_e6
      |FROM ranked WHERE rk = 1 ORDER BY segment""".stripMargin

  // ----------------------- q321: PACF via unrolled Durbin-Levinson

  /** Lags the PACF recursion unrolls to. */
  private val PacfMaxLag = 5

  /** Symbolic Durbin–Levinson unroll shared by both engines: returns
    * (column, expression) steps in dependency order, over e6-integer
    * autocorrelations r1..rK and previously emitted φ columns. Every
    * division routes through the TRUNCATE-TOWARD-ZERO spelling
    * sign·(|n| div |d|), the one integer-division semantics both engines
    * can express identically for arbitrary operand signs.
    */
  private def dlSteps(maxLag: Int, div: (String, String) => String)
    : Seq[(String, String)] = {
    def mulE6(a: String, b: String) = div(s"($a) * ($b)", "1000000")
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    steps += (("p_1_1", "r1"))
    for (k <- 2 to maxLag) {
      val num = (1 until k).map(j => mulE6(s"p_${k - 1}_$j", s"r${k - j}"))
        .mkString(s"r$k - (", " + ", ")")
      val den = (1 until k).map(j => mulE6(s"p_${k - 1}_$j", s"r$j"))
        .mkString("1000000 - (", " + ", ")")
      steps += ((s"p_${k}_$k", div(s"($num) * 1000000", den)))
      for (j <- 1 until k)
        steps += ((s"p_${k}_$j",
          s"p_${k - 1}_$j - ${mulE6(s"p_${k}_$k", s"p_${k - 1}_${k - j}")}"))
    }
    steps.toSeq
  }

  /** q321: partial autocorrelation — the AR-order identification companion
    * to q270's ACF (an AR(p) process has PACF ≈ 0 past lag p, where the
    * ACF only decays): the Durbin–Levinson recursion unrolled to lag
    * [[PacfMaxLag]] as a symbolic expression chain over q270's e6
    * autocorrelations. The recursion's divisions are each the
    * sign·(|n| div |d|) truncating form — the only integer-division
    * spelling whose semantics both engines share for signed operands — so
    * every φ_kj is the same integer in both, and the PACF column is
    * exact. Defined (quantized) arithmetic, mirrored: each e6·e6 product
    * re-quantizes once.
    *
    * Plan: q270's lag rollup (the corpus work) → a 1-row pivoted scalar
    * frame → a pure expression chain (no further shuffle at all).
    */
  val q321Pacf: Q = (s, dir) => {
    // the ACF frame feeds the pivot AND the final join — checkpoint so
    // q270's corpus co-moment pass runs once
    val acf = q270Acf(s, dir).select(col("lag"), col("acf_e6"))
      .localCheckpoint()
    val base = acf.groupBy().pivot("lag", 1 to PacfMaxLag)
      .agg(first(col("acf_e6")))
      .select((1 to PacfMaxLag).map(k => col(k.toString).as(s"r$k")): _*)
    val chained = dlSteps(PacfMaxLag, sdivSignedDiv).foldLeft(base) {
      case (df, (name, e)) => df.withColumn(name, expr(e))
    }
    val stacked = chained.select(explode(array(
      (1 to PacfMaxLag).map(k =>
        struct(lit(k.toLong).as("lag"),
          col(s"p_${k}_$k").cast("long").as("pacf_e6"))): _*)).as("s"))
      .select(col("s.lag"), col("s.pacf_e6"))
    stacked.join(acf, Seq("lag")).select(col("lag"), col("acf_e6"),
      col("pacf_e6")).orderBy(col("lag"))
  }

  val q321Sql: String = {
    val steps = dlSteps(PacfMaxLag, duckSdivSigned)
    val chain = steps.zipWithIndex.map { case ((name, e), i) =>
      s"s$i AS (SELECT *, $e AS $name FROM ${if (i == 0) "base" else s"s${i - 1}"})"
    }.mkString(",\n")
    val last = s"s${steps.size - 1}"
    val rows = (1 to PacfMaxLag)
      .map(k => s"SELECT $k AS lag, p_${k}_$k AS pacf_e6 FROM $last")
      .mkString(" UNION ALL ")
    s"""WITH acf AS (SELECT lag, acf_e6 FROM ($q270Sql) qa),
       |base AS (
       |  SELECT ${(1 to PacfMaxLag).map(k =>
            s"MAX(CASE WHEN lag = $k THEN acf_e6 END) AS r$k").mkString(", ")}
       |  FROM acf),
       |$chain,
       |stacked AS ($rows)
       |SELECT stacked.lag AS lag, acf_e6, CAST(pacf_e6 AS BIGINT) AS pacf_e6
       |FROM stacked JOIN acf ON stacked.lag = acf.lag
       |ORDER BY stacked.lag""".stripMargin
  }

  // ------------------- q309-q314: remaining distinctive TPC-H shapes

  /** q309: TPC-H Q13 shape — the distribution of orders-per-customer
    * (including zero-order customers), the "histogram of a histogram"
    * reporting staple. Two stacked rollups: customer LEFT JOIN orders →
    * per-customer count (the corpus shuffle), then the count-of-counts
    * (metadata-sized). The left join is what makes it Q13: an inner join
    * silently drops the c_count = 0 bar.
    */
  val q309CustDist: Q = (s, dir) => {
    val perCust = Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q309Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q310: TPC-H Q9 shape — product-line profit by supplier nation and
    * order year. The testdata has no partsupp, so cost is modeled as 80%
    * of the part's retail price per unit — the SHAPE is Q9's: a 5-table
    * join with a computed profit expression aggregated over two derived
    * dimensions. Exact integers: profit_e4 = ext_c·(100−disc_c) −
    * 80·qty·retail_c (both e4 money units), summed in DECIMAL(38,0).
    * Dims broadcast; the lineitem→orders join is the one corpus shuffle.
    */
  val q310ProfitMix: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val profit = (cents(col("l_extendedprice")) *
      (lit(100L) - cents(col("l_discount"))) -
      lit(80L) * expr("CAST(ROUND(l_quantity) AS BIGINT)") *
        cents(col("p_retailprice"))).as("profit_e4")
    li.join(broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"), col("o_year"), profit)
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(col("profit_e4").cast("decimal(38,0)")).cast("long")
        .as("profit_e4"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q310Sql: String =
    """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS HUGEINT)
      |      * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
      |    - 80 * CAST(ROUND(l_quantity) AS HUGEINT)
      |      * CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT)
      |    AS profit_e4
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2 DESC""".stripMargin

  /** q311: TPC-H Q3 shape — shipping-priority top 10: revenue of
    * still-unshipped lineitems (ordered before the cutoff, shipped after)
    * for one market segment. Segment and the two date predicates push to
    * the scans; the top-10 is TakeOrdered, never a global sort.
    */
  val q311ShippingPriority: Q = (s, dir) => {
    val cut = lit("1998-06-01").cast("timestamp")
    val rev = (cents(col("l_extendedprice")) *
      (lit(100L) - cents(col("l_discount")))).as("rev_e4")
    Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
      .join(Tables.orders(s, dir).filter(col("o_orderdate") < cut),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"), rev)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_e4").cast("decimal(38,0)")).cast("long").as("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q311Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS HUGEINT)
      |    * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
      |    AS revenue_e4
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue_e4 DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** q312: TPC-H Q16 shape — supplier diversity per (brand, type, size
    * band): how many DISTINCT suppliers can furnish each part class,
    * excluding one brand and excluding flagged suppliers via NOT IN (the
    * testdata's negative-balance suppliers standing in for Q16's
    * complaint-comment filter). The anti-subquery stays an anti-join;
    * supplier keys arrive distinct-reduced before the count.
    */
  val q312SupplierDiversity: Q = (s, dir) => {
    val flagged = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("bad_key"))
    val pt = Tables.part(s, dir)
      .filter(col("p_brand") =!= "BRAND_0" && col("p_size") <= 25)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("bad_key"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q312Sql: String =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'BRAND_0' AND p_size <= 25
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Quantity threshold for q313's large-volume orders. */
  val Q18QtyThreshold = 150L

  /** q313: TPC-H Q18 shape — large-volume customers: orders whose total
    * quantity clears a threshold, joined back to the customer. The HAVING
    * subquery runs as one rollup; the order/customer joins touch only the
    * few surviving keys (the rollup filter is the reducer — Q18's whole
    * point). Integer quantity units end to end.
    */
  val q313LargeVolume: Q = (s, dir) => {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(expr("CAST(ROUND(l_quantity) AS BIGINT)")).as("total_qty"))
      .filter(col("total_qty") >= Q18QtyThreshold)
    big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), cents(col("o_totalprice")).as("totalprice_c"),
        col("total_qty"))
      .orderBy(col("totalprice_c").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(20)
  }

  val q313Sql: String =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_c,
       |  total_qty
       |FROM (
       |  SELECT l_orderkey,
       |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) >= $Q18QtyThreshold) big
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY totalprice_c DESC, o_orderdate, o_orderkey
       |LIMIT 20""".stripMargin

  /** q314: TPC-H Q2 shape — minimum-cost supplier per part in one region.
    * No partsupp table here, so supply cost is the observed floor unit
    * price (⌊100·ext_c/qty⌋, exact defined arithmetic) per (part,
    * supplier) from lineitem; the correlated MIN runs as a struct-min
    * argmin per part (one rollup — no correlated re-scan), region
    * suppliers broadcast, and the report orders by supplier balance like
    * Q2. Top 20 for a bounded report.
    */
  val q314MinCostSupplier: Q = (s, dir) => {
    val supEurope = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val unit = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("""CAST((100 * CAST(ROUND(l_extendedprice*100) AS DECIMAL(38,0)))
                | div CAST(ROUND(l_quantity) AS BIGINT) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("unit_c2"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_c2")).as("min_unit_c2"))
    unit.join(broadcast(supEurope), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("min_unit_c2").as("u"), col("s_suppkey").as("k"),
        col("s_name").as("nm"), col("s_acctbal").as("bal"),
        col("n_name").as("nat"))).as("best"))
      .select(col("l_partkey").as("p_partkey"), col("best.u").as("unit_c2"),
        col("best.nm").as("s_name"), col("best.nat").as("nation"),
        cents(col("best.bal")).as("s_acctbal_c"))
      .orderBy(col("s_acctbal_c").desc, col("p_partkey"))
      .limit(20)
  }

  val q314Sql: String =
    """WITH sup_eu AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |unit AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(100 * CAST(ROUND(l_extendedprice*100) AS HUGEINT)
      |      // CAST(ROUND(l_quantity) AS BIGINT) AS BIGINT)) AS min_unit_c2
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |ranked AS (
      |  SELECT l_partkey, min_unit_c2, s_suppkey, s_name, s_acctbal, n_name,
      |    ROW_NUMBER() OVER (PARTITION BY l_partkey
      |      ORDER BY min_unit_c2, s_suppkey) AS rk
      |  FROM unit JOIN sup_eu ON l_suppkey = s_suppkey)
      |SELECT l_partkey AS p_partkey, min_unit_c2 AS unit_c2, s_name,
      |  n_name AS nation,
      |  CAST(ROUND(s_acctbal*100) AS BIGINT) AS s_acctbal_c
      |FROM ranked WHERE rk = 1
      |ORDER BY s_acctbal_c DESC, p_partkey
      |LIMIT 20""".stripMargin

  // ------------------------- q484: AMS tug-of-war F2 sketch with audit

  /** Number of independent AMS estimators; odd so the median is a single
    * rank pick, no mean (means would need a floor; the median of squares
    * is already an exact integer).
    */
  val AmsK = 15

  /** q484: the AMS "tug-of-war" sketch for F₂ (the second frequency
    * moment, Alon–Matias–Szegedy 1996) — the fifth member of the
    * mergeable-sketch suite (HLL NDV q09, count-min q149, bottom-k q91,
    * Misra–Gries q138): F₂ = Σ f_v² drives self-join size estimation and
    * skew detection, and the exact computation needs a full per-key
    * rollup, while the sketch is [[AmsK]] RUNNING SUMS. Estimator j keeps
    * Z_j = Σ_rows s_j(key) where s_j(key) = ±1 is bit j of the portable
    * md5 hash — E[Z²] = F₂ exactly — and the estimate is the median of
    * the Z_j². Everything is integer (signs, sums, squares, a 15-row
    * rank-target median), so even the ESTIMATE passes the exact-compare
    * gate, and the output pins the sketch against the exact F₂ with a
    * per-mille error column. Z_j merges by addition across partitions /
    * days — the same rollup algebra as q101's HLL registers.
    *
    * Plan: ONE fact pass for all 15 sums (map-side partials, a 15-long
    * shuffle row), one (partkey) rollup for the exact audit (a production
    * run at 100 TB drops it), a 15-row metadata median.
    */
  val q484AmsF2: Q = (s, dir) => {
    val h = graft.functions.Text.portableHash(
      col("l_partkey").cast("string"))
    val li = Tables.lineitem(s, dir).select(h.as("h"))
    val sums = li.agg(count(lit(1)).as("n_rows"),
      (0 until AmsK).map(j =>
        sum(lit(1L) - lit(2L) * (shiftright(col("h"), j) % 2))
          .as(s"z$j")): _*)
    val stackExpr = (0 until AmsK)
      .map(j => s"CAST(z$j AS BIGINT) * z$j").mkString(", ")
    val ests = sums.selectExpr("n_rows",
      s"stack($AmsK, $stackExpr) AS est")
    val medEst = ests
      .withColumn("rk", row_number().over(Window.orderBy(col("est"))))
      .filter(col("rk") === (AmsK + 1) / 2)
      .select(col("n_rows"), col("est").as("est_f2"))
    val exact = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("exact_f2"))
    medEst.crossJoin(broadcast(exact))
      .select(col("n_rows"), col("exact_f2"), col("est_f2"),
        expr("abs(est_f2 - exact_f2) * 1000 DIV exact_f2").as("err_pm"))
  }

  val q484Sql: String = {
    val zDefs = (0 until AmsK).map(j =>
      s"""CAST(SUM(1 - 2 * ((CAST(concat('0x', substr(md5(
         |CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) >> $j) & 1))
         | AS BIGINT) AS z$j""".stripMargin.replace("\n", " "))
      .mkString(",\n      |    ")
    val estRows = (0 until AmsK).map(j =>
      s"SELECT CAST(z$j AS HUGEINT) * z$j AS est FROM sums")
      .mkString("\n      |  UNION ALL ")
    s"""WITH sums AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    $zDefs
      |  FROM lineitem),
      |ests AS (
      |  $estRows),
      |med AS (
      |  SELECT CAST(est AS BIGINT) AS est_f2 FROM (
      |    SELECT est, ROW_NUMBER() OVER (ORDER BY est) AS rk FROM ests)
      |  WHERE rk = ${(AmsK + 1) / 2}),
      |exact AS (
      |  SELECT CAST(SUM(CAST(f AS HUGEINT) * f) AS BIGINT) AS exact_f2
      |  FROM (SELECT COUNT(*) AS f FROM lineitem GROUP BY l_partkey))
      |SELECT n_rows, exact_f2, est_f2,
      |  CAST(ABS(est_f2 - exact_f2) * 1000 // exact_f2 AS BIGINT)
      |    AS err_pm
      |FROM sums CROSS JOIN med CROSS JOIN exact""".stripMargin
  }

  // ----------------- q508: histogram bin-width advisor (FD/Scott/Sturges)

  /** q508: the histogram DESIGN advisor — q290's sketch takes its 256
    * buckets on faith; this computes what the three classical rules
    * actually prescribe for the order-value distribution: Freedman–
    * Diaconis (2·IQR·n^(−1/3), outlier-robust), Scott (3.49·σ·n^(−1/3),
    * variance-based) and Sturges (⌈log₂n⌉+1 bins, small-n). The cube
    * root rides the NEW exp2/log2 LUT pair (n^(1/3) = 2^(log₂n/3) — the
    * first consumer of exp2e6 outside mixing), σ is one bit-portable
    * FLOOR(SQRT(·)) of the exact integer variance, the IQR reads off
    * two rank-target selections on the house two-level device, and
    * every derived width/bin-count is an exact integer division — so
    * the advisor's recommendation is bit-identical in both engines.
    *
    * Plan: one orders pass → value rollup (checkpointed) → rank
    * targets + 1-row moment fold.
    */
  val q508BinAdvisor: Q = (s, dir) => {
    import graft.functions.Text
    val o = Tables.orders(s, dir).select(cents(col("o_totalprice")).as("c"))
    val byV = o.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val mom = byV.agg(sum(col("cnt")).cast(dec).as("n"),
      sum(col("c").cast(dec) * col("cnt")).as("sx"),
      sum(col("c").cast(dec) * col("c") * col("cnt")).as("sxx"),
      min(col("c")).as("mn"), max(col("c")).as("mx"))
    val ranked = AuditQueries.doubledRankBelow(byV, Seq.empty, "c", 100000L)
      .crossJoin(broadcast(mom.select(col("n").cast("long").as("nn"))))
      .localCheckpoint()
    val q25 = ranked.filter(col("below") + col("cnt") >=
      expr("(nn + 3) div 4")).agg(min(col("c")).as("p25"))
    val q75 = ranked.filter(col("below") + col("cnt") >=
      expr("(3 * nn + 3) div 4")).agg(min(col("c")).as("p75"))
    mom.crossJoin(broadcast(q25)).crossJoin(broadcast(q75))
      .withColumn("iqr", col("p75") - col("p25"))
      .withColumn("cbrt_n", expr(Text.exp2e6SparkSql(
        s"CAST((${Text.log2e6SparkSql("CAST(n AS BIGINT)")}) div 3" +
          " AS BIGINT)")))
      .withColumn("sigma", expr(
        "CAST(FLOOR(SQRT(CAST(" +
          fdiv("n * sxx - sx * sx", "n * n") + " AS DOUBLE))) AS BIGINT)"))
      .withColumn("w_fd", expr("CASE WHEN cbrt_n = 0 THEN NULL " +
        "ELSE (2 * iqr) div cbrt_n END"))
      .withColumn("w_scott", expr("CASE WHEN cbrt_n = 0 THEN NULL " +
        "ELSE (349 * sigma) div (100 * cbrt_n) END"))
      .select(col("n").cast("long").as("n_orders"),
        col("iqr").as("iqr_c"), col("sigma").as("sigma_c"),
        col("w_fd").as("w_fd_c"), col("w_scott").as("w_scott_c"),
        expr("CASE WHEN w_fd = 0 THEN NULL " +
          "ELSE (mx - mn + w_fd - 1) div w_fd END").as("bins_fd"),
        expr("CASE WHEN w_scott = 0 THEN NULL " +
          "ELSE (mx - mn + w_scott - 1) div w_scott END").as("bins_scott"),
        expr(s"1 + CAST((${Text.log2e6SparkSql("CAST(n AS BIGINT)")})" +
          " div 1000000 + CASE WHEN " +
          s"(${Text.log2e6SparkSql("CAST(n AS BIGINT)")}) % 1000000 > 0" +
          " THEN 1 ELSE 0 END AS BIGINT)").as("bins_sturges"))
  }

  val q508Sql: String = {
    import graft.functions.Text
    def e2(y: String) = Text.exp2e6DuckSql(y)
    s"""WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS c FROM orders),
      |by_v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM o GROUP BY c),
      |mom AS (
      |  SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
      |    CAST(SUM(CAST(c AS HUGEINT) * cnt) AS HUGEINT) AS sx,
      |    SUM(CAST(c AS HUGEINT) * c * cnt) AS sxx,
      |    MIN(c) AS mn, MAX(c) AS mx
      |  FROM by_v),
      |ranked AS (
      |  SELECT c, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below
      |  FROM by_v),
      |p25 AS (
      |  SELECT MIN(c) AS p25 FROM ranked CROSS JOIN mom
      |  WHERE below + cnt >= (CAST(n AS BIGINT) + 3) // 4),
      |p75 AS (
      |  SELECT MIN(c) AS p75 FROM ranked CROSS JOIN mom
      |  WHERE below + cnt >= (3 * CAST(n AS BIGINT) + 3) // 4),
      |staged AS (
      |  SELECT CAST(n AS BIGINT) AS n, mn, mx, p75 - p25 AS iqr,
      |    ${e2(s"CAST((${duckL2("CAST(n AS BIGINT)")}) // 3 AS BIGINT)")}
      |      AS cbrt_n,
      |    CAST(FLOOR(SQRT(CAST(CAST(
      |      (n * sxx - sx * sx) // (n * n) AS VARCHAR) AS DOUBLE)))
      |      AS BIGINT) AS sigma
      |  FROM mom CROSS JOIN p25 CROSS JOIN p75),
      |widths AS (
      |  SELECT n, mn, mx, iqr, sigma,
      |    CASE WHEN cbrt_n = 0 THEN NULL
      |      ELSE (2 * iqr) // cbrt_n END AS w_fd,
      |    CASE WHEN cbrt_n = 0 THEN NULL
      |      ELSE (349 * sigma) // (100 * cbrt_n) END AS w_scott
      |  FROM staged)
      |SELECT n AS n_orders, iqr AS iqr_c, sigma AS sigma_c,
      |  w_fd AS w_fd_c, w_scott AS w_scott_c,
      |  CASE WHEN w_fd = 0 THEN NULL
      |    ELSE (mx - mn + w_fd - 1) // w_fd END AS bins_fd,
      |  CASE WHEN w_scott = 0 THEN NULL
      |    ELSE (mx - mn + w_scott - 1) // w_scott END AS bins_scott,
      |  1 + CAST((${duckL2("n")}) // 1000000
      |    + CASE WHEN (${duckL2("n")}) % 1000000 > 0 THEN 1 ELSE 0 END
      |    AS BIGINT) AS bins_sturges
      |FROM widths""".stripMargin
  }

  // ------------- q567: ROLLUP / grouping-sets lattice with level markers

  /** q567: the GROUP BY ROLLUP lattice — (region, nation) detail, per-
    * region subtotals, and the grand total in ONE aggregation pass with
    * explicit level markers, the multidimensional-subtotal surface T-SQL
    * warehouses serve to reporting layers. Spark's rollup() emits the
    * lattice from a single shuffle (partial aggregation per grouping set);
    * the level derives from grouping_id(), the oracle derives the same
    * marker from the NULL pattern — bit-identical because the name
    * columns are never null at detail level. Subtotal-consistency (each
    * region row equals the sum of its nations, the grand row equals the
    * sum of regions) is pinned in the spec.
    */
  val q567RollupLattice: Q = (s, dir) => {
    val base = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
        cents(col("o_totalprice")).as("c"))
    base.rollup(col("r_name"), col("n_name"))
      .agg(sum(col("c")).as("revenue_c"), count(lit(1)).as("n_orders"),
        grouping_id().as("lvl"))
      .select(coalesce(col("r_name"), lit("~ALL")).as("region_name"),
        coalesce(col("n_name"), lit("~ALL")).as("nation_name"),
        col("lvl").cast("long").as("lvl"),
        col("revenue_c"), col("n_orders"))
      .orderBy(col("lvl"), col("region_name"), col("nation_name"))
  }

  val q567Sql: String =
    """WITH base AS (
      |  SELECT r_name, n_name,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey)
      |SELECT COALESCE(r_name, '~ALL') AS region_name,
      |  COALESCE(n_name, '~ALL') AS nation_name,
      |  CAST(CASE WHEN r_name IS NULL AND n_name IS NULL THEN 3
      |    WHEN n_name IS NULL THEN 1 ELSE 0 END AS BIGINT) AS lvl,
      |  CAST(SUM(c) AS BIGINT) AS revenue_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM base
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY lvl, region_name, nation_name""".stripMargin

  // ------------- q577: CUBE lattice (all four grouping combinations)

  /** q577: GROUP BY CUBE — the full 2ᵏ grouping lattice over
    * (returnflag, linestatus): detail cells, both one-way margins, and
    * the grand total in ONE pass, with the packed grouping_id as the
    * level marker (computed INSIDE the cube's agg — the q567 rule).
    * Completes the reporting family next to ROLLUP (q567), PIVOT (q568)
    * and UNPIVOT (q570); like q567's oracle, the level derives from the
    * key NULLs (both columns are NOT NULL in the schema, so the marker
    * is unambiguous). Spark executes the cube as one Expand + hash
    * aggregate — 4× the rollup rows map-side, still a single shuffle.
    */
  val q577CubeLattice: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("q_c"),
        cents(col("l_extendedprice")).as("rev_c"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_rows"),
        sum(col("q_c")).as("qty_c"),
        sum(col("rev_c").cast("decimal(38,0)")).cast("long").as("revenue_c"))
      .select(coalesce(col("l_returnflag"), lit("~ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("~ALL")).as("linestatus"),
        col("gid").cast("long").as("gid"), col("n_rows"), col("qty_c"),
        col("revenue_c"))
      .orderBy(col("gid"), col("returnflag"), col("linestatus"))
  }

  val q577Sql: String =
    """SELECT COALESCE(l_returnflag, '~ALL') AS returnflag,
      |  COALESCE(l_linestatus, '~ALL') AS linestatus,
      |  CAST(CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
      |    + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS gid,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
      |    AS qty_c,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |    AS revenue_c
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  // --------------------- q568: PIVOT (priority columns per order year)

  /** The fixed pivot-column domain (T-SQL PIVOT requires it too). */
  private val PivotPriorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** q568: PIVOT — order revenue per year spread across priority columns,
    * the crosstab shape T-SQL's PIVOT operator produces. Spark's
    * Dataset.pivot with an explicit value list compiles to ONE hash
    * aggregate with conditional sums (no extra shuffle per column); the
    * oracle spells the same conditional aggregation, the dialect-portable
    * form. A row-total column rides along so the spec can pin that the
    * pivot partitions each year's revenue exactly.
    */
  val q568PivotPriorities: Q = (s, dir) => {
    val base = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority").as("pri"), cents(col("o_totalprice")).as("c"))
    val cols = PivotPriorities.map(p =>
      "p" + p.charAt(0) + "_c")
    base.groupBy(col("yr")).pivot("pri", PivotPriorities).agg(sum(col("c")))
      .toDF(("yr" +: cols): _*)
      .na.fill(0L, cols)
      .withColumn("total_c", cols.map(col).reduce(_ + _))
      .orderBy(col("yr"))
  }

  val q568Sql: String = {
    val sums = PivotPriorities.map(p =>
      s"""CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '$p' THEN c END), 0)
         |    AS BIGINT) AS p${p.charAt(0)}_c""".stripMargin.replace("\n", " "))
      .mkString(",\n      |  ")
    s"""WITH base AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
       |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |  FROM orders)
       |SELECT yr,
       |  $sums,
       |  CAST(SUM(c) AS BIGINT) AS total_c
       |FROM base
       |GROUP BY yr
       |ORDER BY yr""".stripMargin
  }

  // ------------ q570: UNPIVOT round-trip (PIVOT∘UNPIVOT = identity)

  /** q570: UNPIVOT — the crosstab from q568's PIVOT folded back to rows
    * with one `stack` generator (T-SQL UNPIVOT's engine shape), then
    * certified against the direct (year, priority) rollup cell-for-cell.
    * The round-trip equality column IS the operator's correctness
    * argument: pivot and unpivot are mutual inverses on this data, so a
    * reporting layer can freely cross between shapes. Zero-revenue cells
    * surface as explicit zeros on the unpivot side and missing rows on
    * the direct side — the LEFT join + coalesce makes that edge exact.
    */
  val q570UnpivotRoundtrip: Q = (s, dir) => {
    val base = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_orderpriority").as("pri"), cents(col("o_totalprice")).as("c"))
    val cols = PivotPriorities.map(p => "p" + p.charAt(0) + "_c")
    val pivoted = base.groupBy(col("yr"))
      .pivot("pri", PivotPriorities).agg(sum(col("c")))
      .toDF(("yr" +: cols): _*)
      .na.fill(0L, cols)
    val stackArgs = PivotPriorities.zip(cols)
      .map { case (p, c) => s"'$p', $c" }.mkString(", ")
    val unpivoted = pivoted.selectExpr("yr",
      s"stack(${PivotPriorities.size}, $stackArgs) AS (pri, revenue_unpiv_c)")
    val direct = base.groupBy(col("yr").as("yr2"), col("pri").as("pri2"))
      .agg(sum(col("c")).as("revenue_direct_c"))
    unpivoted.join(direct,
      col("yr") === col("yr2") && col("pri") === col("pri2"), "left")
      .select(col("yr"), col("pri").as("priority"),
        col("revenue_unpiv_c"),
        coalesce(col("revenue_direct_c"), lit(0L)).as("revenue_direct_c"))
      .withColumn("roundtrip_ok",
        (col("revenue_unpiv_c") === col("revenue_direct_c")).cast("long"))
      .orderBy(col("yr"), col("priority"))
  }

  val q570Sql: String = {
    val branches = PivotPriorities.map(p =>
      s"""SELECT yr, '$p' AS pri,
         |  CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '$p' THEN c END),
         |    0) AS BIGINT) AS revenue_unpiv_c
         |FROM base GROUP BY yr""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
       |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
       |  FROM orders),
       |unpiv AS (
       |$branches),
       |direct AS (
       |  SELECT yr, o_orderpriority AS pri, SUM(c) AS revenue_direct_c
       |  FROM base GROUP BY 1, 2)
       |SELECT u.yr, u.pri AS priority,
       |  CAST(u.revenue_unpiv_c AS BIGINT) AS revenue_unpiv_c,
       |  CAST(COALESCE(d.revenue_direct_c, 0) AS BIGINT)
       |    AS revenue_direct_c,
       |  CAST(CASE WHEN u.revenue_unpiv_c = COALESCE(d.revenue_direct_c, 0)
       |    THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok
       |FROM unpiv u LEFT JOIN direct d ON u.yr = d.yr AND u.pri = d.pri
       |ORDER BY u.yr, priority""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q570_unpivot_roundtrip" -> q570UnpivotRoundtrip,
    "q567_rollup_lattice" -> q567RollupLattice,
    "q577_cube_lattice" -> q577CubeLattice,
    "q568_pivot_priorities" -> q568PivotPriorities,
    "q508_bin_advisor" -> q508BinAdvisor,
    "q484_ams_f2" -> q484AmsF2,
    "q321_pacf" -> q321Pacf,
    "q309_custdist" -> q309CustDist,
    "q310_profit_mix" -> q310ProfitMix,
    "q311_shipping_priority" -> q311ShippingPriority,
    "q312_supplier_diversity" -> q312SupplierDiversity,
    "q313_large_volume" -> q313LargeVolume,
    "q314_mincost_supplier" -> q314MinCostSupplier,
    "q305_grouped_mode" -> q305GroupedMode,
    "q281_theil_decomposition" -> q281TheilDecomposition,
    "q275_t_closeness" -> q275TCloseness,
    "q269_price_index" -> q269PriceIndex,
    "q270_acf" -> q270Acf,
    "q263_bloom_audit" -> q263BloomAudit,
    "q261_croston_forecast" -> q261CrostonForecast,
    "q258_dormant_capital" -> q258DormantCapital,
    "q252_poisson_bootstrap" -> q252PoissonBootstrap,
    "q255_l_diversity" -> q255LDiversity,
    "q248_like_for_like" -> q248LikeForLike,
    "q246_lorenz_curve" -> q246LorenzCurve,
    "q244_robust_means" -> q244RobustMeans,
    "q239_drill_across" -> q239DrillAcross,
    "q285_market_share" -> q285MarketShare,
    "q287_volume_shipping" -> q287VolumeShipping,
    "q286_top_supplier" -> q286TopSupplier,
    "q235_correlated_agg" -> q235CorrelatedAgg,
    "q236_sole_late_supplier" -> q236SoleLateSupplier,
    "q237_important_parts" -> q237ImportantParts,
    "q152_allocation" -> q152Allocation,
    "q154_ols2" -> q154Ols2,
    "q155_clamped_balance" -> q155ClampedBalance,
    "q159_weighted_median" -> q159WeightedMedian,
    "q160_gini" -> q160Gini,
    "q163_percent_of_parent" -> q163PercentOfParent,
    "q170_sla_latency" -> q170SlaLatency,
    "q171_backlog" -> q171Backlog,
    "q172_supplier_hhi" -> q172SupplierHhi,
    "q175_price_volume_mix" -> q175PriceVolumeMix,
    "q176_key_gaps" -> q176KeyGaps,
    "q178_ship_spans" -> q178ShipSpans,
    "q179_dispersion_index" -> q179DispersionIndex,
    "q180_otif" -> q180Otif,
    "q181_k_anonymity" -> q181KAnonymity,
    "q123_skyline" -> q123Skyline,
    "q01_pricing_summary" -> q01Agg,
    "q02_count_distinct" -> q02CountDistinct,
    "q03_conditional_agg" -> q03ConditionalAgg,
    "q04_having" -> q04Having,
    "q05_scalar_agg" -> q05ScalarAgg,
    "q06_stats_agg" -> q06Stats,
    "q07_view_composition" -> q07ViewComposition,
    "q08_approx_distinct" -> q08ApproxDistinct,
    "q09_portable_hll" -> q09PortableHll,
    "q101_hll_rollup" -> q101HllRollup,
    "q112_abc_classes" -> q112AbcClasses,
    "q113_hll_set_algebra" -> q113HllSetAlgebra,
    "q117_corr_regression" -> q117CorrRegression,
    "q141_rolling_sketch_ndv" -> q141RollingSketchNdv,
    "q145_bloom_join" -> q145BloomJoin,
    "q149_countmin" -> q149CountMin,
    "q150_incremental_rollup" -> q150IncrementalRollup,
    "q197_join_view_maintenance" -> q197JoinViewMaintenance,
    "q205_price_dispersion" -> q205PriceDispersion,
    "q207_agg_navigator" -> q207AggNavigator,
    "q208_abc_xyz" -> q208AbcXyz,
    "q209_skew_plan" -> q209SkewPlan,
    "q211_rank_migration" -> q211RankMigration,
    "q213_group_topk" -> q213GroupTopK,
    "q214_mann_kendall" -> q214MannKendall,
    "q215_theil_sen" -> q215TheilSen,
    "q206_return_outliers" -> q206ReturnOutliers,
    "q198_event_study" -> q198EventStudy,
    "q146_snapshot_diff" -> q146SnapshotDiff,
    "q118_benford" -> q118Benford,
    "q10_star_join" -> q10StarJoin,
    "q11_left_join" -> q11LeftJoin,
    "q12_right_join" -> q12RightJoin,
    "q13_full_join" -> q13FullJoin,
    "q14_anti_join" -> q14AntiJoin,
    "q15_semi_join" -> q15SemiJoin,
    "q16_cross_scalars" -> q16CrossScalars,
    "q17_scalar_subquery" -> q17ScalarSubquery,
    "q18_exists_sql" -> q18ExistsSql,
    "q19_in_subquery" -> q19InSubquery,
    "q20_row_number" -> q20RowNumber,
    "q21_rank_agg" -> q21RankAgg,
    "q22_lag_lead" -> q22LagLead,
    "q23_running_sum" -> q23Running,
    "q24_moving_agg" -> q24Moving,
    "q25_first_last" -> q25FirstLast,
    "q26_dense_ntile" -> q26DenseNtile,
    "q30_topk" -> q30TopK,
    "q32_union_all" -> q32UnionAll,
    "q33_union_distinct" -> q33UnionDistinct,
    "q34_intersect" -> q34Intersect,
    "q35_except" -> q35Except,
    "q36_rollup" -> q36Rollup,
    "q37_pivot" -> q37Pivot,
    "q38_string_agg" -> q38StringAgg,
    "q77_grouping_sets" -> q77GroupingSets,
    "q78_distribution_funcs" -> q78DistributionFuncs,
    "q79_percentiles" -> q79Percentiles,
    "q81_range_join" -> q81RangeJoin,
    "q89_range_agg_prefix" -> q89RangeAggPrefix,
    "q97_interval_overlap" -> q97IntervalOverlap)

  val oracles: Map[String, String] = Map(
    "q570_unpivot_roundtrip" -> q570Sql,
    "q567_rollup_lattice" -> q567Sql,
    "q577_cube_lattice" -> q577Sql,
    "q568_pivot_priorities" -> q568Sql,
    "q321_pacf" -> q321Sql,
    "q309_custdist" -> q309Sql,
    "q310_profit_mix" -> q310Sql,
    "q311_shipping_priority" -> q311Sql,
    "q312_supplier_diversity" -> q312Sql,
    "q313_large_volume" -> q313Sql,
    "q314_mincost_supplier" -> q314Sql,
    "q305_grouped_mode" -> q305Sql,
    "q281_theil_decomposition" -> q281Sql,
    "q275_t_closeness" -> q275Sql,
    "q269_price_index" -> q269Sql,
    "q270_acf" -> q270Sql,
    "q263_bloom_audit" -> q263Sql,
    "q261_croston_forecast" -> q261Sql,
    "q258_dormant_capital" -> q258Sql,
    "q252_poisson_bootstrap" -> q252Sql,
    "q255_l_diversity" -> q255Sql,
    "q248_like_for_like" -> q248Sql,
    "q246_lorenz_curve" -> q246Sql,
    "q244_robust_means" -> q244Sql,
    "q239_drill_across" -> q239Sql,
    "q285_market_share" -> q285Sql,
    "q287_volume_shipping" -> q287Sql,
    "q286_top_supplier" -> q286Sql,
    "q235_correlated_agg" -> q235Sql,
    "q236_sole_late_supplier" -> q236Sql,
    "q237_important_parts" -> q237Sql,
    "q152_allocation" -> q152Sql,
    "q154_ols2" -> q154Sql,
    "q155_clamped_balance" -> q155Sql,
    "q159_weighted_median" -> q159Sql,
    "q160_gini" -> q160Sql,
    "q163_percent_of_parent" -> q163Sql,
    "q170_sla_latency" -> q170Sql,
    "q171_backlog" -> q171Sql,
    "q172_supplier_hhi" -> q172Sql,
    "q175_price_volume_mix" -> q175Sql,
    "q176_key_gaps" -> q176Sql,
    "q178_ship_spans" -> q178Sql,
    "q179_dispersion_index" -> q179Sql,
    "q180_otif" -> q180Sql,
    "q181_k_anonymity" -> q181Sql,
    "q123_skyline" -> q123Sql,
    "q36_rollup" -> q36Sql,
    "q77_grouping_sets" -> q77Sql,
    "q78_distribution_funcs" -> q78Sql,
    "q79_percentiles" -> q79Sql,
    "q81_range_join" -> q81Sql,
    "q89_range_agg_prefix" -> q81Sql,
    "q97_interval_overlap" -> q97Sql,
    "q37_pivot" -> q37Sql,
    "q38_string_agg" -> q38Sql,
    "q01_pricing_summary" -> q01Sql,
    "q08_approx_distinct" -> q08Sql,
    "q484_ams_f2" -> q484Sql,
    "q508_bin_advisor" -> q508Sql,
    "q09_portable_hll" -> q09Sql,
    "q101_hll_rollup" -> q101Sql,
    "q112_abc_classes" -> q112Sql,
    "q113_hll_set_algebra" -> q113Sql,
    "q117_corr_regression" -> q117Sql,
    "q141_rolling_sketch_ndv" -> q141Sql,
    "q145_bloom_join" -> q145Sql,
    "q149_countmin" -> q149Sql,
    "q150_incremental_rollup" -> q150Sql,
    "q197_join_view_maintenance" -> q197Sql,
    "q205_price_dispersion" -> q205Sql,
    "q207_agg_navigator" -> q207Sql,
    "q208_abc_xyz" -> q208Sql,
    "q209_skew_plan" -> q209Sql,
    "q211_rank_migration" -> q211Sql,
    "q213_group_topk" -> q213Sql,
    "q214_mann_kendall" -> q214Sql,
    "q215_theil_sen" -> q215Sql,
    "q206_return_outliers" -> q206Sql,
    "q198_event_study" -> q198Sql,
    "q146_snapshot_diff" -> q146Sql,
    "q118_benford" -> q118Sql,
    "q02_count_distinct" -> q02Sql,
    "q03_conditional_agg" -> q03Sql,
    "q04_having" -> q04Sql,
    "q05_scalar_agg" -> q05Sql,
    "q06_stats_agg" -> q06Sql,
    "q07_view_composition" -> q07Sql,
    "q10_star_join" -> q10Sql,
    "q11_left_join" -> q11Sql,
    "q12_right_join" -> q12Sql,
    "q13_full_join" -> q13Sql,
    "q14_anti_join" -> q14Sql,
    "q15_semi_join" -> q15Sql,
    "q16_cross_scalars" -> q16Sql,
    "q17_scalar_subquery" -> q17Sql,
    "q18_exists_sql" -> q18Sql,
    "q19_in_subquery" -> q19Sql,
    "q20_row_number" -> q20Sql,
    "q21_rank_agg" -> q21Sql,
    "q22_lag_lead" -> q22Sql,
    "q23_running_sum" -> q23Sql,
    "q24_moving_agg" -> q24Sql,
    "q25_first_last" -> q25Sql,
    "q26_dense_ntile" -> q26Sql,
    "q30_topk" -> q30Sql,
    "q32_union_all" -> q32Sql,
    "q33_union_distinct" -> q33Sql,
    "q34_intersect" -> q34Sql,
    "q35_except" -> q35Sql)
}
