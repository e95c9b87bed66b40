package graft.operators

import graft.{Q, Tables}
import graft.functions.TSql._
import graft.functions.Exact._
import graft.functions.Text.{log2e6DuckSql => duckL2, log2e6SparkSql => l2}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Data-quality auditing and statistics-build operators — the engine-side
  * expression of the reference's hygiene surface: the monitoring toolkit's
  * table-health triage (reference:
  * solutions/monitoring/scripts/views/microsoft.vw_table_health.sql) and
  * CREATE STATISTICS ... WITH FULLSCAN (reference:
  * samples/scripts/statistics/Statistics-Examples.sql), generalized to the
  * declarative constraint-audit shape every warehouse load pipeline runs
  * before publishing a batch.
  */
object AuditQueries {

  // ------------------------------------------- q139: data-quality audit

  /** Declarative data-quality audit: one report row per (table, check) with
    * the violation count and the table's row count. All single-table checks
    * for one table fold into ONE conditional-aggregate scan (the map-then-
    * explode unpivot — adding a check adds a column, not a pass), and the
    * two referential checks are anti-joins: orders→customer broadcasts the
    * dimension; lineitem→orders is the one genuine shuffle in the audit.
    * Domain/range predicates compare integer cents, never raw doubles, so
    * both engines evaluate identical integer comparisons. The final UNION
    * of per-table reports is metadata-sized.
    */
  val q139QualityAudit: Q = (s, dir) => {
    // one wide conditional-agg row per table, unpivoted via map+explode
    def audit(tbl: String, df: DataFrame, checks: (String, Column)*): DataFrame = {
      val aggCols = count(lit(1)).as("total") +:
        checks.map { case (n, c) => c.as(n) }
      val agg = df.agg(aggCols.head, aggCols.tail: _*)
      val pairs = checks.flatMap { case (n, _) => Seq(lit(n), col(n)) }
      agg.select(lit(tbl).as("tbl"), explode(map(pairs: _*)).as(Seq("chk", "violations")),
        col("total"))
    }
    def bad(c: Column): Column = sum(when(c, 1L).otherwise(0L))

    val li = Tables.lineitem(s, dir)
    val ords = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val docs = Tables.documents(s, dir)

    val liAudit = audit("lineitem", li,
      "qty_range" -> bad(!cents(col("l_quantity")).between(100L, 5000L)),
      "discount_range" -> bad(!cents(col("l_discount")).between(0L, 10L)),
      "tax_le_discount" -> bad(cents(col("l_tax")) > cents(col("l_discount"))),
      "linenumber_range" -> bad(!col("l_linenumber").between(1, 4)))
    val ordAudit = audit("orders", ords,
      "status_domain" -> bad(!col("o_orderstatus").isin("O", "F", "P")),
      "price_positive" -> bad(cents(col("o_totalprice")) <= 0L),
      "custkey_complete" -> bad(col("o_custkey").isNull))
    val custAudit = audit("customer", cust,
      "custkey_unique" -> (count(lit(1)) - countDistinct(col("c_custkey"))))
    val docAudit = audit("documents", docs,
      "nchars_consistent" -> bad(col("n_chars") =!= length(col("text"))))

    // referential integrity: orphan counts via anti-join
    def orphans(tbl: String, chk: String, child: DataFrame, total: DataFrame,
        anti: DataFrame): DataFrame =
      anti.agg(count(lit(1)).as("violations"))
        .join(total.agg(count(lit(1)).as("total")))
        .select(lit(tbl).as("tbl"), lit(chk).as("chk"), col("violations"),
          col("total"))
    val ordOrphans = orphans("orders", "fk_custkey", ords, ords,
      ords.join(broadcast(cust), ords("o_custkey") === cust("c_custkey"),
        "left_anti"))
    val liOrphans = orphans("lineitem", "fk_orderkey", li, li,
      li.join(ords, li("l_orderkey") === ords("o_orderkey"), "left_anti"))

    liAudit.unionByName(ordAudit).unionByName(custAudit)
      .unionByName(docAudit).unionByName(ordOrphans).unionByName(liOrphans)
  }

  val q139Sql: String =
    """WITH li AS (
      |  SELECT COUNT(*) AS total,
      |    CAST(SUM(CASE WHEN CAST(ROUND(l_quantity*100) AS BIGINT)
      |      NOT BETWEEN 100 AND 5000 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
      |    CAST(SUM(CASE WHEN CAST(ROUND(l_discount*100) AS BIGINT)
      |      NOT BETWEEN 0 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
      |    CAST(SUM(CASE WHEN CAST(ROUND(l_tax*100) AS BIGINT) >
      |      CAST(ROUND(l_discount*100) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tax_le_discount,
      |    CAST(SUM(CASE WHEN l_linenumber NOT BETWEEN 1 AND 4 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS linenumber_range
      |  FROM lineitem),
      |o AS (
      |  SELECT COUNT(*) AS total,
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
      |      AS BIGINT) AS status_domain,
      |    CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice*100) AS BIGINT) <= 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS custkey_complete
      |  FROM orders),
      |c AS (
      |  SELECT COUNT(*) AS total,
      |    COUNT(*) - COUNT(DISTINCT c_custkey) AS custkey_unique
      |  FROM customer),
      |d AS (
      |  SELECT COUNT(*) AS total,
      |    CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nchars_consistent
      |  FROM documents)
      |SELECT 'lineitem' AS tbl, 'qty_range' AS chk, qty_range AS violations, total FROM li
      |UNION ALL SELECT 'lineitem', 'discount_range', discount_range, total FROM li
      |UNION ALL SELECT 'lineitem', 'tax_le_discount', tax_le_discount, total FROM li
      |UNION ALL SELECT 'lineitem', 'linenumber_range', linenumber_range, total FROM li
      |UNION ALL SELECT 'orders', 'status_domain', status_domain, total FROM o
      |UNION ALL SELECT 'orders', 'price_positive', price_positive, total FROM o
      |UNION ALL SELECT 'orders', 'custkey_complete', custkey_complete, total FROM o
      |UNION ALL SELECT 'customer', 'custkey_unique', custkey_unique, total FROM c
      |UNION ALL SELECT 'documents', 'nchars_consistent', nchars_consistent, total FROM d
      |UNION ALL SELECT 'orders', 'fk_custkey',
      |  (SELECT COUNT(*) FROM orders o2 WHERE NOT EXISTS
      |    (SELECT 1 FROM customer c2 WHERE c2.c_custkey = o2.o_custkey)),
      |  (SELECT COUNT(*) FROM orders)
      |UNION ALL SELECT 'lineitem', 'fk_orderkey',
      |  (SELECT COUNT(*) FROM lineitem l2 WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o3 WHERE o3.o_orderkey = l2.l_orderkey)),
      |  (SELECT COUNT(*) FROM lineitem)""".stripMargin

  // ------------------------------------------- q140: equi-depth histogram

  /** Histogram bucket count (the reference's stats histograms use up to 200
    * steps; 16 keeps the gate output readable).
    */
  val HistBuckets = 16

  /** Equi-depth histogram of l_extendedprice — the CREATE STATISTICS ...
    * WITH FULLSCAN build (reference:
    * samples/scripts/statistics/Statistics-Examples.sql): NTILE over a
    * total order (integer cents, then the unique (orderkey, linenumber)
    * tie-break so bucket assignment is deterministic in both engines),
    * rolled up to per-bucket row count and [lo, hi] bounds. This is the
    * exact full-scan path and carries a global sort by construction — the
    * sampled production path for the same question is q91's bottom-k
    * sketch; stats builds are scheduled maintenance, not hot-path queries.
    */
  val q140Histogram: Q = (s, dir) => {
    // exact NTILE over the FACT stream without the global sort: the
    // two-level Prefix row number (value buckets over the cents range,
    // ties broken by the unique line key inside each bucket's partitioned
    // window) + the closed-form tile from (rn, n). Bit-identical to
    // ntile(); parallelism = value buckets instead of one task.
    val li = Tables.lineitem(s, dir).select(
      cents(col("l_extendedprice")).as("c"),
      col("l_orderkey"), col("l_linenumber"))
    val nDf = li.agg(count(lit(1)).as("n"))
    Prefix.rowNumber(li, "c", Seq("l_orderkey", "l_linenumber"), "rn",
      materialize = false)
      .crossJoin(broadcast(nDf))
      .withColumn("bucket",
        Prefix.ntileExpr("rn", "n", HistBuckets).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
  }

  val q140Sql: String =
    s"""WITH ranked AS (
      |  SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS c,
      |    NTILE($HistBuckets) OVER (ORDER BY
      |      CAST(ROUND(l_extendedprice*100) AS BIGINT),
      |      l_orderkey, l_linenumber) AS bucket
      |  FROM lineitem)
      |SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n_rows,
      |  MIN(c) AS lo_c, MAX(c) AS hi_c
      |FROM ranked GROUP BY bucket""".stripMargin

  // ------------------------- q193: join-cardinality estimator audit

  /** Fixed key-range width for the q193 histogram buckets (the optimizer-
    * statistics step size over the orderkey domain).
    */
  val CardBucketWidth = 4096L

  /** q193: join-cardinality estimator audit — the optimizer-statistics
    * validation loop behind D4/D5: build fixed-width histograms over the
    * join key on BOTH sides of orders ⋈ lineitem (rows and distinct keys
    * per bucket — exactly what CREATE STATISTICS persists), apply the
    * textbook containment estimate Σ_b n₁(b)·n₂(b)/max(v₁(b),v₂(b)), and
    * compare against the TRUE join cardinality — computed exactly as
    * Σ_k n₁(k)·n₂(k) over the per-key count rollups, never by
    * materializing the join. One row: estimated vs actual vs error. At
    * 100 TB this is how you regression-test statistics freshness — both
    * sides are single scans into map-side-combined rollups, and the
    * stitch joins are |buckets| and |keys| sized, not |join| sized.
    * Integer arithmetic throughout (DECIMAL(38,0) accumulation, one final
    * e6 division), so the audit itself passes the exact gate.
    */
  val q193JoinCardAudit: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    val l = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
    def hist(df: DataFrame) = df
      .groupBy(expr(s"k DIV $CardBucketWidth").as("b"))
      .agg(count(lit(1)).as("n"), countDistinct(col("k")).as("v"))
    val est = hist(o).as("h1")
      .join(hist(l).as("h2"), Seq("b"))
      .select(((col("h1.n") * col("h2.n")).cast(dec)).as("prod"),
        greatest(col("h1.v"), col("h2.v")).as("vmax"))
      .agg(sum(expr("prod DIV vmax")).cast("long").as("est_rows"))
    def perKey(df: DataFrame) = df.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val actual = perKey(o).as("k1").join(perKey(l).as("k2"), Seq("k"))
      .agg(sum((col("k1.n") * col("k2.n")).cast(dec)).cast("long")
        .as("actual_rows"))
    est.crossJoin(broadcast(actual))
      .select(col("est_rows"), col("actual_rows"),
        expr("est_rows * 1000000 DIV actual_rows").as("est_over_actual_e6"))
  }

  val q193Sql: String =
    s"""WITH h1 AS (
      |  SELECT o_orderkey // $CardBucketWidth AS b, COUNT(*) AS n,
      |    COUNT(DISTINCT o_orderkey) AS v
      |  FROM orders GROUP BY 1),
      |h2 AS (
      |  SELECT l_orderkey // $CardBucketWidth AS b, COUNT(*) AS n,
      |    COUNT(DISTINCT l_orderkey) AS v
      |  FROM lineitem GROUP BY 1),
      |est AS (
      |  SELECT CAST(SUM((h1.n * h2.n) // GREATEST(h1.v, h2.v)) AS BIGINT)
      |    AS est_rows
      |  FROM h1 JOIN h2 USING (b)),
      |k1 AS (SELECT o_orderkey AS k, COUNT(*) AS n FROM orders GROUP BY 1),
      |k2 AS (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1),
      |act AS (
      |  SELECT CAST(SUM(k1.n * k2.n) AS BIGINT) AS actual_rows
      |  FROM k1 JOIN k2 USING (k))
      |SELECT est_rows, actual_rows,
      |  CAST(est_rows * 1000000 // actual_rows AS BIGINT) AS est_over_actual_e6
      |FROM est, act""".stripMargin

  // ------------------------------------------- q153: chi-square independence

  /** q153: χ² test of independence — the order-priority × order-status
    * contingency table with each cell's observed count, expected count, and
    * χ² contribution. The screening question every warehouse monitor asks
    * ("did the priority mix shift between open and finalized orders?") as
    * one aggregation: groupBy the fact ONCE (map-side combined), then row /
    * column / grand totals are windows over the tiny cell rollup — the
    * fact table is scanned exactly once and everything downstream is
    * metadata-sized.
    *
    * Portability: O, R, C, N are exact integers; the cross-products
    * O·N − R·C and R·C·N accumulate in DECIMAL(38,0)/HUGEINT (corpus-scale
    * safe), and each cell's statistic is ONE fixed IEEE expression
    * (d² / denom, expected = RC/N) over those exact integers — per-row
    * independent, so no float-summation-order hazard exists anywhere.
    * The global χ² = Σ cells is left to the reader of the 15-row result
    * (a float sum over a result that small is presentation, not engine).
    */
  val q153ChiSquare: Q = (s, dir) => {
    val cells = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_obs"))
    val wRow = Window.partitionBy(col("o_orderpriority"))
    val wCol = Window.partitionBy(col("o_orderstatus"))
    val wAll = Window.partitionBy()
    val t = cells
      .withColumn("row_total", sum(col("n_obs")).over(wRow))
      .withColumn("col_total", sum(col("n_obs")).over(wCol))
      .withColumn("grand_total", sum(col("n_obs")).over(wAll))
    val diff = (col("n_obs").cast(dec) * col("grand_total").cast(dec) -
      col("row_total").cast(dec) * col("col_total").cast(dec))
    val rc = col("row_total").cast(dec) * col("col_total").cast(dec)
    val denom = rc * col("grand_total").cast(dec)
    t.select(col("o_orderpriority"), col("o_orderstatus"), col("n_obs"),
        col("row_total"), col("col_total"), col("grand_total"),
        (rc.cast("double") / col("grand_total").cast("double"))
          .as("expected"),
        ((diff.cast("double") * diff.cast("double")) / denom.cast("double"))
          .as("chi_cell"))
  }

  val q153Sql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_obs
      |  FROM orders GROUP BY 1, 2),
      |t AS (
      |  SELECT *,
      |    SUM(n_obs) OVER (PARTITION BY o_orderpriority) AS row_total,
      |    SUM(n_obs) OVER (PARTITION BY o_orderstatus) AS col_total,
      |    SUM(n_obs) OVER () AS grand_total
      |  FROM cells),
      |x AS (
      |  SELECT *,
      |    CAST(n_obs AS HUGEINT) * CAST(grand_total AS HUGEINT) -
      |      CAST(row_total AS HUGEINT) * CAST(col_total AS HUGEINT) AS d,
      |    CAST(row_total AS HUGEINT) * CAST(col_total AS HUGEINT) AS rc
      |  FROM t)
      |SELECT o_orderpriority, o_orderstatus, n_obs,
      |  CAST(row_total AS BIGINT) AS row_total,
      |  CAST(col_total AS BIGINT) AS col_total,
      |  CAST(grand_total AS BIGINT) AS grand_total,
      |  CAST(CAST(rc AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(grand_total AS BIGINT) AS DOUBLE) AS expected,
      |  (CAST(CAST(d AS VARCHAR) AS DOUBLE) *
      |   CAST(CAST(d AS VARCHAR) AS DOUBLE)) /
      |    CAST(CAST(rc * CAST(grand_total AS HUGEINT) AS VARCHAR) AS DOUBLE)
      |    AS chi_cell
      |FROM x""".stripMargin

  // ------------------------------------------- q157: two-sample KS test

  /** q157: two-sample Kolmogorov–Smirnov distance in EXACT integer
    * arithmetic — does the order-value distribution differ between urgent
    * and low-priority orders? D = sup|F₁(v) − F₂(v)| is found without a
    * single intermediate float: at each distinct value the cross-multiplied
    * deviation |cum₁·N₂ − cum₂·N₁| is an exact integer (DECIMAL(38,0)/
    * HUGEINT so corpus-scale counts cannot wrap), the argmax is an integer
    * sort with the value itself as the deterministic tie-break, and the
    * statistic becomes IEEE only in the final single division. Plan shape:
    * one scan of orders, a per-value rollup (map-side combined), running
    * sums over the value order, then a 1-row top-k — the sort is over
    * DISTINCT values, not rows.
    */
  val q157KsTest: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents(col("o_totalprice")).as("v_c"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("is_a"))
    // inclusive running sums via the two-level device (the distinct-value
    // rollup grows with |orders|); totals broadcast instead of windowing
    val g0 = o.groupBy(col("v_c"))
      .agg(sum(col("is_a")).as("c1"), sum(lit(1L) - col("is_a")).as("c2"))
    val tot = g0.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val g = Prefix.runningSum(
      Prefix.runningSum(g0, "v_c", Seq.empty, "c1", "cum1",
        includeCurrent = true),
      "v_c", Seq.empty, "c2", "cum2", includeCurrent = true)
      .crossJoin(broadcast(tot))
    g.select(col("v_c"), col("n1"), col("n2"),
        abs(col("cum1").cast(dec) * col("n2").cast(dec) -
          col("cum2").cast(dec) * col("n1").cast(dec)).as("d_num"))
      .orderBy(col("d_num").desc, col("v_c"))
      .limit(1)
      .select(col("v_c").as("at_value_c"), col("n1"), col("n2"),
        (col("d_num").cast("double") /
          (col("n1").cast(dec) * col("n2").cast(dec)).cast("double"))
          .as("ks_d"))
  }

  val q157Sql: String =
    """WITH tagged AS (
      |  SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS v_c,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |g AS (
      |  SELECT v_c, CAST(SUM(is_a) AS BIGINT) AS c1,
      |    CAST(SUM(1 - is_a) AS BIGINT) AS c2
      |  FROM tagged GROUP BY v_c),
      |cum AS (
      |  SELECT v_c,
      |    CAST(SUM(c1) OVER (ORDER BY v_c ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum1,
      |    CAST(SUM(c2) OVER (ORDER BY v_c ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum2,
      |    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
      |    CAST(SUM(c2) OVER () AS BIGINT) AS n2
      |  FROM g),
      |d AS (
      |  SELECT v_c, n1, n2,
      |    ABS(CAST(cum1 AS HUGEINT) * CAST(n2 AS HUGEINT) -
      |        CAST(cum2 AS HUGEINT) * CAST(n1 AS HUGEINT)) AS d_num
      |  FROM cum)
      |SELECT v_c AS at_value_c, n1, n2,
      |  CAST(CAST(d_num AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT) AS VARCHAR)
      |      AS DOUBLE) AS ks_d
      |FROM d
      |ORDER BY d_num DESC, v_c
      |LIMIT 1""".stripMargin

  // --------------------------------------- q218: functional-dependency audit

  /** q218: functional-dependency discovery/audit — the data-profiling pass
    * (Metanome/Tane-style, restricted to DECLARED candidates) that a
    * warehouse runs before trusting a column as a key or a denormalized
    * attribute as consistent. For each candidate FD `lhs → rhs` it reports
    * how many lhs groups exist, how many VIOLATE the dependency (more than
    * one distinct rhs), the worst group's distinct-rhs count, and whether
    * the FD holds exactly. Candidates span held FDs (keys, 1:1 attribute
    * carries) and deliberately violated ones (segment → nation), so the
    * report shape exercises both outcomes.
    *
    * Scale: one hash aggregate per candidate, shuffled on its own lhs —
    * the count-distinct is per-group (never global), and the per-candidate
    * summary is ONE row, so the union is metadata-sized. Candidates on the
    * same table still scan it once each by design: at 100 TB a shared scan
    * with N simultaneous re-shuffles would not reduce the shuffle volume
    * (each lhs needs its own key anyway) and would serialize the pipeline.
    */
  val q218FdAudit: Q = (s, dir) => {
    def fd(tbl: String, df: DataFrame, lhsName: String, rhsName: String,
           lhs: Column, rhs: Column): DataFrame =
      df.groupBy(lhs.as("k"))
        .agg(countDistinct(rhs).as("d"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("d")).as("max_rhs_distinct"))
        .select(lit(tbl).as("tbl"), lit(lhsName).as("lhs"),
          lit(rhsName).as("rhs"), col("n_groups"), col("n_violating"),
          col("max_rhs_distinct"), (col("n_violating") === 0L).as("holds"))
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val p = Tables.part(s, dir)
    val d = Tables.documents(s, dir)
    fd("orders", o, "o_orderkey", "o_custkey", col("o_orderkey"), col("o_custkey"))
      .unionAll(fd("customer", c, "c_mktsegment", "c_nationkey",
        col("c_mktsegment"), col("c_nationkey")))
      .unionAll(fd("part", p, "p_brand", "p_type", col("p_brand"), col("p_type")))
      .unionAll(fd("part", p, "p_name", "p_brand", col("p_name"), col("p_brand")))
      .unionAll(fd("documents", d, "doc_id", "lang", col("doc_id"), col("lang")))
      .unionAll(fd("documents", d, "source", "lang", col("source"), col("lang")))
      .orderBy(col("tbl"), col("lhs"), col("rhs"))
  }

  val q218Sql: String = {
    def fd(tbl: String, lhs: String, rhs: String) =
      s"""SELECT '$tbl' AS tbl, '$lhs' AS lhs, '$rhs' AS rhs,
         |  COUNT(*) AS n_groups,
         |  CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  MAX(d) AS max_rhs_distinct,
         |  SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS d FROM $tbl
         |      GROUP BY $lhs) g""".stripMargin
    Seq(
      fd("orders", "o_orderkey", "o_custkey"),
      fd("customer", "c_mktsegment", "c_nationkey"),
      fd("part", "p_brand", "p_type"),
      fd("part", "p_name", "p_brand"),
      fd("documents", "doc_id", "lang"),
      fd("documents", "source", "lang"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")
  }

  // --------------------------------------- q219: inclusion-dependency scan

  /** q219: inclusion-dependency (foreign-key) discovery — for each declared
    * candidate `child.col ⊆ parent.col`, the fraction of DISTINCT child
    * values present in the parent: 1.0 means a clean FK, anything less
    * quantifies orphaned keys before a constraint or a join is trusted.
    * Candidates cover the star's real FKs plus one reverse direction
    * (p_partkey ⊆ l_partkey — "parts never ordered" shows up as partial
    * containment) and one cross-domain probe (user ids against customer
    * keys) that a profiler would reject.
    *
    * Scale: both sides are DISTINCT-reduced FIRST, so the containment join
    * runs on key cardinalities, not fact rows — the child distinct is the
    * only fact-sized shuffle, and the parent side of a star FK is a
    * broadcastable dimension key list. No pass ever joins fact×fact.
    */
  val q219IndScan: Q = (s, dir) => {
    def ind(childTbl: String, childCol: String, child: DataFrame,
            parentTbl: String, parentCol: String, parent: DataFrame): DataFrame = {
      val cd = child.select(col(childCol).as("v")).distinct()
      val pd = parent.select(col(parentCol).as("pv")).distinct()
      cd.join(pd, col("v") === col("pv"), "left")
        .agg(count(lit(1)).as("n_child_distinct"),
          sum(when(col("pv").isNotNull, 1L).otherwise(0L)).as("n_contained"))
        .select(lit(s"$childTbl.$childCol").as("child"),
          lit(s"$parentTbl.$parentCol").as("parent"),
          col("n_child_distinct"), col("n_contained"),
          expr("n_contained * 1000000 DIV n_child_distinct")
            .as("containment_e6"),
          (col("n_contained") === col("n_child_distinct")).as("is_fk"))
    }
    val li = Tables.lineitem(s, dir)
    ind("lineitem", "l_partkey", li, "part", "p_partkey", Tables.part(s, dir))
      .unionAll(ind("lineitem", "l_suppkey", li,
        "supplier", "s_suppkey", Tables.supplier(s, dir)))
      .unionAll(ind("lineitem", "l_orderkey", li,
        "orders", "o_orderkey", Tables.orders(s, dir)))
      .unionAll(ind("orders", "o_custkey", Tables.orders(s, dir),
        "customer", "c_custkey", Tables.customer(s, dir)))
      .unionAll(ind("part", "p_partkey", Tables.part(s, dir),
        "lineitem", "l_partkey", li))
      .unionAll(ind("events", "user_id", Tables.events(s, dir),
        "customer", "c_custkey", Tables.customer(s, dir)))
      .orderBy(col("child"), col("parent"))
  }

  val q219Sql: String = {
    def ind(childTbl: String, childCol: String, parentTbl: String,
            parentCol: String) =
      s"""SELECT '$childTbl.$childCol' AS child,
         |  '$parentTbl.$parentCol' AS parent,
         |  COUNT(*) AS n_child_distinct,
         |  CAST(SUM(CASE WHEN pv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contained,
         |  CAST(SUM(CASE WHEN pv IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS containment_e6,
         |  SUM(CASE WHEN pv IS NOT NULL THEN 1 ELSE 0 END) = COUNT(*)
         |    AS is_fk
         |FROM (SELECT DISTINCT $childCol AS v FROM $childTbl) c
         |LEFT JOIN (SELECT DISTINCT $parentCol AS pv FROM $parentTbl) p
         |  ON c.v = p.pv""".stripMargin
    Seq(
      ind("lineitem", "l_partkey", "part", "p_partkey"),
      ind("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ind("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ind("orders", "o_custkey", "customer", "c_custkey"),
      ind("part", "p_partkey", "lineitem", "l_partkey"),
      ind("events", "user_id", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY child, parent")
  }

  // --------------------------------------- q224: quantile normalization map

  /** Decile grid evaluated by q224 (p0, p10, …, p100). */
  private val QnGrid: Seq[Int] = 0 to 100 by 10

  /** q224: per-source quantile-normalization map — the QQ table that aligns
    * each source's document-length distribution onto the pooled corpus
    * distribution (the batch-effect correction genomics calls quantile
    * normalization, applied to corpus curation: a source whose lengths run
    * long maps onto the pooled quantiles before length-based quality
    * gates). For each source and each decile p: the source's
    * percentile_disc(p), the pooled percentile_disc(p), and the signed
    * shift — all ACTUAL data values (disc, not interpolated), so the whole
    * table is exact integers.
    *
    * Plan: one aggregate per source computes all 11 quantiles in a single
    * pass (11 sort-based agg buffers over the same shuffle), the pooled row
    * is the same aggregate without keys, and the map+explode unpivot turns
    * 11 columns into grid rows — metadata-sized from the rollup on. At
    * 100 TB the exact percentile_disc per group is the only corpus-scale
    * stage; swapping in q91's bottom-k sketch boundaries changes this
    * table's producer, not its shape.
    */
  val q224QuantileMap: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    def quants(df: DataFrame, keys: Seq[Column]): DataFrame = {
      val aggs = QnGrid.map(p =>
        expr(s"percentile_disc(${p / 100.0}) WITHIN GROUP (ORDER BY n_chars)")
          .cast("long").as(s"p$p"))
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    }
    def unpivot(df: DataFrame, extra: Seq[Column]): DataFrame = {
      val pairs = QnGrid.flatMap(p => Seq(lit(p), col(s"p$p")))
      df.select(extra :+ explode(map(pairs: _*)).as(Seq("p", "q")): _*)
    }
    val perSource = unpivot(quants(d, Seq(col("source"))), Seq(col("source")))
      .withColumnRenamed("q", "source_q")
    val pooled = unpivot(quants(d, Seq.empty), Seq.empty)
      .withColumnRenamed("q", "pooled_q")
    perSource.join(broadcast(pooled), Seq("p"))
      .select(col("source"), col("p"), col("source_q"), col("pooled_q"),
        (col("source_q") - col("pooled_q")).as("shift"))
      .orderBy(col("source"), col("p"))
  }

  val q224Sql: String = {
    def qexprs = QnGrid.map(p =>
      s"CAST(percentile_disc(${p / 100.0}) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p$p")
      .mkString(",\n    ")
    val srcL = QnGrid.map(p => s"SELECT source, $p AS p, p$p AS source_q FROM src")
      .mkString("\n  UNION ALL ")
    val poolL = QnGrid.map(p => s"SELECT $p AS p, p$p AS pooled_q FROM pool")
      .mkString("\n  UNION ALL ")
    s"""WITH src AS (
       |  SELECT source,
       |    $qexprs
       |  FROM documents GROUP BY source),
       |pool AS (
       |  SELECT $qexprs
       |  FROM documents),
       |src_l AS (
       |  $srcL),
       |pool_l AS (
       |  $poolL)
       |SELECT source, p, source_q, pooled_q,
       |  source_q - pooled_q AS shift
       |FROM src_l JOIN pool_l USING (p)
       |ORDER BY source, p""".stripMargin
  }

  // --------------------------------------- q238: categorical impurity profile

  /** q238: categorical-column impurity profile — the statistics a
    * cost-based optimizer and a feature pipeline both want per
    * low-cardinality column: row count, distinct count, the dominant
    * value's share, and the Gini impurity 1 − Σ(cᵢ/N)², all EXACT
    * (impurity via Σcᵢ²·10⁶ DIV N² with DECIMAL(38,0) squares — cᵢ² alone
    * overflows int64 past ~3·10⁹ rows of one value). Near-zero impurity
    * flags a constant-like column (poor distribution key, uninformative
    * feature); impurity ≈ 1−1/k flags uniform spread. Entropy is
    * deliberately NOT reported: its log is a libm call with no bit-portable
    * definition, and Gini carries the same ordering signal in exact
    * integer arithmetic (the q221-lift / q96-bitlen posture).
    *
    * Plan: one value-counts rollup per column (shuffle on the value), then
    * a 1-row re-aggregation of that rollup; the cross-column union is
    * metadata-sized.
    */
  val q238ImpurityProfile: Q = (s, dir) => {
    def profile(tbl: String, df: DataFrame, c: String): DataFrame =
      df.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"),
          sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("sumsq"))
        .select(lit(tbl).as("tbl"), lit(c).as("col"),
          col("n_rows"), col("n_distinct"),
          expr("top_cnt * 1000000 DIV n_rows").as("top_share_e6"),
          expr("""CAST(1000000 - (sumsq * 1000000)
                 |  DIV (CAST(n_rows AS DECIMAL(38,0)) * n_rows) AS BIGINT)"""
            .stripMargin).as("gini_impurity_e6"))
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    profile("lineitem", li, "l_returnflag")
      .unionAll(profile("lineitem", li, "l_linestatus"))
      .unionAll(profile("orders", o, "o_orderstatus"))
      .unionAll(profile("orders", o, "o_orderpriority"))
      .unionAll(profile("part", Tables.part(s, dir), "p_brand"))
      .unionAll(profile("customer", Tables.customer(s, dir), "c_mktsegment"))
      .unionAll(profile("documents", Tables.documents(s, dir), "lang"))
      .orderBy(col("tbl"), col("col"))
  }

  val q238Sql: String = {
    def profile(tbl: String, c: String) =
      s"""SELECT '$tbl' AS tbl, '$c' AS col,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  COUNT(*) AS n_distinct,
         |  CAST(MAX(cnt) * 1000000 // SUM(cnt) AS BIGINT) AS top_share_e6,
         |  CAST(1000000 - (SUM(CAST(cnt AS HUGEINT) * cnt) * 1000000)
         |    // (CAST(SUM(cnt) AS HUGEINT) * SUM(cnt)) AS BIGINT)
         |    AS gini_impurity_e6
         |FROM (SELECT $c AS v, COUNT(*) AS cnt FROM $tbl GROUP BY $c) g"""
        .stripMargin
    Seq(profile("lineitem", "l_returnflag"),
      profile("lineitem", "l_linestatus"),
      profile("orders", "o_orderstatus"),
      profile("orders", "o_orderpriority"),
      profile("part", "p_brand"),
      profile("customer", "c_mktsegment"),
      profile("documents", "lang"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col")
  }

  // ------------------------------------------- q264: decision-stump split

  /** q264: decision-stump induction — the LEARNING sibling of q238's
    * impurity profile (CART's root-node step, Breiman et al. 1984): for the
    * binary target "customer ordered in the trailing window", rank every candidate split —
    * each account-balance decile threshold (percentile_disc values, so the
    * cut points are actual data) and each market-segment one-vs-rest — by
    * exact integer weighted Gini, reporting the top 5 against the
    * unsplit baseline. gini = 10⁶ − (p² + q²)·10⁶ DIV n² and the weighted
    * combination run in DECIMAL(38,0) (counts square per the q01
    * convention), so the ranking is bit-identical across engines — no
    * float impurity ties.
    *
    * Plan shape: ONE labeled-base pass computes every numeric candidate's
    * left-side stats as a wide conditional aggregate against the broadcast
    * decile row (adding a threshold adds a column, not a pass — the q139
    * map-then-explode unpivot); the categorical candidates reuse a
    * |segments| rollup; everything downstream of the two rollups is
    * metadata-sized arithmetic.
    */
  val q264BestSplit: Q = (s, dir) => {
    val custs = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        cents(col("c_acctbal")).as("bal_c"))
    // "recently active buyer" — every customer has SOME order in this
    // corpus, so the all-time label is degenerate (all 1s); the trailing
    // window gives a real ~80/20 target
    val buyers = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val base = custs.join(buyers, col("c_custkey") === col("o_custkey"),
        "left")
      .select(col("c_mktsegment"), col("bal_c"),
        when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("label"))
    val tot = base.agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
    val thr = base.agg(
      expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY bal_c)")
        .cast("long").as("t1"),
      (2 to 9).map(i =>
        expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY bal_c)")
          .cast("long").as(s"t$i")): _*)
    val numericWide = base.crossJoin(broadcast(thr)).agg(
      sum(when(col("bal_c") <= col("t1"), 1L).otherwise(0L)).as("nl1"),
      ((2 to 9).map(i =>
        sum(when(col("bal_c") <= col(s"t$i"), 1L).otherwise(0L))
          .as(s"nl$i")) ++
        (1 to 9).map(i =>
          sum(when(col("bal_c") <= col(s"t$i"), col("label")).otherwise(0L))
            .as(s"pl$i")) :+ max(col("t1")).as("v1") :++
        (2 to 9).map(i => max(col(s"t$i")).as(s"v$i"))): _*)
    val numeric = numericWide.select(explode(array((1 to 9).map(i =>
        struct(concat(lit("bal_c<="), col(s"v$i").cast("string")).as("cand"),
          col(s"nl$i").as("nl"), col(s"pl$i").as("pl"))): _*)).as("c"))
      .select(col("c.cand"), col("c.nl"), col("c.pl"))
    val categorical = base.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("nl"), sum(col("label")).as("pl"))
      .select(concat(lit("seg="), col("c_mktsegment")).as("cand"),
        col("nl"), col("pl"))
    def gini(n: String, p: String) =
      s"""CASE WHEN $n = 0 THEN 0 ELSE CAST(1000000 -
         | (CAST($p AS DECIMAL(38,0)) * $p + CAST($n - $p AS DECIMAL(38,0))
         |   * ($n - $p)) * 1000000
         |  DIV (CAST($n AS DECIMAL(38,0)) * $n) AS BIGINT) END""".stripMargin
    numeric.union(categorical).crossJoin(broadcast(tot))
      .select(col("cand"), col("nl"), col("pl"),
        (col("n") - col("nl")).as("nr"), (col("pos") - col("pl")).as("pr"),
        col("n"), col("pos"))
      .select(col("cand"), col("nl"), col("pl"), col("nr"), col("pr"),
        expr(gini("nl", "pl")).as("gini_left_e6"),
        expr(gini("nr", "pr")).as("gini_right_e6"),
        expr(gini("n", "pos")).as("base_gini_e6"),
        col("n"))
      .select(col("cand"), col("nl"), col("pl"), col("nr"), col("pr"),
        col("gini_left_e6"), col("gini_right_e6"), col("base_gini_e6"),
        expr("""CAST((CAST(nl AS DECIMAL(38,0)) * gini_left_e6
               | + CAST(nr AS DECIMAL(38,0)) * gini_right_e6)
               | DIV n AS BIGINT)""".stripMargin).as("weighted_e6"))
      .orderBy(col("weighted_e6"), col("cand")).limit(5)
  }

  val q264Sql: String = {
    def gini(n: String, p: String) =
      s"""CASE WHEN $n = 0 THEN 0 ELSE CAST(1000000 -
         | (CAST($p AS HUGEINT) * $p + CAST($n - $p AS HUGEINT) * ($n - $p))
         |  * 1000000 // (CAST($n AS HUGEINT) * $n) AS BIGINT) END"""
        .stripMargin.replaceAll("\n", "")
    s"""WITH base AS (
       |  SELECT c_mktsegment, CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_c,
       |    CASE WHEN c_custkey IN (SELECT o_custkey FROM orders
       |        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |      THEN 1 ELSE 0 END AS label
       |  FROM customer),
       |tot AS (SELECT COUNT(*) AS n, SUM(label) AS pos FROM base),
       |thr AS (
       |  SELECT ${(1 to 9).map(i =>
      s"CAST(percentile_disc(0.$i) WITHIN GROUP (ORDER BY bal_c) AS BIGINT) AS t$i")
      .mkString(", ")}
       |  FROM base),
       |numeric AS (
       |  ${(1 to 9).map(i =>
      s"""SELECT 'bal_c<=' || CAST(t$i AS VARCHAR) AS cand,
         |    SUM(CASE WHEN bal_c <= t$i THEN 1 ELSE 0 END) AS nl,
         |    SUM(CASE WHEN bal_c <= t$i THEN label ELSE 0 END) AS pl
         |  FROM base CROSS JOIN thr GROUP BY t$i""".stripMargin)
      .mkString("\n  UNION ALL\n  ")}),
       |categorical AS (
       |  SELECT 'seg=' || c_mktsegment AS cand, COUNT(*) AS nl,
       |    SUM(label) AS pl
       |  FROM base GROUP BY c_mktsegment),
       |cands AS (
       |  SELECT cand, nl, pl, n - nl AS nr, pos - pl AS pr, n, pos
       |  FROM (SELECT * FROM numeric UNION ALL SELECT * FROM categorical)
       |  CROSS JOIN tot)
       |SELECT cand, CAST(nl AS BIGINT) AS nl, CAST(pl AS BIGINT) AS pl,
       |  CAST(nr AS BIGINT) AS nr, CAST(pr AS BIGINT) AS pr,
       |  ${gini("nl", "pl")} AS gini_left_e6,
       |  ${gini("nr", "pr")} AS gini_right_e6,
       |  ${gini("n", "pos")} AS base_gini_e6,
       |  CAST((CAST(nl AS HUGEINT) * (${gini("nl", "pl")})
       |    + CAST(nr AS HUGEINT) * (${gini("nr", "pr")})) // n AS BIGINT)
       |    AS weighted_e6
       |FROM cands
       |ORDER BY weighted_e6, cand LIMIT 5""".stripMargin
  }

  // ------------------------------------------- q265: Holm multiple-testing

  /** Standard-normal inverse CDF (Acklam's rational approximation, |ε| <
    * 1.15e-9) — evaluated at PLAN-BUILD time only, to produce the critical
    * values inlined into both engines (the q262 discount-table pattern: the
    * special function never runs per row in either engine).
    */
  private def invNorm(p: Double): Double = {
    val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -invNorm(1 - p)
  }

  /** Tests = nations; family-wise error α. */
  private val HolmM = 25
  private val HolmAlpha = 0.05

  /** Two-sided Holm critical values for rank k = 1..m: z(1 − α/(2(m−k+1))). */
  private val HolmCrit: Seq[Double] =
    (1 to HolmM).map(k => invNorm(1 - HolmAlpha / (2.0 * (HolmM - k + 1))))

  /** q265: Holm–Bonferroni multiple-testing control — the hygiene layer
    * over the per-segment z-test family (q127 single test, q243 SRM,
    * q153/q157 independence/distribution): each nation's customer
    * recent-buyer rate is z-tested against the rest of the population, the
    * 25 tests rank by |z|, and Holm's step-down compares rank k against
    * the inlined critical value for α/(m−k+1), rejecting while every
    * earlier rank also rejected (the running-min window). Counts are exact
    * integers; z is the one fixed IEEE expression both engines share; the
    * critical values are build-time literals, so the reject set is
    * bit-identical — no per-row special functions anywhere.
    *
    * Plan: one |nations| rollup; totals ride a single-partition window
    * over 25 rows; ranking and the step-down run on metadata.
    */
  val q265HolmMultitest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val custs = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    // "recently active buyer" — every customer has SOME order in this
    // corpus, so the all-time label is degenerate (all 1s); the trailing
    // window gives a real ~80/20 target
    val buyers = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    val byNation = custs
      .join(buyers, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_conv"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_cust"), col("n_conv"))
    val tw = Window.partitionBy(lit(1))
    val withTot = byNation
      .withColumn("tot_n", sum(col("n_cust")).over(tw))
      .withColumn("tot_x", sum(col("n_conv")).over(tw))
    val p1 = col("n_conv").cast("double") / col("n_cust")
    val p2 = (col("tot_x") - col("n_conv")).cast("double") /
      (col("tot_n") - col("n_cust"))
    val pp = col("tot_x").cast("double") / col("tot_n")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_cust") +
        lit(1.0) / (col("tot_n") - col("n_cust"))))
    val scored = withTot.withColumn("z", (p1 - p2) / se)
      .withColumn("rk_pos", row_number().over(
        Window.orderBy(abs(col("z")).desc, col("n_name"))))
      .withColumn("crit",
        element_at(array(HolmCrit.map(lit): _*), col("rk_pos")))
    scored
      .withColumn("pass", when(abs(col("z")) >= col("crit"), 1L)
        .otherwise(0L))
      .withColumn("reject_holm", min(col("pass")).over(
        Window.orderBy(col("rk_pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("n_name"), col("n_cust"), col("n_conv"), col("z"),
        col("rk_pos"), col("crit"), col("reject_holm"),
        when(abs(col("z")) >= lit(HolmCrit.head), 1L).otherwise(0L)
          .as("reject_bonferroni"))
      .orderBy(col("rk_pos"))
  }

  val q265Sql: String = {
    val critArr = HolmCrit.mkString("[", ", ", "]")
    s"""WITH byn AS (
       |  SELECT n_name, COUNT(*) AS n_cust,
       |    SUM(CASE WHEN c_custkey IN (SELECT o_custkey FROM orders
       |        WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |      THEN 1 ELSE 0 END) AS n_conv
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY n_name),
       |tot AS (
       |  SELECT *, SUM(n_cust) OVER () AS tot_n, SUM(n_conv) OVER () AS tot_x
       |  FROM byn),
       |z AS (
       |  SELECT n_name, n_cust, n_conv,
       |    (CAST(n_conv AS DOUBLE) / n_cust
       |      - CAST(tot_x - n_conv AS DOUBLE) / (tot_n - n_cust))
       |    / sqrt((CAST(tot_x AS DOUBLE) / tot_n)
       |        * (1.0 - CAST(tot_x AS DOUBLE) / tot_n)
       |        * (1.0 / n_cust + 1.0 / (tot_n - n_cust))) AS z
       |  FROM tot),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, n_name) AS rk_pos,
       |    ($critArr)[CAST(ROW_NUMBER()
       |      OVER (ORDER BY ABS(z) DESC, n_name) AS INT)] AS crit
       |  FROM z)
       |SELECT n_name, CAST(n_cust AS BIGINT) AS n_cust,
       |  CAST(n_conv AS BIGINT) AS n_conv, z, rk_pos, crit,
       |  MIN(CASE WHEN ABS(z) >= crit THEN 1 ELSE 0 END)
       |    OVER (ORDER BY rk_pos ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW) AS reject_holm,
       |  CASE WHEN ABS(z) >= ${HolmCrit.head} THEN 1 ELSE 0 END
       |    AS reject_bonferroni
       |FROM rk ORDER BY rk_pos""".stripMargin
  }

  // ------------------------------------------- q266: Benjamini-Hochberg FDR

  /** Step-UP critical values for rank k = 1..m: z(1 − kα/(2m)). */
  private val BhCrit: Seq[Double] =
    (1 to HolmM).map(k => invNorm(1 - k * HolmAlpha / (2.0 * HolmM)))

  /** q266: Benjamini–Hochberg FDR control over the same per-nation z-test
    * family as q265 — the discovery-oriented sibling: Holm bounds the
    * family-wise error (any false rejection), BH bounds the expected FALSE
    * DISCOVERY RATE, rejecting every rank up to the LARGEST k whose |z|
    * clears its step-up threshold (so an isolated failure mid-ranking does
    * not stop later discoveries the way Holm's step-down does). Thresholds
    * are the same build-time-inlined inverse-normal literals; the step-up
    * cut is a whole-family MAX window over the 25-row ranking. Composes
    * directly over q265's output — one extra metadata pass, no new corpus
    * work.
    */
  val q266BhFdr: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = q265HolmMultitest(s, dir)
      .select(col("n_name"), col("n_cust"), col("n_conv"), col("z"),
        col("rk_pos"), col("reject_holm"))
      .withColumn("crit_bh",
        element_at(array(BhCrit.map(lit): _*), col("rk_pos")))
    val kmax = base
      .withColumn("k_pass",
        when(abs(col("z")) >= col("crit_bh"), col("rk_pos")).otherwise(0L))
      .withColumn("k_max", max(col("k_pass")).over(Window.partitionBy(lit(1))))
    kmax.select(col("n_name"), col("n_cust"), col("n_conv"), col("z"),
        col("rk_pos"), col("crit_bh"),
        when(col("rk_pos") <= col("k_max"), 1L).otherwise(0L)
          .as("reject_bh"),
        col("reject_holm"))
      .orderBy(col("rk_pos"))
  }

  val q266Sql: String = {
    val critArr = BhCrit.mkString("[", ", ", "]")
    s"""WITH holm AS ($q265Sql),
       |bh AS (
       |  SELECT n_name, n_cust, n_conv, z, rk_pos,
       |    ($critArr)[CAST(rk_pos AS INT)] AS crit_bh, reject_holm
       |  FROM holm),
       |cut AS (
       |  SELECT *, MAX(CASE WHEN ABS(z) >= crit_bh THEN rk_pos ELSE 0 END)
       |    OVER () AS k_max
       |  FROM bh)
       |SELECT n_name, n_cust, n_conv, z, rk_pos, crit_bh,
       |  CASE WHEN rk_pos <= k_max THEN 1 ELSE 0 END AS reject_bh,
       |  reject_holm
       |FROM cut ORDER BY rk_pos""".stripMargin
  }

  // ------------------------------------------- q268: one-way ANOVA

  /** q268: one-way ANOVA of order value across priorities — the k-group
    * generalization of q127's two-sample test, closing the classical
    * test family (chi-square q153, KS q157, z q127/q265). The exactness
    * problem ANOVA poses is that Σ S_g²/n_g mixes denominators, and a
    * double summation over groups is partition-order-sensitive — so every
    * sum-of-squares term is e6-floor-quantized PER GROUP first
    * (DECIMAL(38,0) products; floors are order-free integers), and the F
    * statistic and effect size are integer ratios of those: f_e6 =
    * (ssb DIV (k−1))·10⁶ DIV (ssw DIV (N−k)), η²_e6 = ssb·10⁶ DIV
    * (ssb+ssw).
    * Digit budget: S_g² ·10⁶ stays under DECIMAL(38,0) while group cent
    * sums are below ~10¹⁵·√10 — beyond that, re-center on the grand mean
    * first.
    *
    * Plan: one fact pass to the |groups| rollup; everything after is a
    * metadata fold.
    */
  val q268Anova: Q = (s, dir) =>
    oneWayPanel(Tables.orders(s, dir).select(col("o_orderpriority").as("g"),
      cents(col("o_totalprice")).as("c")))

  /** Shared one-way F panel over rows (g: group, c: non-negative long):
    * the exact-integer ANOVA fold q268 documents, reused by q277's
    * Brown–Forsythe test (same algebra over absolute deviations).
    */
  private def oneWayPanel(o: DataFrame): DataFrame = {
    // SS terms reach ~10^24, past BIGINT (where DIV silently corrupts):
    // fdiv divides in DECIMAL(38,0)
    val grp = o.groupBy(col("g")).agg(count(lit(1)).as("n_g"),
      sum(col("c").cast(dec)).as("s_g"),
      sum(col("c").cast(dec) * col("c")).as("q_g"))
    grp
      .select(col("n_g"), col("s_g"), col("q_g"),
        expr(fdiv("s_g * s_g * 1000000", "n_g")).as("t_g"))
      .agg(count(lit(1)).as("k_groups"), sum(col("n_g")).as("n_total"),
        sum(col("s_g")).as("s_all"), sum(col("q_g")).as("q_all"),
        sum(col("t_g")).as("t_all"))
      .select(col("k_groups"), col("n_total"),
        expr(s"CAST(t_all - ${fdiv("s_all * s_all * 1000000", "n_total")} AS DECIMAL(38,0))")
          .as("ssb_e6"),
        expr("CAST(q_all * 1000000 - t_all AS DECIMAL(38,0))").as("ssw_e6"),
        col("n_total").as("n"), col("k_groups").as("k"))
      // mean squares FIRST: ssb·(n−k)·10⁶ would square the digit budget
      // (overflows DECIMAL(38,0) past sf0.1); msb·10⁶ DIV msw keeps every
      // intermediate under ~10³⁷ through sf1
      .select(col("k_groups"), col("n_total"),
        expr(fdiv("ssb_e6", "k - 1")).as("msb_e6"),
        expr(fdiv("ssw_e6", "n - k")).as("msw_e6"),
        col("ssb_e6"), col("ssw_e6"))
      .select(col("k_groups"), col("n_total"),
        expr("CAST(msb_e6 * 1000000 DIV msw_e6 AS BIGINT)").as("f_e6"),
        expr("CAST(ssb_e6 * 1000000 DIV (ssb_e6 + ssw_e6) AS BIGINT)")
          .as("eta2_e6"))
  }

  val q268Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |grp AS (
      |  SELECT g, COUNT(*) AS n_g, SUM(CAST(c AS HUGEINT)) AS s_g,
      |    SUM(CAST(c AS HUGEINT) * c) AS q_g
      |  FROM o GROUP BY g),
      |terms AS (
      |  SELECT n_g, s_g, q_g, s_g * s_g * 1000000 // n_g AS t_g FROM grp),
      |roll AS (
      |  SELECT COUNT(*) AS k, SUM(n_g) AS n, SUM(s_g) AS s_all,
      |    SUM(q_g) AS q_all, SUM(t_g) AS t_all
      |  FROM terms),
      |ss AS (
      |  SELECT k, n, t_all - s_all * s_all * 1000000 // n AS ssb_e6,
      |    q_all * 1000000 - t_all AS ssw_e6
      |  FROM roll)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_total,
      |  CAST((ssb_e6 // (k - 1)) * 1000000 // (ssw_e6 // (n - k))
      |    AS BIGINT) AS f_e6,
      |  CAST(ssb_e6 * 1000000 // (ssb_e6 + ssw_e6) AS BIGINT) AS eta2_e6
      |FROM ss""".stripMargin

  // -------------------------------------- q277: Brown–Forsythe homogeneity

  /** q277: Brown–Forsythe variance-homogeneity test — "is order-value
    * SPREAD the same across priorities?", the diagnostic a q268 reader
    * asks next (ANOVA's F assumes equal variances; this is the robust
    * Levene variant that tests exactly that assumption). Each row's
    * dispersion score is |c − median_g| in integer cents (medians via
    * percentile_disc — an exact order statistic, portable where a mean
    * would re-open float accumulation), and the W statistic is the same
    * exact-integer one-way F fold as q268 applied to those deviations.
    *
    * Plan: one |groups| percentile rollup broadcast back onto the fact
    * scan, then the shared one-row ANOVA fold — two fact passes total, no
    * wide shuffle (the percentile rollup carries 5 rows).
    */
  val q277BrownForsythe: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderpriority").as("g"),
      cents(col("o_totalprice")).as("c"))
    val med = o.groupBy(col("g"))
      // Spark's percentile family returns doubles — the value is an exact
      // order statistic (an integer), so the cast back is lossless
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
        .cast("long").as("med_c"))
    val dev = o.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("c") - col("med_c")).as("c"))
    oneWayPanel(dev)
      .select(col("k_groups"), col("n_total"), col("f_e6").as("w_e6"))
  }

  val q277Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |med AS (
      |  SELECT g, CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)
      |    AS BIGINT) AS med_c
      |  FROM o GROUP BY g),
      |z AS (
      |  SELECT o.g, ABS(c - med_c) AS c FROM o JOIN med ON o.g = med.g),
      |grp AS (
      |  SELECT g, COUNT(*) AS n_g, SUM(CAST(c AS HUGEINT)) AS s_g,
      |    SUM(CAST(c AS HUGEINT) * c) AS q_g
      |  FROM z GROUP BY g),
      |terms AS (
      |  SELECT n_g, s_g, q_g, s_g * s_g * 1000000 // n_g AS t_g FROM grp),
      |roll AS (
      |  SELECT COUNT(*) AS k, SUM(n_g) AS n, SUM(s_g) AS s_all,
      |    SUM(q_g) AS q_all, SUM(t_g) AS t_all
      |  FROM terms),
      |ss AS (
      |  SELECT k, n, t_all - s_all * s_all * 1000000 // n AS ssb_e6,
      |    q_all * 1000000 - t_all AS ssw_e6
      |  FROM roll)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_total,
      |  CAST((ssb_e6 // (k - 1)) * 1000000 // (ssw_e6 // (n - k))
      |    AS BIGINT) AS w_e6
      |FROM ss""".stripMargin

  // ------------------------------ shared two-level distributed ranking

  /** Distributed below-count over a (groupCols, valueCol, cnt) rollup —
    * the primitive under every exact rank statistic (q271/q272). A plain
    * `Window.partitionBy(groups).orderBy(value)` funnels each group's
    * whole rollup through ONE sort task — 3 return flags means 3 tasks no
    * matter how many executors, the same class of scale-killer as an
    * unpartitioned window. Two levels restore parallelism with identical
    * output:
    *
    *   below(v) = Σ cnt over buckets < bkt(v)   (prefix over the ~|range/W|
    *              bucket rollup — metadata-sized, the only serial window)
    *            + Σ cnt over values < v within bkt(v)  (windows partitioned
    *              by (groups, bucket) — parallelism = groups × buckets)
    *
    * Values must be ≥ 0 (integer `div` bucketing). Returns the rollup
    * columns plus `below`.
    */
  private[operators] def doubledRankBelow(byV: DataFrame, groupCols: Seq[String],
      valueCol: String, bucketWidth: Long): DataFrame = {
    val gCols = groupCols.map(col)
    val bucketed = byV.withColumn("bkt", expr(s"$valueCol div $bucketWidth"))
    val bAgg = bucketed.groupBy((gCols :+ col("bkt")): _*)
      .agg(sum(col("cnt")).as("bcnt"))
    val bPrefixW = Window.partitionBy(gCols: _*).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bPrefix = bAgg
      .withColumn("bbelow", coalesce(sum(col("bcnt")).over(bPrefixW), lit(0L)))
      .select((gCols :+ col("bkt") :+ col("bbelow")): _*)
    val wIn = Window.partitionBy((gCols :+ col("bkt")): _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("ibelow", coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .join(bPrefix, groupCols :+ "bkt")
      .withColumn("below", col("bbelow") + col("ibelow"))
      .drop("bkt", "bbelow", "ibelow")
  }

  // -------------------------------- q290: histogram-sketch quantiles

  /** Bucket count for the quantile sketch. */
  private val SketchBuckets = 256L

  /** q290: mergeable equal-width histogram sketch with measured quantile
    * error — the third member of the sketch family next to bottom-k (q91)
    * and count-min (q149): 256 bucket counts are associative (mergeable
    * across partitions/days by plain addition, unlike a rank), and P50/
    * P90/P99 read off the cumulative histogram with within-bucket linear
    * interpolation. The report carries the sketch estimate NEXT TO the
    * exact percentile_disc and the error in ppm of the value range — the
    * sketch ships with its own accuracy audit (max error is one bucket
    * width by construction).
    *
    * All integer: width = (max−min) div 256 + 1, the rank target is
    * ceil(n·q/100) exactly as percentile_disc defines it, and the
    * interpolation is one exact floor division.
    *
    * Plan: one fact pass for (min, max, n), one for bucket counts, one
    * for the exact percentiles (the audit column — a production sketch
    * drops it); the 256-row cumulative window is metadata-sized.
    */
  val q290HistQuantiles: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(cents(col("o_totalprice")).as("c"))
    val scal = o.agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
      count(lit(1)).as("n"))
    val hist = o.crossJoin(broadcast(scal))
      .select(expr(s"(c - mn) div ((mx - mn) div $SketchBuckets + 1)").as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
    val asc = Window.orderBy(col("bkt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_below", col("cum") - col("cnt"))
    val exact = o.agg(
      expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY c)").cast("long")
        .as("x50"),
      expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY c)").cast("long")
        .as("x90"),
      expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)").cast("long")
        .as("x99"))
    cum.crossJoin(broadcast(scal)).crossJoin(broadcast(exact))
      .select(col("*"), explode(array(lit(50L), lit(90L), lit(99L))).as("q_pct"))
      .filter(col("cum_below") < expr("(n * q_pct + 99) div 100") &&
        expr("(n * q_pct + 99) div 100") <= col("cum"))
      .select(col("q_pct"),
        expr(s"""mn + bkt * ((mx - mn) div $SketchBuckets + 1)
                | + ((n * q_pct + 99) div 100 - cum_below)
                |   * ((mx - mn) div $SketchBuckets + 1) div cnt"""
          .stripMargin.replace("\n", " ")).as("est_c"),
        expr("CASE WHEN q_pct = 50 THEN x50 WHEN q_pct = 90 THEN x90 ELSE x99 END")
          .as("exact_c"),
        col("mn"), col("mx"))
      .select(col("q_pct"), col("est_c"), col("exact_c"),
        abs(col("est_c") - col("exact_c")).as("abs_err_c"),
        expr("""CAST(abs(est_c - (CASE WHEN mx = mn THEN est_c ELSE exact_c END))
                | * 1000000 div (CASE WHEN mx = mn THEN 1 ELSE mx - mn END)
                | AS BIGINT)""".stripMargin).as("err_ppm_of_range"))
      .orderBy(col("q_pct"))
  }

  val q290Sql: String =
    s"""WITH o AS (
       |  SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS c FROM orders),
       |scal AS (
       |  SELECT MIN(c) AS mn, MAX(c) AS mx, COUNT(*) AS n FROM o),
       |hist AS (
       |  SELECT (c - mn) // ((mx - mn) // $SketchBuckets + 1) AS bkt,
       |    COUNT(*) AS cnt
       |  FROM o CROSS JOIN scal GROUP BY 1),
       |cum AS (
       |  SELECT bkt, cnt,
       |    CAST(SUM(cnt) OVER (ORDER BY bkt) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (ORDER BY bkt) - cnt AS BIGINT) AS cum_below
       |  FROM hist),
       |exact AS (
       |  SELECT
       |    CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY c) AS BIGINT) AS x50,
       |    CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY c) AS BIGINT) AS x90,
       |    CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT) AS x99
       |  FROM o),
       |qrows AS (
       |  SELECT cum.*, mn, mx, n, x50, x90, x99, q_pct
       |  FROM cum CROSS JOIN scal CROSS JOIN exact
       |  CROSS JOIN (SELECT UNNEST([50, 90, 99]) AS q_pct)),
       |hit AS (
       |  SELECT q_pct,
       |    mn + bkt * ((mx - mn) // $SketchBuckets + 1)
       |      + ((n * q_pct + 99) // 100 - cum_below)
       |        * ((mx - mn) // $SketchBuckets + 1) // cnt AS est_c,
       |    CASE WHEN q_pct = 50 THEN x50 WHEN q_pct = 90 THEN x90
       |         ELSE x99 END AS exact_c,
       |    mn, mx
       |  FROM qrows
       |  WHERE cum_below < (n * q_pct + 99) // 100
       |    AND (n * q_pct + 99) // 100 <= cum)
       |SELECT CAST(q_pct AS BIGINT) AS q_pct, CAST(est_c AS BIGINT) AS est_c,
       |  exact_c,
       |  CAST(ABS(est_c - exact_c) AS BIGINT) AS abs_err_c,
       |  CAST(ABS(est_c - (CASE WHEN mx = mn THEN est_c ELSE exact_c END))
       |    * 1000000 // (CASE WHEN mx = mn THEN 1 ELSE mx - mn END)
       |    AS BIGINT) AS err_ppm_of_range
       |FROM hit ORDER BY q_pct""".stripMargin

  // ------------------------------------------ q283: Welch two-sample test

  /** q283: Welch's unequal-variance two-sample test — do returned line
    * items (R) carry different prices than kept ones (N)? — the mean-
    * difference companion to q127's proportion z (Student's pooled t is
    * wrong when group variances differ, and warehouse segments always
    * differ). Entirely exact-integer staged:
    *
    *   t² = (m̄₁ − m̄₂)² / (v₁/n₁ + v₂/n₂),
    *   df = (q₁+q₂)² / (q₁²/(n₁−1) + q₂²/(n₂−1))   (Welch–Satterthwaite)
    *
    * with means e6-quantized per group, vᵢ/nᵢ as e12 floor-divisions of
    * the exact integer SS (staged B/(n(n−1)) then ·10¹²/n so nothing
    * exceeds ~10³³ at any corpus scale), and df as one e3 ratio. The
    * floors are defined arithmetic mirrored in the oracle.
    *
    * Plan: one fact pass to a 2-row conditional rollup; everything after
    * is scalar algebra.
    */
  val q283WelchTest: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(col("l_returnflag").as("g"), cents(col("l_extendedprice")).as("c"))
    l.groupBy(col("g"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("c").cast(dec)).as("s"),
        sum((col("c") * col("c")).cast(dec)).as("ss"))
      .agg(
        max(when(col("g") === "R", col("n"))).as("n1"),
        max(when(col("g") === "R", col("s"))).as("s1"),
        max(when(col("g") === "R", col("ss"))).as("ss1"),
        max(when(col("g") === "N", col("n"))).as("n2"),
        max(when(col("g") === "N", col("s"))).as("s2"),
        max(when(col("g") === "N", col("ss"))).as("ss2"))
      .select(col("n1").cast("long").as("n_returned"),
        col("n2").cast("long").as("n_kept"),
        (expr(fdiv("s1 * 1000000", "n1")) - expr(fdiv("s2 * 1000000", "n2")))
          .as("dm_e6"),
        expr(fdiv(fdiv("n1 * ss1 - s1 * s1", "n1 * (n1 - 1)") + " * 1000000000000",
          "n1")).as("q1_e12"),
        expr(fdiv(fdiv("n2 * ss2 - s2 * s2", "n2 * (n2 - 1)") + " * 1000000000000",
          "n2")).as("q2_e12"))
      // df restaged through the e6 variance-share r = q1/(q1+q2):
      // df = 1/(r²/(n1−1) + (1−r)²/(n2−1)) — squaring the e12 q's directly
      // would pass 10⁴⁰
      .withColumn("r_e6", expr(fdiv("q1_e12 * 1000000", "q1_e12 + q2_e12")))
      .select(col("n_returned"), col("n_kept"),
        col("dm_e6").cast("long").as("mean_diff_e6"),
        expr(fdiv("dm_e6 * dm_e6 * 1000000", "q1_e12 + q2_e12")).cast("long")
          .as("t2_e6"),
        expr(fdiv(
          // leading decimal cast keeps the 10¹⁵·n² product out of int64
          "CAST(1000000000000 AS DECIMAL(38,0)) * (n_returned - 1) * (n_kept - 1) * 1000",
          "r_e6 * r_e6 * (n_kept - 1) + " +
            "(1000000 - r_e6) * (1000000 - r_e6) * (n_returned - 1)"))
          .cast("long").as("df_e3"))
  }

  val q283Sql: String =
    """WITH l AS (
      |  SELECT l_returnflag AS g,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS c
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      |grp AS (
      |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(c AS HUGEINT)) AS s, SUM(CAST(c AS HUGEINT) * c) AS ss
      |  FROM l GROUP BY g),
      |wide AS (
      |  SELECT
      |    MAX(CASE WHEN g = 'R' THEN n END) AS n1,
      |    MAX(CASE WHEN g = 'R' THEN s END) AS s1,
      |    MAX(CASE WHEN g = 'R' THEN ss END) AS ss1,
      |    MAX(CASE WHEN g = 'N' THEN n END) AS n2,
      |    MAX(CASE WHEN g = 'N' THEN s END) AS s2,
      |    MAX(CASE WHEN g = 'N' THEN ss END) AS ss2
      |  FROM grp),
      |stage AS (
      |  SELECT n1, n2,
      |    s1 * 1000000 // n1 - s2 * 1000000 // n2 AS dm_e6,
      |    ((n1 * ss1 - s1 * s1) // (n1 * (n1 - 1))) * 1000000000000 // n1
      |      AS q1_e12,
      |    ((n2 * ss2 - s2 * s2) // (n2 * (n2 - 1))) * 1000000000000 // n2
      |      AS q2_e12
      |  FROM wide),
      |ratio AS (
      |  SELECT *, q1_e12 * 1000000 // (q1_e12 + q2_e12) AS r_e6 FROM stage)
      |SELECT CAST(n1 AS BIGINT) AS n_returned, CAST(n2 AS BIGINT) AS n_kept,
      |  CAST(dm_e6 AS BIGINT) AS mean_diff_e6,
      |  CAST(dm_e6 * dm_e6 * 1000000 // (q1_e12 + q2_e12) AS BIGINT)
      |    AS t2_e6,
      |  CAST(1000000000000 * (n1 - 1) * (n2 - 1) * 1000
      |    // (r_e6 * r_e6 * (n2 - 1)
      |        + (1000000 - r_e6) * (1000000 - r_e6) * (n1 - 1))
      |    AS BIGINT) AS df_e3
      |FROM ratio""".stripMargin

  // -------------------------------------- q271: Spearman rank correlation

  /** q271: Spearman rank correlation of quantity vs price per return flag —
    * the monotone-association companion to q117's Pearson r (outlier-robust,
    * and the pair every metric dashboard reports together). Exactness:
    * average ranks are rationals, so everything runs on DOUBLED ranks —
    * for a value with cnt ties and `below` smaller rows, the doubled
    * average rank is 2·below + cnt + 1, an integer — and on ranks CENTERED
    * by the group's exact doubled mean (n_g + 1), which kills the n·Σxy
    * cross-term: ρ = Σu_x·u_y / (√Σu_x²·√Σu_y²) over exact DECIMAL(38,0)
    * sums, one IEEE division and two IEEE sqrts of exactly-represented
    * integers — bit-portable.
    *
    * Plan: rank maps build on DISTINCT-VALUE rollups via the TWO-LEVEL
    * bucket construction of [[doubledRankBelow]] — a price-like column is
    * nearly unique, so a per-group ordered window would funnel the whole
    * rollup through |groups| sort tasks; bucketing restores parallelism
    * while producing the IDENTICAL below-counts (the oracle keeps the
    * plain one-window formulation). Then two value-keyed joins back onto
    * the fact + one co-moment fold.
    */
  val q271Spearman: Q = (s, dir) => {
    val rows = Tables.lineitem(s, dir).select(col("l_returnflag").as("g"),
      cents(col("l_quantity")).as("xc"), cents(col("l_extendedprice")).as("yc"))

    // r8: both variables' centered doubled-rank maps u = 2·below + cnt −
    // n_g ride ONE grouped rank pass (the q329/q427 unpivot-fusion
    // device): explode to (g, which, v), one value rollup, one grouped
    // two-level cascade — identical u values (below-counts are
    // width-independent), half the fact rollups. The rollup feeds the
    // bucket prefix, the within-bucket windows AND the per-(g, which)
    // totals; the u map feeds both variable joins — checkpoint each once.
    val byV = rows
      .select(col("g"), explode(array(
        struct(lit("x").as("which"), col("xc").as("v")),
        struct(lit("y").as("which"), col("yc").as("v")))).as("e"))
      .select(col("g"), col("e.which").as("which"), col("e.v").as("v"))
      .groupBy(col("g"), col("which"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val uMap = doubledRankBelow(byV, Seq("g", "which"), "v", 10000L)
      .join(broadcast(byV.groupBy(col("g"), col("which"))
        .agg(sum(col("cnt")).as("n_g"))), Seq("g", "which"))
      .select(col("g"), col("which"), col("v"),
        (lit(2L) * col("below") + col("cnt") - col("n_g")).as("u"))
      .localCheckpoint()
    def rankMap(w: String, vcol: String) = uMap.filter(col("which") === w)
      .select(col("g"), col("v").as(vcol), col("u").as(s"u_$vcol"))

    rows
      // Join strategy is picked deliberately (guide §3): price is
      // near-unique so its rank map is CORPUS-scale — broadcast is wrong
      // at 100 TB and, left to size estimates, Catalyst instead
      // broadcast the single-split FACT and streamed the rank map's
      // AQE-coalesced single partition, running the whole 600k-row probe
      // + co-moment fold on ONE task (profiled 1.5 s at sf0.1). A
      // shuffled-hash hint exchanges both corpus-scale sides by (g, yc)
      // — parallel probe at every scale. The quantity map (≤ ~50 values
      // per group) is metadata: broadcast.
      .join(rankMap("y", "yc").hint("shuffle_hash"), Seq("g", "yc"))
      .join(broadcast(rankMap("x", "xc")), Seq("g", "xc"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"),
        // u ≤ n_g, so u² overflows int64 past ~3e9 rows/group: multiply in
        // decimal, never in long
        sum(col("u_xc").cast(dec) * col("u_yc").cast(dec)).as("sxy"),
        sum(col("u_xc").cast(dec) * col("u_xc").cast(dec)).as("sxx"),
        sum(col("u_yc").cast(dec) * col("u_yc").cast(dec)).as("syy"))
      .select(col("g").as("l_returnflag"), col("n_rows"),
        (col("sxy").cast("double") /
          (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))))
          .as("rho_spearman"))
      .orderBy(col("l_returnflag"))
  }

  val q271Sql: String =
    """WITH rws AS (
      |  SELECT l_returnflag AS g,
      |    CAST(ROUND(l_quantity*100) AS BIGINT) AS xc,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS yc
      |  FROM lineitem),
      |rx AS (SELECT g, xc, COUNT(*) AS cnt FROM rws GROUP BY g, xc),
      |ux AS (
      |  SELECT g, xc,
      |    2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY xc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt - SUM(cnt) OVER (PARTITION BY g) AS u_xc
      |  FROM rx),
      |ry AS (SELECT g, yc, COUNT(*) AS cnt FROM rws GROUP BY g, yc),
      |uy AS (
      |  SELECT g, yc,
      |    2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY yc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt - SUM(cnt) OVER (PARTITION BY g) AS u_yc
      |  FROM ry),
      |j AS (
      |  SELECT r.g, u_xc, u_yc
      |  FROM rws r
      |  JOIN ux ON r.g = ux.g AND r.xc = ux.xc
      |  JOIN uy ON r.g = uy.g AND r.yc = uy.yc),
      |m AS (
      |  SELECT g, COUNT(*) AS n_rows,
      |    SUM(CAST(u_xc AS HUGEINT) * u_yc) AS sxy,
      |    SUM(CAST(u_xc AS HUGEINT) * u_xc) AS sxx,
      |    SUM(CAST(u_yc AS HUGEINT) * u_yc) AS syy
      |  FROM j GROUP BY g)
      |SELECT g AS l_returnflag, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(CAST(sxy AS VARCHAR) AS DOUBLE) /
      |    (sqrt(CAST(CAST(sxx AS VARCHAR) AS DOUBLE)) *
      |     sqrt(CAST(CAST(syy AS VARCHAR) AS DOUBLE))) AS rho_spearman
      |FROM m ORDER BY g""".stripMargin

  // -------------------------------------- q272: Kruskal–Wallis rank test

  /** (g, c, n_gc) cell counts of `o` and, per price c, its doubled
    * mid-rank d = 2·below + cnt + 1 (q272, q295). Two-level
    * ([[doubledRankBelow]]): order totals are nearly unique, so one
    * ordered window would be one sort task at any cluster size.
    */
  private def doubledMidRanks(o: DataFrame): (DataFrame, DataFrame) = {
    val gc = o.groupBy(col("g"), col("c")).agg(count(lit(1)).as("n_gc"))
    val byV = gc.groupBy(col("c")).agg(sum(col("n_gc")).as("cnt"))
    val dRank = doubledRankBelow(byV, Seq.empty, "c", 100000L)
      .select(col("c"), (lit(2L) * col("below") + col("cnt") + 1L).as("d"),
        col("cnt"))
    (gc, dRank)
  }

  /** q272: Kruskal–Wallis H — the rank-based (distribution-free) sibling of
    * q268's ANOVA over the same design, for when order values are heavy-
    * tailed enough that mean-based F is the wrong test. Runs entirely in
    * exact integers: global DOUBLED average ranks off the distinct-price
    * rollup (q271's construction, unpartitioned), per-group rank sums
    * R2_g = Σ n_gc·d_c in DECIMAL(38,0), then H = 12/(N(N+1))·Σ n_g·Δ²
    * staged as e6 floor-divisions whose operand order keeps every
    * intermediate under ~10³² at any corpus scale (divide by N+1, then by
    * N, THEN sum). The tie correction 1 − Σ(t³−t)/(N³−N) applies as one
    * integer ratio. Truncation error is defined arithmetic — the oracle
    * floors in the same places.
    *
    * Plan: fact pass → (g, price) rollup; global ranks come from the
    * two-level bucket construction ([[doubledRankBelow]] — the only serial
    * window runs over the ~|range/width| bucket rollup, metadata-sized);
    * the rest is a |groups|-row fold with the (N, T) scalar riding a
    * broadcast cross join.
    */
  val q272KruskalWallis: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderpriority").as("g"),
      cents(col("o_totalprice")).as("c"))
    val (gc, dRank) = doubledMidRanks(o)
    val scalars = dRank.agg(
      sum(col("cnt")).cast(dec).as("n_all"),
      sum(col("cnt").cast(dec) * col("cnt") * col("cnt") -
        col("cnt").cast(dec)).as("ties"))
    val perG = gc.join(dRank.select(col("c"), col("d")), Seq("c"))
      .groupBy(col("g"))
      .agg(sum(col("n_gc")).cast(dec).as("n_g"),
        sum(col("n_gc").cast(dec) * col("d")).as("r2_g"))
    perG.crossJoin(broadcast(scalars))
      // dev = e6-scaled doubled deviation of the group mean rank from the
      // grand doubled mean (N+1, exact); Σ n_g·Δ²/(N(N+1)) staged so the
      // largest product is n_g·(dev²/(N+1)) ≲ 10³² at N = 10¹⁰
      .select(col("g"), col("n_g"), col("n_all"), col("ties"),
        (expr(fdiv("r2_g * 1000000", "n_g")) -
          (col("n_all") + lit(1)) * lit(1000000L)).as("dev"))
      .select(col("g"), col("n_g"), col("n_all"), col("ties"),
        expr(fdiv(fdiv("dev * dev", "n_all + 1") + " * n_g", "n_all"))
          .as("t2"))
      .agg(count(lit(1)).as("k_groups"), max(col("n_all")).as("n_all"),
        max(col("ties")).as("ties"), sum(col("t2")).as("t2_sum"))
      .select(col("k_groups"), col("n_all").cast("long").as("n_total"),
        expr(fdiv("3 * t2_sum", "1000000")).as("h_raw_e6"),
        expr(fdiv(
          "(n_all * n_all * n_all - n_all - ties) * 1000000",
          "n_all * n_all * n_all - n_all")).as("corr_e6"))
      .select(col("k_groups"), col("n_total"),
        col("h_raw_e6").cast("long").as("h_e6"),
        expr(fdiv("h_raw_e6 * 1000000", "corr_e6")).cast("long")
          .as("h_tied_e6"))
  }

  val q272Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |gc AS (SELECT g, c, COUNT(*) AS n_gc FROM o GROUP BY g, c),
      |by_v AS (SELECT c, CAST(SUM(n_gc) AS BIGINT) AS cnt FROM gc GROUP BY c),
      |d_rank AS (
      |  SELECT c,
      |    2 * COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS d,
      |    cnt
      |  FROM by_v),
      |scalars AS (
      |  SELECT CAST(SUM(cnt) AS HUGEINT) AS n_all,
      |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
      |  FROM d_rank),
      |per_g AS (
      |  SELECT g, CAST(SUM(n_gc) AS HUGEINT) AS n_g,
      |    SUM(CAST(n_gc AS HUGEINT) * d) AS r2_g
      |  FROM gc JOIN d_rank USING (c) GROUP BY g),
      |dev AS (
      |  SELECT g, n_g, n_all, ties,
      |    r2_g * 1000000 // n_g - (n_all + 1) * 1000000 AS dev
      |  FROM per_g CROSS JOIN scalars),
      |t2 AS (
      |  SELECT g, n_g, n_all, ties,
      |    (dev * dev // (n_all + 1)) * n_g // n_all AS t2
      |  FROM dev),
      |agg AS (
      |  SELECT COUNT(*) AS k_groups, MAX(n_all) AS n_all, MAX(ties) AS ties,
      |    SUM(t2) AS t2_sum
      |  FROM t2),
      |h AS (
      |  SELECT k_groups, n_all, 3 * t2_sum // 1000000 AS h_raw_e6,
      |    (n_all * n_all * n_all - n_all - ties) * 1000000
      |      // (n_all * n_all * n_all - n_all) AS corr_e6
      |  FROM agg)
      |SELECT CAST(k_groups AS BIGINT) AS k_groups,
      |  CAST(n_all AS BIGINT) AS n_total,
      |  CAST(h_raw_e6 AS BIGINT) AS h_e6,
      |  CAST(h_raw_e6 * 1000000 // corr_e6 AS BIGINT) AS h_tied_e6
      |FROM h""".stripMargin

  // ------------------------------- q294: power-law (Zipf) exponent fit

  /** q294: power-law exponent estimation — fit log₂(freq) = α + s·log₂(rank)
    * by closed-form OLS over the corpus word-frequency rollup. q190's Zipf
    * panel EYEBALLS the head; this ESTIMATES the exponent (slope ≈ −1 for
    * Zipfian text — corpus-drift monitoring watches s move) with R² as the
    * goodness-of-fit. Both coordinates are the portable e6 fixed-point log₂
    * ([[graft.functions.Text.log2e6SparkSql]]), so the regression inputs
    * are identical integers in both engines; the five power sums accumulate
    * exactly in DECIMAL(38,0) (x ≲ 5·10⁷ even at a 10¹² vocabulary, so
    * Σx² ≲ 10²⁷), and slope/intercept/R² are each a fixed IEEE expression
    * over exact integers:
    *
    *   s = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²),   R² = (nΣxy−ΣxΣy)² / (B·C)
    *
    * (R²'s square runs in IEEE after casting each exact factor — the q291
    * delta-method rule.)
    *
    * Plan: one tokenize pass → vocabulary-sized frequency rollup; the rank
    * window and the OLS fold run over that rollup, never over corpus rows.
    * The e6 outputs of the log are plan-build-inlined LUT integers — no
    * libm at runtime.
    */
  val q294PowerlawFit: Q = (s, dir) => {
    import graft.functions.Text
    val tf = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val ranked = tf.withColumn("rnk",
      row_number().over(Window.orderBy(col("freq").desc, col("word")))
        .cast("long"))
    val xy = ranked.select(
      expr(Text.log2e6SparkSql("rnk")).cast(dec).as("x"),
      expr(Text.log2e6SparkSql("freq")).cast(dec).as("y"))
    xy.agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_words"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx_n"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary_n"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("ic_n"))
      .select(col("n_words"),
        (col("cov_n").cast("double") / col("varx_n").cast("double"))
          .as("zipf_slope"),
        (col("ic_n").cast("double") / col("varx_n").cast("double") / 1e6)
          .as("log2_intercept"),
        (col("cov_n").cast("double") * col("cov_n").cast("double") /
          (col("varx_n").cast("double") * col("vary_n").cast("double")))
          .as("r2"))
  }

  val q294Sql: String = {
    import graft.functions.Text
    s"""WITH words AS (
       |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
       |tf AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
       |ranked AS (
       |  SELECT freq,
       |    ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rnk
       |  FROM tf),
       |xy AS (
       |  SELECT CAST(${Text.log2e6DuckSql("rnk")} AS HUGEINT) AS x,
       |    CAST(${Text.log2e6DuckSql("freq")} AS HUGEINT) AS y
       |  FROM ranked),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
       |  FROM xy),
       |facs AS (
       |  SELECT n, n*sxy - sx*sy AS cov_n, n*sxx - sx*sx AS varx_n,
       |    n*syy - sy*sy AS vary_n, sy*sxx - sx*sxy AS ic_n
       |  FROM sums)
       |SELECT CAST(n AS BIGINT) AS n_words,
       |  CAST(CAST(cov_n AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(varx_n AS VARCHAR) AS DOUBLE) AS zipf_slope,
       |  CAST(CAST(ic_n AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(varx_n AS VARCHAR) AS DOUBLE) / 1e6 AS log2_intercept,
       |  CAST(CAST(cov_n AS VARCHAR) AS DOUBLE)
       |    * CAST(CAST(cov_n AS VARCHAR) AS DOUBLE)
       |    / (CAST(CAST(varx_n AS VARCHAR) AS DOUBLE)
       |       * CAST(CAST(vary_n AS VARCHAR) AS DOUBLE)) AS r2
       |FROM facs""".stripMargin
  }

  // ------------------------------------------ q295: Mann–Whitney U test

  /** The two arms the rank-sum test compares (order priorities). */
  val MwArmA = "1-URGENT"
  val MwArmB = "5-LOW"

  /** q295: Mann–Whitney U — the two-sample special case q272's Kruskal–
    * Wallis generalizes, reported in its native U form (with the normal-
    * approximation z² under ties) because U is what A/B dashboards quote:
    * does URGENT-priority order value stochastically dominate LOW? Doubled
    * global ranks come off the distinct-value rollup (two-level
    * [[doubledRankBelow]] — no single-task sort), 2·U₁ = Σn₁c·d_c −
    * n₁(n₁+1) exactly, and
    *
    *   z² = 3·(2U₁ − n₁n₂)² / (n₁n₂·((n+1) − Σ(t³−t)/(n(n−1))))
    *
    * stages as three e6 floor divisions over |ABS(2U₁ − n₁n₂)| (z² is even
    * in the deviation, so the absolute value sidesteps the floor-vs-
    * truncate divide divergence on negative numerators) with every
    * intermediate ≤ 10³⁶ at 10¹⁰ rows per arm.
    *
    * Plan: priority filter pushes to the scan; one fact pass → (arm,
    * value) rollup; ranks from the bucket construction; the finish is a
    * 2-row pivot with broadcast scalars.
    */
  val q295MannWhitney: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin(MwArmA, MwArmB))
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"))
    val (gc, dRank) = doubledMidRanks(o)
    val scalars = dRank.agg(sum(col("cnt")).cast(dec).as("n_all"),
      sum(col("cnt").cast(dec) * col("cnt") * col("cnt") -
        col("cnt").cast(dec)).as("ties"))
    val arms = gc.join(dRank.select(col("c"), col("d")), Seq("c"))
      .groupBy(col("g"))
      .agg(sum(col("n_gc")).cast(dec).as("n_g"),
        sum(col("n_gc").cast(dec) * col("d")).as("r2_g"))
    val pivoted = arms.agg(
      max(when(col("g") === MwArmA, col("n_g"))).as("n1"),
      max(when(col("g") === MwArmB, col("n_g"))).as("n2"),
      max(when(col("g") === MwArmA, col("r2_g"))).as("r2_1"))
    pivoted.crossJoin(broadcast(scalars))
      .select(col("n1"), col("n2"), col("n_all"), col("ties"),
        (col("r2_1") - col("n1") * (col("n1") + 1)).as("u2"))
      .select(col("n1"), col("n2"), col("n_all"), col("ties"), col("u2"),
        abs(col("u2") - col("n1") * col("n2")).as("a2"),
        expr(fdiv("((n_all + 1) * n_all * (n_all - 1) - ties) * 1000000",
          "n_all * (n_all - 1)")).as("t1_e6"))
      .select(col("n1"), col("n2"), col("u2"), col("t1_e6"),
        expr(fdiv(fdiv("a2 * 1000000", "n1") + " * a2", "n2")).as("s2_e6"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("u2").cast("long").as("u2"),
        expr(fdiv("s2_e6 * 3 * 1000000", "t1_e6")).cast("long").as("z2_e6"))
  }

  val q295Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
       |  FROM orders
       |  WHERE o_orderpriority IN ('$MwArmA', '$MwArmB')),
       |gc AS (SELECT g, c, COUNT(*) AS n_gc FROM o GROUP BY g, c),
       |by_v AS (SELECT c, CAST(SUM(n_gc) AS BIGINT) AS cnt FROM gc GROUP BY c),
       |d_rank AS (
       |  SELECT c,
       |    2 * COALESCE(SUM(cnt) OVER (ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + cnt + 1 AS d,
       |    cnt
       |  FROM by_v),
       |scalars AS (
       |  SELECT CAST(SUM(cnt) AS HUGEINT) AS n_all,
       |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
       |  FROM d_rank),
       |arms AS (
       |  SELECT g, CAST(SUM(n_gc) AS HUGEINT) AS n_g,
       |    SUM(CAST(n_gc AS HUGEINT) * d) AS r2_g
       |  FROM gc JOIN d_rank USING (c) GROUP BY g),
       |piv AS (
       |  SELECT MAX(CASE WHEN g = '$MwArmA' THEN n_g END) AS n1,
       |    MAX(CASE WHEN g = '$MwArmB' THEN n_g END) AS n2,
       |    MAX(CASE WHEN g = '$MwArmA' THEN r2_g END) AS r2_1
       |  FROM arms),
       |u AS (
       |  SELECT n1, n2, n_all, ties, r2_1 - n1 * (n1 + 1) AS u2
       |  FROM piv CROSS JOIN scalars),
       |stage AS (
       |  SELECT n1, n2, u2,
       |    ABS(u2 - n1 * n2) AS a2,
       |    ((n_all + 1) * n_all * (n_all - 1) - ties) * 1000000
       |      // (n_all * (n_all - 1)) AS t1_e6
       |  FROM u),
       |s2 AS (
       |  SELECT n1, n2, u2, t1_e6,
       |    (a2 * 1000000 // n1) * a2 // n2 AS s2_e6
       |  FROM stage)
       |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  CAST(u2 AS BIGINT) AS u2,
       |  CAST(s2_e6 * 3 * 1000000 // t1_e6 AS BIGINT) AS z2_e6
       |FROM s2""".stripMargin

  // ------------------------------ q307: Pettitt changepoint test

  /** q307: Pettitt's rank-based changepoint test — DID the daily purchase-
    * revenue level shift, and WHEN? q124's CUSUM series visualizes drift;
    * Pettitt is the nonparametric TEST for a single unknown changepoint:
    * over daily revenue x_1..x_n, U_t = Σ_{i≤t,j>t} sign(x_i − x_j), the
    * change day is argmax|U_t| and K = max|U_t| is the statistic (the
    * classic significance map is p ≈ 2·exp(−6K²/(n³+n²)); the exponent
    * argument ships as the portable e6 integer — exp itself is libm).
    *
    * U_t folds from global DOUBLED average ranks without the O(n²) pair
    * sum: U2_t = 2·Σ_{i≤t} d_i... exactly, u2_t = Σ_{i≤t}(d_i − (n+1)),
    * where d is the doubled rank of x_i — tie-correct by construction.
    * Everything is exact integers; the one e6 floor produces the exponent
    * argument 6K²/(n³+n²) with the square staged through n first so the
    * largest product stays ≲ 10³⁰ at a 10⁸-day spine.
    *
    * Plan: one event pass → |days| rollup; ranks, the cumulative u2 walk
    * and the argmax all run over that metadata-sized frame (the serial
    * window is |days| rows — the corpus never re-shuffles).
    */
  val q307Pettitt: Q = (s, dir) => {
    val byDay = EventQueries.purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
    val byV = byDay.groupBy(col("x")).agg(count(lit(1)).as("cnt"))
    val vW = Window.orderBy(col("x")).rowsBetween(Window.unboundedPreceding, -1)
    val dRank = byV
      .withColumn("below", coalesce(sum(col("cnt")).over(vW), lit(0L)))
      .select(col("x"), (lit(2L) * col("below") + col("cnt") + 1L).as("d"))
    val n = byDay.agg(count(lit(1)).as("n"))
    val dayW = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the last day's u2 is identically 0 (Σd = n(n+1)); Pettitt scans
    // t = 1..n−1, so the max excludes the final row via d < max(day)
    val walk = byDay.join(dRank, Seq("x"))
      .crossJoin(broadcast(n))
      .withColumn("u2", sum(col("d") - (col("n") + 1L)).over(dayW))
      .withColumn("maxday", max(col("day")).over(whole))
      .filter(col("day") < col("maxday"))
      .withColumn("k2", max(abs(col("u2"))).over(whole))
    walk.filter(abs(col("u2")) === col("k2"))
      .groupBy(col("n"), col("k2"))
      .agg(min(col("day")).as("change_day"))
      .select(col("n").cast("long").as("n_days"),
        col("change_day"),
        col("k2").cast("long").as("u2_max"),
        // exponent argument 6K²/(n³+n²) with K = k2/2: 3·k2²/(2n²(n+1)),
        // staged k2²→/n²→·3e6→/2(n+1) so nothing tops ~10³⁰ at n = 10⁸
        expr(fdiv(fdiv("CAST(k2 AS DECIMAL(38,0)) * k2", "n * n") +
          " * 3000000", "2 * (n + 1)")).cast("long").as("pettitt_arg_e6"))
  }

  val q307Sql: String =
    """WITH by_day AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY day),
      |by_v AS (SELECT x, COUNT(*) AS cnt FROM by_day GROUP BY x),
      |d_rank AS (
      |  SELECT x,
      |    2 * COALESCE(SUM(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS d
      |  FROM by_v),
      |nn AS (SELECT COUNT(*) AS n FROM by_day),
      |walk AS (
      |  SELECT day,
      |    SUM(d - (n + 1)) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u2,
      |    MAX(day) OVER () AS maxday, n
      |  FROM by_day JOIN d_rank USING (x) CROSS JOIN nn),
      |trimmed AS (SELECT * FROM walk WHERE day < maxday),
      |k AS (SELECT MAX(ABS(u2)) AS k2 FROM trimmed)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  MIN(day) AS change_day,
      |  CAST(k2 AS BIGINT) AS u2_max,
      |  CAST((CAST(k2 AS HUGEINT) * k2 // (CAST(n AS HUGEINT) * n))
      |    * 3000000 // (2 * (n + 1)) AS BIGINT) AS pettitt_arg_e6
      |FROM trimmed CROSS JOIN k
      |WHERE ABS(u2) = k2
      |GROUP BY n, k2""".stripMargin

  // ------------------ q327: Kendall tau-b from the 2D contingency

  /** q327: Kendall's τ-b between quantity and price — the third rank
    * correlation next to Pearson (q117) and Spearman (q271), and the one
    * whose naive form is an O(n²) pair scan. Both variables discretize
    * (quantity is already 1..50; price through its decile cutpoints), so
    * concordant/discordant pair counts fold EXACTLY from the ≤ 500-cell
    * contingency via 2D prefix sums:
    *
    *   C = Σ nᵢⱼ·nᵢ′ⱼ′ over i′>i, j′>j,   D = over i′>i, j′<j
    *
    * via the cell PAIR join — ≤ 500² metadata rows, never corpus pairs.
    * τ-b = (C−D)/√((T₀−T₁)(T₀−T₂)) applies the tie corrections from the
    * marginals and is one
    * fixed IEEE expression over exact integers (the q117 rule); pair
    * counts stay in DECIMAL(38,0) (≈ n²/2). Binning y is part of the
    * operator's contract (exact τ-b on continuous y is inherently
    * pairwise); the decile cutpoints come from the two-level rank-target
    * selection over the value rollup — the distributed exact-quantile
    * construction — with the oracle selecting by the identical targets.
    *
    * Plan: one cutpoint pass (broadcast), one fact pass → contingency
    * rollup; everything after runs on ≤ 500 rows.
    */
  val q327KendallTau: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(expr("CAST(ROUND(l_quantity) AS BIGINT)").as("x"),
        cents(col("l_extendedprice")).as("p"))
    // decile cutpoints via the two-level rank selection, NOT ungrouped
    // percentile_disc: nine sort-based aggregates over a near-unique
    // corpus column buffer the whole column in ONE task (measured 14.7 s
    // at sf0.1); the value rollup + bucket below-counts is the
    // distributed exact construction (q290's device), and the oracle
    // selects by the identical rank targets
    // r8: the price rollup feeds the rank device's two window legs AND the
    // grand total — checkpoint so the fact scan + (p) reduce runs once per
    // query, not once per consumer (the q271 posture)
    val byV = li.groupBy(col("p")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val ranked = doubledRankBelow(byV, Seq.empty, "p", 100000L)
    val nAll = byV.agg(sum(col("cnt")).as("n_all"))
    val cuts = ranked.crossJoin(broadcast(nAll))
      .select(col("p"), col("below"), col("cnt"),
        explode(expr("sequence(1, 9)")).as("i"))
      .filter(col("below") < expr("(n_all * i + 9) div 10") &&
        expr("(n_all * i + 9) div 10") <= col("below") + col("cnt"))
      .groupBy().pivot("i", 1 to 9).agg(first(col("p")))
      .select((1 to 9).map(i => col(i.toString).as(s"c$i")): _*)
    val binExpr = (1 to 9).map(i => s"CAST(p > c$i AS INT)").mkString(" + ")
    val cells = li.crossJoin(broadcast(cuts))
      .select(col("x"), expr(binExpr).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
    val scal = cells.agg(sum(col("n")).cast(dec).as("t"))
    val rm = cells.groupBy(col("x")).agg(sum(col("n")).as("rmarg"))
      .agg(sum(col("rmarg").cast(dec) * (col("rmarg") - 1)).as("t1_2"))
    val cm = cells.groupBy(col("y")).agg(sum(col("n")).as("cmarg"))
      .agg(sum(col("cmarg").cast(dec) * (col("cmarg") - 1)).as("t2_2"))
    // C and D fold from the cell PAIR join — ≤ 500² = 250k rows of
    // metadata, never corpus pairs; the contingency is what made the
    // quadratic affordable
    val a = cells.select(col("x").as("xa"), col("y").as("ya"), col("n").as("na"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"), col("n").as("nb"))
    val pairs = a.join(b, col("xb") > col("xa"))
      .select(col("na"), col("nb"),
        when(col("yb") > col("ya"), 1L).when(col("yb") < col("ya"), -1L)
          .otherwise(0L).as("sgn"))
      .agg(sum(when(col("sgn") === 1L,
          col("na").cast(dec) * col("nb")).otherwise(lit(0L).cast(dec)))
          .as("c_pairs"),
        sum(when(col("sgn") === -1L,
          col("na").cast(dec) * col("nb")).otherwise(lit(0L).cast(dec)))
          .as("d_pairs"))
    pairs.crossJoin(broadcast(scal)).crossJoin(broadcast(rm))
      .crossJoin(broadcast(cm))
      .select(col("t").cast("long").as("n_rows"),
        col("c_pairs").cast("long").as("c_pairs"),
        col("d_pairs").cast("long").as("d_pairs"),
        ((col("c_pairs") - col("d_pairs")).cast("double") /
          (sqrt((col("t") * (col("t") - 1) - col("t1_2")).cast("double")) *
            sqrt((col("t") * (col("t") - 1) - col("t2_2")).cast("double")) / 2))
          .as("tau_b"))
  }

  val q327Sql: String = {
    val binExpr = (1 to 9).map(i => s"CAST(p > c$i AS INT)").mkString(" + ")
    s"""WITH li AS (
       |  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
       |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS p
       |  FROM lineitem),
       |by_v AS (SELECT p, COUNT(*) AS cnt FROM li GROUP BY p),
       |ranked AS (
       |  SELECT p, cnt,
       |    COALESCE(SUM(cnt) OVER (ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
       |    SUM(cnt) OVER () AS n_all
       |  FROM by_v),
       |cutrows AS (
       |  SELECT i, p FROM ranked,
       |    (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS i) gi
       |  WHERE below < (n_all * i + 9) // 10
       |    AND (n_all * i + 9) // 10 <= below + cnt),
       |cuts AS (
       |  SELECT ${(1 to 9).map(i =>
            s"MAX(CASE WHEN i = $i THEN p END) AS c$i").mkString(", ")}
       |  FROM cutrows),
       |cells AS (
       |  SELECT x, $binExpr AS y, COUNT(*) AS n
       |  FROM li CROSS JOIN cuts GROUP BY 1, 2),
       |pairs AS (
       |  SELECT
       |    SUM(CASE WHEN b.y > a.y THEN CAST(a.n AS HUGEINT) * b.n
       |        ELSE 0 END) AS c_pairs,
       |    SUM(CASE WHEN b.y < a.y THEN CAST(a.n AS HUGEINT) * b.n
       |        ELSE 0 END) AS d_pairs
       |  FROM cells a JOIN cells b ON b.x > a.x),
       |scal AS (SELECT CAST(SUM(n) AS HUGEINT) AS t FROM cells),
       |rm AS (
       |  SELECT SUM(CAST(rmarg AS HUGEINT) * (rmarg - 1)) AS t1_2
       |  FROM (SELECT x, SUM(n) AS rmarg FROM cells GROUP BY x)),
       |cm AS (
       |  SELECT SUM(CAST(cmarg AS HUGEINT) * (cmarg - 1)) AS t2_2
       |  FROM (SELECT y, SUM(n) AS cmarg FROM cells GROUP BY y))
       |SELECT CAST(t AS BIGINT) AS n_rows,
       |  CAST(c_pairs AS BIGINT) AS c_pairs,
       |  CAST(d_pairs AS BIGINT) AS d_pairs,
       |  CAST(CAST(c_pairs - d_pairs AS VARCHAR) AS DOUBLE) /
       |    (sqrt(CAST(CAST(t * (t - 1) - t1_2 AS VARCHAR) AS DOUBLE)) *
       |     sqrt(CAST(CAST(t * (t - 1) - t2_2 AS VARCHAR) AS DOUBLE)) / 2)
       |    AS tau_b
       |FROM pairs CROSS JOIN scal CROSS JOIN rm CROSS JOIN cm""".stripMargin
  }

  // -------------- q333: distribution-free median confidence interval

  /** q333: the median of order value with its DISTRIBUTION-FREE 95%
    * confidence interval — the order-statistic construction (no normality,
    * no bootstrap): the CI endpoints are the sample values at ranks
    *
    *   r_lo = ⌊(n − 1.96·√n)/2⌋,   r_hi = ⌈(n + 1.96·√n)/2⌉ + 1
    *
    * (the binomial(n, ½) normal approximation; 1.96 as the exact rational
    * 196/100 against the correctly-rounded IEEE √n, floored identically in
    * both engines). All three order statistics select via the two-level
    * rank construction — the q327/q290 device — so nothing sorts
    * corpus-scale. The interval width next to the point estimate is what
    * a reporting pipeline needs before quoting a median at all.
    */
  val q333MedianCi: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(cents(col("o_totalprice")).as("c"))
    val byV = o.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val ranked = doubledRankBelow(byV, Seq.empty, "c", 100000L)
    val nAll = byV.agg(sum(col("cnt")).as("n_all"))
    val targets = nAll.select(col("n_all"),
      expr("CAST(FLOOR((n_all - 1.96 * SQRT(CAST(n_all AS DOUBLE))) / 2)" +
        " AS BIGINT)").as("r_lo"),
      expr("CAST((n_all + 1) div 2 AS BIGINT)").as("r_med"),
      expr("CAST(CEIL((n_all + 1.96 * SQRT(CAST(n_all AS DOUBLE))) / 2)" +
        " + 1 AS BIGINT)").as("r_hi"))
    val picks = ranked.crossJoin(broadcast(targets))
      .select(col("c"), col("below"), col("cnt"), col("n_all"),
        explode(expr("array(struct('lo' AS w, r_lo AS t)," +
          " struct('med' AS w, r_med AS t), struct('hi' AS w, r_hi AS t))"))
          .as("x"))
      .filter(col("below") < col("x.t") &&
        col("x.t") <= col("below") + col("cnt"))
      .groupBy(col("n_all"))
      .agg(max(when(col("x.w") === "lo", col("c"))).as("ci_lo_c"),
        max(when(col("x.w") === "med", col("c"))).as("median_c"),
        max(when(col("x.w") === "hi", col("c"))).as("ci_hi_c"))
    picks.select(col("n_all").cast("long").as("n"),
      col("median_c"), col("ci_lo_c"), col("ci_hi_c"),
      (col("ci_hi_c") - col("ci_lo_c")).as("ci_width_c"))
  }

  val q333Sql: String =
    """WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) AS c FROM orders),
      |by_v AS (SELECT c, COUNT(*) AS cnt FROM o GROUP BY c),
      |ranked AS (
      |  SELECT c, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |targets AS (
      |  SELECT n_all,
      |    CAST(FLOOR((n_all - 1.96 * SQRT(CAST(n_all AS DOUBLE))) / 2)
      |      AS BIGINT) AS r_lo,
      |    (n_all + 1) // 2 AS r_med,
      |    CAST(CEIL((n_all + 1.96 * SQRT(CAST(n_all AS DOUBLE))) / 2) + 1
      |      AS BIGINT) AS r_hi
      |  FROM (SELECT MAX(n_all) AS n_all FROM ranked)),
      |picks AS (
      |  SELECT ranked.n_all,
      |    MAX(CASE WHEN w = 'lo' THEN c END) AS ci_lo_c,
      |    MAX(CASE WHEN w = 'med' THEN c END) AS median_c,
      |    MAX(CASE WHEN w = 'hi' THEN c END) AS ci_hi_c
      |  FROM ranked CROSS JOIN targets,
      |    (VALUES ('lo'), ('med'), ('hi')) ws(w)
      |  WHERE (CASE w WHEN 'lo' THEN r_lo WHEN 'med' THEN r_med
      |         ELSE r_hi END) > below
      |    AND (CASE w WHEN 'lo' THEN r_lo WHEN 'med' THEN r_med
      |         ELSE r_hi END) <= below + cnt
      |  GROUP BY ranked.n_all)
      |SELECT CAST(n_all AS BIGINT) AS n, median_c, ci_lo_c, ci_hi_c,
      |  ci_hi_c - ci_lo_c AS ci_width_c
      |FROM picks""".stripMargin

  // ------------------ q338: Friedman test (ranks within year blocks)

  /** q338: Friedman's rank test — do the five order priorities keep the
    * SAME price ordering year after year, or does the ranking move? The
    * k-treatment repeated-measures companion to q295 (two independent
    * samples) and q337 (two paired samples): block = order year,
    * treatment = priority, observation = the year×priority mean price
    * (e6-floored — exact), RANKED WITHIN each year with tie-average
    * doubled ranks, restricted to complete blocks (years where all five
    * priorities traded — the relational spelling of the complete-block
    * design Friedman assumes). With D_j = Σ_blocks (doubled rank of
    * treatment j) = 2R_j,
    *
    *   χ²_F = 12·ΣR_j²/(n·k·(k+1)) − 3n(k+1) = 3·ΣD_j²/(30n) − 18n
    *
    * (k = 5), all exact integers with one e6 floor. Ties across
    * treatments within a year get average ranks; the classical
    * uncorrected denominator is kept (exact under no ties, conservative
    * under ties) and ΣD_j always equals n·k(k+1) as a built-in check.
    *
    * Plan: one orders pass → year×priority rollup (metadata-sized);
    * within-block ranks come from windows PARTITIONED BY year over ≤ k
    * rows each — parallelism = #years, never a global sort; a k-row fold
    * with a broadcast year count finishes.
    */
  val q338Friedman: Q = (s, dir) => {
    val cell = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("yr"),
        col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("v"))
      .groupBy(col("yr"), col("g"))
      .agg(expr(fdiv("CAST(SUM(v) AS DECIMAL(38,0)) * 1000000", "COUNT(1)"))
        .cast("long").as("mv"))
    val compl = cell.groupBy(col("yr")).agg(count(lit(1)).as("kk"))
      .filter(col("kk") === 5L).select(col("yr"))
    val belowW = Window.partitionBy(col("yr")).orderBy(col("mv"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val peerW = Window.partitionBy(col("yr")).orderBy(col("mv"))
      .rangeBetween(0, 0)
    val ranked = cell.join(broadcast(compl), Seq("yr"))
      .withColumn("below", count(lit(1)).over(belowW))
      .withColumn("t", count(lit(1)).over(peerW))
      .select(col("g"), (lit(2L) * col("below") + col("t") + 1L).as("dd"))
    val byG = ranked.groupBy(col("g")).agg(sum(col("dd")).cast(dec).as("dsum"))
    val n = compl.agg(count(lit(1)).cast(dec).as("n"))
    def dOf(p: String) = max(when(col("g") === p, col("dsum")))
    byG.crossJoin(broadcast(n))
      .agg(max(col("n")).as("n"),
        dOf("1-URGENT").as("d1"), dOf("2-HIGH").as("d2"),
        dOf("3-MEDIUM").as("d3"), dOf("4-NOT SPECIFIED").as("d4"),
        dOf("5-LOW").as("d5"),
        sum(col("dsum") * col("dsum")).as("sd2"))
      .select(col("n").cast("long").as("n_years"),
        col("d1").cast("long").as("d_urgent"),
        col("d2").cast("long").as("d_high"),
        col("d3").cast("long").as("d_medium"),
        col("d4").cast("long").as("d_notspec"),
        col("d5").cast("long").as("d_low"),
        (expr(fdiv("sd2 * 100000", "n")) -
          lit(18000000).cast(dec) * col("n")).cast("long").as("chi2_e6"))
  }

  val q338Sql: String =
    """WITH o AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS v
      |  FROM orders),
      |cell AS (
      |  SELECT yr, g,
      |    CAST(CAST(SUM(v) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
      |      AS mv
      |  FROM o GROUP BY yr, g),
      |compl AS (SELECT yr FROM cell GROUP BY yr HAVING COUNT(*) = 5),
      |ranked AS (
      |  SELECT g,
      |    2 * COUNT(*) OVER (PARTITION BY yr ORDER BY mv
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    + COUNT(*) OVER (PARTITION BY yr ORDER BY mv
      |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW) + 1 AS dd
      |  FROM cell JOIN compl USING (yr)),
      |by_g AS (SELECT g, CAST(SUM(dd) AS HUGEINT) AS dsum
      |  FROM ranked GROUP BY g),
      |n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM compl)
      |SELECT CAST(n AS BIGINT) AS n_years,
      |  CAST(MAX(CASE WHEN g = '1-URGENT' THEN dsum END) AS BIGINT)
      |    AS d_urgent,
      |  CAST(MAX(CASE WHEN g = '2-HIGH' THEN dsum END) AS BIGINT) AS d_high,
      |  CAST(MAX(CASE WHEN g = '3-MEDIUM' THEN dsum END) AS BIGINT)
      |    AS d_medium,
      |  CAST(MAX(CASE WHEN g = '4-NOT SPECIFIED' THEN dsum END) AS BIGINT)
      |    AS d_notspec,
      |  CAST(MAX(CASE WHEN g = '5-LOW' THEN dsum END) AS BIGINT) AS d_low,
      |  CAST(SUM(dsum * dsum) * 100000 // n - 18000000 * n AS BIGINT)
      |    AS chi2_e6
      |FROM by_g CROSS JOIN n GROUP BY n""".stripMargin

  // -------------- q346: partial correlation (controlling for a third)

  /** q346: partial correlation — does price correlate with quantity AFTER
    * controlling for discount? q117's raw correlation cannot separate a
    * direct relationship from one routed through a confounder; the
    * first-order partial
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))
    *
    * does, and is the standard screen before any "price drives volume"
    * claim. Every pairwise r comes from exact integer power sums (cents ×
    * integer quantity × discount basis points — C_ab = n·S_ab − S_a·S_b
    * stays ≤ 10³² at 10¹² rows); the doubles form one fixed IEEE tree
    * over those exact integers, so both engines agree bit-for-bit.
    *
    * Plan: ONE corpus pass computing all ten power sums map-side
    * (a single partial-aggregate — no second scan, no join), then a
    * 1-row finish.
    */
  val q346PartialCorr: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(cents(col("l_extendedprice")).cast(dec).as("x"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").cast(dec).as("y"),
        expr("CAST(ROUND(l_discount * 10000) AS BIGINT)").cast(dec).as("z"))
    val sums = li.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"))
    def c(ab: String, a: String, b: String) =
      (col("n") * col(ab) - col(a) * col(b)).cast("double")
    val rxy = c("sxy", "sx", "sy") / sqrt(c("sxx", "sx", "sx") * c("syy", "sy", "sy"))
    val rxz = c("sxz", "sx", "sz") / sqrt(c("sxx", "sx", "sx") * c("szz", "sz", "sz"))
    val ryz = c("syz", "sy", "sz") / sqrt(c("syy", "sy", "sy") * c("szz", "sz", "sz"))
    sums.select(col("n").cast("long").as("n_rows"),
      rxy.as("r_xy"), rxz.as("r_xz"), ryz.as("r_yz"),
      ((rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))).as("r_xy_z"))
  }

  val q346Sql: String = {
    def c(ab: String, a: String, b: String) = dbl(s"n * $ab - $a * $b")
    val rxy = s"(${c("sxy", "sx", "sy")} / sqrt(${c("sxx", "sx", "sx")} * ${c("syy", "sy", "sy")}))"
    val rxz = s"(${c("sxz", "sx", "sz")} / sqrt(${c("sxx", "sx", "sx")} * ${c("szz", "sz", "sz")}))"
    val ryz = s"(${c("syz", "sy", "sz")} / sqrt(${c("syy", "sy", "sy")} * ${c("szz", "sz", "sz")}))"
    s"""WITH li AS (
       |  SELECT CAST(CAST(ROUND(l_extendedprice*100) AS BIGINT) AS HUGEINT) AS x,
       |    CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT) AS y,
       |    CAST(CAST(ROUND(l_discount * 10000) AS BIGINT) AS HUGEINT) AS z
       |  FROM lineitem),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |    SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
       |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
       |    SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
       |  FROM li)
       |SELECT CAST(n AS BIGINT) AS n_rows,
       |  $rxy AS r_xy, $rxz AS r_xz, $ryz AS r_yz,
       |  ($rxy - $rxz * $ryz) /
       |    sqrt((1.0 - $rxz * $rxz) * (1.0 - $ryz * $ryz)) AS r_xy_z
       |FROM sums""".stripMargin
  }

  // ------------------ q347: Mood's median test across k groups

  /** Orders as (priority `g`, price cents `c`) and the one-row grand
    * median price `med`: the lower median, selected relationally at rank
    * ⌈n/2⌉ off [[doubledRankBelow]] (q347, q377).
    */
  private def ordersAndMedian(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"))
    val byV = o.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val nTot = byV.agg(sum(col("cnt")).as("n"))
    val med = doubledRankBelow(byV, Seq.empty, "c", 100000L)
      .crossJoin(broadcast(nTot))
      .filter(col("below") + col("cnt") >= expr("(n + 1) div 2"))
      .agg(min(col("c")).as("med"))
    (o, med)
  }

  /** q347: Mood's median test — the COUNTS-ONLY k-group location test:
    * split every order at the grand median price and ask whether the five
    * priorities land above it at the same rate (a 2×k chi-square on
    * above/below counts). Where q272's Kruskal–Wallis uses full rank
    * information, Mood's test uses one bit per row — far less power, but
    * immune to outliers and the textbook cross-check when KW significance
    * is suspected to ride extreme values. The grand median is selected
    * RELATIONALLY (smallest value whose cumulative count reaches
    * ⌈N/2⌉ off the two-level rank construction — the q333 selection, no
    * corpus sort; the oracle states the same row as percentile_disc).
    * The statistic folds per group with the identity
    *
    *   χ² = Σ_g (N·a_g − A·n_g)²/n_g / (A·B)
    *
    * staged so every intermediate stays ≤ 10³⁵ at 10¹⁰ rows.
    *
    * Plan: one orders pass → value rollup (for the median) + group
    * rollup; a 5-row fold with broadcast scalars ends it.
    */
  val q347MoodMedian: Q = (s, dir) => {
    val (o, med) = ordersAndMedian(s, dir)
    val byG = o.crossJoin(broadcast(med))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast(dec).as("n_g"),
        sum(when(col("c") > col("med"), 1L).otherwise(0L)).cast(dec).as("a_g"))
    val tot = byG.agg(sum(col("n_g")).as("nn"), sum(col("a_g")).as("aa"))
    val terms = byG.crossJoin(broadcast(tot))
      .select(col("g"), col("n_g"), col("a_g"), col("nn"), col("aa"),
        expr(fdiv("abs(nn * a_g - aa * n_g) * 1000", "n_g")).as("u_g"))
    val chi = terms
      .agg(max(col("nn")).as("nn"), max(col("aa")).as("aa"),
        sum(col("u_g") * col("u_g") * col("n_g")).as("su"))
      .select(expr(fdiv("su", "aa * (nn - aa)")).cast("long").as("chi2_e6"))
    byG.crossJoin(broadcast(med)).crossJoin(broadcast(chi))
      .select(col("g").as("priority"),
        col("n_g").cast("long").as("n_g"),
        col("a_g").cast("long").as("n_above"),
        col("med").as("median_c"),
        col("chi2_e6"))
      .orderBy(col("priority"))
  }

  val q347Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |med AS (
      |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS med
      |  FROM o),
      |by_g AS (
      |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n_g,
      |    CAST(SUM(CASE WHEN c > med THEN 1 ELSE 0 END) AS HUGEINT) AS a_g
      |  FROM o CROSS JOIN med GROUP BY g),
      |tot AS (SELECT SUM(n_g) AS nn, SUM(a_g) AS aa FROM by_g),
      |terms AS (
      |  SELECT g, n_g, a_g, nn, aa,
      |    ABS(nn * a_g - aa * n_g) * 1000 // n_g AS u_g
      |  FROM by_g CROSS JOIN tot),
      |chi AS (
      |  SELECT CAST(SUM(u_g * u_g * n_g) // (MAX(aa) * (MAX(nn) - MAX(aa)))
      |    AS BIGINT) AS chi2_e6
      |  FROM terms)
      |SELECT g AS priority, CAST(n_g AS BIGINT) AS n_g,
      |  CAST(a_g AS BIGINT) AS n_above, med AS median_c, chi2_e6
      |FROM by_g CROSS JOIN med CROSS JOIN chi
      |ORDER BY priority""".stripMargin

  // ------------- q391: Taylor's power law across part demand

  /** The least-squares line through per-part log₂ points `pp` (DECIMAL
    * x, y at e6): n_parts, the slope at e6 named `slope` (one signed
    * floor over exact sums) and r2_d, one fixed IEEE tree.
    */
  private def logLogFit(pp: DataFrame, slope: String): DataFrame = {
    val sums = pp.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def c(ab: String, a: String, b: String) =
      (col("n") * col(ab) - col(a) * col(b)).cast("double")
    val r2 = (c("sxy", "sx", "sy") * c("sxy", "sx", "sy")) /
      (c("sxx", "sx", "sx") * c("syy", "sy", "sy"))
    sums.select(col("n").cast("long").as("n_parts"),
      expr(sdivBigint("(n * sxy - sx * sy) * 1000000", "n * sxx - sx * sx"))
        .as(slope),
      r2.as("r2_d"))
  }

  /** q391: Taylor's law — does demand variance scale as a POWER of mean
    * demand across parts (V = a·m^b)? The ecology-famous scaling law is
    * the right aggregate view where q179's per-segment VMR reads one
    * group at a time: b ≈ 1 is Poisson-like demand, b → 2 is
    * proportional (bursty) demand, and the exponent sets how safety
    * stock must scale with velocity. Per-part quantity mean and variance
    * are exact e6 floors; the log-log OLS rides the portable LUT log
    * (base cancels in the slope), zero-variance parts are excluded by
    * construction (documented).
    *
    * Plan: one fact pass → part rollup → a 1-row fold.
    */
  val q391TaylorsLaw: Q = (s, dir) => {
    val pp = Tables.lineitem(s, dir)
      .select(col("l_partkey"), expr("CAST(ROUND(l_quantity) AS BIGINT)")
        .as("q"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("q")).cast(dec).as("sq"),
        sum(col("q").cast(dec) * col("q")).as("sqq"))
      .filter(col("n") >= 2)
      .select(expr(fdiv("sq * 1000000", "n")).as("m_e6"),
        expr(fdiv("(n * sqq - sq * sq) * 1000000", "n * (n - 1)"))
          .as("v_e6"))
      .filter(col("v_e6") >= 1L)
      .select(
        expr(s"CAST(${l2("CAST(m_e6 AS BIGINT)")} AS DECIMAL(38,0))").as("x"),
        expr(s"CAST(${l2("CAST(v_e6 AS BIGINT)")} AS DECIMAL(38,0))").as("y"))
    logLogFit(pp, "taylor_b_e6")
  }

  val q391Sql: String = {
    def c(ab: String, a: String, b: String) = dbl(s"n * $ab - $a * $b")
    val r2 = s"((${c("sxy", "sx", "sy")} * ${c("sxy", "sx", "sy")}) / " +
      s"(${c("sxx", "sx", "sx")} * ${c("syy", "sy", "sy")}))"
    s"""WITH pp0 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS HUGEINT) AS sq,
      |    SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)
      |      * CAST(ROUND(l_quantity) AS BIGINT)) AS sqq
      |  FROM lineitem GROUP BY l_partkey),
      |mv AS (
      |  SELECT CAST(sq * 1000000 // n AS BIGINT) AS m_e6,
      |    CAST((n * sqq - sq * sq) * 1000000 // (n * (n - 1)) AS BIGINT)
      |      AS v_e6
      |  FROM pp0 WHERE n >= 2),
      |pts AS (
      |  SELECT CAST(${duckL2("m_e6")} AS HUGEINT) AS x,
      |    CAST(${duckL2("v_e6")} AS HUGEINT) AS y
      |  FROM mv WHERE v_e6 >= 1),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_parts,
      |  CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END *
      |    (ABS((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
      |    AS BIGINT) AS taylor_b_e6,
      |  $r2 AS r2_d
      |FROM sums""".stripMargin
  }

  // -------- q396: Hoeffding's D — monthly volume↔revenue dependence

  /** q396: Hoeffding's D (1948) — the classical ANY-dependence test the
    * survey's dependence ladder deferred: Spearman (q271) and Kendall
    * (q327) read 0 on non-monotone association and Chatterjee's ξ (q379)
    * is asymmetric in (X,Y); D is the symmetric rank statistic that is 0
    * iff the joint CDF factorizes. Panel: the calendar-bounded monthly
    * (order count, revenue) rollup — "do heavy-order months and
    * heavy-revenue months co-occur in ANY pattern?". Ranks, the
    * bivariate Q counts, and the three D-sums ride an all-pairs grid of
    * the ~80-row month rollup (broadcast; bounded by the calendar, not
    * the data). Ties carry the Hmisc half/quarter credits, made exact by
    * doubling ranks (r2 = 2R) and quadrupling Q (q4 = 4Q) so
    * 16·D1/16·D2/16·D3 are exact integers; one signed e6 floor-division
    * lands D = 30·((n−2)(n−3)D1 + D2 − 2(n−2)D3) / (n(n−1)…(n−4)).
    * Validated: D = 1 on a monotone no-tie panel, ≈ 0 on independent
    * draws, 0.15 on a pure U-shape Spearman misses.
    *
    * Plan: one orders pass → month rollup (localCheckpoint, consumed by
    * both grid sides) → broadcast self-grid → 1-row fold. One shuffle.
    */
  val q396HoeffdingsD: Q = (s, dir) => {
    val bm = Tables.orders(s, dir)
      .select(expr("year(o_orderdate) * 100 + month(o_orderdate)").as("mon"),
        cents(col("o_totalprice")).as("c"))
      .groupBy(col("mon"))
      .agg(count(lit(1)).as("x"), sum(col("c")).as("y"))
      .localCheckpoint()
    val grid = bm.join(
      broadcast(bm.select(col("mon").as("mon_j"), col("x").as("xj"),
        col("y").as("yj"))),
      col("mon") =!= col("mon_j"))
    val per = grid.groupBy(col("mon"))
      .agg(sum(when(col("xj") < col("x"), 1L).otherwise(0L)).as("lx"),
        sum(when(col("xj") === col("x"), 1L).otherwise(0L)).as("ex"),
        sum(when(col("yj") < col("y"), 1L).otherwise(0L)).as("ly"),
        sum(when(col("yj") === col("y"), 1L).otherwise(0L)).as("ey"),
        (lit(4L) + sum(
          when(col("xj") < col("x") && col("yj") < col("y"), 4L)
            .when(col("xj") === col("x") && col("yj") < col("y"), 2L)
            .when(col("xj") < col("x") && col("yj") === col("y"), 2L)
            .when(col("xj") === col("x") && col("yj") === col("y"), 1L)
            .otherwise(0L))).as("q4"))
      .select((lit(2L) * col("lx") + col("ex") + lit(2L)).as("r2"),
        (lit(2L) * col("ly") + col("ey") + lit(2L)).as("s2"), col("q4"))
    per.agg(count(lit(1)).cast(dec).as("n"),
      sum((col("q4") - 4L).cast(dec) * (col("q4") - 8L)).as("a"),
      sum((col("r2") - 2L).cast(dec) * (col("r2") - 4L) *
        (col("s2") - 2L) * (col("s2") - 4L)).as("b"),
      sum((col("r2") - 4L).cast(dec) * (col("s2") - 4L) *
        (col("q4") - 4L)).as("cc"))
      .select(col("n").cast("long").as("n_months"),
        expr(sdivBigint("((n - 2) * (n - 3) * a + b - 2 * (n - 2) * cc) * 30000000",
          "16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)"))
          .as("hoeffding_d_e6"))
  }

  val q396Sql: String =
    """WITH bm AS (
      |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS mon,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      |  FROM orders GROUP BY 1),
      |per AS (
      |  SELECT i.mon,
      |    SUM(CASE WHEN j.x < i.x THEN 1 ELSE 0 END) AS lx,
      |    SUM(CASE WHEN j.x = i.x THEN 1 ELSE 0 END) AS ex,
      |    SUM(CASE WHEN j.y < i.y THEN 1 ELSE 0 END) AS ly,
      |    SUM(CASE WHEN j.y = i.y THEN 1 ELSE 0 END) AS ey,
      |    4 + SUM(CASE WHEN j.x < i.x AND j.y < i.y THEN 4
      |             WHEN j.x = i.x AND j.y < i.y THEN 2
      |             WHEN j.x < i.x AND j.y = i.y THEN 2
      |             WHEN j.x = i.x AND j.y = i.y THEN 1 ELSE 0 END) AS q4
      |  FROM bm i JOIN bm j ON i.mon <> j.mon
      |  GROUP BY i.mon),
      |rs AS (SELECT 2 * lx + ex + 2 AS r2, 2 * ly + ey + 2 AS s2, q4
      |       FROM per),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(CAST(q4 - 4 AS HUGEINT) * (q4 - 8)) AS a,
      |    SUM(CAST(r2 - 2 AS HUGEINT) * (r2 - 4) * (s2 - 2) * (s2 - 4)) AS b,
      |    SUM(CAST(r2 - 4 AS HUGEINT) * (s2 - 4) * (q4 - 4)) AS cc
      |  FROM rs)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  CAST(CASE WHEN (n - 2) * (n - 3) * a + b - 2 * (n - 2) * cc >= 0
      |      THEN 1 ELSE -1 END *
      |    (ABS(((n - 2) * (n - 3) * a + b - 2 * (n - 2) * cc) * 30000000)
      |      // (16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)))
      |    AS BIGINT) AS hoeffding_d_e6
      |FROM sums""".stripMargin

  // ------ q403: Mahalanobis outlier screen on (quantity, price)

  /** q403: the 2-D Mahalanobis distance screen over lineitem
    * (quantity, extended price) — the engine's first MULTIVARIATE
    * outlier operator: q120/q148/q206 all flag one column at a time,
    * but a 49-unit order at a 100-unit price is only anomalous
    * JOINTLY. The 2×2 covariance inverts in closed form, so
    *
    *   D² = (B·dx² − 2C·dx·dy + A·dy²) / (AB − C²)
    *
    * with A/B/C the e4-staged covariance entries from exact n-cleared
    * moments (the signed sdiv for C — covariance may be negative),
    * deviations at centi resolution, and one signed e6 floor per row.
    * Price is floored to whole dollars so every product stays inside
    * DECIMAL(38,0) through sf1 (bound documented at each stage). Top
    * 20 rows by D² with full deterministic tiebreak.
    *
    * Plan: one fact pass → 1-row moment fold (broadcast back) → one
    * more streaming pass scoring rows → TakeOrdered(20) — no global
    * sort materialization.
    */
  val q403Mahalanobis: Q = (s, dir) => {
    // parallelizedBy before the checkpoint: the single-row-group scan is one
    // split, and both passes (moment fold + the DECIMAL scoring pass) would
    // otherwise run on one core (guide §2.5 unsplittable input; measured
    // 1.6 s single-task scoring stage at sf0.1). No-op at scale.
    val li = Tables.parallelizedBy(
      Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT) div 100").as("y")),
      col("l_orderkey"), col("l_linenumber"))
      .localCheckpoint()
    val m = li.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
      sum(col("x").cast(dec) * col("x")).as("sxx"),
      sum(col("y").cast(dec) * col("y")).as("syy"),
      sum(col("x").cast(dec) * col("y")).as("sxy"))
      .select(col("n"),
        expr(fdiv("100 * sx", "n")).as("mx2"),
        expr(fdiv("100 * sy", "n")).as("my2"),
        expr(fdiv("10000 * (n * sxx - sx * sx)", "n * n")).as("a2"),
        expr(fdiv("10000 * (n * syy - sy * sy)", "n * n")).as("b2"),
        expr(sdiv("10000 * (n * sxy - sx * sy)", "n * n")).as("c2"))
    li.crossJoin(broadcast(m))
      .withColumn("dx2", lit(100L) * col("x") - col("mx2"))
      .withColumn("dy2", lit(100L) * col("y") - col("my2"))
      .select(col("l_orderkey"), col("l_linenumber"), col("x").as("qty"),
        col("y").as("price_dollars"),
        expr(sdiv("(b2 * dx2 * dx2 - 2 * c2 * dx2 * dy2 + a2 * dy2 * dy2)" +
          " * 1000000", "a2 * b2 - c2 * c2")).cast("long").as("d2_e6"))
      .orderBy(col("d2_e6").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)
  }

  val q403Sql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS x,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 100 AS y
      |  FROM lineitem),
      |m0 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM li),
      |m AS (
      |  SELECT n, 100 * sx // n AS mx2, 100 * sy // n AS my2,
      |    10000 * (n * sxx - sx * sx) // (n * n) AS a2,
      |    10000 * (n * syy - sy * sy) // (n * n) AS b2,
      |    CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END *
      |      (ABS(10000 * (n * sxy - sx * sy)) // (n * n)) AS c2
      |  FROM m0),
      |scored AS (
      |  SELECT l_orderkey, l_linenumber, x AS qty, y AS price_dollars,
      |    CAST(CASE WHEN b2 * dx2 * dx2 - 2 * c2 * dx2 * dy2
      |        + a2 * dy2 * dy2 >= 0 THEN 1 ELSE -1 END *
      |      (ABS((b2 * dx2 * dx2 - 2 * c2 * dx2 * dy2 + a2 * dy2 * dy2)
      |        * 1000000) // (a2 * b2 - c2 * c2)) AS BIGINT) AS d2_e6
      |  FROM (SELECT li.*, m.*, 100 * x - mx2 AS dx2, 100 * y - my2 AS dy2
      |        FROM li CROSS JOIN m))
      |SELECT * FROM scored
      |ORDER BY d2_e6 DESC, l_orderkey, l_linenumber
      |LIMIT 20""".stripMargin

  // ---------- q404: Grubbs' max-studentized-deviate outlier test

  /** Conservative large-n Grubbs critical value G = 4 (G² = 16),
    * inlined at plan-build time — the exact t-based critical value is
    * not bit-portable (libm), and by n ≈ 500 the α = 0.05 threshold
    * sits below 4, so the fixed bound only under-flags, never
    * over-flags.
    */
  val GrubbsG2E6 = 16000000L

  /** q404: Grubbs' test — where q120's 2σ screen FLAGS every point
    * beyond a band, Grubbs is the hypothesis TEST for the single most
    * extreme observation ("is the worst order in this priority class
    * explainable by chance?"). Per priority class, the squared
    * studentized deviate of the extreme point,
    *
    *   G² = max((n·x − S)²) · (n−1) / (n · (n·Σx² − S²))
    *
    * is exact-integer up to one signed e6 floor (n-cleared deviations,
    * sample-variance denominator), compared against the plan-time
    * [[GrubbsG2E6]] bound.
    *
    * Plan: one orders pass → 5-row class moments (broadcast) → one
    * scoring pass folding max deviation per class. Two scans, no sort.
    */
  val q404Grubbs: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"))
    val m = o.groupBy(col("g"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("c")).cast(dec).as("s"),
        sum(col("c").cast(dec) * col("c")).as("q"))
    o.join(broadcast(m), Seq("g"))
      .groupBy(col("g"))
      .agg(first(col("n")).as("n"), first(col("s")).as("s"),
        first(col("q")).as("q"),
        max(abs(col("n") * col("c") - col("s"))).as("maxdev"))
      .select(col("g").as("priority"), col("n").cast("long").as("n_orders"),
        expr(sdivBigint("maxdev * maxdev * (n - 1) * 1000000",
          "n * (n * q - s * s)")).as("g2_e6"))
      .withColumn("is_outlier",
        when(col("g2_e6") > GrubbsG2E6, 1L).otherwise(0L))
      .orderBy(col("priority"))
  }

  val q404Sql: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders),
      |m AS (
      |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(c) AS HUGEINT) AS s,
      |    SUM(CAST(c AS HUGEINT) * c) AS q
      |  FROM o GROUP BY g),
      |dev AS (
      |  SELECT o.g, ANY_VALUE(n) AS n, ANY_VALUE(s) AS s, ANY_VALUE(q) AS q,
      |    MAX(ABS(n * o.c - s)) AS maxdev
      |  FROM o JOIN m ON m.g = o.g
      |  GROUP BY o.g)
      |SELECT g AS priority, CAST(n AS BIGINT) AS n_orders,
      |  CAST(CASE WHEN maxdev >= 0 THEN 1 ELSE -1 END *
      |    (ABS(maxdev * maxdev * (n - 1) * 1000000)
      |     // (n * (n * q - s * s))) AS BIGINT) AS g2_e6,
      |  CASE WHEN CAST(CASE WHEN maxdev >= 0 THEN 1 ELSE -1 END *
      |    (ABS(maxdev * maxdev * (n - 1) * 1000000)
      |     // (n * (n * q - s * s))) AS BIGINT) > $GrubbsG2E6
      |    THEN 1 ELSE 0 END AS is_outlier
      |FROM dev ORDER BY priority""".stripMargin

  // ------- q406: EOQ + newsvendor order policy for the top movers

  /** Ordering cost S ($/order) and annual holding cost H ($/unit) —
    * plan-time policy constants; 2S/H folds to one integer. Newsvendor
    * critical fractile Cu/(Cu+Co) = 3/4.
    */
  val EoqTwoSOverH = 100L

  /** q406: the two classical inventory-policy quantities per
    * top-moving part — where q179/q391 DESCRIBE demand (VMR, Taylor
    * exponent), this PRESCRIBES the order policy: EOQ = √(2DS/H)
    * (square-root law — the deterministic-demand batch size) and the
    * newsvendor quantile Q* = F⁻¹(Cu/(Cu+Co)) (the stochastic
    * single-period cover at the 3/4 critical fractile). EOQ rides the
    * bit-portable FLOOR(SQRT(·)) at e3 (D·2S/H·10⁶ < 2⁵³ through
    * sf10); Q* is the relational percentile_disc selection (smallest
    * quantity whose cumulative line count reaches ⌈3n/4⌉) over the
    * per-part quantity rollup — never a data sort.
    *
    * Plan: one fact pass → part rollup → TakeOrdered(10) broadcast
    * back to filter the (part, qty) rollup (distinct-quantity grain,
    * ≤ 50 cells/part) → windowed selection PARTITIONED by part.
    */
  val q406EoqNewsvendor: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), expr("CAST(ROUND(l_quantity) AS BIGINT)")
        .as("q"))
      .localCheckpoint()
    val byPart = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("q")).as("d"))
    val top = byPart.orderBy(col("d").desc, col("l_partkey")).limit(10)
      .localCheckpoint()
    val qd = li.join(broadcast(top.select(col("l_partkey"))), Seq("l_partkey"))
      .groupBy(col("l_partkey"), col("q")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val sel = qd.withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(top), Seq("l_partkey"))
      .filter(col("cum") >= expr("(3 * n_lines + 3) div 4"))
      .groupBy(col("l_partkey")).agg(min(col("q")).as("q75_newsvendor"))
    top.join(sel, Seq("l_partkey"))
      .select(col("l_partkey").as("p_partkey"), col("n_lines"),
        col("d").as("total_qty"),
        expr(s"CAST(FLOOR(SQRT(CAST(d * $EoqTwoSOverH * 1000000 AS DOUBLE)))" +
          " AS BIGINT)").as("eoq_units_e3"),
        col("q75_newsvendor"))
      .orderBy(col("total_qty").desc, col("p_partkey"))
  }

  val q406Sql: String =
    s"""WITH li AS (
      |  SELECT l_partkey, CAST(ROUND(l_quantity) AS BIGINT) AS q
      |  FROM lineitem),
      |by_part AS (
      |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(SUM(q) AS BIGINT) AS d
      |  FROM li GROUP BY l_partkey),
      |top AS (
      |  SELECT * FROM by_part ORDER BY d DESC, l_partkey LIMIT 10),
      |qd AS (
      |  SELECT li.l_partkey, q, COUNT(*) AS cnt
      |  FROM li JOIN top ON top.l_partkey = li.l_partkey
      |  GROUP BY li.l_partkey, q),
      |sel AS (
      |  SELECT c.l_partkey, MIN(c.q) AS q75_newsvendor
      |  FROM (SELECT l_partkey, q, SUM(cnt) OVER (PARTITION BY l_partkey
      |          ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS cum
      |        FROM qd) c
      |  JOIN top ON top.l_partkey = c.l_partkey
      |  WHERE c.cum >= (3 * top.n_lines + 3) // 4
      |  GROUP BY c.l_partkey)
      |SELECT top.l_partkey AS p_partkey, n_lines, d AS total_qty,
      |  CAST(FLOOR(SQRT(CAST(d * $EoqTwoSOverH * 1000000 AS DOUBLE)))
      |    AS BIGINT) AS eoq_units_e3,
      |  q75_newsvendor
      |FROM top JOIN sel ON sel.l_partkey = top.l_partkey
      |ORDER BY total_qty DESC, p_partkey""".stripMargin

  // ------ q409: two-sample Anderson–Darling on the same arm pair

  /** q409: the two-sample Anderson–Darling statistic (Scholz–Stephens
    * A²akN, midrank/tie-adjusted) on URGENT vs LOW order totals —
    * completing the EDF triptych: KS (q157) reads the WORST gap, CvM
    * (q352) the MEAN-SQUARED gap, AD re-weights that square by
    * 1/(H(N−H)) so the TAILS — where revenue risk actually lives —
    * dominate. Doubling the midrank cumulatives (B2 = 2b_< + l,
    * M2ᵢ = 2m_{i,<} + mᵢ) clears every ½ and ¼, so each tie-cell term
    *
    *   l·(n₂A₁² + n₁A₂²) / (n₁n₂·(B2(2N−B2) − N·l)),  Aᵢ = N·M2ᵢ − nᵢ·B2
    *
    * is one exact integer ratio, e6-floored per cell BEFORE the sum
    * (validated against the textbook float formula to 1e-6). The final
    * (N−1)/N² scale is one more floor. Prefix counts come from the
    * two-level rank construction over a zero-filled arm×value grid —
    * no global sort, no single-partition window.
    *
    * Plan: one orders pass → value-cell rollup → grid + two-level
    * below-counts → cell-term fold. Shuffles only on value cells.
    */
  val q409AndersonDarling: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin(MwArmA, MwArmB))
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"))
    val cells = o.groupBy(col("c")).agg(
      sum(when(col("g") === MwArmA, 1L).otherwise(0L)).as("m1"),
      sum(when(col("g") === MwArmB, 1L).otherwise(0L)).as("m2"))
      .localCheckpoint()
    val grid = cells.select(lit("A").as("g"), col("c"), col("m1").as("cnt"))
      .union(cells.select(lit("B").as("g"), col("c"), col("m2").as("cnt")))
    val below = doubledRankBelow(grid, Seq("g"), "c", 100000L)
      .groupBy(col("c")).agg(
        max(when(col("g") === "A", col("below"))).as("m1b"),
        max(when(col("g") === "B", col("below"))).as("m2b"))
    val tot = cells.agg(sum(col("m1")).as("n1"), sum(col("m2")).as("n2"))
    val terms = cells.join(below, Seq("c")).crossJoin(broadcast(tot))
      .select(
        col("n1").cast(dec).as("n1"), col("n2").cast(dec).as("n2"),
        (col("m1") + col("m2")).cast(dec).as("l"),
        (lit(2L) * (col("m1b") + col("m2b")) + col("m1") + col("m2"))
          .cast(dec).as("b2"),
        (lit(2L) * col("m1b") + col("m1")).cast(dec).as("m21"),
        (lit(2L) * col("m2b") + col("m2")).cast(dec).as("m22"))
      .select(col("n1"), col("n2"),
        expr(fdiv(
          """l * (n2 * ((n1 + n2) * m21 - n1 * b2)
            |       * ((n1 + n2) * m21 - n1 * b2)
            |   + n1 * ((n1 + n2) * m22 - n2 * b2)
            |       * ((n1 + n2) * m22 - n2 * b2)) * 1000000"""
            .stripMargin.replace("\n", " "),
          "n1 * n2 * (b2 * (2 * (n1 + n2) - b2) - (n1 + n2) * l)"))
          .as("term_e6"))
    terms.groupBy(col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_cells"), sum(col("term_e6")).as("s"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("n_cells"),
        expr(fdiv("s * (n1 + n2 - 1)", "(n1 + n2) * (n1 + n2)"))
          .cast("long").as("a2kn_e6"))
  }

  val q409Sql: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders
      |  WHERE o_orderpriority IN ('$MwArmA', '$MwArmB')),
      |cells AS (
      |  SELECT c,
      |    CAST(SUM(CASE WHEN g = '$MwArmA' THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS m1,
      |    CAST(SUM(CASE WHEN g = '$MwArmB' THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS m2
      |  FROM o GROUP BY c),
      |pre AS (
      |  SELECT c, m1, m2,
      |    COALESCE(SUM(m1) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m1b,
      |    COALESCE(SUM(m2) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m2b
      |  FROM cells),
      |tot AS (SELECT SUM(m1) AS n1, SUM(m2) AS n2 FROM cells),
      |terms AS (
      |  SELECT n1, n2,
      |    (m1 + m2) * (n2 * ((n1 + n2) * (2 * m1b + m1) - n1 *
      |        (2 * (m1b + m2b) + m1 + m2))
      |        * ((n1 + n2) * (2 * m1b + m1) - n1 *
      |        (2 * (m1b + m2b) + m1 + m2))
      |      + n1 * ((n1 + n2) * (2 * m2b + m2) - n2 *
      |        (2 * (m1b + m2b) + m1 + m2))
      |        * ((n1 + n2) * (2 * m2b + m2) - n2 *
      |        (2 * (m1b + m2b) + m1 + m2))) * 1000000
      |    // (n1 * n2 * ((2 * (m1b + m2b) + m1 + m2)
      |        * (2 * (n1 + n2) - (2 * (m1b + m2b) + m1 + m2))
      |        - (n1 + n2) * (m1 + m2))) AS term_e6
      |  FROM pre CROSS JOIN tot)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(SUM(term_e6) * (n1 + n2 - 1) // ((n1 + n2) * (n1 + n2))
      |    AS BIGINT) AS a2kn_e6
      |FROM terms GROUP BY n1, n2""".stripMargin

  // -------- q413: Laspeyres / Paasche / Fisher price-index panel

  /** q413: the classical bilateral price indices between the first and
    * second halves of the shipping horizon — the INDEX-NUMBER view of
    * price change where q371 fits an elasticity and q381's LMDI
    * decomposes a difference: Laspeyres (base-period basket — what the
    * old mix costs now), Paasche (current basket), and Fisher (their
    * geometric mean — the superlative index that bounds both biases).
    * Brand-grain unit values (revenue/quantity, one e4 floor each) keep
    * every basket term an exact integer product; the period split is
    * the data-driven midpoint month (the q298 cutover device) so both
    * halves are guaranteed non-empty; only brands trading in BOTH
    * periods enter (matched-items rule, count in-output). Fisher rides
    * the bit-portable FLOOR(SQRT(L·P)).
    *
    * Plan: one fact pass joined to the broadcast part dim → brand ×
    * period rollup (metadata) → matched-brand fold. One shuffle.
    */
  val q413PriceIndices: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("year(l_shipdate) * 12 + month(l_shipdate)").as("m"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"),
        cents(col("l_extendedprice")).as("c"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        Seq("l_partkey"))
    val mid = li.agg(expr("CAST((min(m) + max(m) + 1) div 2 AS BIGINT)")
      .as("mid"))
    val bp = li.crossJoin(broadcast(mid))
      .withColumn("per", when(col("m") < col("mid"), 0L).otherwise(1L))
      .groupBy(col("p_brand"), col("per"))
      .agg(sum(col("q")).as("qty"), sum(col("c")).as("rev"))
      .withColumn("u_e4", expr(fdiv("rev * 10000", "qty")).cast("long"))
    val matched = bp.filter(col("per") === 0L)
      .select(col("p_brand"), col("qty").as("q0"), col("u_e4").as("u0"))
      .join(bp.filter(col("per") === 1L)
        .select(col("p_brand"), col("qty").as("q1"), col("u_e4").as("u1")),
        Seq("p_brand"))
    matched.agg(count(lit(1)).as("n_brands"),
      sum(col("u1").cast(dec) * col("q0")).as("l_num"),
      sum(col("u0").cast(dec) * col("q0")).as("l_den"),
      sum(col("u1").cast(dec) * col("q1")).as("p_num"),
      sum(col("u0").cast(dec) * col("q1")).as("p_den"))
      .select(col("n_brands"),
        expr(fdiv("l_num * 1000000", "l_den")).cast("long")
          .as("laspeyres_e6"),
        expr(fdiv("p_num * 1000000", "p_den")).cast("long").as("paasche_e6"))
      .withColumn("fisher_e6",
        expr("""CAST(FLOOR(SQRT(CAST(laspeyres_e6 * paasche_e6 AS DOUBLE)))
               | AS BIGINT)""".stripMargin.replace("\n", " ")))
  }

  val q413Sql: String =
    """WITH li AS (
      |  SELECT p.p_brand, year(l_shipdate) * 12 + month(l_shipdate) AS m,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS q,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |mid AS (SELECT (MIN(m) + MAX(m) + 1) // 2 AS mid FROM li),
      |bp AS (
      |  SELECT p_brand, CASE WHEN m < mid THEN 0 ELSE 1 END AS per,
      |    CAST(SUM(q) AS BIGINT) AS qty, CAST(SUM(c) AS BIGINT) AS rev
      |  FROM li CROSS JOIN mid
      |  GROUP BY p_brand, per),
      |uv AS (
      |  SELECT p_brand, per, qty,
      |    CAST(CAST(rev AS HUGEINT) * 10000 // qty AS BIGINT) AS u_e4
      |  FROM bp),
      |matched AS (
      |  SELECT a.p_brand, a.qty AS q0, a.u_e4 AS u0,
      |    b.qty AS q1, b.u_e4 AS u1
      |  FROM uv a JOIN uv b ON a.p_brand = b.p_brand
      |  WHERE a.per = 0 AND b.per = 1),
      |fold AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
      |    SUM(CAST(u1 AS HUGEINT) * q0) AS l_num,
      |    SUM(CAST(u0 AS HUGEINT) * q0) AS l_den,
      |    SUM(CAST(u1 AS HUGEINT) * q1) AS p_num,
      |    SUM(CAST(u0 AS HUGEINT) * q1) AS p_den
      |  FROM matched)
      |SELECT n_brands,
      |  CAST(l_num * 1000000 // l_den AS BIGINT) AS laspeyres_e6,
      |  CAST(p_num * 1000000 // p_den AS BIGINT) AS paasche_e6,
      |  CAST(FLOOR(SQRT(CAST((l_num * 1000000 // l_den)
      |    * (p_num * 1000000 // p_den) AS DOUBLE))) AS BIGINT) AS fisher_e6
      |FROM fold""".stripMargin

  // ------- q414: Hill tail-index + mean-excess of customer revenue

  /** Hill exceedance count (top-k over the (k+1)-th order statistic). */
  val HillK = 100L

  /** q414: extreme-value TAIL measurement of per-customer lifetime
    * revenue — q345's Gumbel fit models block MAXIMA; the Hill
    * estimator reads the tail INDEX from the top order statistics
    * (α ≈ 1/H, H = mean ln(X₍ᵢ₎/X₍ₖ₊₁₎) over the k largest), the
    * standard "how Pareto is the whale curve" diagnostic for revenue
    * concentration risk, plus the mean-excess e(u) = E[X−u | X>u]
    * whose linearity in u is the POT/GPD signature. Logs ride the LUT
    * pair; ln converts by the shared 693147 literal; ties at the
    * threshold contribute exactly zero so the top-(k+1) selection is
    * tie-invariant. Threshold selection is TakeOrdered(k+1), never a
    * global sort; the mean-excess pass streams with a broadcast
    * threshold.
    *
    * Plan: one orders pass → customer rollup (checkpointed) →
    * TakeOrdered(k+1) fold (broadcast) → one streaming excess pass.
    */
  val q414HillTail: Q = (s, dir) => {
    val cust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .localCheckpoint()
    val top = cust.orderBy(col("rev").desc, col("o_custkey"))
      .limit((HillK + 1L).toInt)
    val thr = top.agg(min(col("rev")).as("u"))
    val hill = top.crossJoin(broadcast(thr))
      .select((expr(s"CAST(${l2("rev")} AS BIGINT)") -
        expr(s"CAST(${l2("u")} AS BIGINT)")).as("dl2"))
      .agg(sum(col("dl2")).as("sdl2"))
      .select(expr(fdivBigint("sdl2", HillK.toString)).as("h_l2_e6"))
      .withColumn("h_ln_e6", expr(fdivBigint("h_l2_e6 * 693147", "1000000")))
      .withColumn("alpha_e6",
        expr(fdivBigint("1000000000000", "GREATEST(h_ln_e6, 1)")))
    val excess = cust.crossJoin(broadcast(thr))
      .filter(col("rev") > col("u"))
      .agg(count(lit(1)).as("n_exceed"), sum(col("rev") - col("u")).as("se"))
      .select(col("n_exceed"),
        expr(fdivBigint("se", "GREATEST(n_exceed, 1)")).as("mean_excess_cents"))
    thr.crossJoin(broadcast(hill)).crossJoin(broadcast(excess))
      .select(lit(HillK).as("k"), col("u").as("threshold_cents"),
        col("n_exceed"), col("mean_excess_cents"), col("h_l2_e6"),
        col("alpha_e6"))
  }

  val q414Sql: String = {
    s"""WITH cust AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY o_custkey),
      |top AS (
      |  SELECT rev FROM cust ORDER BY rev DESC, o_custkey
      |  LIMIT ${HillK + 1}),
      |thr AS (SELECT MIN(rev) AS u FROM top),
      |hill0 AS (
      |  SELECT CAST(SUM(${duckL2("rev")} - ${duckL2("u")}) AS BIGINT) // $HillK
      |    AS h_l2_e6
      |  FROM top CROSS JOIN thr),
      |hill AS (
      |  SELECT h_l2_e6, h_l2_e6 * 693147 // 1000000 AS h_ln_e6
      |  FROM hill0),
      |hill2 AS (
      |  SELECT h_l2_e6,
      |    1000000000000 // GREATEST(h_ln_e6, 1) AS alpha_e6
      |  FROM hill),
      |excess AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exceed,
      |    CAST(SUM(rev - u) AS BIGINT) // GREATEST(COUNT(*), 1)
      |      AS mean_excess_cents
      |  FROM cust CROSS JOIN thr WHERE rev > u)
      |SELECT CAST($HillK AS BIGINT) AS k, u AS threshold_cents, n_exceed,
      |  CAST(mean_excess_cents AS BIGINT) AS mean_excess_cents,
      |  h_l2_e6, CAST(alpha_e6 AS BIGINT) AS alpha_e6
      |FROM thr CROSS JOIN hill2 CROSS JOIN excess""".stripMargin
  }

  // -------- q418: chain-ladder development backtest on the ship flow

  /** Development horizon (dev years 0..[[ClMaxDev]]−1) for the
    * chain-ladder unroll — fixed at plan time, identity factors pad
    * the unused tail.
    */
  val ClMaxDev = 8

  /** The run-off triangle q418 and q462 project from: revenue cents `v`
    * per (order year `oy`, development year `dev` = ship year − oy ≥ 0),
    * pinned.
    */
  private def runOffCells(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).as("oy")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("dev", year(col("l_shipdate")) - col("oy"))
      .filter(col("dev") >= 0)
      .groupBy(col("oy"), col("dev"))
      .agg(sum(cents(col("l_extendedprice"))).as("v"))
      .localCheckpoint()

  /** Develops [[runOffCells]] against the one-row `maxY` (max_y, ...):
    * (cum, fRow) = the pinned cumulative `c`/next `cn` per (oy, dev) on
    * the [[ClMaxDev]] spine crossed with `maxY`, and the one-row
    * volume-weighted age-to-age factors f_0.. at e6 (10⁶ if undeveloped).
    */
  private def chainLadder(s: SparkSession, cells: DataFrame,
      maxY: DataFrame): (DataFrame, DataFrame) = {
    val years = cells.select(col("oy")).distinct().localCheckpoint()
    val devSpine = s.range(0L, ClMaxDev.toLong)
      .select(col("id").cast("int").as("dev"))
    val dense = years.crossJoin(broadcast(devSpine))
      .join(cells, Seq("oy", "dev"), "left")
      .select(col("oy"), col("dev"), coalesce(col("v"), lit(0L)).as("v"))
    val wC = Window.partitionBy(col("oy")).orderBy(col("dev"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = dense.withColumn("c", sum(col("v")).over(wC))
      .withColumn("cn", lead(col("c"), 1).over(
        Window.partitionBy(col("oy")).orderBy(col("dev"))))
      .crossJoin(broadcast(maxY))
      .localCheckpoint()
    val factors = cum
      .filter(col("oy") + col("dev") + 1 <= col("max_y") &&
        col("cn").isNotNull && col("c") > 0L)
      .groupBy(col("dev"))
      .agg(sum(col("cn").cast("decimal(38,0)")).as("num"),
        sum(col("c").cast("decimal(38,0)")).as("den"))
      .select(col("dev"), expr(fdiv("num * 1000000", "den")).cast("long")
        .as("f_e6"))
    val fArm = (0 until ClMaxDev).map { k =>
      max(when(col("dev") === k, col("f_e6"))).as(s"f_$k")
    }
    val fRow = factors.agg(fArm.head, fArm.tail: _*)
      .select((0 until ClMaxDev).map(k =>
        coalesce(col(s"f_$k"), lit(1000000L)).as(s"f_$k")): _*)
    (cum, fRow)
  }

  /** q418: the chain-ladder method — actuarial run-off projection
    * applied to the order→ship revenue flow: order-year cohorts
    * develop as their lineitems ship in later years, the
    * volume-weighted development factors f_k = ΣC_{i,k+1}/ΣC_{i,k}
    * (computed ONLY from cells a reserver standing at the latest
    * order year could see — i + k ≤ Y) project each cohort's
    * ultimate. Because this dataset is COMPLETE, the projection is a
    * BACKTEST: the masked lower triangle is projected, then compared
    * against the actual ultimates in-output (err_e6 per cohort) — the
    * operator certifies its own accuracy, the q374 convention. The
    * per-cohort factor product unrolls over the plan-time
    * [[ClMaxDev]] ladder (one e6 floor per applied factor, identity
    * 10⁶ padding), so no recursion is needed anywhere.
    *
    * Plan: one fact-orders join (the one real shuffle) → (cohort,
    * dev) rollup → dense 7×8 grid windows PARTITIONED by cohort →
    * metadata folds.
    */
  val q418ChainLadder: Q = (s, dir) => {
    val cells = runOffCells(s, dir)
    val (cum, fRow) =
      chainLadder(s, cells, cells.agg(max(col("oy")).as("max_y")))
    val latest = cum.filter(col("dev") === col("max_y") - col("oy"))
      .select(col("oy"), col("dev").as("latest_dev"), col("c").as("latest_c"))
    val actual = cum.groupBy(col("oy")).agg(max(col("c")).as("actual_ult"))
    var proj = latest.crossJoin(broadcast(fRow))
      .withColumn("ult", col("latest_c").cast("decimal(38,0)"))
    for (k <- 0 until ClMaxDev) {
      proj = proj.withColumn("ult",
        when(col("latest_dev") <= k,
          expr(fdiv(s"ult * f_$k", "1000000"))).otherwise(col("ult")))
    }
    proj.join(actual, Seq("oy"))
      .select(col("oy").as("order_year"), col("latest_dev"),
        col("latest_c").cast("long").as("latest_cum_cents"),
        col("ult").cast("long").as("projected_ult_cents"),
        col("actual_ult").cast("long").as("actual_ult_cents"),
        expr(sdivBigint("(ult - actual_ult) * 1000000", "actual_ult"))
          .as("err_e6"))
      .orderBy(col("order_year"))
  }

  val q418Sql: String = {
    val fCase = (0 until ClMaxDev).map(k =>
      s"MAX(CASE WHEN dev = $k THEN f_e6 END)").mkString(", ")
    val fCols = (0 until ClMaxDev).map(k =>
      s"COALESCE(f[${k + 1}], 1000000) AS f_$k").mkString(", ")
    val steps = (0 until ClMaxDev).map { k =>
      s"""p$k AS (SELECT * REPLACE (CASE WHEN latest_dev <= $k
         |  THEN (ult * f_$k) // 1000000 ELSE ult END AS ult)
         |  FROM p${k - 1})""".stripMargin
    }.map(_.replace("FROM p-1", "FROM p_init")).mkString(",\n")
    s"""WITH cells AS (
      |  SELECT year(o.o_orderdate) AS oy,
      |    year(l.l_shipdate) - year(o.o_orderdate) AS dev,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
      |      AS HUGEINT) AS v
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE year(l.l_shipdate) >= year(o.o_orderdate)
      |  GROUP BY 1, 2),
      |years AS (SELECT DISTINCT oy FROM cells),
      |max_y AS (SELECT MAX(oy) AS max_y FROM cells),
      |dense AS (
      |  SELECT y.oy, d.dev, COALESCE(c.v, 0) AS v
      |  FROM years y
      |  CROSS JOIN (SELECT UNNEST(range(0, $ClMaxDev)) AS dev) d
      |  LEFT JOIN cells c ON c.oy = y.oy AND c.dev = d.dev),
      |cum0 AS (
      |  SELECT oy, dev,
      |    SUM(v) OVER (PARTITION BY oy ORDER BY dev
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM dense),
      |cum AS (
      |  SELECT oy, dev, c,
      |    LEAD(c, 1) OVER (PARTITION BY oy ORDER BY dev) AS cn
      |  FROM cum0),
      |factors AS (
      |  SELECT dev, CAST(SUM(cn) * 1000000 // SUM(c) AS BIGINT) AS f_e6
      |  FROM cum CROSS JOIN max_y
      |  WHERE oy + dev + 1 <= max_y AND cn IS NOT NULL AND c > 0
      |  GROUP BY dev),
      |f_list AS (
      |  SELECT [$fCase] AS f
      |  FROM (SELECT UNNEST(range(0, $ClMaxDev)) AS dev) s
      |  LEFT JOIN factors USING (dev)),
      |f_row AS (SELECT $fCols FROM f_list),
      |latest AS (
      |  SELECT oy, dev AS latest_dev, c AS latest_c
      |  FROM cum CROSS JOIN max_y WHERE dev = max_y - oy),
      |actual AS (SELECT oy, MAX(c) AS actual_ult FROM cum GROUP BY oy),
      |p_init AS (
      |  SELECT oy, latest_dev, latest_c, CAST(latest_c AS HUGEINT) AS ult,
      |    f_row.*
      |  FROM latest CROSS JOIN f_row),
      |$steps
      |SELECT p.oy AS order_year, p.latest_dev,
      |  CAST(p.latest_c AS BIGINT) AS latest_cum_cents,
      |  CAST(p.ult AS BIGINT) AS projected_ult_cents,
      |  CAST(a.actual_ult AS BIGINT) AS actual_ult_cents,
      |  CAST(CASE WHEN p.ult - a.actual_ult >= 0 THEN 1 ELSE -1 END *
      |    (ABS((p.ult - a.actual_ult) * 1000000) // a.actual_ult)
      |    AS BIGINT) AS err_e6
      |FROM p${ClMaxDev - 1} p JOIN actual a ON a.oy = p.oy
      |ORDER BY order_year""".stripMargin
  }

  // ----- q422: OLS influence diagnostics (leverage + Cook's D)

  /** Order revenue per month `m` (year·12 + month) in thousands of units
    * (integer cents `div 100000`), pinned — q422's and q423's series.
    */
  private def monthlyRevenueE3(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
        cents(col("o_totalprice")).as("c"))
      .groupBy(col("m")).agg(expr("SUM(c) div 100000").as("y"))
      .localCheckpoint()

  /** q422: regression influence diagnostics — which MONTHS drive the
    * fitted revenue trend? Every OLS in the inventory (q117, q371,
    * q391, q405) reports coefficients; none yet reports how fragile
    * they are to single observations. Per month of the monthly-revenue
    * trend fit: leverage h_i = 1/n + (t_i−t̄)²/Σ(t−t̄)² and Cook's
    * distance D_i = e_i²·h_i/(2s²(1−h_i)²), both exact rationals in
    * the n·D-cleared integers (E_i = D·(n·y_i−Σy) − N_b·(n·t_i−Σt),
    * H_i = D + (n·t_i−Σt)², nD·h_i = H_i), staged through two e6
    * floors sized to stay inside DECIMAL(38,0) through sf1. Top 5
    * influential months with deterministic tiebreak.
    *
    * Plan: one orders pass → month rollup (metadata) → 1-row moment
    * fold broadcast back → scoring pass → TakeOrdered(5).
    */
  val q422Influence: Q = (s, dir) => {
    val bm = monthlyRevenueE3(s, dir)
    val t0 = bm.agg(min(col("m")).as("m0"))
    val pts = bm.crossJoin(broadcast(t0))
      .select(col("m"), (col("m") - col("m0") + 1L).as("t"), col("y"))
    val mo = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("t")).cast(dec).as("st"), sum(col("y")).cast(dec).as("sy"),
      sum(col("t").cast(dec) * col("t")).as("stt"),
      sum(col("t").cast(dec) * col("y")).as("sty"))
      .select(col("n"), col("st"), col("sy"),
        (col("n") * col("stt") - col("st") * col("st")).as("d"),
        (col("n") * col("sty") - col("st") * col("sy")).as("nb"))
    val scored = pts.crossJoin(broadcast(mo))
      .withColumn("ei",
        col("d") * (col("n") * col("y") - col("sy")) -
          col("nb") * (col("n") * col("t") - col("st")))
      .withColumn("hi", col("d") +
        (col("n") * col("t") - col("st")) * (col("n") * col("t") - col("st")))
      .localCheckpoint()
    val sse = scored.agg(sum(col("ei") * col("ei")).as("sse_s"))
    scored.crossJoin(broadcast(sse))
      .withColumn("q", expr(fdiv("ei * ei * 1000000", "sse_s")))
      .select(col("m").as("month"), col("t").cast("long").as("t"),
        col("y").cast("long").as("rev_kusd"),
        expr(fdiv("hi * 1000000", "n * d")).cast("long").as("leverage_e6"),
        expr(fdiv("q * hi * (n * d) * (n - 2)",
          "2 * (n * d - hi) * (n * d - hi)")).cast("long").as("cook_e6"))
      .orderBy(col("cook_e6").desc, col("month"))
      .limit(5)
  }

  val q422Sql: String =
    """WITH bm AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100000 AS y
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT m, m - (SELECT MIN(m) FROM bm) + 1 AS t, y FROM bm),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(t AS HUGEINT) * t) AS stt,
      |    SUM(CAST(t AS HUGEINT) * y) AS sty
      |  FROM pts),
      |cm AS (
      |  SELECT n, st, sy, n * stt - st * st AS d,
      |    n * sty - st * sy AS nb
      |  FROM mo),
      |scored AS (
      |  SELECT m, t, y,
      |    d * (n * y - sy) - nb * (n * t - st) AS ei,
      |    d + (n * t - st) * (n * t - st) AS hi,
      |    n, d
      |  FROM pts CROSS JOIN cm),
      |sse AS (SELECT SUM(ei * ei) AS sse_s FROM scored)
      |SELECT m AS month, CAST(t AS BIGINT) AS t,
      |  CAST(y AS BIGINT) AS rev_kusd,
      |  CAST(hi * 1000000 // (n * d) AS BIGINT) AS leverage_e6,
      |  CAST(((ei * ei * 1000000) // sse_s) * hi * (n * d) * (n - 2)
      |    // (2 * (n * d - hi) * (n * d - hi)) AS BIGINT) AS cook_e6
      |FROM scored CROSS JOIN sse
      |ORDER BY cook_e6 DESC, month LIMIT 5""".stripMargin

  // ------ q423: segmented trend regression with estimated breakpoint

  /** Minimum points on each side of the candidate breakpoint. */
  val SegMinSide = 3L

  /** q423: segmented (broken-stick) regression over the monthly
    * revenue trend — q307's Pettitt finds a MEAN shift and q317's
    * SPRT a drift alarm; this estimates WHERE the trend itself bends
    * by profiling the breakpoint: for every candidate split c the
    * two-segment SSE is the closed form (A·B − C²)/(m·B) per side
    * from PREFIX co-moments (one windowed pass over the ~80-row month
    * panel — candidate generation bounded by the calendar), each side
    * one e6 floor, argmin with smallest-c tiebreak. Slopes of both
    * segments and the SSE reduction against the single fit land
    * in-output.
    *
    * Plan: one orders pass → month rollup → windowed prefix moments
    * (metadata) → candidate fold → argmin select.
    */
  val q423Segmented: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bm = monthlyRevenueE3(s, dir)
    val t0 = bm.agg(min(col("m")).as("m0"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pref = bm.crossJoin(broadcast(t0))
      .select(col("m"), (col("m") - col("m0") + 1L).as("t"), col("y"))
      .withColumn("k", count(lit(1)).over(w).cast(dec))
      .withColumn("pt", sum(col("t")).over(w).cast(dec))
      .withColumn("py", sum(col("y")).over(w).cast(dec))
      .withColumn("ptt", sum(col("t").cast(dec) * col("t")).over(w))
      .withColumn("pty", sum(col("t").cast(dec) * col("y")).over(w))
      .withColumn("pyy", sum(col("y").cast(dec) * col("y")).over(w))
      .localCheckpoint()
    val tot = pref.orderBy(col("t").desc).limit(1)
      .select(col("k").as("nn"), col("pt").as("tt"), col("py").as("ty"),
        col("ptt").as("ttt"), col("pty").as("tty"), col("pyy").as("tyy"))
    def sseExpr(kk: String, a: String, b: String, c: String) =
      // (A·B − C²)·10⁶ / (m·B) with A = mΣy²−(Σy)², B = mΣt²−(Σt)²,
      // C = mΣty−ΣtΣy — all exact integers from the prefix moments
      fdiv(s"(($a) * ($b) - ($c) * ($c)) * 1000000", s"($kk) * ($b)")
    val cand = pref.crossJoin(broadcast(tot))
      .filter(col("k") >= SegMinSide &&
        col("nn") - col("k") >= SegMinSide)
      .withColumn("al", col("k") * col("pyy") - col("py") * col("py"))
      .withColumn("bl", col("k") * col("ptt") - col("pt") * col("pt"))
      .withColumn("cl", col("k") * col("pty") - col("pt") * col("py"))
      .withColumn("kr", col("nn") - col("k"))
      .withColumn("syr", col("ty") - col("py"))
      .withColumn("str2", col("tt") - col("pt"))
      .withColumn("sttr", col("ttt") - col("ptt"))
      .withColumn("styr", col("tty") - col("pty"))
      .withColumn("syyr", col("tyy") - col("pyy"))
      .withColumn("ar", col("kr") * col("syyr") - col("syr") * col("syr"))
      .withColumn("br", col("kr") * col("sttr") - col("str2") * col("str2"))
      .withColumn("cr", col("kr") * col("styr") - col("str2") * col("syr"))
      .withColumn("sse_l", expr(sseExpr("k", "al", "bl", "cl")).cast(dec))
      .withColumn("sse_r", expr(sseExpr("kr", "ar", "br", "cr")).cast(dec))
      .withColumn("sse2", col("sse_l") + col("sse_r"))
      .localCheckpoint()
    val best = cand.orderBy(col("sse2"), col("m")).limit(1)
    val single = tot.select(expr(sseExpr("nn",
      "nn * tyy - ty * ty", "nn * ttt - tt * tt",
      "nn * tty - tt * ty")).cast(dec).as("sse1"))
    best.crossJoin(broadcast(single))
      .select(col("m").as("break_month"), col("k").cast("long").as("n_left"),
        expr(sdivBigint("cl * 1000000", "bl")).as("slope_left_e6"),
        expr(sdivBigint("cr * 1000000", "br")).as("slope_right_e6"),
        col("sse1").cast("long").as("sse_single_e6"),
        col("sse2").cast("long").as("sse_segmented_e6"),
        expr(sdivBigint("(sse1 - sse2) * 1000000", "sse1")).as("reduction_e6"))
  }

  val q423Sql: String =
    s"""WITH bm AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100000 AS y
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT m, m - (SELECT MIN(m) FROM bm) + 1 AS t, y FROM bm),
      |pref AS (
      |  SELECT m, t, y,
      |    CAST(COUNT(*) OVER wp AS HUGEINT) AS k,
      |    CAST(SUM(t) OVER wp AS HUGEINT) AS pt,
      |    CAST(SUM(y) OVER wp AS HUGEINT) AS py,
      |    SUM(CAST(t AS HUGEINT) * t) OVER wp AS ptt,
      |    SUM(CAST(t AS HUGEINT) * y) OVER wp AS pty,
      |    SUM(CAST(y AS HUGEINT) * y) OVER wp AS pyy
      |  FROM pts
      |  WINDOW wp AS (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (
      |  SELECT k AS nn, pt AS tt, py AS ty, ptt AS ttt, pty AS tty,
      |    pyy AS tyy
      |  FROM pref ORDER BY t DESC LIMIT 1),
      |cand AS (
      |  SELECT m, k,
      |    k * pyy - py * py AS al, k * ptt - pt * pt AS bl,
      |    k * pty - pt * py AS cl,
      |    nn - k AS kr, ty - py AS syr, tt - pt AS str2,
      |    ttt - ptt AS sttr, tty - pty AS styr, tyy - pyy AS syyr
      |  FROM pref CROSS JOIN tot
      |  WHERE k >= $SegMinSide AND nn - k >= $SegMinSide),
      |scored AS (
      |  SELECT m, k, cl, bl,
      |    kr * syyr - syr * syr AS ar, kr * sttr - str2 * str2 AS br,
      |    kr * styr - str2 * syr AS cr,
      |    (al * bl - cl * cl) * 1000000 // (k * bl) AS sse_l
      |  FROM cand),
      |scored2 AS (
      |  SELECT m, k, cl, bl, cr, br,
      |    sse_l + (ar * br - cr * cr) * 1000000 // (kr2 * br) AS sse2
      |  FROM (SELECT *, (SELECT nn FROM tot) - k AS kr2 FROM scored)),
      |best AS (SELECT * FROM scored2 ORDER BY sse2, m LIMIT 1),
      |single AS (
      |  SELECT ((nn * tyy - ty * ty) * (nn * ttt - tt * tt)
      |    - (nn * tty - tt * ty) * (nn * tty - tt * ty)) * 1000000
      |    // (nn * (nn * ttt - tt * tt)) AS sse1
      |  FROM tot)
      |SELECT m AS break_month, CAST(k AS BIGINT) AS n_left,
      |  CAST(CASE WHEN cl >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cl * 1000000) // bl) AS BIGINT) AS slope_left_e6,
      |  CAST(CASE WHEN cr >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cr * 1000000) // br) AS BIGINT) AS slope_right_e6,
      |  CAST(sse1 AS BIGINT) AS sse_single_e6,
      |  CAST(sse2 AS BIGINT) AS sse_segmented_e6,
      |  CAST(CASE WHEN sse1 - sse2 >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sse1 - sse2) * 1000000) // sse1) AS BIGINT) AS reduction_e6
      |FROM best CROSS JOIN single""".stripMargin

  // ------ q427: empirical tail-dependence of (quantity, price)

  /** Tail quantile levels (per mille) for the dependence probe. */
  val TailLevels: Seq[Long] = Seq(900L, 950L)

  /** q427: empirical tail-dependence coefficients — the COPULA view of
    * association that correlation (q271/q327/q396) cannot give: two
    * variables can be strongly correlated in the bulk yet independent
    * in the tails (or vice versa — where joint extremes, the risk
    * events, live). For (line quantity, extended price) at each level
    * q ∈ {0.90, 0.95}: λ_U(q) = P(X > x_q ∧ Y > y_q)/(1−q) and the
    * lower mirror λ_L — both → 1 under perfect tail comonotonicity,
    * → 0 under tail independence. Thresholds are relational
    * percentile_disc selections off the two-level rank construction
    * (never a corpus sort); the joint-exceedance counts are one
    * conditional-aggregate pass; each λ is one e6 floor.
    *
    * Plan: one fact pass → two value rollups → rank-target threshold
    * selection (broadcast) → one counting pass. Two shuffles.
    */
  val q427TailDependence: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(expr("CAST(ROUND(l_quantity) AS BIGINT)").as("x"),
        cents(col("l_extendedprice")).as("y"))
      .localCheckpoint()
    val n = li.agg(count(lit(1)).as("n"))
    // r8: both tails' rank thresholds ride ONE grouped rank pass (unpivot
    // to (which, v), group the device by `which`) instead of two per-column
    // pipelines — identical per-group arithmetic, half the shuffles.
    val thr = {
      val byV = li
        .select(explode(array(
          struct(lit("x").as("which"), col("x").as("v")),
          struct(lit("y").as("which"), col("y").as("v")))).as("e"))
        .groupBy(col("e.which").as("which"), col("e.v").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val ranked = doubledRankBelow(byV, Seq("which"), "v", 100000L)
        .crossJoin(broadcast(n))
      val spine = s.createDataFrame(TailLevels.map(Tuple1(_))).toDF("lvl")
      ranked.crossJoin(broadcast(spine))
        .filter(col("below") + col("cnt") >=
          expr("(lvl * n + 999) div 1000"))
        .groupBy(col("lvl")).pivot(col("which"), Seq("x", "y"))
        .agg(min(col("v")))
        .select(col("lvl"), col("x").as("thr_x"), col("y").as("thr_y"))
        .localCheckpoint()
    }
    li.crossJoin(broadcast(thr)).crossJoin(broadcast(n))
      .groupBy(col("lvl"), col("thr_x"), col("thr_y"), col("n"))
      .agg(sum(when(col("x") > col("thr_x") && col("y") > col("thr_y"), 1L)
        .otherwise(0L)).as("n_joint_u"),
        sum(when(col("x") <= col("thr_x") && col("y") <= col("thr_y"), 1L)
          .otherwise(0L)).as("n_joint_l"))
      .select(col("lvl").as("level_pm"), col("thr_x").as("x_threshold"),
        col("thr_y").as("y_threshold_cents"),
        expr(fdivBigint("n_joint_u * 1000 * 1000000", "(1000 - lvl) * n"))
          .as("lambda_upper_e6"),
        expr(fdivBigint("n_joint_l * 1000 * 1000000", "lvl * n"))
          .as("lambda_lower_e6"))
      .orderBy(col("level_pm"))
  }

  val q427Sql: String = {
    val lvls = TailLevels.mkString(", ")
    s"""WITH li AS (
      |  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM li),
      |spine AS (SELECT UNNEST([$lvls]) AS lvl),
      |tx AS (
      |  SELECT lvl, MIN(x) AS thr_x
      |  FROM (SELECT x, SUM(cnt) OVER (ORDER BY x
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |        FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
      |              FROM li GROUP BY x))
      |  CROSS JOIN spine CROSS JOIN n
      |  WHERE cum >= (lvl * n + 999) // 1000
      |  GROUP BY lvl),
      |ty AS (
      |  SELECT lvl, MIN(y) AS thr_y
      |  FROM (SELECT y, SUM(cnt) OVER (ORDER BY y
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |        FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
      |              FROM li GROUP BY y))
      |  CROSS JOIN spine CROSS JOIN n
      |  WHERE cum >= (lvl * n + 999) // 1000
      |  GROUP BY lvl),
      |joint AS (
      |  SELECT lvl, thr_x, thr_y, ANY_VALUE(n) AS n,
      |    SUM(CASE WHEN x > thr_x AND y > thr_y THEN 1 ELSE 0 END)
      |      AS n_joint_u,
      |    SUM(CASE WHEN x <= thr_x AND y <= thr_y THEN 1 ELSE 0 END)
      |      AS n_joint_l
      |  FROM (SELECT * FROM tx JOIN ty USING (lvl)) thr
      |  CROSS JOIN li CROSS JOIN n
      |  GROUP BY lvl, thr_x, thr_y)
      |SELECT lvl AS level_pm, thr_x AS x_threshold,
      |  thr_y AS y_threshold_cents,
      |  CAST(CAST(n_joint_u AS HUGEINT) * 1000 * 1000000
      |    // ((1000 - lvl) * n) AS BIGINT) AS lambda_upper_e6,
      |  CAST(CAST(n_joint_l AS HUGEINT) * 1000 * 1000000
      |    // (lvl * n) AS BIGINT) AS lambda_lower_e6
      |FROM joint ORDER BY level_pm""".stripMargin
  }

  // ----- q429: panel fixed-effects (within) trend estimator

  /** Orders joined to a broadcast of their customer's `c_nationkey`: the
    * fact side of every per-nation order panel (q429, q435, q437, q449,
    * q459, q481, q507, q567, q572).
    */
  def ordersWithNation(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))

  /** q429: the panel-data within estimator — econometrics' answer to
    * confounded trends that q117-style pooled OLS cannot separate: on
    * the (nation, month) revenue panel, the POOLED slope mixes
    * between-nation level differences into the time trend; the
    * fixed-effects WITHIN estimator demeans inside each nation first,
    * so only common-time variation identifies the slope. Per-nation
    * n_i-cleared co-moments fold to one e6-floored contribution pair
    * per nation (exact integers, no demeaned doubles), and the within,
    * between (group-means OLS) and pooled slopes land side by side —
    * the spread IS the omitted-heterogeneity diagnostic.
    *
    * Plan: orders ⋈ broadcast customer dim → (nation, month) rollup →
    * per-nation fold (metadata) → 1-row estimator fold. One shuffle.
    */
  val q429FixedEffects: Q = (s, dir) => {
    val cells = ordersWithNation(s, dir)
      .select(col("c_nationkey").as("nat"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
        cents(col("o_totalprice")).as("c"))
      .groupBy(col("nat"), col("m"))
      .agg(expr("SUM(c) div 100").as("y"))
      .localCheckpoint()
    val t0 = cells.agg(min(col("m")).as("m0"))
    val pts = cells.crossJoin(broadcast(t0))
      .select(col("nat"), (col("m") - col("m0") + 1L).as("t"), col("y"))
    val perNat = pts.groupBy(col("nat"))
      .agg(count(lit(1)).cast(dec).as("ni"),
        sum(col("t")).cast(dec).as("st"), sum(col("y")).cast(dec).as("sy"),
        sum(col("t").cast(dec) * col("t")).as("stt"),
        sum(col("t").cast(dec) * col("y")).as("sty"))
      .select(col("nat"), col("ni"), col("st"), col("sy"),
        expr(sdiv("(ni * sty - st * sy) * 1000000", "ni")).as("wnum_e6"),
        expr(fdiv("(ni * stt - st * st) * 1000000", "ni")).as("wden_e6"),
        expr(fdiv("st * 1000000", "ni")).as("tbar_e6"),
        expr(fdiv("sy * 1000000", "ni")).as("ybar_e6"))
      .localCheckpoint()
    val within = perNat.agg(count(lit(1)).as("n_nations"),
      sum(col("wnum_e6")).as("wn"), sum(col("wden_e6")).as("wd"))
      .select(col("n_nations"),
        expr(sdiv("wn * 1000000", "wd")).cast("long").as("beta_within_e6"))
    val between = perNat.agg(count(lit(1)).cast(dec).as("g"),
      sum(col("tbar_e6")).as("sb"), sum(col("ybar_e6")).as("yb"),
      sum(col("tbar_e6").cast(dec) * col("tbar_e6")).as("sbb"),
      sum(col("tbar_e6").cast(dec) * col("ybar_e6")).as("sby"))
      .select(expr(
        "CASE WHEN g * sbb - sb * sb = 0 THEN NULL ELSE " +
          sdiv("(g * sby - sb * yb) * 1000000", "g * sbb - sb * sb") + " END")
        .cast("long").as("beta_between_e6"))
    val pooled = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("t")).cast(dec).as("st"), sum(col("y")).cast(dec).as("sy"),
      sum(col("t").cast(dec) * col("t")).as("stt"),
      sum(col("t").cast(dec) * col("y")).as("sty"))
      .select(col("n").cast("long").as("n_cells"),
        expr(sdiv("(n * sty - st * sy) * 1000000", "n * stt - st * st"))
          .cast("long").as("beta_pooled_e6"))
    within.crossJoin(broadcast(between)).crossJoin(broadcast(pooled))
      .select(col("n_nations"), col("n_cells"), col("beta_within_e6"),
        col("beta_between_e6"), col("beta_pooled_e6"))
  }

  val q429Sql: String =
    """WITH cells AS (
      |  SELECT c.c_nationkey AS nat,
      |    year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |pts AS (
      |  SELECT nat, m - (SELECT MIN(m) FROM cells) + 1 AS t, y FROM cells),
      |per_nat AS (
      |  SELECT nat, CAST(COUNT(*) AS HUGEINT) AS ni,
      |    CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(t AS HUGEINT) * t) AS stt,
      |    SUM(CAST(t AS HUGEINT) * y) AS sty
      |  FROM pts GROUP BY nat),
      |staged AS (
      |  SELECT nat,
      |    CASE WHEN ni * sty - st * sy >= 0 THEN 1 ELSE -1 END *
      |      (ABS((ni * sty - st * sy) * 1000000) // ni) AS wnum_e6,
      |    (ni * stt - st * st) * 1000000 // ni AS wden_e6,
      |    st * 1000000 // ni AS tbar_e6,
      |    sy * 1000000 // ni AS ybar_e6
      |  FROM per_nat),
      |within AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nations,
      |    CAST(CASE WHEN SUM(wnum_e6) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(SUM(wnum_e6) * 1000000) // SUM(wden_e6)) AS BIGINT)
      |      AS beta_within_e6
      |  FROM staged),
      |between0 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS g,
      |    CAST(SUM(tbar_e6) AS HUGEINT) AS sb,
      |    CAST(SUM(ybar_e6) AS HUGEINT) AS yb,
      |    SUM(CAST(tbar_e6 AS HUGEINT) * tbar_e6) AS sbb,
      |    SUM(CAST(tbar_e6 AS HUGEINT) * ybar_e6) AS sby
      |  FROM staged),
      |between1 AS (
      |  SELECT CAST(CASE WHEN g * sbb - sb * sb = 0 THEN NULL
      |    ELSE CASE WHEN g * sby - sb * yb >= 0 THEN 1 ELSE -1 END *
      |      (ABS((g * sby - sb * yb) * 1000000) // (g * sbb - sb * sb)) END
      |    AS BIGINT) AS beta_between_e6
      |  FROM between0),
      |pooled AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      |    CAST(CASE WHEN CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * y)
      |        - CAST(SUM(t) AS HUGEINT) * SUM(y) >= 0 THEN 1 ELSE -1 END *
      |      (ABS((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * y)
      |        - CAST(SUM(t) AS HUGEINT) * SUM(y)) * 1000000)
      |       // (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
      |        - CAST(SUM(t) AS HUGEINT) * SUM(t))) AS BIGINT)
      |      AS beta_pooled_e6
      |  FROM pts)
      |SELECT n_nations, n_cells, beta_within_e6, beta_between_e6,
      |  beta_pooled_e6
      |FROM within CROSS JOIN between1 CROSS JOIN pooled""".stripMargin

  // ------ q433: shift-share decomposition of nation revenue growth

  /** Period boundary for the shift-share halves (orders span 1992-1998;
    * the boundary is the reference TPC-H mid-date used by q298's DiD).
    */
  val ShiftShareBreak = "1995-07-01"

  /** `pre` = 1 for an order placed before [[ShiftShareBreak]], else 0. */
  private def prePeriod: Column =
    (col("o_orderdate") < lit(ShiftShareBreak)).cast("long").as("pre")

  /** Lineitem revenue `r` (integer cents) with l_orderkey and l_partkey,
    * joined to its order's o_orderkey plus `orderCols`: the one
    * lineitem ⋈ orders pass of the brand two-period family.
    */
  private def linesWithOrder(s: SparkSession, dir: String,
      orderCols: Column*): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        cents(col("l_extendedprice")).as("r"))
      .join(Tables.orders(s, dir).select((col("o_orderkey") +: orderCols): _*),
        col("l_orderkey") === col("o_orderkey"))

  /** `lines` (with l_partkey) joined to a broadcast of part's brand. */
  private def withBrand(s: SparkSession, dir: String,
      lines: DataFrame): DataFrame =
    lines.join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))),
      col("l_partkey") === col("p_partkey"))

  /** Revenue cents per (order month `mo`, brand): the voting table of
    * q442 and q463, one brand ranking per month.
    */
  private def brandRevenueByMonth(s: SparkSession, dir: String): DataFrame =
    withBrand(s, dir,
        linesWithOrder(s, dir, expr("month(o_orderdate)").as("mo")))
      .groupBy(col("mo"), col("p_brand").as("brand"))
      .agg(sum(col("r")).as("rev"))

  /** Per brand, revenue before (`x`) and after (`y`) [[ShiftShareBreak]]
    * in thousands of cents, folded to the exact DECIMAL(38,0) moments
    * (n, sx, sy, qxx, qyy, qxy) that q448 and q457 compare the halves by.
    */
  private def brandPeriodMoments(s: SparkSession, dir: String): DataFrame =
    withBrand(s, dir, linesWithOrder(s, dir, prePeriod))
      .groupBy(col("p_brand").as("brand"))
      .agg(expr("SUM(CASE WHEN pre = 1 THEN r ELSE 0 END) div 1000")
        .as("x"),
        expr("SUM(CASE WHEN pre = 0 THEN r ELSE 0 END) div 1000").as("y"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("qxx"),
        sum(col("y").cast(dec) * col("y")).as("qyy"),
        sum(col("x").cast(dec) * col("y")).as("qxy"))

  /** q433: classical shift-share analysis — the REGIONAL-economics
    * growth decomposition next to q381's LMDI (which decomposes by
    * FACTOR, not by region): each nation's revenue change between the
    * two halves splits into the national-growth effect (what growing
    * with the grand total would give), the industry-mix effect (the
    * nation's brand portfolio growing at brand-level rates), and the
    * competitive effect (the residual nation-specific performance).
    * Per-cell terms telescope — ns + mix + comp = (r1−r0)·10⁶ EXACTLY,
    * because the two floored middle terms cancel pairwise — so the
    * decomposition is residual-free by construction and the identity
    * is checkable in-output.
    *
    * Plan: lineitem ⋈ orders (the one big-big shuffle) with broadcast
    * customer/part dims → 625-cell rollup (checkpointed: grand/brand
    * totals and the output all ride it) → metadata folds.
    */
  val q433ShiftShare: Q = (s, dir) => {
    val cells = withBrand(s, dir,
        linesWithOrder(s, dir, col("o_custkey"), prePeriod)
          .join(broadcast(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey")))
      .groupBy(col("c_nationkey").as("nat"), col("p_brand").as("brand"))
      .agg(sum(when(col("pre") === 1L, col("r")).otherwise(0L)).cast(dec)
        .as("r0"),
        sum(when(col("pre") === 0L, col("r")).otherwise(0L)).cast(dec)
          .as("r1"))
      .localCheckpoint()
    val grand = cells.agg(sum(col("r0")).as("g0"), sum(col("r1")).as("g1"))
    val byBrand = cells.groupBy(col("brand"))
      .agg(sum(col("r0")).as("b0"), sum(col("r1")).as("b1"))
    val terms = cells.join(broadcast(byBrand), Seq("brand"))
      .crossJoin(broadcast(grand))
      .select(col("nat"), col("r0"), col("r1"),
        expr(sdiv("r0 * (g1 - g0) * 1000000", "g0")).as("ns"),
        expr(sdiv("r0 * (b1 - b0) * 1000000", "b0")).as("bs"))
    terms.groupBy(col("nat"))
      .agg(sum(col("r0")).as("r0c"), sum(col("r1")).as("r1c"),
        sum(col("ns")).as("national"),
        sum(col("bs") - col("ns")).as("mix"),
        sum((col("r1") - col("r0")) * 1000000L - col("bs"))
          .as("competitive"))
      .select(col("nat").as("nation"),
        col("r0c").cast("long").as("rev_pre_cents"),
        col("r1c").cast("long").as("rev_post_cents"),
        col("national").cast("long").as("national_e6c"),
        col("mix").cast("long").as("mix_e6c"),
        col("competitive").cast("long").as("competitive_e6c"),
        (col("national") + col("mix") + col("competitive") -
          (col("r1c") - col("r0c")) * 1000000L).cast("long")
          .as("identity_gap_e6c"))
      .orderBy(col("nation"))
  }

  val q433Sql: String =
    s"""WITH cells AS (
      |  SELECT c.c_nationkey AS nat, p.p_brand AS brand,
      |    CAST(SUM(CASE WHEN o.o_orderdate < DATE '$ShiftShareBreak'
      |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) AS HUGEINT) AS r0,
      |    CAST(SUM(CASE WHEN o.o_orderdate >= DATE '$ShiftShareBreak'
      |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) AS HUGEINT) AS r1
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |grand AS (SELECT SUM(r0) AS g0, SUM(r1) AS g1 FROM cells),
      |by_brand AS (
      |  SELECT brand, SUM(r0) AS b0, SUM(r1) AS b1 FROM cells GROUP BY 1),
      |terms AS (
      |  SELECT nat, r0, r1,
      |    CASE WHEN r0 * (g1 - g0) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(r0 * (g1 - g0) * 1000000) // g0) AS ns,
      |    CASE WHEN r0 * (b1 - b0) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(r0 * (b1 - b0) * 1000000) // b0) AS bs
      |  FROM cells JOIN by_brand USING (brand) CROSS JOIN grand)
      |SELECT nat AS nation,
      |  CAST(SUM(r0) AS BIGINT) AS rev_pre_cents,
      |  CAST(SUM(r1) AS BIGINT) AS rev_post_cents,
      |  CAST(SUM(ns) AS BIGINT) AS national_e6c,
      |  CAST(SUM(bs - ns) AS BIGINT) AS mix_e6c,
      |  CAST(SUM((r1 - r0) * 1000000 - bs) AS BIGINT) AS competitive_e6c,
      |  CAST(SUM(ns) + SUM(bs - ns) + SUM((r1 - r0) * 1000000 - bs)
      |    - (SUM(r1) - SUM(r0)) * 1000000 AS BIGINT) AS identity_gap_e6c
      |FROM terms GROUP BY nat ORDER BY nation""".stripMargin

  // ------ q434: Bray–Curtis dissimilarity between nation brand mixes

  /** Shared construction for q434/q435: the (nation, brand) quantity
    * composition matrix — one fact pass, 625-cell metadata rollup.
    */
  private def brandMixCells(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    withBrand(s, dir, Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey")))
      .groupBy(col("c_nationkey").as("nat"), col("p_brand").as("brand"))
      .agg(sum(col("q")).as("q"))

  /** The (nation, nation) Bray–Curtis matrix at e6 off [[brandMixCells]]
    * via the min-overlap identity BC = 1 − 2·Σ_b min(x_b,y_b)/(X+Y) —
    * absent brands contribute min = 0, so the inner brand join IS the
    * union-complete numerator.
    */
  private def brayCurtisPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val cells = brandMixCells(s, dir).localCheckpoint()
    val tot = cells.groupBy(col("nat")).agg(sum(col("q")).as("qt"))
    val a = cells.select(col("nat").as("na"), col("brand"),
      col("q").as("qa"))
    val b = cells.select(col("nat").as("nb"), col("brand"),
      col("q").as("qb"))
    val shared = a.join(b, Seq("brand")).filter(col("na") < col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("shared_brands"),
        sum(least(col("qa"), col("qb"))).as("smin"))
    shared
      .join(broadcast(tot.select(col("nat").as("na"), col("qt").as("ta"))),
        Seq("na"))
      .join(broadcast(tot.select(col("nat").as("nb"), col("qt").as("tb"))),
        Seq("nb"))
      .select(col("na"), col("nb"), col("shared_brands"),
        (lit(1000000L) - expr(
          "CAST((2 * smin * 1000000 - (2 * smin * 1000000) % (ta + tb))" +
            " / (ta + tb) AS BIGINT)")).as("bc_e6"))
  }

  /** The matching oracle CTEs for [[brayCurtisPairs]] (terminated by a
    * `bc(na, nb, shared_brands, bc_e6)` relation).
    */
  private val BrayCurtisCtes: String =
    """cells AS (
      |  SELECT c.c_nationkey AS nat, p.p_brand AS brand,
      |    CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT nat, SUM(q) AS qt FROM cells GROUP BY 1),
      |bc AS (
      |  SELECT a.nat AS na, b.nat AS nb,
      |    CAST(COUNT(*) AS BIGINT) AS shared_brands,
      |    1000000 - (2 * SUM(LEAST(a.q, b.q)) * 1000000)
      |      // (ANY_VALUE(ta.qt) + ANY_VALUE(tb.qt)) AS bc_e6
      |  FROM cells a
      |  JOIN cells b ON b.brand = a.brand AND a.nat < b.nat
      |  JOIN tot ta ON ta.nat = a.nat
      |  JOIN tot tb ON tb.nat = b.nat
      |  GROUP BY 1, 2)""".stripMargin

  /** q434: Bray–Curtis compositional dissimilarity between nation
    * brand mixes — the ecologist's abundance-weighted distance next to
    * the engine's set distances (Jaccard q54, cosine q63): two nations
    * buying the same brands in the same PROPORTIONS score 0 even at
    * different volumes... the min-overlap identity makes the numerator
    * union-complete off the shared-brand inner join alone, so the pair
    * pass never leaves the 625-cell metadata rollup.
    *
    * Plan: one fact pass → 625-cell rollup (checkpointed) → grouped
    * self-join pair fold (≤ 25² metadata rows). One corpus shuffle.
    */
  val q434BrayCurtis: Q = (s, dir) =>
    brayCurtisPairs(s, dir)
      .select(col("na").as("nation_a"), col("nb").as("nation_b"),
        col("shared_brands"), col("bc_e6"))
      .orderBy(col("nation_a"), col("nation_b"))

  val q434Sql: String =
    s"""WITH $BrayCurtisCtes
      |SELECT na AS nation_a, nb AS nation_b, shared_brands,
      |  CAST(bc_e6 AS BIGINT) AS bc_e6
      |FROM bc ORDER BY nation_a, nation_b""".stripMargin

  // ------ q435: Mantel test between two nation-distance matrices

  /** Pseudo-permutation count for the Mantel test (resolution 1/20). */
  val MantelB = 19

  /** q435: the Mantel matrix-correlation test — "do nations with
    * similar brand MIXES also sit at similar PRICE levels?" is a
    * question about two DISTANCE MATRICES, and naive pairwise
    * correlation is invalid because the n(n−1)/2 pair values share
    * rows. Mantel's fix is a permutation null that relabels NATIONS
    * (not pairs). A nation permutation induces a bijection on
    * unordered pairs, so Σx, Σx² are invariant and comparing the raw
    * cross products Σ x_σ·y suffices — each permuted statistic is an
    * EXACT integer. Relabelings are the q419 hash device: nation ranks
    * under the portable hash of (nation, b). The observed r lands as
    * one IEEE expression over exact pair sums.
    *
    * Plan: the q434 pair matrix (one corpus pass) ⋈ an orders rollup
    * (second corpus pass) → 300-row pair table (checkpointed) → ×B
    * broadcast spine fold. Everything after the rollups is metadata.
    */
  val q435MantelTest: Q = (s, dir) => {
    val d1 = brayCurtisPairs(s, dir).select(col("na"), col("nb"),
      col("bc_e6"))
    val aov = ordersWithNation(s, dir)
      .groupBy(col("c_nationkey").as("nat"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))" +
        " div COUNT(*)").as("aov"))
      .localCheckpoint()
    val pairs = d1
      .join(broadcast(aov.select(col("nat").as("na"), col("aov").as("pa"))),
        Seq("na"))
      .join(broadcast(aov.select(col("nat").as("nb"), col("aov").as("pb"))),
        Seq("nb"))
      .select(col("na"), col("nb"), col("bc_e6").as("x"),
        abs(col("pa") - col("pb")).as("y"))
      .localCheckpoint()
    val spine = s.range(0L, MantelB + 1L).select(col("id").as("b"))
    val nats = aov.select(col("nat"))
    val labels = nats.crossJoin(broadcast(spine))
      .withColumn("hk",
        when(col("b") === 0L, col("nat"))
          .otherwise(graft.functions.Text.portableHash(
            concat(lit("mantel#"), col("nat").cast("string"), lit("#"),
              col("b").cast("string")))))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
          .orderBy(col("hk"), col("nat"))))
    val natOfRank = labels.filter(col("b") === 0L)
      .select(col("r"), col("nat").as("target"))
    val sigma = labels.join(broadcast(natOfRank), Seq("r"))
      .select(col("b"), col("nat"), col("target"))
    val permuted = pairs.select(col("na"), col("nb"), col("y"))
      .crossJoin(broadcast(spine))
      .join(broadcast(sigma.select(col("b"), col("nat").as("na"),
        col("target").as("sa"))), Seq("b", "na"))
      .join(broadcast(sigma.select(col("b"), col("nat").as("nb"),
        col("target").as("sb"))), Seq("b", "nb"))
      .select(col("b"), col("y"),
        least(col("sa"), col("sb")).as("pna"),
        greatest(col("sa"), col("sb")).as("pnb"))
      .join(broadcast(pairs.select(col("na").as("pna"),
        col("nb").as("pnb"), col("x").as("xp"))), Seq("pna", "pnb"))
    val stats = permuted.groupBy(col("b"))
      .agg(sum(col("xp").cast(dec) * col("y")).as("s"))
      .localCheckpoint()
    val obs = stats.filter(col("b") === 0L).select(col("s").as("s_obs"))
    val mo = pairs.agg(count(lit(1)).cast(dec).as("p"),
      sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
      sum(col("x").cast(dec) * col("x")).as("qxx"),
      sum(col("y").cast(dec) * col("y")).as("qyy"))
    stats.filter(col("b") > 0L).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(col("s") >= col("s_obs"), 1L).otherwise(0L)).as("n_ge"),
        first(col("s_obs")).as("s_obs"))
      .crossJoin(broadcast(mo))
      .select(col("p").cast("long").as("n_pairs"),
        ((d("p") * d("s_obs") - d("sx") * d("sy")) /
          (sqrt(d("p") * d("qxx") - d("sx") * d("sx")) *
            sqrt(d("p") * d("qyy") - d("sy") * d("sy"))))
          .as("mantel_r_d"),
        col("n_perm"), col("n_ge"),
        expr("CAST((1 + n_ge) * 1000000 div (1 + n_perm) AS BIGINT)")
          .as("p_e6"))
  }

  val q435Sql: String = {
    s"""WITH $BrayCurtisCtes,
      |aov AS (
      |  SELECT c.c_nationkey AS nat,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // COUNT(*)
      |      AS aov
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |pairs AS (
      |  SELECT na, nb, bc_e6 AS x, ABS(pa.aov - pb.aov) AS y
      |  FROM bc
      |  JOIN aov pa ON pa.nat = bc.na
      |  JOIN aov pb ON pb.nat = bc.nb),
      |spine AS (SELECT UNNEST(range(0, ${MantelB + 1})) AS b),
      |labels AS (
      |  SELECT b, nat,
      |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY
      |      CASE WHEN b = 0 THEN nat
      |        ELSE CAST(concat('0x', substr(md5('mantel#' ||
      |          CAST(nat AS VARCHAR) || '#' || CAST(b AS VARCHAR)), 1, 15))
      |          AS BIGINT) END, nat) AS r
      |  FROM aov CROSS JOIN spine),
      |nat_of_rank AS (SELECT r, nat AS target FROM labels WHERE b = 0),
      |sigma AS (
      |  SELECT b, nat, target FROM labels JOIN nat_of_rank USING (r)),
      |permuted AS (
      |  SELECT sp.b, p.y,
      |    LEAST(sa.target, sb.target) AS pna,
      |    GREATEST(sa.target, sb.target) AS pnb
      |  FROM pairs p CROSS JOIN spine sp
      |  JOIN sigma sa ON sa.b = sp.b AND sa.nat = p.na
      |  JOIN sigma sb ON sb.b = sp.b AND sb.nat = p.nb),
      |stats AS (
      |  SELECT b, SUM(CAST(x2.x AS HUGEINT) * permuted.y) AS s
      |  FROM permuted
      |  JOIN pairs x2 ON x2.na = permuted.pna AND x2.nb = permuted.pnb
      |  GROUP BY b),
      |obs AS (SELECT s AS s_obs FROM stats WHERE b = 0),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS p,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS qxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS qyy
      |  FROM pairs),
      |fin AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_perm,
      |    CAST(SUM(CASE WHEN s >= s_obs THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_ge,
      |    ANY_VALUE(s_obs) AS s_obs
      |  FROM stats CROSS JOIN obs WHERE b > 0)
      |SELECT CAST(p AS BIGINT) AS n_pairs,
      |  (${dbl("p")} * ${dbl("s_obs")} - ${dbl("sx")} * ${dbl("sy")}) /
      |    (sqrt(${dbl("p")} * ${dbl("qxx")} - ${dbl("sx")} * ${dbl("sx")}) *
      |     sqrt(${dbl("p")} * ${dbl("qyy")} - ${dbl("sy")} * ${dbl("sy")}))
      |    AS mantel_r_d,
      |  n_perm, n_ge,
      |  CAST((1 + n_ge) * 1000000 // (1 + n_perm) AS BIGINT) AS p_e6
      |FROM fin CROSS JOIN mo""".stripMargin
  }

  // ------ q436: ordinal association panel (gamma / Somers' D / tau-c)

  /** q436: the ordinal-association panel — γ, Somers' D (both
    * directions) and Stuart's τ-c between order PRIORITY (a genuinely
    * ordinal 1..5 scale) and order-value quintile, all from ONE set of
    * concordance counts that q327's τ-b construction pioneered: the
    * contingency is ≤ 25 cells, so concordant/discordant/tied-pair
    * masses fold exactly from the cell pair join. The three statistics
    * differ ONLY in how ties enter the denominator — reporting them
    * side by side is the point (γ ignores all ties and flatters;
    * Somers' picks a dependent variable; τ-c corrects for the
    * rectangular table).
    *
    * Plan: one cutpoint pass (broadcast), one fact pass → ≤ 25-cell
    * rollup; the pair fold is metadata.
    */
  val q436OrdinalAssoc: Q = (s, dir) => {
    val cells = priceQuantileCells(s, dir, "x", "y", 5, "k")
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("n").as("na"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("n").as("nb"))
    val m = col("na").cast(dec) * col("nb")
    val cross = a.join(b,
      col("xb") > col("xa") ||
        (col("xb") === col("xa") && col("yb") > col("ya")))
      .agg(sum(when(col("xb") > col("xa") && col("yb") > col("ya"), m)
        .otherwise(lit(0).cast(dec))).as("cc"),
        sum(when(col("xb") > col("xa") && col("yb") < col("ya"), m)
          .otherwise(lit(0).cast(dec))).as("dd"),
        sum(when(col("xb") === col("xa"), m)
          .otherwise(lit(0).cast(dec))).as("tx"),
        sum(when(col("xb") > col("xa") && col("yb") === col("ya"), m)
          .otherwise(lit(0).cast(dec))).as("ty"))
    val within = cells.agg(
      sum(expr("n * (n - 1) div 2")).cast(dec).as("txy"),
      sum(col("n")).cast(dec).as("nn"))
    cross.crossJoin(broadcast(within))
      .select(col("nn").cast("long").as("n_orders"),
        col("cc").cast("long").as("c_pairs"),
        col("dd").cast("long").as("d_pairs"),
        col("tx").cast("long").as("tied_x_only"),
        col("ty").cast("long").as("tied_y_only"),
        col("txy").cast("long").as("tied_both"),
        expr(sdiv("(cc - dd) * 1000000", "cc + dd")).cast("long")
          .as("gamma_e6"),
        expr(sdiv("(cc - dd) * 1000000", "cc + dd + ty")).cast("long")
          .as("somers_d_yx_e6"),
        expr(sdiv("(cc - dd) * 1000000", "cc + dd + tx"))
          .cast("long").as("somers_d_xy_e6"),
        expr(sdiv("2 * 5 * (cc - dd) * 1000000", "nn * nn * (5 - 1)"))
          .cast("long").as("tau_c_e6"))
  }

  val q436Sql: String = {
    val binExpr = (1 to 4).map(i => s"CAST(c > k$i AS INT)").mkString(" + ")
    s"""WITH ord AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS x,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders),
      |by_v AS (SELECT c, COUNT(*) AS cnt FROM ord GROUP BY c),
      |ranked AS (
      |  SELECT c, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |cutrows AS (
      |  SELECT i, c FROM ranked,
      |    (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS i) gi
      |  WHERE below < (n_all * i + 4) // 5
      |    AND (n_all * i + 4) // 5 <= below + cnt),
      |cuts AS (
      |  SELECT ${(1 to 4).map(i =>
          s"MAX(CASE WHEN i = $i THEN c END) AS k$i").mkString(", ")}
      |  FROM cutrows),
      |cells AS (
      |  SELECT x, $binExpr AS y, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ord CROSS JOIN cuts GROUP BY 1, 2),
      |cross_f AS (
      |  SELECT
      |    SUM(CASE WHEN b.x > a.x AND b.y > a.y
      |      THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS cc,
      |    SUM(CASE WHEN b.x > a.x AND b.y < a.y
      |      THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS dd,
      |    SUM(CASE WHEN b.x = a.x
      |      THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS tx,
      |    SUM(CASE WHEN b.x > a.x AND b.y = a.y
      |      THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS ty
      |  FROM cells a JOIN cells b
      |    ON b.x > a.x OR (b.x = a.x AND b.y > a.y)),
      |within AS (
      |  SELECT SUM(n * (n - 1) // 2) AS txy,
      |    CAST(SUM(n) AS HUGEINT) AS nn
      |  FROM cells)
      |SELECT CAST(nn AS BIGINT) AS n_orders,
      |  CAST(cc AS BIGINT) AS c_pairs, CAST(dd AS BIGINT) AS d_pairs,
      |  CAST(tx AS BIGINT) AS tied_x_only,
      |  CAST(ty AS BIGINT) AS tied_y_only,
      |  CAST(txy AS BIGINT) AS tied_both,
      |  CAST(CASE WHEN cc - dd >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cc - dd) * 1000000) // (cc + dd)) AS BIGINT) AS gamma_e6,
      |  CAST(CASE WHEN cc - dd >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cc - dd) * 1000000) // (cc + dd + ty)) AS BIGINT)
      |    AS somers_d_yx_e6,
      |  CAST(CASE WHEN cc - dd >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cc - dd) * 1000000) // (cc + dd + tx)) AS BIGINT)
      |    AS somers_d_xy_e6,
      |  CAST(CASE WHEN cc - dd >= 0 THEN 1 ELSE -1 END *
      |    (ABS(2 * 5 * (cc - dd) * 1000000) // (nn * nn * (5 - 1)))
      |    AS BIGINT) AS tau_c_e6
      |FROM cross_f CROSS JOIN within""".stripMargin
  }

  // ------ q437: Bradley–Terry strengths from monthly head-to-heads

  /** Fixed MM iteration count for the Bradley–Terry fit. */
  val BtIters = 15

  /** q437: Bradley–Terry paired-comparison strengths — the principled
    * aggregation of HEAD-TO-HEAD outcomes that leaderboards by raw
    * totals (q286) get wrong when schedules are unbalanced: nation i
    * "beats" nation j in any month its order revenue is higher, and
    * the BT model P(i beats j) = π_i/(π_i+π_j) is fit by Hunter's MM
    * iteration π_i ← W_i / Σ_j n_ij/(π_i+π_j), run [[BtIters]] fixed
    * steps in exact integer arithmetic (one floor per pair term, one
    * per update; unnormalized scale is self-preserving, normalization
    * is a single final floor). The duel matrix folds distributed
    * (month self-join → ≤ 625 metadata rows); the iteration is a
    * driver fold over that metadata — replayed in the oracle as a
    * recursive CTE carrying the strength vector as a LIST.
    *
    * Plan: one orders pass → (month, nation) rollup → month-grouped
    * pair fold → 625-row collect → driver MM → 25-row output.
    */
  val q437BradleyTerry: Q = (s, dir) => {
    val mn = ordersWithNation(s, dir)
      .groupBy(col("c_nationkey").cast("long").as("nat"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val a = mn.select(col("m"), col("nat").as("i"), col("rev").as("ra"))
    val b = mn.select(col("m"), col("nat").as("j"), col("rev").as("rb"))
    val duels = a.join(b, Seq("m")).filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(when(col("ra") > col("rb"), 1L).otherwise(0L)).as("w"),
        sum(when(col("ra") =!= col("rb"), 1L).otherwise(0L)).as("n"))
      .collect()
    val nats = duels.flatMap(r => Seq(r.getAs[Long]("i"), r.getAs[Long]("j")))
      .distinct.sorted
    val g = nats.length
    val kOf = nats.zipWithIndex.toMap
    val wM = Array.ofDim[Long](g, g)
    val nM = Array.ofDim[Long](g, g)
    duels.foreach { r =>
      val i = kOf(r.getAs[Long]("i")); val j = kOf(r.getAs[Long]("j"))
      wM(i)(j) = r.getAs[Long]("w"); nM(i)(j) = r.getAs[Long]("n")
    }
    val wins = (0 until g).map(i => (0 until g).map(wM(i)).sum).toArray
    val nTot = (0 until g).map(i => (0 until g).map(nM(i)).sum).toArray
    var pi = Array.fill(g)(1000000L)
    (1 to BtIters).foreach { _ =>
      pi = (0 until g).map { i =>
        if (wins(i) == 0L) pi(i)
        else {
          val denom = (0 until g).map { j =>
            if (j == i || nM(i)(j) == 0L) 0L
            else nM(i)(j) * 1000000000000L / math.max(pi(i) + pi(j), 1L)
          }.sum
          wins(i) * 1000000000000L / math.max(denom, 1L)
        }
      }.toArray
    }
    val sp = pi.map(BigInt(_)).sum
    val norm = pi.map(p => (BigInt(p) * g * 1000000L / sp).toLong)
    val ranked = nats.indices
      .sortBy(i => (-norm(i), nats(i)))
      .zipWithIndex.map { case (i, r) => (i, r + 1L) }.toMap
    import s.implicits._
    nats.indices.map(i =>
      (nats(i), wins(i), nTot(i), norm(i), ranked(i)))
      .toDF("nation", "wins", "duels", "pi_e6", "rnk")
      .orderBy(col("nation"))
  }

  val q437Sql: String = {
    val g = "(SELECT g FROM gc)"
    s"""WITH RECURSIVE mn AS (
      |  SELECT c.c_nationkey AS nat,
      |    year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |duel AS (
      |  SELECT a.nat AS i, b.nat AS j,
      |    SUM(CASE WHEN a.rev > b.rev THEN 1 ELSE 0 END) AS w,
      |    SUM(CASE WHEN a.rev <> b.rev THEN 1 ELSE 0 END) AS n
      |  FROM mn a JOIN mn b ON b.m = a.m AND a.nat <> b.nat
      |  GROUP BY 1, 2),
      |idx AS (
      |  SELECT nat, ROW_NUMBER() OVER (ORDER BY nat) AS k
      |  FROM (SELECT DISTINCT nat FROM mn)),
      |gc AS (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM idx),
      |grid AS (
      |  SELECT gi.i, gj.j,
      |    COALESCE(d.w, 0) AS w, COALESCE(d.n, 0) AS n
      |  FROM (SELECT UNNEST(range(1, $g + 1)) AS i) gi
      |  CROSS JOIN (SELECT UNNEST(range(1, $g + 1)) AS j) gj
      |  LEFT JOIN (SELECT ia.k AS ki, ib.k AS kj, d0.w, d0.n
      |             FROM duel d0
      |             JOIN idx ia ON ia.nat = d0.i
      |             JOIN idx ib ON ib.nat = d0.j) d
      |    ON d.ki = gi.i AND d.kj = gj.j),
      |mats AS (
      |  SELECT list(w ORDER BY i, j) AS wf, list(n ORDER BY i, j) AS nf
      |  FROM grid),
      |wtot AS (
      |  SELECT list(sw ORDER BY i) AS wt, list(sn ORDER BY i) AS nt
      |  FROM (SELECT i, SUM(w) AS sw, SUM(n) AS sn FROM grid GROUP BY i)),
      |walk AS (
      |  SELECT 0 AS it,
      |    list_transform(range(1, g + 1),
      |      x -> CAST(1000000 AS BIGINT)) AS pi,
      |    range(1, g + 1) AS idxs, g AS gl
      |  FROM gc
      |  UNION ALL
      |  SELECT it + 1,
      |    list_transform(idxs, i ->
      |      CASE WHEN wt[i] = 0 THEN pi[i] ELSE
      |        wt[i] * 1000000000000 // GREATEST(
      |          list_sum(list_transform(idxs, j ->
      |            CASE WHEN j = i OR nf[(i - 1) * gl + j] = 0 THEN 0
      |              ELSE nf[(i - 1) * gl + j] * 1000000000000
      |                // GREATEST(pi[i] + pi[j], 1) END)), 1) END),
      |    idxs, gl
      |  FROM walk, mats, wtot WHERE it < $BtIters),
      |last AS (SELECT pi FROM walk ORDER BY it DESC LIMIT 1),
      |sp AS (SELECT list_sum(list_transform(pi, x -> CAST(x AS HUGEINT)))
      |         AS sp FROM last),
      |rows0 AS (
      |  SELECT idx.nat AS nation, CAST(wt[idx.k] AS BIGINT) AS wins,
      |    CAST(nt[idx.k] AS BIGINT) AS duels,
      |    CAST(CAST(pi[idx.k] AS HUGEINT) * $g * 1000000 // sp AS BIGINT)
      |      AS pi_e6
      |  FROM idx, last, sp, wtot)
      |SELECT nation, wins, duels, pi_e6,
      |  ROW_NUMBER() OVER (ORDER BY pi_e6 DESC, nation) AS rnk
      |FROM rows0 ORDER BY nation""".stripMargin
  }

  // ------ q438: Chow structural-break F-test at a known date

  /** The Chow break date (first month of 1995, encoded y·12+m). */
  val ChowBreakMonth: Long = 1995L * 12L + 1L

  /** 5% critical value for F(2, ~76) — published table constant. */
  val ChowCrit5 = 3.13

  /** Order revenue per calendar month: `m` = year·12 + month of
    * o_orderdate and `y` = the month's total in whole units (integer cents
    * `div 100`) — the series the monthly time-series family (q438, q445,
    * q453, q458, q473, q474, q475, q482) models.
    */
  private def monthlyRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100")
        .as("y"))

  /** q438: the Chow test — the HYPOTHESIS-TEST counterpart of q423's
    * segmented fit: q423 PROFILES the best breakpoint, Chow asks
    * whether a break at a KNOWN date (policy change, regime start —
    * here 1995-01) is statistically real, via
    * F = ((RSS_p − RSS₁ − RSS₂)/k) / ((RSS₁+RSS₂)/(n−2k)), k = 2.
    * Each segment's RSS is the exact determinant form
    * (D_y·D_x − C_xy²)/(n·D_x) over n-cleared integer co-moments, so
    * F is one fixed IEEE tree over exact integers, and the per-segment
    * slopes land beside it.
    *
    * Plan: one orders pass → month rollup → three 1-row co-moment
    * folds off one checkpointed rollup. One shuffle.
    */
  val q438ChowTest: Q = (s, dir) => {
    val cells = monthlyRevenue(s, dir).localCheckpoint()
    val t0 = cells.agg(min(col("m")).as("m0"))
    val pts = cells.crossJoin(broadcast(t0))
      .select((col("m") - col("m0") + 1L).as("t"), col("y"),
        (col("m") < ChowBreakMonth).cast("long").as("pre"))
    def fold(df: DataFrame, tag: String) =
      df.agg(count(lit(1)).cast(dec).as(s"n_$tag"),
        sum(col("t")).cast(dec).as("st"), sum(col("y")).cast(dec).as("sy"),
        sum(col("t").cast(dec) * col("t")).as("qtt"),
        sum(col("t").cast(dec) * col("y")).as("qty"),
        sum(col("y").cast(dec) * col("y")).as("qyy"))
        .select(col(s"n_$tag"),
          (col(s"n_$tag") * col("qtt") - col("st") * col("st"))
            .as(s"dx_$tag"),
          (col(s"n_$tag") * col("qyy") - col("sy") * col("sy"))
            .as(s"dy_$tag"),
          (col(s"n_$tag") * col("qty") - col("st") * col("sy"))
            .as(s"c_$tag"))
    val fp = fold(pts, "p")
    val f1 = fold(pts.filter(col("pre") === 1L), "1")
    val f2 = fold(pts.filter(col("pre") === 0L), "2")
    def rss(tag: String) =
      (d(s"dy_$tag") * d(s"dx_$tag") - d(s"c_$tag") * d(s"c_$tag")) /
        (d(s"n_$tag") * d(s"dx_$tag"))
    val fStat = ((rss("p") - rss("1") - rss("2")) / 2.0) /
      ((rss("1") + rss("2")) / (d("n_p") - 4.0))
    fp.crossJoin(broadcast(f1)).crossJoin(broadcast(f2))
      .select(col("n_p").cast("long").as("n_months"),
        col("n_1").cast("long").as("n_pre"),
        col("n_2").cast("long").as("n_post"),
        expr(sdiv("c_1 * 1000000", "dx_1")).cast("long")
          .as("slope_pre_e6"),
        expr(sdiv("c_2 * 1000000", "dx_2")).cast("long")
          .as("slope_post_e6"),
        fStat.as("f_chow_d"),
        when(fStat > ChowCrit5, lit("break_at_1995_01"))
          .otherwise(lit("no_break")).as("verdict_5pct"))
  }

  val q438Sql: String = {
    def rss(tag: String) =
      s"((${dbl(s"dy_$tag")} * ${dbl(s"dx_$tag")} - ${dbl(s"c_$tag")} * " +
        s"${dbl(s"c_$tag")}) / (${dbl(s"n_$tag")} * ${dbl(s"dx_$tag")}))"
    val fStat = s"(((${rss("p")} - ${rss("1")} - ${rss("2")}) / 2.0) / " +
      s"((${rss("1")} + ${rss("2")}) / (${dbl("n_p")} - 4.0)))"
    def foldSql(tag: String, where: String) =
      s"""f$tag AS (
         |  SELECT CAST(COUNT(*) AS HUGEINT) AS n_$tag,
         |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
         |      - CAST(SUM(t) AS HUGEINT) * SUM(t) AS dx_$tag,
         |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(y AS HUGEINT) * y)
         |      - CAST(SUM(y) AS HUGEINT) * SUM(y) AS dy_$tag,
         |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * y)
         |      - CAST(SUM(t) AS HUGEINT) * SUM(y) AS c_$tag
         |  FROM pts $where)""".stripMargin
    s"""WITH cells AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT m - (SELECT MIN(m) FROM cells) + 1 AS t, y,
      |    CASE WHEN m < $ChowBreakMonth THEN 1 ELSE 0 END AS pre
      |  FROM cells),
      |${foldSql("p", "")},
      |${foldSql("1", "WHERE pre = 1")},
      |${foldSql("2", "WHERE pre = 0")}
      |SELECT CAST(n_p AS BIGINT) AS n_months,
      |  CAST(n_1 AS BIGINT) AS n_pre, CAST(n_2 AS BIGINT) AS n_post,
      |  CAST(CASE WHEN c_1 >= 0 THEN 1 ELSE -1 END *
      |    (ABS(c_1 * 1000000) // dx_1) AS BIGINT) AS slope_pre_e6,
      |  CAST(CASE WHEN c_2 >= 0 THEN 1 ELSE -1 END *
      |    (ABS(c_2 * 1000000) // dx_2) AS BIGINT) AS slope_post_e6,
      |  $fStat AS f_chow_d,
      |  CASE WHEN $fStat > $ChowCrit5 THEN 'break_at_1995_01'
      |    ELSE 'no_break' END AS verdict_5pct
      |FROM fp CROSS JOIN f1 CROSS JOIN f2""".stripMargin
  }

  // ------ q440: Gale–Shapley stable matching of suppliers to nations

  /** Market size for the stable-matching exercise (G proposers × G
    * receivers; the algorithm makes ≤ G² proposals).
    */
  val GsG = 8

  /** q440: Gale–Shapley deferred acceptance — assign each of the
    * [[GsG]] largest suppliers an exclusive home nation such that NO
    * supplier/nation pair would both rather defect (the stability
    * guarantee greedy revenue assignment (q152's allocation) cannot
    * give). Suppliers rank nations by revenue shipped; nations rank
    * suppliers by quantity received (ties → key order, so every
    * preference list is a deterministic total order). The proposer-
    * optimal algorithm runs as a driver fold over the collected G×G
    * metadata matrices — one proposal per step, lowest free supplier
    * first — and the oracle replays the IDENTICAL proposal sequence
    * as a recursive CTE carrying (next-proposal, engagements) as
    * LISTs. The blocking-pair count is re-audited RELATIONALLY over
    * the grid and lands in-output as the stability certificate (0).
    *
    * Plan: one lineitem ⋈ orders ⋈ customer pass → (supplier, nation)
    * rollup; top-G margins, the G² grid, and the ≤ G² proposal walk
    * are all metadata.
    */
  val q440StableMatching: Q = (s, dir) => {
    val g = GsG
    val cells0 = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey").cast("long").as("sk"),
        cents(col("l_extendedprice")).as("r"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nk"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("sk"), col("nk"))
      .agg(sum(col("r")).as("rev"), sum(col("q")).as("qty"))
      .localCheckpoint()
    val topS = cells0.groupBy(col("sk")).agg(sum(col("rev")).as("t"))
      .orderBy(col("t").desc, col("sk")).limit(g)
      .collect().map(_.getAs[Long]("sk"))
    val topN = cells0.groupBy(col("nk")).agg(sum(col("rev")).as("t"))
      .orderBy(col("t").desc, col("nk")).limit(g)
      .collect().map(_.getAs[Long]("nk"))
    val sOf = topS.zipWithIndex.toMap; val nOf = topN.zipWithIndex.toMap
    val revM = Array.ofDim[Long](g, g); val qtyM = Array.ofDim[Long](g, g)
    cells0.filter(col("sk").isin(topS: _*) && col("nk").isin(topN: _*))
      .collect().foreach { r =>
        val i = sOf(r.getAs[Long]("sk")); val j = nOf(r.getAs[Long]("nk"))
        revM(i)(j) = r.getAs[Long]("rev"); qtyM(i)(j) = r.getAs[Long]("qty")
      }
    // preference orders (0-based indices), ties broken by key order
    val sPref = (0 until g).map(i =>
      (0 until g).sortBy(j => (-revM(i)(j), j)).toArray).toArray
    val sRank = (0 until g).map { i =>
      val a = Array.ofDim[Int](g)
      sPref(i).zipWithIndex.foreach { case (j, r) => a(j) = r }; a
    }.toArray
    val nRank = (0 until g).map { j =>
      val order = (0 until g).sortBy(i => (-qtyM(i)(j), i))
      val a = Array.ofDim[Int](g)
      order.zipWithIndex.foreach { case (i, r) => a(i) = r }; a
    }.toArray
    val nextP = Array.fill(g)(0)
    val engN = Array.fill(g)(-1) // nation j -> supplier i
    val engS = Array.fill(g)(-1) // supplier i -> nation j
    var steps = 0L
    while (engS.indexOf(-1) >= 0) {
      val si = engS.indexOf(-1)
      val nj = sPref(si)(nextP(si)); nextP(si) += 1; steps += 1
      val cur = engN(nj)
      if (cur < 0 || nRank(nj)(si) < nRank(nj)(cur)) {
        if (cur >= 0) engS(cur) = -1
        engN(nj) = si; engS(si) = nj
      }
    }
    val blocking = (for {
      i <- 0 until g; j <- 0 until g
      if j != engS(i)
      if sRank(i)(j) < sRank(i)(engS(i))
      if nRank(j)(i) < nRank(j)(engN(j))
    } yield 1).size.toLong
    import s.implicits._
    (0 until g).map { i =>
      val j = engS(i)
      (i + 1L, topS(i), j + 1L, topN(j), sRank(i)(j) + 1L,
        nRank(j)(i) + 1L, steps, blocking)
    }.toDF("sup_rank", "suppkey", "nat_rank", "nationkey",
      "s_choice_rank", "n_choice_rank", "n_proposals", "blocking_pairs")
      .orderBy(col("sup_rank"))
  }

  val q440Sql: String = {
    val g = GsG
    s"""WITH RECURSIVE base AS (
      |  SELECT l.l_suppkey AS sk, c.c_nationkey AS nk,
      |    CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS r,
      |    CAST(ROUND(l.l_quantity) AS BIGINT) AS q
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey),
      |cells0 AS (
      |  SELECT sk, nk, SUM(r) AS rev, SUM(q) AS qty
      |  FROM base GROUP BY 1, 2),
      |ts AS (
      |  SELECT sk, si FROM (
      |    SELECT sk, ROW_NUMBER() OVER (ORDER BY SUM(rev) DESC, sk) AS si
      |    FROM cells0 GROUP BY sk) WHERE si <= $g),
      |tn AS (
      |  SELECT nk, ni FROM (
      |    SELECT nk, ROW_NUMBER() OVER (ORDER BY SUM(rev) DESC, nk) AS ni
      |    FROM cells0 GROUP BY nk) WHERE ni <= $g),
      |grid AS (
      |  SELECT ts.si, tn.ni, ts.sk, tn.nk,
      |    COALESCE(c.rev, 0) AS rev, COALESCE(c.qty, 0) AS qty
      |  FROM ts CROSS JOIN tn
      |  LEFT JOIN cells0 c ON c.sk = ts.sk AND c.nk = tn.nk),
      |spl AS (
      |  SELECT flatten(list(pl ORDER BY si)) AS sp FROM (
      |    SELECT si, list(ni ORDER BY rev DESC, ni) AS pl
      |    FROM grid GROUP BY si)),
      |srk AS (
      |  SELECT list(rr ORDER BY si, ni) AS sr FROM (
      |    SELECT si, ni, ROW_NUMBER() OVER
      |      (PARTITION BY si ORDER BY rev DESC, ni) AS rr FROM grid)),
      |nrk AS (
      |  SELECT list(rr ORDER BY ni, si) AS nr FROM (
      |    SELECT ni, si, ROW_NUMBER() OVER
      |      (PARTITION BY ni ORDER BY qty DESC, si) AS rr FROM grid)),
      |walk AS (
      |  SELECT 0 AS step,
      |    list_transform(range(1, ${g + 1}), x -> CAST(1 AS BIGINT))
      |      AS nextp,
      |    list_transform(range(1, ${g + 1}), x -> CAST(0 AS BIGINT))
      |      AS eng,
      |    list_transform(range(1, ${g + 1}), x -> CAST(0 AS BIGINT))
      |      AS meng
      |  UNION ALL
      |  SELECT w3.step + 1,
      |    list_transform(range(1, ${g + 1}), i ->
      |      CASE WHEN i = w3.s THEN w3.nextp[i] + 1 ELSE w3.nextp[i] END),
      |    list_transform(range(1, ${g + 1}), i ->
      |      CASE WHEN i = w3.n THEN
      |        (CASE WHEN w3.acc THEN w3.s ELSE w3.eng[i] END)
      |      ELSE w3.eng[i] END),
      |    list_transform(range(1, ${g + 1}), i ->
      |      CASE WHEN w3.acc AND i = w3.s THEN w3.n
      |        WHEN w3.acc AND w3.cur > 0 AND i = w3.cur THEN 0
      |        ELSE w3.meng[i] END)
      |  FROM (
      |    SELECT w2.*,
      |      (w2.cur = 0 OR nr[(w2.n - 1) * $g + w2.s]
      |        < nr[(w2.n - 1) * $g + w2.cur]) AS acc
      |    FROM (
      |      SELECT w1.*, w1.eng[w1.n] AS cur
      |      FROM (
      |        SELECT w0.*,
      |          sp[(w0.s - 1) * $g + w0.nextp[w0.s]] AS n
      |        FROM (
      |          SELECT w.*,
      |            list_filter(range(1, ${g + 1}),
      |              i -> w.meng[i] = 0)[1] AS s
      |          FROM walk w
      |          WHERE len(list_filter(range(1, ${g + 1}),
      |            i -> w.meng[i] = 0)) > 0
      |        ) w0, spl
      |      ) w1
      |    ) w2, nrk
      |  ) w3),
      |last AS (SELECT * FROM walk ORDER BY step DESC LIMIT 1),
      |matched AS (
      |  SELECT gi.i AS si, last.meng[gi.i] AS ni, last.step AS steps
      |  FROM last, (SELECT UNNEST(range(1, ${g + 1})) AS i) gi),
      |blocking AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS bp
      |  FROM grid gr
      |  JOIN matched ms ON ms.si = gr.si
      |  JOIN matched mn ON mn.ni = gr.ni
      |  CROSS JOIN srk CROSS JOIN nrk
      |  WHERE gr.ni <> ms.ni
      |    AND sr[(gr.si - 1) * $g + gr.ni]
      |      < sr[(gr.si - 1) * $g + ms.ni]
      |    AND nr[(gr.ni - 1) * $g + gr.si]
      |      < nr[(gr.ni - 1) * $g + mn.si])
      |SELECT CAST(m.si AS BIGINT) AS sup_rank,
      |  CAST(ts.sk AS BIGINT) AS suppkey,
      |  CAST(m.ni AS BIGINT) AS nat_rank,
      |  CAST(tn.nk AS BIGINT) AS nationkey,
      |  CAST(sr[(m.si - 1) * $g + m.ni] AS BIGINT) AS s_choice_rank,
      |  CAST(nr[(m.ni - 1) * $g + m.si] AS BIGINT) AS n_choice_rank,
      |  CAST(m.steps AS BIGINT) AS n_proposals, bp AS blocking_pairs
      |FROM matched m
      |JOIN ts ON ts.si = m.si
      |JOIN tn ON tn.ni = m.ni
      |CROSS JOIN srk CROSS JOIN nrk CROSS JOIN blocking
      |ORDER BY sup_rank""".stripMargin
  }

  // ------ q441: Jonckheere–Terpstra ordered-alternative test

  /** Orders per (priority `g`, price `k`-quantile bin `b`) as (g, b, n),
    * pinned (q436: k = 5; q441, q454: k = 10). Cutpoints `cut`1.. are
    * rank-target selections ⌈n·i/k⌉ off [[doubledRankBelow]].
    */
  private def priceQuantileCells(s: SparkSession, dir: String, g: String,
      b: String, k: Int, cut: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
        .as(g), cents(col("o_totalprice")).as("c"))
    val byV = ord.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val ranked = doubledRankBelow(byV, Seq.empty, "c", 100000L)
    val nAll = byV.agg(sum(col("cnt")).as("n_all"))
    val cuts = ranked.crossJoin(broadcast(nAll))
      .select(col("c"), col("below"), col("cnt"),
        explode(expr(s"sequence(1, ${k - 1})")).as("i"))
      .filter(col("below") < expr(s"(n_all * i + ${k - 1}) div $k") &&
        expr(s"(n_all * i + ${k - 1}) div $k") <= col("below") + col("cnt"))
      .groupBy().pivot("i", 1 until k).agg(first(col("c")))
      .select((1 until k).map(i => col(i.toString).as(s"$cut$i")): _*)
    val binExpr =
      (1 until k).map(i => s"CAST(c > $cut$i AS INT)").mkString(" + ")
    ord.crossJoin(broadcast(cuts))
      .select(col(g), expr(binExpr).cast("long").as(b))
      .groupBy(col(g), col(b)).agg(count(lit(1)).as("n"))
      .localCheckpoint()
  }

  /** q441: the Jonckheere–Terpstra test — the ORDERED-alternative
    * sibling of Kruskal–Wallis (q272): KW asks "do the five priority
    * classes differ at all in order value", JT asks the sharper
    * monotone question "does order value RISE with priority", which
    * has more power when the alternative really is ordered. The
    * statistic is the sum of pairwise Mann–Whitney counts across
    * group pairs in priority order; on the decile-binned outcome
    * (binning is the operator's contract, q327's rule) every count
    * folds EXACTLY from the 5×10 contingency — doubled (2·JT) so the
    * ½-tie credits stay integer. The tie-corrected null variance is
    * the standard three-term form over group and tie marginals, and
    * z composes as one fixed IEEE tree over exact integers.
    *
    * Plan: one cutpoint pass, one orders pass → 50-cell rollup;
    * everything after is metadata.
    */
  val q441Jonckheere: Q = (s, dir) => {
    val cells = priceQuantileCells(s, dir, "g", "b", 10, "c")
    val wg = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withBelow = cells
      .withColumn("below", coalesce(sum(col("n")).over(wg), lit(0L)))
    val a = withBelow.select(col("g").as("ga"), col("b"),
      col("n").as("na"), col("below").as("bla"))
    val bb = cells.select(col("g").as("gb"), col("b"), col("n").as("nb"))
    val jt = a.join(bb, Seq("b")).filter(col("ga") < col("gb"))
      .agg(sum(lit(2L).cast(dec) * col("nb") * col("bla") +
        col("na").cast(dec) * col("nb")).as("jt2"))
    val gm = cells.groupBy(col("g")).agg(sum(col("n")).as("ng"))
      .agg(sum(col("ng")).cast(dec).as("nn"),
        sum(col("ng").cast(dec) * col("ng")).as("sn2"),
        sum(col("ng").cast(dec) * (col("ng") - 1) * (col("ng") * 2 + 5))
          .as("gA"),
        sum(col("ng").cast(dec) * (col("ng") - 1) * (col("ng") - 2))
          .as("gB"),
        sum(col("ng").cast(dec) * (col("ng") - 1)).as("gC"))
    val tm = cells.groupBy(col("b")).agg(sum(col("n")).as("tb"))
      .agg(sum(col("tb").cast(dec) * (col("tb") - 1) * (col("tb") * 2 + 5))
        .as("tA"),
        sum(col("tb").cast(dec) * (col("tb") - 1) * (col("tb") - 2))
          .as("tB"),
        sum(col("tb").cast(dec) * (col("tb") - 1)).as("tC"))
    val aTerm = (d("nn") * (d("nn") - 1.0) * (d("nn") * 2.0 + 5.0) -
      d("gA") - d("tA")) / 72.0
    val bTerm = d("gB") * d("tB") /
      (d("nn") * 36.0 * (d("nn") - 1.0) * (d("nn") - 2.0))
    val cTerm = d("gC") * d("tC") / (d("nn") * 8.0 * (d("nn") - 1.0))
    val z = (d("jt2") / 2.0 - (d("nn") * d("nn") - d("sn2")) / 4.0) /
      sqrt(aTerm + bTerm + cTerm)
    jt.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
      .select(col("nn").cast("long").as("n_orders"),
        col("jt2").cast("long").as("jt_doubled"),
        (col("nn") * col("nn") - col("sn2")).cast("long")
          .as("e_jt_quadrupled"),
        z.as("z_d"),
        when(z > 1.6449, lit("rising_with_priority"))
          .otherwise(lit("no_ordered_trend")).as("verdict_5pct"))
  }

  val q441Sql: String = {
    val binExpr = (1 to 9).map(i => s"CAST(c > c$i AS INT)").mkString(" + ")
    val aTerm = s"((${dbl("nn")} * (${dbl("nn")} - 1.0) * (2.0 * ${dbl("nn")}" +
      s" + 5.0) - ${dbl("gA")} - ${dbl("tA")}) / 72.0)"
    val bTerm = s"(${dbl("gB")} * ${dbl("tB")} / (36.0 * ${dbl("nn")} *" +
      s" (${dbl("nn")} - 1.0) * (${dbl("nn")} - 2.0)))"
    val cTerm =
      s"(${dbl("gC")} * ${dbl("tC")} / (8.0 * ${dbl("nn")} * (${dbl("nn")} - 1.0)))"
    val z = s"((${dbl("jt2")} / 2.0 - (${dbl("nn")} * ${dbl("nn")} -" +
      s" ${dbl("sn2")}) / 4.0) / sqrt($aTerm + $bTerm + $cTerm))"
    s"""WITH ord AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders),
      |by_v AS (SELECT c, COUNT(*) AS cnt FROM ord GROUP BY c),
      |ranked AS (
      |  SELECT c, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |cutrows AS (
      |  SELECT i, c FROM ranked,
      |    (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS i) gi
      |  WHERE below < (n_all * i + 9) // 10
      |    AND (n_all * i + 9) // 10 <= below + cnt),
      |cuts AS (
      |  SELECT ${(1 to 9).map(i =>
          s"MAX(CASE WHEN i = $i THEN c END) AS c$i").mkString(", ")}
      |  FROM cutrows),
      |cells AS (
      |  SELECT g, $binExpr AS b, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ord CROSS JOIN cuts GROUP BY 1, 2),
      |wb AS (
      |  SELECT g, b, n,
      |    COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bla
      |  FROM cells),
      |jt AS (
      |  SELECT SUM(2 * CAST(bb.n AS HUGEINT) * a.bla
      |      + CAST(a.n AS HUGEINT) * bb.n) AS jt2
      |  FROM wb a JOIN cells bb ON bb.b = a.b AND a.g < bb.g),
      |gm AS (
      |  SELECT CAST(SUM(ng) AS HUGEINT) AS nn,
      |    SUM(CAST(ng AS HUGEINT) * ng) AS sn2,
      |    SUM(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS gA,
      |    SUM(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS gB,
      |    SUM(CAST(ng AS HUGEINT) * (ng - 1)) AS gC
      |  FROM (SELECT g, SUM(n) AS ng FROM cells GROUP BY g)),
      |tm AS (
      |  SELECT SUM(CAST(tb AS HUGEINT) * (tb - 1) * (2 * tb + 5)) AS tA,
      |    SUM(CAST(tb AS HUGEINT) * (tb - 1) * (tb - 2)) AS tB,
      |    SUM(CAST(tb AS HUGEINT) * (tb - 1)) AS tC
      |  FROM (SELECT b, SUM(n) AS tb FROM cells GROUP BY b))
      |SELECT CAST(nn AS BIGINT) AS n_orders,
      |  CAST(jt2 AS BIGINT) AS jt_doubled,
      |  CAST(nn * nn - sn2 AS BIGINT) AS e_jt_quadrupled,
      |  $z AS z_d,
      |  CASE WHEN $z > 1.6449 THEN 'rising_with_priority'
      |    ELSE 'no_ordered_trend' END AS verdict_5pct
      |FROM jt CROSS JOIN gm CROSS JOIN tm""".stripMargin
  }

  // ------ q442: Kendall's W — seasonal concordance of brand rankings

  /** q442: Kendall's coefficient of concordance W — "do the twelve
    * calendar months AGREE on how brands rank?" is an m-rater
    * agreement question over k items, the rank analog of the
    * inter-rater family (q343 Fleiss, q369 ICC operate on labels and
    * variance components; W operates on RANKINGS). Each month-of-year
    * ranks the brands by pooled revenue (a deterministic total order:
    * revenue desc, brand asc — so no mid-rank halves are needed), and
    * W = 12·S/(m²(k³−k)) where S is the squared deviation of brand
    * rank sums from their grand mean, which is integer because
    * m(k+1) is even here. χ² = m(k−1)·W lands beside it.
    *
    * Plan: one orders+lineitem pass → (month, brand) rollup →
    * 25-row-per-month rank windows (bounded partitions) → 1-row fold.
    */
  val q442KendallW: Q = (s, dir) => {
    val mb = brandRevenueByMonth(s, dir)
    val ranked = mb.withColumn("rk",
      row_number().over(Window.partitionBy(col("mo"))
        .orderBy(col("rev").desc, col("brand"))).cast("long"))
    val sums = ranked.groupBy(col("brand"))
      .agg(sum(col("rk")).as("rsum"), count(lit(1)).as("m"))
    val fold = sums.agg(count(lit(1)).cast(dec).as("k"),
      first(col("m")).cast(dec).as("m"),
      sum(col("rsum")).cast(dec).as("tot"),
      sum(col("rsum").cast(dec) * col("rsum")).as("q"))
      .select(col("k"), col("m"),
        (col("k") * col("q") - col("tot") * col("tot")).as("s_k"))
    fold.select(col("k").cast("long").as("n_brands"),
      col("m").cast("long").as("n_months"),
      expr(fdiv("12 * s_k * 1000000",
        "m * m * (k * k * k - k) * k")).cast("long").as("w_e6"),
      expr(fdiv("12 * s_k * 1000000 * (k - 1)",
        "m * (k * k * k - k) * k")).cast("long").as("chi2_e6"))
  }

  val q442Sql: String =
    """WITH mb AS (
      |  SELECT month(o.o_orderdate) AS mo, p.p_brand AS brand,
      |    SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rev
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT brand,
      |    ROW_NUMBER() OVER (PARTITION BY mo ORDER BY rev DESC, brand)
      |      AS rk
      |  FROM mb),
      |sums AS (
      |  SELECT brand, CAST(SUM(rk) AS HUGEINT) AS rsum,
      |    CAST(COUNT(*) AS HUGEINT) AS m
      |  FROM ranked GROUP BY brand),
      |fold AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS k, ANY_VALUE(m) AS m,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(rsum * rsum)
      |      - SUM(rsum) * SUM(rsum) AS s_k
      |  FROM sums)
      |SELECT CAST(k AS BIGINT) AS n_brands, CAST(m AS BIGINT) AS n_months,
      |  CAST(12 * s_k * 1000000 // (m * m * (k * k * k - k) * k)
      |    AS BIGINT) AS w_e6,
      |  CAST(12 * s_k * 1000000 * (k - 1) // (m * (k * k * k - k) * k)
      |    AS BIGINT) AS chi2_e6
      |FROM fold""".stripMargin

  // ------ q443: Cliff's delta / Vargha–Delaney A dominance panel

  /** Lines per (returned?, whole quantity): `a` = 1 for returnflag R and
    * 0 for N (A lines left out), `v` = the rounded quantity and `n` the
    * line count, pinned — the two-sample table behind q443, q444, q480
    * and q483, which compare returned with unreturned quantities.
    */
  private def returnedQuantityCounts(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select((col("l_returnflag") === "R").cast("long").as("a"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("v"))
      .groupBy(col("a"), col("v")).agg(count(lit(1)).as("n"))
      .localCheckpoint()

  /** q443: the rank dominance effect sizes — Cliff's δ and
    * Vargha–Delaney Â answer "how often does an AIR-shipped line
    * outweigh a SHIP-shipped one in quantity" WITHOUT the normality
    * q335's Cohen's d borrows: δ = (#(x>y) − #(x<y))/(n₁n₂) and
    * Â = (#(x>y) + ½ties)/(n₁n₂) are pure pair counts. Quantity is
    * discrete (1..50), so the counts fold exactly from the 2×50
    * contingency via per-value cumulatives — doubled where ½ enters.
    *
    * Plan: one lineitem pass → ≤ 100-cell rollup → metadata fold.
    */
  val q443CliffsDelta: Q = (s, dir) => {
    val li = returnedQuantityCounts(s, dir)
    val xa = li.filter(col("a") === 1L).select(col("v"), col("n").as("nx"))
    val yb = li.filter(col("a") === 0L).select(col("v").as("w"),
      col("n").as("ny"))
    val f = xa.crossJoin(broadcast(yb))
      .agg(sum(when(col("v") > col("w"),
        col("nx").cast(dec) * col("ny")).otherwise(lit(0).cast(dec)))
        .as("gt"),
        sum(when(col("v") < col("w"),
          col("nx").cast(dec) * col("ny")).otherwise(lit(0).cast(dec)))
          .as("lt"),
        sum(when(col("v") === col("w"),
          col("nx").cast(dec) * col("ny")).otherwise(lit(0).cast(dec)))
          .as("ties"))
    val counts = li.agg(
      sum(when(col("a") === 1L, col("n")).otherwise(0L)).cast(dec)
        .as("n1"),
      sum(when(col("a") === 0L, col("n")).otherwise(0L)).cast(dec)
        .as("n2"))
    f.crossJoin(broadcast(counts))
      .select(col("n1").cast("long").as("n_returned"),
        col("n2").cast("long").as("n_regular"),
        col("gt").cast("long").as("pairs_gt"),
        col("lt").cast("long").as("pairs_lt"),
        col("ties").cast("long").as("pairs_tied"),
        expr(sdiv("(gt - lt) * 1000000", "n1 * n2")).cast("long")
          .as("cliffs_delta_e6"),
        expr(fdiv("(2 * gt + ties) * 1000000", "2 * n1 * n2"))
          .cast("long").as("vargha_delaney_a_e6"))
  }

  val q443Sql: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT
      |    SUM(CASE WHEN x.v > y.v THEN CAST(x.n AS HUGEINT) * y.n
      |      ELSE 0 END) AS gt,
      |    SUM(CASE WHEN x.v < y.v THEN CAST(x.n AS HUGEINT) * y.n
      |      ELSE 0 END) AS lt,
      |    SUM(CASE WHEN x.v = y.v THEN CAST(x.n AS HUGEINT) * y.n
      |      ELSE 0 END) AS ties
      |  FROM (SELECT v, n FROM li WHERE a = 1) x
      |  CROSS JOIN (SELECT v, n FROM li WHERE a = 0) y),
      |counts AS (
      |  SELECT CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END) AS HUGEINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN a = 0 THEN n ELSE 0 END) AS HUGEINT) AS n2
      |  FROM li)
      |SELECT CAST(n1 AS BIGINT) AS n_returned,
      |  CAST(n2 AS BIGINT) AS n_regular,
      |  CAST(gt AS BIGINT) AS pairs_gt, CAST(lt AS BIGINT) AS pairs_lt,
      |  CAST(ties AS BIGINT) AS pairs_tied,
      |  CAST(CASE WHEN gt - lt >= 0 THEN 1 ELSE -1 END *
      |    (ABS((gt - lt) * 1000000) // (n1 * n2)) AS BIGINT)
      |    AS cliffs_delta_e6,
      |  CAST((2 * gt + ties) * 1000000 // (2 * n1 * n2) AS BIGINT)
      |    AS vargha_delaney_a_e6
      |FROM f CROSS JOIN counts""".stripMargin

  // ------ q448: Lin's concordance correlation between period halves

  /** q448: Lin's concordance correlation coefficient — the
    * REPRODUCIBILITY statistic Pearson r (q117) overstates: r is
    * blind to scale and location shifts, while Lin's CCC
    * 2s_xy/(s_x²+s_y²+(x̄−ȳ)²) penalizes any departure from the 45°
    * line, which is exactly the "does the first half of the history
    * predict the second half brand-for-brand" question. With
    * n-cleared co-moments every term shares the same n² denominator,
    * so CCC is ONE exact rational — a single e6 floor, no doubles at
    * all — alongside Pearson r for the accuracy/precision contrast.
    *
    * Plan: one lineitem ⋈ orders pass → 25-brand two-period rollup →
    * 1-row fold.
    */
  val q448LinCcc: Q = (s, dir) => {
    val mo = brandPeriodMoments(s, dir)
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("qxx") - col("sx") * col("sx")).as("dx"),
        (col("n") * col("qyy") - col("sy") * col("sy")).as("dy"),
        (col("n") * col("qxy") - col("sx") * col("sy")).as("cxy"),
        ((col("sx") - col("sy")) * (col("sx") - col("sy"))).as("loc2"))
    mo.select(col("n").cast("long").as("n_brands"),
      expr(sdiv("2 * cxy * 1000000", "dx + dy + loc2")).cast("long")
        .as("ccc_e6"),
      (d("cxy") / (sqrt(d("dx")) * sqrt(d("dy")))).as("pearson_r_d"),
      expr(sdiv("(sx - sy) * 1000000", "sy")).cast("long")
        .as("level_shift_e6"))
  }

  val q448Sql: String = {
    s"""WITH cells AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(SUM(CASE WHEN o.o_orderdate < DATE '$ShiftShareBreak'
      |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) // 1000 AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN o.o_orderdate >= DATE '$ShiftShareBreak'
      |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) // 1000 AS BIGINT) AS y
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
      |      - SUM(x) * SUM(x) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(y AS HUGEINT) * y)
      |      - SUM(y) * SUM(y) AS dy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
      |      - SUM(x) * SUM(y) AS cxy,
      |    (CAST(SUM(x) AS HUGEINT) - SUM(y))
      |      * (CAST(SUM(x) AS HUGEINT) - SUM(y)) AS loc2
      |  FROM cells)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(2 * cxy * 1000000) // (dx + dy + loc2)) AS BIGINT)
      |    AS ccc_e6,
      |  (${dbl("cxy")} / (sqrt(${dbl("dx")}) * sqrt(${dbl("dy")})))
      |    AS pearson_r_d,
      |  CAST(CASE WHEN sx - sy >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sx - sy) * 1000000) // sy) AS BIGINT) AS level_shift_e6
      |FROM mo""".stripMargin
  }

  // ------ q444: Cucconi location-scale omnibus test

  /** q444: the Cucconi test (1968) — the one-statistic LOCATION-AND-
    * SCALE omnibus the two-sample toolbox lacked: Mann–Whitney (q295)
    * sees only shifts, Brown–Forsythe (q277) only spread; Cucconi's
    * C = (Ũ² + Ṽ² − 2ρŨṼ)/(2(1−ρ²)) combines squared ranks U and
    * contrary squared ranks V and catches either. Mid-ranks ride the
    * DOUBLED-rank device (2R stays integer under ties), so U·4 and
    * V·4 fold exactly from the ≤ 50-cell quantity contingency; the
    * null moments and ρ are the standard closed forms, composed as
    * one fixed IEEE tree over exact integers. P(C ≥ c) ≈ e^{−c}
    * under the null, so the 5% cut is ln 20.
    *
    * Plan: one lineitem pass → 100-cell rollup → metadata fold.
    */
  val q444Cucconi: Q = (s, dir) => {
    val li = returnedQuantityCounts(s, dir)
    val byV = li.groupBy(col("v")).agg(sum(col("n")).as("cnt"))
    val w = Window.orderBy(col("v")).rowsBetween(
      Window.unboundedPreceding, -1)
    val dr = byV
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .select(col("v"),
        (col("below") * 2 + col("cnt") + 1).as("dr"))
    val counts = li.agg(
      sum(when(col("a") === 1L, col("n")).otherwise(0L)).cast(dec)
        .as("n2"),
      sum(when(col("a") === 0L, col("n")).otherwise(0L)).cast(dec)
        .as("m1"),
      sum(col("n")).cast(dec).as("nn"))
    val folds = li.filter(col("a") === 1L).join(dr, Seq("v"))
      .crossJoin(broadcast(counts))
      .agg(first(col("n2")).as("n2"), first(col("m1")).as("m1"),
        first(col("nn")).as("nn"),
        sum(col("n").cast(dec) * col("dr") * col("dr")).as("u4"),
        sum(col("n").cast(dec) *
          ((col("nn") + 1) * 2 - col("dr")) *
          ((col("nn") + 1) * 2 - col("dr"))).as("v4"))
    val e = d("n2") * (d("nn") + 1.0) * (d("nn") * 2.0 + 1.0) / 6.0
    val vr = d("m1") * d("n2") * (d("nn") + 1.0) * (d("nn") * 2.0 + 1.0) *
      (d("nn") * 8.0 + 11.0) / 180.0
    val uT = (d("u4") / 4.0 - e) / sqrt(vr)
    val vT = (d("v4") / 4.0 - e) / sqrt(vr)
    val rho = (d("nn") * d("nn") - 4.0) * 2.0 /
      ((d("nn") * 2.0 + 1.0) * (d("nn") * 8.0 + 11.0)) - 1.0
    val cStat = (uT * uT + vT * vT - rho * uT * vT * 2.0) /
      ((lit(1.0) - rho * rho) * 2.0)
    folds.select(col("m1").cast("long").as("n_regular"),
      col("n2").cast("long").as("n_returned"),
      col("u4").cast("long").as("u_quadrupled"),
      col("v4").cast("long").as("v_quadrupled"),
      cStat.as("c_d"),
      when(cStat > 2.9957, lit("location_scale_shift"))
        .otherwise(lit("homogeneous")).as("verdict_5pct"))
  }

  val q444Sql: String = {
    val e = s"(${dbl("n2")} * (${dbl("nn")} + 1.0) * (${dbl("nn")} * 2.0 + 1.0)" +
      " / 6.0)"
    val vr = s"(${dbl("m1")} * ${dbl("n2")} * (${dbl("nn")} + 1.0) *" +
      s" (${dbl("nn")} * 2.0 + 1.0) * (${dbl("nn")} * 8.0 + 11.0) / 180.0)"
    val uT = s"((${dbl("u4")} / 4.0 - $e) / sqrt($vr))"
    val vT = s"((${dbl("v4")} / 4.0 - $e) / sqrt($vr))"
    val rho = s"((${dbl("nn")} * ${dbl("nn")} - 4.0) * 2.0 /" +
      s" ((${dbl("nn")} * 2.0 + 1.0) * (${dbl("nn")} * 8.0 + 11.0)) - 1.0)"
    val cS = s"(($uT * $uT + $vT * $vT - $rho * $uT * $vT * 2.0)" +
      s" / ((1.0 - $rho * $rho) * 2.0))"
    s"""WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
      |  GROUP BY 1, 2),
      |by_v AS (SELECT v, SUM(n) AS cnt FROM li GROUP BY v),
      |dr AS (
      |  SELECT v,
      |    COALESCE(SUM(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
      |      + cnt + 1 AS dr
      |  FROM by_v),
      |counts AS (
      |  SELECT CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END) AS HUGEINT)
      |      AS n2,
      |    CAST(SUM(CASE WHEN a = 0 THEN n ELSE 0 END) AS HUGEINT) AS m1,
      |    CAST(SUM(n) AS HUGEINT) AS nn
      |  FROM li),
      |folds AS (
      |  SELECT ANY_VALUE(n2) AS n2, ANY_VALUE(m1) AS m1,
      |    ANY_VALUE(nn) AS nn,
      |    SUM(CAST(li.n AS HUGEINT) * dr.dr * dr.dr) AS u4,
      |    SUM(CAST(li.n AS HUGEINT) * ((nn + 1) * 2 - dr.dr)
      |      * ((nn + 1) * 2 - dr.dr)) AS v4
      |  FROM li JOIN dr USING (v) CROSS JOIN counts WHERE li.a = 1)
      |SELECT CAST(m1 AS BIGINT) AS n_regular,
      |  CAST(n2 AS BIGINT) AS n_returned,
      |  CAST(u4 AS BIGINT) AS u_quadrupled,
      |  CAST(v4 AS BIGINT) AS v_quadrupled,
      |  $cS AS c_d,
      |  CASE WHEN $cS > 2.9957 THEN 'location_scale_shift'
      |    ELSE 'homogeneous' END AS verdict_5pct
      |FROM folds""".stripMargin
  }

  // ------ q445: Cochrane–Orcutt AR(1)-corrected trend regression

  /** q445: the Cochrane–Orcutt procedure — q344's Durbin–Watson
    * DETECTS serial correlation in the monthly-revenue trend
    * residuals; this is the classical FIX: estimate ρ from the lag-1
    * residual regression, quasi-difference both sides
    * (y*_t = y_t − ρ y_{t−1}, x*_t = t − ρ(t−1)) and re-fit, which
    * restores valid OLS inference under AR(1) errors. Residuals are
    * exact e6 integers (q432's device), ρ is one floor, the
    * transformed series are exact integers again (e6-scaled), so the
    * corrected slope is one more floor — no doubles anywhere.
    *
    * Plan: one orders pass → month rollup (checkpointed; the
    * residual pass and the transformed fold both ride it) → lag
    * windows over ≤ |months| metadata rows.
    */
  val q445CochraneOrcutt: Q = (s, dir) => {
    val cells = monthlyRevenue(s, dir).localCheckpoint()
    val t0 = cells.agg(min(col("m")).as("m0"))
    val pts = cells.crossJoin(broadcast(t0))
      .select((col("m") - col("m0") + 1L).as("t"), col("y"))
      .localCheckpoint()
    val mo = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("t")).cast(dec).as("st"), sum(col("y")).cast(dec).as("sy"),
      sum(col("t").cast(dec) * col("t")).as("qtt"),
      sum(col("t").cast(dec) * col("y")).as("qty"))
      .select(col("n"), col("st"), col("sy"),
        (col("n") * col("qtt") - col("st") * col("st")).as("dx"),
        (col("n") * col("qty") - col("st") * col("sy")).as("cxy"))
    val w = Window.orderBy(col("t"))
    val resid = pts.crossJoin(broadcast(mo))
      .select(col("t"), col("y"), col("n"), col("dx"), col("cxy"),
        col("st"), col("sy"),
        (col("y") * 1000000L -
          expr(sdiv("(sy * dx - cxy * st) * 1000000", "n * dx")) -
          expr(sdiv("cxy * t * 1000000", "dx"))).as("e"))
      .withColumn("ep", lag(col("e"), 1).over(w))
    val rho = resid.filter(col("ep").isNotNull)
      .agg(sum(col("ep") * col("e")).as("num"),
        sum(col("ep") * col("ep")).as("den"))
      .select(expr(sdiv("num * 1000000", "den")).as("rho_e6"))
    val trans = pts.crossJoin(broadcast(rho))
      .withColumn("tp", lag(col("t"), 1).over(w))
      .withColumn("yp", lag(col("y"), 1).over(w))
      .filter(col("tp").isNotNull)
      .select(col("rho_e6"),
        (col("t") * 1000000L - col("rho_e6") * col("tp")).cast(dec)
          .as("xs"),
        (col("y") * 1000000L - col("rho_e6") * col("yp")).cast(dec)
          .as("ys"))
    val co = trans.groupBy(col("rho_e6"))
      .agg(count(lit(1)).cast(dec).as("m"),
        sum(col("xs")).as("sxs"), sum(col("ys")).as("sys"),
        sum(col("xs") * col("xs")).as("qxx"),
        sum(col("xs") * col("ys")).as("qxy"))
    co.crossJoin(broadcast(mo))
      .select(col("n").cast("long").as("n_months"),
        expr(sdiv("cxy * 1000000", "dx")).cast("long").as("beta_ols_e6"),
        col("rho_e6").cast("long").as("rho_e6"),
        expr(sdiv("(m * qxy - sxs * sys) * 1000000",
          "m * qxx - sxs * sxs")).cast("long").as("beta_co_e6"))
  }

  val q445Sql: String =
    """WITH cells AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT m - (SELECT MIN(m) FROM cells) + 1 AS t, y FROM cells),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
      |      - CAST(SUM(t) AS HUGEINT) * SUM(t) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * y)
      |      - CAST(SUM(t) AS HUGEINT) * SUM(y) AS cxy
      |  FROM pts),
      |resid AS (
      |  SELECT t,
      |    y * 1000000
      |      - CASE WHEN sy * dx - cxy * st >= 0 THEN 1 ELSE -1 END *
      |        (ABS((sy * dx - cxy * st) * 1000000) // (n * dx))
      |      - CASE WHEN cxy * t >= 0 THEN 1 ELSE -1 END *
      |        (ABS(cxy * t * 1000000) // dx) AS e
      |  FROM pts CROSS JOIN mo),
      |lagged AS (
      |  SELECT e, LAG(e, 1) OVER (ORDER BY t) AS ep FROM resid),
      |rho AS (
      |  SELECT CASE WHEN SUM(ep * e) >= 0 THEN 1 ELSE -1 END *
      |    (ABS(SUM(ep * e) * 1000000) // SUM(ep * ep)) AS rho_e6
      |  FROM lagged WHERE ep IS NOT NULL),
      |trans AS (
      |  SELECT rho_e6,
      |    CAST(t AS HUGEINT) * 1000000 - rho_e6 * tp AS xs,
      |    CAST(y AS HUGEINT) * 1000000 - rho_e6 * yp AS ys
      |  FROM (SELECT t, y, LAG(t, 1) OVER (ORDER BY t) AS tp,
      |          LAG(y, 1) OVER (ORDER BY t) AS yp FROM pts)
      |  CROSS JOIN rho WHERE tp IS NOT NULL),
      |co AS (
      |  SELECT rho_e6, CAST(COUNT(*) AS HUGEINT) AS m,
      |    SUM(xs) AS sxs, SUM(ys) AS sys,
      |    SUM(xs * xs) AS qxx, SUM(xs * ys) AS qxy
      |  FROM trans GROUP BY rho_e6)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx) AS BIGINT) AS beta_ols_e6,
      |  CAST(rho_e6 AS BIGINT) AS rho_e6,
      |  CAST(CASE WHEN m * qxy - sxs * sys >= 0 THEN 1 ELSE -1 END *
      |    (ABS((m * qxy - sxs * sys) * 1000000) // (m * qxx - sxs * sxs))
      |    AS BIGINT) AS beta_co_e6
      |FROM co CROSS JOIN mo""".stripMargin

  // ------ q446: Oaxaca–Blinder decomposition of the segment gap

  /** q446: the Oaxaca–Blinder twofold decomposition — the econometric
    * answer to "WHY do BUILDING-segment orders run larger": how much
    * of the mean order-value gap is ENDOWMENT (BUILDING orders simply
    * contain more lineitems, priced at the reference slope) versus
    * UNEXPLAINED (same basket size, different price structure)?
    * Explained = β_ref·(x̄_A − x̄_B) with the non-BUILDING slope as
    * reference; unexplained is the remainder of the exact gap — each
    * a single floor over exact integer co-moments, so the identity
    * explained + unexplained = gap holds BY CONSTRUCTION in-output.
    *
    * Plan: lineitem order-size rollup ⋈ orders (big-big) with the
    * broadcast customer dim → two group folds. Two shuffles.
    */
  val q446OaxacaBlinder: Q = (s, dir) => {
    val sized = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), cents(col("o_totalprice")).as("y")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("grp"))),
        col("o_custkey") === col("c_custkey"))
    val folds = sized.groupBy(col("grp"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("qxx"),
        sum(col("x").cast(dec) * col("y")).as("qxy"))
      .select(col("grp"), col("n"), col("sx"), col("sy"),
        (col("n") * col("qxx") - col("sx") * col("sx")).as("d"),
        (col("n") * col("qxy") - col("sx") * col("sy")).as("c"))
    val a = folds.filter(col("grp") === 1L)
      .select(col("n").as("na"), col("sx").as("sxa"), col("sy").as("sya"),
        col("d").as("da"), col("c").as("ca"))
    val b = folds.filter(col("grp") === 0L)
      .select(col("n").as("nb"), col("sx").as("sxb"), col("sy").as("syb"),
        col("d").as("db"), col("c").as("cb"))
    a.crossJoin(broadcast(b))
      .select(col("na").cast("long").as("n_building"),
        col("nb").cast("long").as("n_other"),
        expr(sdiv("ca * 1000000", "da")).cast("long")
          .as("beta_building_e6"),
        expr(sdiv("cb * 1000000", "db")).cast("long").as("beta_other_e6"),
        expr(sdiv("(sxa * nb - sxb * na) * 1000000", "na * nb"))
          .cast("long").as("xbar_gap_e6"),
        expr(sdiv("(sya * nb - syb * na) * 1000000", "na * nb"))
          .cast("long").as("gap_e6c"),
        expr(sdiv("cb * (sxa * nb - sxb * na) * 1000000", "db * na * nb"))
          .cast("long").as("explained_e6c"),
        (expr(sdiv("(sya * nb - syb * na) * 1000000", "na * nb")) -
          expr(sdiv("cb * (sxa * nb - sxb * na) * 1000000",
            "db * na * nb"))).cast("long").as("unexplained_e6c"))
  }

  val q446Sql: String =
    """WITH sized AS (
      |  SELECT o.o_custkey,
      |    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y, l.x
      |  FROM (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
      |        FROM lineitem GROUP BY 1) l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |grouped AS (
      |  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
      |      AS grp, s.x, s.y
      |  FROM sized s JOIN customer c ON c.c_custkey = s.o_custkey),
      |folds AS (
      |  SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(x) AS d,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(y) AS c
      |  FROM grouped GROUP BY grp),
      |a AS (SELECT n AS na, sx AS sxa, sy AS sya, d AS da, c AS ca
      |      FROM folds WHERE grp = 1),
      |b AS (SELECT n AS nb, sx AS sxb, sy AS syb, d AS db, c AS cb
      |      FROM folds WHERE grp = 0)
      |SELECT CAST(na AS BIGINT) AS n_building,
      |  CAST(nb AS BIGINT) AS n_other,
      |  CAST(CASE WHEN ca >= 0 THEN 1 ELSE -1 END *
      |    (ABS(ca * 1000000) // da) AS BIGINT) AS beta_building_e6,
      |  CAST(CASE WHEN cb >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cb * 1000000) // db) AS BIGINT) AS beta_other_e6,
      |  CAST(CASE WHEN sxa * nb - sxb * na >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sxa * nb - sxb * na) * 1000000) // (na * nb)) AS BIGINT)
      |    AS xbar_gap_e6,
      |  CAST(CASE WHEN sya * nb - syb * na >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sya * nb - syb * na) * 1000000) // (na * nb)) AS BIGINT)
      |    AS gap_e6c,
      |  CAST(CASE WHEN cb * (sxa * nb - sxb * na) >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cb * (sxa * nb - sxb * na) * 1000000) // (db * na * nb))
      |    AS BIGINT) AS explained_e6c,
      |  CAST(CASE WHEN sya * nb - syb * na >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sya * nb - syb * na) * 1000000) // (na * nb))
      |   - CASE WHEN cb * (sxa * nb - sxb * na) >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cb * (sxa * nb - sxb * na) * 1000000) // (db * na * nb))
      |    AS BIGINT) AS unexplained_e6c
      |FROM a CROSS JOIN b""".stripMargin

  // ------ q447: 0/1 knapsack assortment planner

  /** Knapsack capacity (weight units = retail-price hundreds). */
  val KnapCap = 100
  /** Number of candidate items (largest parts by revenue). */
  val KnapItems = 12

  /** q447: exact 0/1 knapsack over the top revenue parts — the
    * OPTIMAL counterpart of q382's next-fit-decreasing packer (a
    * heuristic with a proven bound): pick the subset of the
    * [[KnapItems]] biggest parts maximizing corpus revenue subject to
    * a retail-price budget of [[KnapCap]] hundred dollars. The DP
    * table over capacities 0..W is the textbook Bellman recursion —
    * a driver fold over [[KnapItems]] collected metadata rows,
    * replayed in the oracle as a recursive CTE carrying the DP row
    * as a LIST (one list_transform per item). The full value-by-
    * capacity frontier is the output, so the budget-sensitivity
    * curve is checkable row by row.
    *
    * Plan: one lineitem pass → part rollup → top-K collect → K-step
    * driver DP → (W+1)-row output.
    */
  val q447Knapsack: Q = (s, dir) => {
    val items = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(
        expr("SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) div 1000")
          .as("v"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").cast("long").as("pk"), col("v"),
        greatest(expr(
          "CAST(ROUND(p_retailprice * 100) AS BIGINT) div 10000"),
          lit(1L)).as("w"))
      .orderBy(col("v").desc, col("pk")).limit(KnapItems)
      .orderBy(col("pk"))
      .collect()
    val ws = items.map(_.getAs[Long]("w"))
    val vs = items.map(_.getAs[Long]("v"))
    var dp = Array.fill(KnapCap + 1)(0L)
    ws.indices.foreach { k =>
      dp = (0 to KnapCap).map { c =>
        if (c >= ws(k)) math.max(dp(c), dp(c - ws(k).toInt) + vs(k))
        else dp(c)
      }.toArray
    }
    import s.implicits._
    (0 to KnapCap).map(c => (c.toLong, dp(c)))
      .toDF("capacity_hundreds", "best_value")
      .orderBy(col("capacity_hundreds"))
  }

  val q447Sql: String =
    s"""WITH RECURSIVE items0 AS (
      |  SELECT CAST(l.l_partkey AS BIGINT) AS pk,
      |    SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) // 1000
      |      AS v,
      |    GREATEST(CAST(ROUND(ANY_VALUE(p.p_retailprice) * 100)
      |      AS BIGINT) // 10000, 1) AS w
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |topk AS (
      |  SELECT pk, v, w,
      |    ROW_NUMBER() OVER (ORDER BY pk) AS k
      |  FROM (SELECT * FROM items0 ORDER BY v DESC, pk LIMIT $KnapItems)),
      |mats AS (
      |  SELECT list(w ORDER BY k) AS wl, list(v ORDER BY k) AS vl
      |  FROM topk),
      |walk AS (
      |  SELECT 0 AS k,
      |    list_transform(range(0, ${KnapCap + 1}),
      |      c -> CAST(0 AS BIGINT)) AS dp
      |  UNION ALL
      |  SELECT k + 1,
      |    list_transform(range(0, ${KnapCap + 1}), c ->
      |      CASE WHEN c >= wl[k + 1]
      |        THEN GREATEST(dp[c + 1], dp[c - wl[k + 1] + 1] + vl[k + 1])
      |        ELSE dp[c + 1] END)
      |  FROM walk, mats WHERE k < $KnapItems),
      |last AS (SELECT dp FROM walk ORDER BY k DESC LIMIT 1)
      |SELECT CAST(c.c AS BIGINT) AS capacity_hundreds,
      |  CAST(dp[c.c + 1] AS BIGINT) AS best_value
      |FROM last, (SELECT UNNEST(range(0, ${KnapCap + 1})) AS c) c
      |ORDER BY capacity_hundreds""".stripMargin

  // ------ q449: Fisher's exact test on the region × AOV-tier table

  /** Plan-time factorial table 0!..25! — exact BigInt literals inlined
    * into both engines (25! has 26 digits; fits HUGEINT/DECIMAL(38)).
    */
  val FactTable: IndexedSeq[BigInt] =
    (0 to 25).scanLeft(BigInt(1))((a, i) => a * i.max(1)).tail

  /** q449: Fisher's exact test — the EXACT small-table independence
    * test the asymptotic family (χ² q153, G q348, McNemar q322)
    * approximates: on the 25-nation table of (nation in region 0) ×
    * (nation AOV above the median nation), the one-sided
    * hypergeometric tail p = Σ_{k≥a} C(K,k)C(N−K,n−k)/C(N,n) is an
    * EXACT RATIONAL, because N = 25 keeps every binomial inside
    * 26-digit integers: the [[FactTable]] literals are inlined into
    * both engines and the whole test is integer arithmetic — one e6
    * floor at the end. The driver fold mirrors the oracle's VALUES
    * table term by term.
    *
    * Plan: one orders pass → 25-row nation AOV panel (metadata
    * collect) → driver tail sum.
    */
  val q449FisherExact: Q = (s, dir) => {
    val panel = ordersWithNation(s, dir)
      .groupBy(col("c_nationkey").cast("long").as("nat"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))" +
        " div COUNT(*)").as("aov"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("nat"),
          col("n_regionkey").cast("long").as("rk"))), Seq("nat"))
      .collect()
    val nN = panel.length
    val aovs = panel.map(_.getAs[Long]("aov")).sorted
    val med = aovs((nN + 1) / 2 - 1) // rank-target ceil(N/2) selection
    val kRegion = panel.count(_.getAs[Long]("rk") == 0L)
    val nHigh = panel.count(_.getAs[Long]("aov") > med)
    val aObs = panel.count(r =>
      r.getAs[Long]("rk") == 0L && r.getAs[Long]("aov") > med)
    def c(a: Int, b: Int): BigInt =
      if (b < 0 || b > a) BigInt(0)
      else FactTable(a) / (FactTable(b) * FactTable(a - b))
    val num = (aObs to math.min(kRegion, nHigh))
      .map(k => c(kRegion, k) * c(nN - kRegion, nHigh - k)).sum
    val pE6 = (num * 1000000L / c(nN, nHigh)).toLong
    import s.implicits._
    Seq((nN.toLong, kRegion.toLong, nHigh.toLong, aObs.toLong, pE6))
      .toDF("n_nations", "k_region0", "n_high_aov", "a_observed",
        "p_one_sided_e6")
  }

  val q449Sql: String = {
    val facts = FactTable.zipWithIndex
      .map { case (f, i) => s"($i, CAST('$f' AS HUGEINT))" }.mkString(", ")
    """WITH panel AS (
      |  SELECT c.c_nationkey AS nat,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // COUNT(*)
      |      AS aov
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |tagged AS (
      |  SELECT p.nat, p.aov, n.n_regionkey AS rk
      |  FROM panel p JOIN nation n ON n.n_nationkey = p.nat),
      |med AS (
      |  SELECT aov AS med FROM (
      |    SELECT aov, ROW_NUMBER() OVER (ORDER BY aov) AS r,
      |      COUNT(*) OVER () AS nn
      |    FROM tagged) WHERE r = (nn + 1) // 2),
      |counts AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
      |    CAST(SUM(CASE WHEN rk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS kr,
      |    CAST(SUM(CASE WHEN aov > med THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nh,
      |    CAST(SUM(CASE WHEN rk = 0 AND aov > med THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a
      |  FROM tagged CROSS JOIN med),
      |""".stripMargin +
    s"""facts(i, f) AS (VALUES $facts),
      |terms AS (
      |  SELECT c.a, c.kr, c.nh, c.nn,
      |    ((SELECT f FROM facts WHERE i = c.kr) //
      |      ((SELECT f FROM facts WHERE i = k.k) *
      |       (SELECT f FROM facts WHERE i = c.kr - k.k))) *
      |    ((SELECT f FROM facts WHERE i = c.nn - c.kr) //
      |      ((SELECT f FROM facts WHERE i = c.nh - k.k) *
      |       (SELECT f FROM facts WHERE i = c.nn - c.kr - (c.nh - k.k))))
      |      AS term
      |  FROM counts c
      |  JOIN (SELECT UNNEST(range(0, 26)) AS k) k
      |    ON k.k >= c.a AND k.k <= LEAST(c.kr, c.nh)
      |      AND c.nh - k.k >= 0 AND c.nn - c.kr - (c.nh - k.k) >= 0),
      |denom AS (
      |  SELECT (SELECT f FROM facts WHERE i = c.nn) //
      |    ((SELECT f FROM facts WHERE i = c.nh) *
      |     (SELECT f FROM facts WHERE i = c.nn - c.nh)) AS d
      |  FROM counts c)
      |SELECT ANY_VALUE(nn) AS n_nations, ANY_VALUE(kr) AS k_region0,
      |  ANY_VALUE(nh) AS n_high_aov, ANY_VALUE(a) AS a_observed,
      |  CAST(SUM(term) * 1000000 // ANY_VALUE(d.d) AS BIGINT)
      |    AS p_one_sided_e6
      |FROM terms CROSS JOIN denom d""".stripMargin
  }

  // ------ q450: Wald instrumental-variable estimator

  /** q450: the Wald IV estimator — when order size x is endogenous to
    * order value y (big orders are big for unobserved reasons), the
    * OLS slope (q154) is biased; with a binary INSTRUMENT z (urgent/
    * high order priority, which shifts basket size but is plausibly
    * unrelated to the residual price structure) the Wald ratio
    * β_IV = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) identifies the causal slope. The ratio
    * of n-cleared mean gaps is ONE exact rational (a single e6
    * floor), shown against the OLS slope; the first-stage F (the
    * weak-instrument diagnostic every IV report needs) composes as
    * an IEEE tree over the exact group moments.
    *
    * Plan: lineitem order-size rollup ⋈ orders (one big-big shuffle)
    * → two group folds. Everything after is metadata.
    */
  val q450WaldIv: Q = (s, dir) => {
    val sized = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        cents(col("o_totalprice")).as("y"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2")
          .cast("long").as("z")),
        col("l_orderkey") === col("o_orderkey"))
    val folds = sized.groupBy(col("z"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("qxx"),
        sum(col("x").cast(dec) * col("y")).as("qxy"))
    val a = folds.filter(col("z") === 1L).select(col("n").as("n1"),
      col("sx").as("sx1"), col("sy").as("sy1"), col("qxx").as("qxx1"))
    val b = folds.filter(col("z") === 0L).select(col("n").as("n0"),
      col("sx").as("sx0"), col("sy").as("sy0"), col("qxx").as("qxx0"))
    val all = sized.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
      sum(col("x").cast(dec) * col("x")).as("qxx"),
      sum(col("x").cast(dec) * col("y")).as("qxy"))
      .select(col("n"),
        (col("n") * col("qxx") - col("sx") * col("sx")).as("dx"),
        (col("n") * col("qxy") - col("sx") * col("sy")).as("cxy"))
    // first-stage F: pooled-variance two-sample t² for x on z
    val ssw = (d("qxx1") - d("sx1") * d("sx1") / d("n1")) +
      (d("qxx0") - d("sx0") * d("sx0") / d("n0"))
    val gap = d("sx1") / d("n1") - d("sx0") / d("n0")
    val fStat = gap * gap /
      ((ssw / (d("n1") + d("n0") - 2.0)) * (lit(1.0) / d("n1") +
        lit(1.0) / d("n0")))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(all))
      .select(col("n1").cast("long").as("n_urgent"),
        col("n0").cast("long").as("n_regular"),
        expr(sdivSigned("cxy * 1000000", "dx")).cast("long").as("beta_ols_e6"),
        expr(sdivSigned("(sy1 * n0 - sy0 * n1) * 1000000",
          "sx1 * n0 - sx0 * n1")).cast("long").as("beta_iv_e6"),
        fStat.as("first_stage_f_d"),
        when(fStat > 10.0, lit("instrument_strong"))
          .otherwise(lit("instrument_weak")).as("relevance_verdict"))
  }

  val q450Sql: String = {
    val ssw = s"((${dbl("qxx1")} - ${dbl("sx1")} * ${dbl("sx1")} / ${dbl("n1")})" +
      s" + (${dbl("qxx0")} - ${dbl("sx0")} * ${dbl("sx0")} / ${dbl("n0")}))"
    val gap = s"(${dbl("sx1")} / ${dbl("n1")} - ${dbl("sx0")} / ${dbl("n0")})"
    val f = s"($gap * $gap / (($ssw / (${dbl("n1")} + ${dbl("n0")} - 2.0))" +
      s" * (1.0 / ${dbl("n1")} + 1.0 / ${dbl("n0")})))"
    s"""WITH sized AS (
      |  SELECT l.x, CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y,
      |    CASE WHEN CAST(substring(o.o_orderpriority, 1, 1) AS INT) <= 2
      |      THEN 1 ELSE 0 END AS z
      |  FROM (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
      |        FROM lineitem GROUP BY 1) l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |folds AS (
      |  SELECT z, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS qxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS qxy
      |  FROM sized GROUP BY z),
      |a AS (SELECT n AS n1, sx AS sx1, sy AS sy1, qxx AS qxx1
      |      FROM folds WHERE z = 1),
      |b AS (SELECT n AS n0, sx AS sx0, sy AS sy0, qxx AS qxx0
      |      FROM folds WHERE z = 0),
      |alls AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(x) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(y) AS cxy
      |  FROM sized)
      |SELECT CAST(n1 AS BIGINT) AS n_urgent,
      |  CAST(n0 AS BIGINT) AS n_regular,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx) AS BIGINT) AS beta_ols_e6,
      |  CAST(CASE WHEN (sy1 * n0 - sy0 * n1) *
      |      CASE WHEN sx1 * n0 - sx0 * n1 >= 0 THEN 1 ELSE -1 END >= 0
      |      THEN 1 ELSE -1 END *
      |    (ABS((sy1 * n0 - sy0 * n1) * 1000000)
      |      // ABS(sx1 * n0 - sx0 * n1)) AS BIGINT) AS beta_iv_e6,
      |  $f AS first_stage_f_d,
      |  CASE WHEN $f > 10.0 THEN 'instrument_strong'
      |    ELSE 'instrument_weak' END AS relevance_verdict
      |FROM a CROSS JOIN b CROSS JOIN alls""".stripMargin
  }

  // ------ q451: sharp regression discontinuity at the median order

  /** q451: sharp regression-discontinuity design — the third causal
    * identification strategy next to DiD (q298) and IV (q450): if
    * treatment switches at a known cutoff of a running variable, the
    * outcome JUMP at the cutoff identifies the local effect. Running
    * variable = order value, cutoff = its exact median (rank-target
    * selection), outcome = basket size; local linear fits on the
    * [P25, cutoff) and [cutoff, P75] windows — each intercept AT the
    * cutoff is one exact-integer determinant floor, and the jump is
    * their difference (here ≈ 0: the in-output placebo certificate
    * on synthetic data with no true discontinuity).
    *
    * Plan: one cutpoint pass, lineitem rollup ⋈ orders (one big-big
    * shuffle) → two windowed folds. Metadata after.
    */
  val q451RegressionDiscontinuity: Q = (s, dir) => {
    val ord = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("yv"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        cents(col("o_totalprice")).as("r")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("r"), col("yv"))
    val byV = ord.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
    val ranked = doubledRankBelow(byV, Seq.empty, "r", 100000L)
    val nAll = byV.agg(sum(col("cnt")).as("n_all"))
    val cuts = ranked.crossJoin(broadcast(nAll))
      .select(col("r"), col("below"), col("cnt"),
        explode(expr("sequence(1, 3)")).as("i"))
      .filter(col("below") < expr("(n_all * i + 3) div 4") &&
        expr("(n_all * i + 3) div 4") <= col("below") + col("cnt"))
      .groupBy().pivot("i", 1 to 3).agg(first(col("r")))
      .select(col("1").as("p25"), col("2").as("p50"), col("3").as("p75"))
    val windowed = ord.crossJoin(broadcast(cuts))
      .filter(col("r") >= col("p25") && col("r") <= col("p75"))
      .select((col("r") >= col("p50")).cast("long").as("side"),
        (col("r") - col("p50")).cast(dec).as("x"),
        col("yv").cast(dec).as("y"))
    val folds = windowed.groupBy(col("side"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("qxx"),
        sum(col("x") * col("y")).as("qxy"))
      .select(col("side"), col("n"),
        (col("n") * col("qxx") - col("sx") * col("sx")).as("d"),
        (col("n") * col("qxy") - col("sx") * col("sy")).as("c"),
        (col("sy") * col("qxx") - col("sx") * col("qxy")).as("anum"))
    val l = folds.filter(col("side") === 0L).select(col("n").as("nl"),
      col("d").as("dl"), col("c").as("cl"), col("anum").as("al"))
    val rr = folds.filter(col("side") === 1L).select(col("n").as("nr"),
      col("d").as("dr"), col("c").as("cr"), col("anum").as("ar"))
    l.crossJoin(broadcast(rr))
      .select(col("nl").cast("long").as("n_left"),
        col("nr").cast("long").as("n_right"),
        expr(sdiv("al * 1000000", "dl")).cast("long")
          .as("alpha_left_e6"),
        expr(sdiv("ar * 1000000", "dr")).cast("long")
          .as("alpha_right_e6"),
        (expr(sdiv("ar * 1000000", "dr")) -
          expr(sdiv("al * 1000000", "dl"))).cast("long").as("jump_e6"),
        expr(sdiv("cl * 1000000000", "dl")).cast("long")
          .as("slope_left_e9"),
        expr(sdiv("cr * 1000000000", "dr")).cast("long")
          .as("slope_right_e9"))
  }

  val q451Sql: String =
    """WITH ord AS (
      |  SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS r, l.yv
      |  FROM (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS yv
      |        FROM lineitem GROUP BY 1) l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |by_v AS (SELECT r, COUNT(*) AS cnt FROM ord GROUP BY r),
      |ranked AS (
      |  SELECT r, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY r
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |cutrows AS (
      |  SELECT i, r FROM ranked,
      |    (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS i) gi
      |  WHERE below < (n_all * i + 3) // 4
      |    AND (n_all * i + 3) // 4 <= below + cnt),
      |cuts AS (
      |  SELECT MAX(CASE WHEN i = 1 THEN r END) AS p25,
      |    MAX(CASE WHEN i = 2 THEN r END) AS p50,
      |    MAX(CASE WHEN i = 3 THEN r END) AS p75
      |  FROM cutrows),
      |windowed AS (
      |  SELECT CASE WHEN r >= p50 THEN 1 ELSE 0 END AS side,
      |    CAST(r - p50 AS HUGEINT) AS x, CAST(yv AS HUGEINT) AS y
      |  FROM ord CROSS JOIN cuts
      |  WHERE r >= p25 AND r <= p75),
      |folds AS (
      |  SELECT side, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(x * x) - SUM(x) * SUM(x) AS d,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(x * y) - SUM(x) * SUM(y) AS c,
      |    SUM(y) * SUM(x * x) - SUM(x) * SUM(x * y) AS anum
      |  FROM windowed GROUP BY side),
      |l AS (SELECT n AS nl, d AS dl, c AS cl, anum AS al
      |      FROM folds WHERE side = 0),
      |rr AS (SELECT n AS nr, d AS dr, c AS cr, anum AS ar
      |       FROM folds WHERE side = 1)
      |SELECT CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
      |  CAST(CASE WHEN al >= 0 THEN 1 ELSE -1 END *
      |    (ABS(al * 1000000) // dl) AS BIGINT) AS alpha_left_e6,
      |  CAST(CASE WHEN ar >= 0 THEN 1 ELSE -1 END *
      |    (ABS(ar * 1000000) // dr) AS BIGINT) AS alpha_right_e6,
      |  CAST(CASE WHEN ar >= 0 THEN 1 ELSE -1 END *
      |    (ABS(ar * 1000000) // dr)
      |   - CASE WHEN al >= 0 THEN 1 ELSE -1 END *
      |    (ABS(al * 1000000) // dl) AS BIGINT) AS jump_e6,
      |  CAST(CASE WHEN cl >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cl * 1000000000) // dl) AS BIGINT) AS slope_left_e9,
      |  CAST(CASE WHEN cr >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cr * 1000000000) // dr) AS BIGINT) AS slope_right_e9
      |FROM l CROSS JOIN rr""".stripMargin

  // ------ q452: Wagner–Whitin dynamic lot sizing

  /** q452: the Wagner–Whitin algorithm — OPTIMAL dynamic lot sizing
    * where q406's EOQ assumes stationary demand: given the real
    * monthly quantity series, when should replenishment batches be
    * placed to minimize setup + holding cost? The Bellman recursion
    * f(t) = min_{j≤t} f(j−1) + K + h·Σ(i−j)dᵢ runs over prefix sums
    * (the holding term telescopes to two cumulative lookups), with
    * the setup cost variance-targeted at plan shape (K = 3× average
    * monthly demand, h = 1 — computed once, identically in both
    * engines). The oracle replays the DP as a recursive CTE whose
    * state is the growing f(·) LIST; every cost is exact integer.
    * Output is the full cost-to-horizon curve month by month.
    *
    * Plan: one orders+lineitem pass → month rollup → T-step driver
    * DP over metadata.
    */
  val q452WagnerWhitin: Q = (s, dir) => {
    val months = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("m")).agg(sum(col("q")).as("d"))
      .orderBy(col("m")).collect()
    val ds = months.map(_.getAs[Long]("d"))
    val t = ds.length
    val setup = ds.sum / t * 3L
    val cumD = ds.scanLeft(0L)(_ + _)
    val cumID = ds.zipWithIndex.scanLeft(0L) { case (a, (d, i)) =>
      a + (i + 1L) * d
    }
    val f = Array.ofDim[Long](t + 1)
    (1 to t).foreach { tt =>
      f(tt) = (1 to tt).map { j =>
        f(j - 1) + setup +
          (cumID(tt) - cumID(j - 1)) - j * (cumD(tt) - cumD(j - 1))
      }.min
    }
    import s.implicits._
    (1 to t).map(tt => (tt.toLong, ds(tt - 1), f(tt)))
      .toDF("month_idx", "demand", "min_cost_to_month")
      .orderBy(col("month_idx"))
  }

  val q452Sql: String =
    """WITH RECURSIVE months AS (
      |  SELECT year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
      |    SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS d
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1),
      |ser AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY m) AS t, d FROM months),
      |mats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS tl,
      |    SUM(d) // COUNT(*) * 3 AS setup,
      |    list_prepend(CAST(0 AS BIGINT), list(cd ORDER BY t)) AS cum_d,
      |    list_prepend(CAST(0 AS BIGINT), list(cid ORDER BY t)) AS cum_id
      |  FROM (SELECT t, d,
      |          SUM(d) OVER (ORDER BY t
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd,
      |          SUM(t * d) OVER (ORDER BY t
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
      |        FROM ser)),
      |walk AS (
      |  SELECT 0 AS t, [CAST(0 AS BIGINT)] AS f
      |  UNION ALL
      |  SELECT w.t + 1,
      |    list_append(w.f, list_min(list_transform(range(1, w.t + 2),
      |      j -> w.f[j] + mats.setup
      |        + (mats.cum_id[w.t + 2] - mats.cum_id[j])
      |        - j * (mats.cum_d[w.t + 2] - mats.cum_d[j]))))
      |  FROM walk w, mats WHERE w.t < mats.tl),
      |last AS (SELECT f FROM walk ORDER BY t DESC LIMIT 1)
      |SELECT ser.t AS month_idx, CAST(ser.d AS BIGINT) AS demand,
      |  CAST(last.f[ser.t + 1] AS BIGINT) AS min_cost_to_month
      |FROM ser, last
      |ORDER BY month_idx""".stripMargin

  // ------ q453: Holt–Winters additive seasonal replay + forecast

  /** Plan-time Holt–Winters smoothing weights at e6. */
  val HwAlphaE6 = 200000L
  val HwBetaE6 = 100000L
  val HwGammaE6 = 300000L

  /** q453: additive Holt–Winters — the SEASONAL completion of the
    * filter family (q400 Holt = level+trend, q416 Kalman = optimal
    * level, q439 GARCH = variance): monthly revenue carries a real
    * 12-month cycle, and HW maintains level, trend AND a 12-slot
    * seasonal vector. The recursion is the textbook triple with
    * plan-time weights and the first-year initialization; every
    * update is a signed e6 floor, and the state (l, b, s[12]) rides
    * the LIST-state walk device — driver fold in Spark, recursive
    * CTE carrying the seasonal LIST in the oracle. Output is the
    * 12-month-ahead forecast vector, the shippable artifact.
    *
    * Plan: one orders pass → month rollup → T-step driver fold →
    * 12-row output.
    */
  val q453HoltWinters: Q = (s, dir) => {
    val months = monthlyRevenue(s, dir).orderBy(col("m")).collect()
    val ys = months.map(_.getAs[Long]("y"))
    val t = ys.length
    var l = ys.take(12).sum / 12L
    var b = sdivLong(ys.slice(12, 24).sum / 12L - l, 12L)
    val sArr = Array.tabulate(12)(i => ys(i) - l)
    (13 to t).foreach { tt =>
      val idx = (tt - 1) % 12
      val y = ys(tt - 1)
      val lNew = sdivLong(HwAlphaE6 * (y - sArr(idx)) +
        (1000000L - HwAlphaE6) * (l + b), 1000000L)
      val bNew = sdivLong(HwBetaE6 * (lNew - l) +
        (1000000L - HwBetaE6) * b, 1000000L)
      sArr(idx) = sdivLong(HwGammaE6 * (y - lNew) +
        (1000000L - HwGammaE6) * sArr(idx), 1000000L)
      l = lNew; b = bNew
    }
    import s.implicits._
    (1 to 12).map { h =>
      (h.toLong, l + h * b + sArr((t + h - 1) % 12))
    }.toDF("horizon", "forecast_dollars").orderBy(col("horizon"))
  }

  val q453Sql: String = {
    val a = HwAlphaE6; val bb = HwBetaE6; val g = HwGammaE6
    val lNew = duckSdivE6(s"$a * (s.y - w.sv[(s.t - 1) % 12 + 1])" +
      s" + ${1000000L - a} * (w.l + w.b)")
    s"""WITH RECURSIVE months AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |ser AS (SELECT ROW_NUMBER() OVER (ORDER BY m) AS t, y FROM months),
      |tl AS (SELECT CAST(COUNT(*) AS BIGINT) AS tl FROM ser),
      |init AS (
      |  SELECT
      |    (SELECT SUM(y) FROM ser WHERE t <= 12) // 12 AS l0,
      |    CASE WHEN (SELECT SUM(y) FROM ser WHERE t BETWEEN 13 AND 24)
      |        // 12 - (SELECT SUM(y) FROM ser WHERE t <= 12) // 12 >= 0
      |      THEN 1 ELSE -1 END *
      |    (ABS((SELECT SUM(y) FROM ser WHERE t BETWEEN 13 AND 24) // 12
      |      - (SELECT SUM(y) FROM ser WHERE t <= 12) // 12) // 12) AS b0,
      |    (SELECT list(y - ((SELECT SUM(y2.y) FROM ser y2
      |        WHERE y2.t <= 12) // 12) ORDER BY t)
      |     FROM ser WHERE t <= 12) AS s0),
      |walk AS (
      |  SELECT 12 AS t, l0 AS l, b0 AS b, s0 AS sv FROM init
      |  UNION ALL
      |  SELECT s.t, $lNew, ${duckSdivE6(s"$bb * (($lNew) - w.l)" +
          s" + ${1000000L - bb} * w.b")},
      |    list_transform(range(1, 13), i ->
      |      CASE WHEN i = (s.t - 1) % 12 + 1
      |        THEN ${duckSdivE6(s"$g * (s.y - ($lNew))" +
               s" + ${1000000L - g} * w.sv[(s.t - 1) % 12 + 1]")}
      |        ELSE w.sv[i] END)
      |  FROM walk w
      |  JOIN ser s ON s.t = w.t + 1),
      |last AS (SELECT l, b, sv FROM walk ORDER BY t DESC LIMIT 1)
      |SELECT CAST(h.h AS BIGINT) AS horizon,
      |  CAST(last.l + h.h * last.b
      |    + last.sv[(tl.tl + h.h - 1) % 12 + 1] AS BIGINT)
      |    AS forecast_dollars
      |FROM last, tl, (SELECT UNNEST(range(1, 13)) AS h) h
      |ORDER BY horizon""".stripMargin
  }

  // ------ q454: Dunn's rank-based post-hoc pairwise panel

  /** q454: Dunn's test — the nonparametric POST-HOC q272's
    * Kruskal–Wallis omnibus needs: KW says "the five priority
    * classes differ somewhere", Dunn says WHERE, comparing mean
    * ranks pairwise with the tie-corrected pooled variance and a
    * Bonferroni-guarded cut (q368's Tukey panel is its parametric
    * twin). Doubled mid-ranks keep every rank sum integer on the
    * decile-binned outcome; each z is one IEEE expression over
    * exact group sums.
    *
    * Plan: rides the q441 contingency (one cutpoint pass, one
    * orders pass, ≤ 50-cell rollup) → 10-row pair panel.
    */
  val q454DunnTest: Q = (s, dir) => {
    val cells = priceQuantileCells(s, dir, "g", "b", 10, "c")
    val wAll = Window.orderBy(col("b")).rowsBetween(
      Window.unboundedPreceding, -1)
    val dr = cells.groupBy(col("b")).agg(sum(col("n")).as("tb"))
      .withColumn("below", coalesce(sum(col("tb")).over(wAll), lit(0L)))
      .select(col("b"), col("tb"),
        (col("below") * 2 + col("tb") + 1).as("drv"))
    val gsum = cells.join(dr, Seq("b"))
      .groupBy(col("g"))
      .agg(sum(col("n")).cast(dec).as("ng"),
        sum(col("n").cast(dec) * col("drv")).as("r2"))
      .localCheckpoint()
    val ties = dr.agg(
      sum(col("tb").cast(dec) * col("tb") * col("tb") - col("tb"))
        .as("t3t"),
      sum(col("tb")).cast(dec).as("nn"))
    val a = gsum.select(col("g").as("ga"), col("ng").as("na"),
      col("r2").as("ra"))
    val b2 = gsum.select(col("g").as("gb"), col("ng").as("nb"),
      col("r2").as("rb"))
    val meanGap = (d("ra") / (d("na") * 2.0)) - (d("rb") / (d("nb") * 2.0))
    val varTerm = (d("nn") * (d("nn") + 1.0) / 12.0 -
      d("t3t") / ((d("nn") - 1.0) * 12.0)) *
      (lit(1.0) / d("na") + lit(1.0) / d("nb"))
    val z = meanGap / sqrt(varTerm)
    a.join(b2, col("ga") < col("gb")).crossJoin(broadcast(ties))
      .select(col("ga").as("priority_a"), col("gb").as("priority_b"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        z.as("z_d"),
        when(abs(z) > 2.807, lit("different"))
          .otherwise(lit("not_separated")).as("bonferroni_5pct"))
      .orderBy(col("priority_a"), col("priority_b"))
  }

  val q454Sql: String = {
    val binExpr = (1 to 9).map(i => s"CAST(c > c$i AS INT)").mkString(" + ")
    val meanGap = s"(${dbl("ra")} / (${dbl("na")} * 2.0)" +
      s" - ${dbl("rb")} / (${dbl("nb")} * 2.0))"
    val varTerm = s"((${dbl("nn")} * (${dbl("nn")} + 1.0) / 12.0" +
      s" - ${dbl("t3t")} / ((${dbl("nn")} - 1.0) * 12.0))" +
      s" * (1.0 / ${dbl("na")} + 1.0 / ${dbl("nb")}))"
    val z = s"($meanGap / sqrt($varTerm))"
    s"""WITH ord AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders),
      |by_v AS (SELECT c, COUNT(*) AS cnt FROM ord GROUP BY c),
      |ranked AS (
      |  SELECT c, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |cutrows AS (
      |  SELECT i, c FROM ranked,
      |    (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS i) gi
      |  WHERE below < (n_all * i + 9) // 10
      |    AND (n_all * i + 9) // 10 <= below + cnt),
      |cuts AS (
      |  SELECT ${(1 to 9).map(i =>
          s"MAX(CASE WHEN i = $i THEN c END) AS c$i").mkString(", ")}
      |  FROM cutrows),
      |cells AS (
      |  SELECT g, $binExpr AS b, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ord CROSS JOIN cuts GROUP BY 1, 2),
      |dr AS (
      |  SELECT b, tb,
      |    COALESCE(SUM(tb) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
      |      + tb + 1 AS drv
      |  FROM (SELECT b, SUM(n) AS tb FROM cells GROUP BY b)),
      |gsum AS (
      |  SELECT g, CAST(SUM(n) AS HUGEINT) AS ng,
      |    SUM(CAST(cells.n AS HUGEINT) * dr.drv) AS r2
      |  FROM cells JOIN dr USING (b) GROUP BY g),
      |ties AS (
      |  SELECT SUM(CAST(tb AS HUGEINT) * tb * tb - tb) AS t3t,
      |    CAST(SUM(tb) AS HUGEINT) AS nn
      |  FROM (SELECT b, SUM(n) AS tb FROM cells GROUP BY b))
      |SELECT ga AS priority_a, gb AS priority_b,
      |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  $z AS z_d,
      |  CASE WHEN ABS($z) > 2.807 THEN 'different'
      |    ELSE 'not_separated' END AS bonferroni_5pct
      |FROM (SELECT g AS ga, ng AS na, r2 AS ra FROM gsum) a
      |JOIN (SELECT g AS gb, ng AS nb, r2 AS rb FROM gsum) b2
      |  ON ga < gb
      |CROSS JOIN ties
      |ORDER BY priority_a, priority_b""".stripMargin
  }

  // ------ q456: Bland–Altman agreement analysis between halves

  /** q456: Bland–Altman analysis — the method-comparison companion of
    * q448's CCC, and the one clinicians actually plot: per brand, the
    * DIFFERENCE between the second- and first-half revenue against
    * their mean, summarized by the bias (mean difference, one exact
    * floor), the SD of differences, the 95% limits of agreement
    * bias ± 1.96·SD, and how many brands fall OUTSIDE their own
    * limits — the disagreement census. Differences are exact
    * integers; the limits are one IEEE tree over exact moments, and
    * the outside-count comparison uses the identical expression in
    * both engines.
    *
    * Plan: one lineitem ⋈ orders pass → 25-brand rollup
    * (checkpointed; the limit fold and the census both ride it).
    */
  val q456BlandAltman: Q = (s, dir) => {
    val cells = withBrand(s, dir, linesWithOrder(s, dir, prePeriod))
      .groupBy(col("p_brand").as("brand"))
      .agg(expr("""SUM(CASE WHEN pre = 0 THEN r ELSE -r END)
                  | div 1000""".stripMargin.replace("\n", " ")).as("d"))
      .localCheckpoint()
    val mo = cells.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("d")).cast(dec).as("sd_sum"),
      sum(col("d").cast(dec) * col("d")).as("qdd"))
    def dd(c: String) = col(c).cast("double")
    val sdD = sqrt((dd("qdd") - dd("sd_sum") * dd("sd_sum") / dd("n")) /
      (dd("n") - 1.0))
    val biasD = dd("sd_sum") / dd("n")
    val withLim = cells.crossJoin(broadcast(mo))
      .select(col("n"), col("sd_sum"), col("qdd"), col("d"),
        (abs(dd("d") - biasD) > sdD * 1.96).cast("long").as("outside"))
    withLim.groupBy(col("n"), col("sd_sum"), col("qdd"))
      .agg(sum(col("outside")).as("n_outside"))
      .select(col("n").cast("long").as("n_brands"),
        expr(sdiv("sd_sum * 1000000", "n")).cast("long").as("bias_e6"),
        sdD.as("sd_diff_d"),
        (biasD - sdD * 1.96).as("loa_low_d"),
        (biasD + sdD * 1.96).as("loa_high_d"),
        col("n_outside"))
  }

  val q456Sql: String = {
    val sdD = s"sqrt((${dbl("qdd")} - ${dbl("sd_sum")} * ${dbl("sd_sum")}" +
      s" / ${dbl("n")}) / (${dbl("n")} - 1.0))"
    val biasD = s"(${dbl("sd_sum")} / ${dbl("n")})"
    s"""WITH cells AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(SUM(CASE WHEN o.o_orderdate < DATE '$ShiftShareBreak'
      |      THEN -CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) END)
      |      AS BIGINT) AS dr
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |dd AS (
      |  SELECT brand,
      |    CAST(CASE WHEN dr >= 0 THEN 1 ELSE -1 END *
      |      (ABS(dr) - ABS(dr) % 1000) / 1000 AS BIGINT) AS d
      |  FROM cells),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(d) AS HUGEINT) AS sd_sum,
      |    SUM(CAST(d AS HUGEINT) * d) AS qdd
      |  FROM dd),
      |census AS (
      |  SELECT SUM(CASE WHEN ABS(${dbl("d")} - $biasD) > $sdD * 1.96
      |    THEN 1 ELSE 0 END) AS n_outside
      |  FROM dd CROSS JOIN mo)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |  CAST(CASE WHEN sd_sum >= 0 THEN 1 ELSE -1 END *
      |    (ABS(sd_sum * 1000000) // n) AS BIGINT) AS bias_e6,
      |  $sdD AS sd_diff_d,
      |  ($biasD - $sdD * 1.96) AS loa_low_d,
      |  ($biasD + $sdD * 1.96) AS loa_high_d,
      |  CAST(n_outside AS BIGINT) AS n_outside
      |FROM mo CROSS JOIN census""".stripMargin
  }

  // ------ q457: Deming errors-in-variables regression

  /** q457: Deming regression (λ = 1) — when BOTH variables carry
    * error, OLS (q154) attenuates the slope toward zero; Deming's
    * orthogonal fit β = (D_y − D_x + √((D_y−D_x)² + 4C²)) / (2C) is
    * the maximum-likelihood errors-in-variables slope and the
    * standard method-comparison line next to q456's Bland–Altman.
    * The n-cleared co-moments share one n² scale, so β is one fixed
    * IEEE tree over exact integers, shown against the OLS slope —
    * the attenuation gap IS the measurement-error diagnostic.
    *
    * Plan: rides the q448 brand half-pair rollup — one fact pass,
    * 1-row fold.
    */
  val q457Deming: Q = (s, dir) => {
    val mo = brandPeriodMoments(s, dir)
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("qxx") - col("sx") * col("sx")).as("dx"),
        (col("n") * col("qyy") - col("sy") * col("sy")).as("dy"),
        (col("n") * col("qxy") - col("sx") * col("sy")).as("cxy"))
    val beta = (d("dy") - d("dx") +
      sqrt((d("dy") - d("dx")) * (d("dy") - d("dx")) +
        d("cxy") * d("cxy") * 4.0)) / (d("cxy") * 2.0)
    val alpha = (d("sy") - beta * d("sx")) / d("n")
    mo.select(col("n").cast("long").as("n_brands"),
      beta.as("deming_slope_d"),
      alpha.as("deming_intercept_d"),
      expr(sdiv("cxy * 1000000", "dx")).cast("long").as("beta_ols_e6"))
  }

  val q457Sql: String = {
    val beta = s"((${dbl("dy")} - ${dbl("dx")} + sqrt((${dbl("dy")} - " +
      s"${dbl("dx")}) * (${dbl("dy")} - ${dbl("dx")}) + ${dbl("cxy")} * " +
      s"${dbl("cxy")} * 4.0)) / (${dbl("cxy")} * 2.0))"
    s"""WITH cells AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(SUM(CASE WHEN o.o_orderdate < DATE '$ShiftShareBreak'
      |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) // 1000 AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN o.o_orderdate >= DATE '$ShiftShareBreak'
      |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
      |      ELSE 0 END) // 1000 AS BIGINT) AS y
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
      |      - SUM(x) * SUM(x) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(y AS HUGEINT) * y)
      |      - SUM(y) * SUM(y) AS dy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * y)
      |      - SUM(x) * SUM(y) AS cxy
      |  FROM cells)
      |SELECT CAST(n AS BIGINT) AS n_brands,
      |  $beta AS deming_slope_d,
      |  ((${dbl("sy")} - $beta * ${dbl("sx")}) / ${dbl("n")})
      |    AS deming_intercept_d,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx) AS BIGINT) AS beta_ols_e6
      |FROM mo""".stripMargin
  }

  // ------ q458: Theta-method forecast of monthly revenue

  /** Theta-method SES weight (α = 0.5) and forecast horizon. */
  val ThetaSesAlphaE6 = 500000L
  val ThetaHorizon = 6

  /** q458: the Theta method (Assimakopoulos & Nikolopoulos 2000, the
    * M3 competition winner) — the counter-intuitively strong
    * forecaster the filter family (q400/q416/q453) should be judged
    * against: decompose the series into the θ=0 line (the pure
    * linear trend) and the θ=2 line (2y − trend, doubled
    * curvature), forecast the first by extrapolation and the second
    * by simple exponential smoothing, and average. Trend values are
    * exact e6 floors of the OLS determinants (the q445 device), the
    * θ₂ series is exact integer, the SES walk is one signed floor
    * per month (driver fold + recursive-CTE oracle), and each
    * horizon forecast is one final floor.
    *
    * Plan: one orders pass → month rollup → T-step driver fold →
    * [[ThetaHorizon]]-row output.
    */
  val q458ThetaMethod: Q = (s, dir) => {
    val months = monthlyRevenue(s, dir).orderBy(col("m")).collect()
    val ys = months.map(_.getAs[Long]("y"))
    val t = ys.length.toLong
    val n = BigInt(t); val st = ys.indices.map(i => BigInt(i + 1)).sum
    val sy = ys.map(BigInt(_)).sum
    val qtt = ys.indices.map(i => BigInt(i + 1) * (i + 1)).sum
    val qty = ys.zipWithIndex.map { case (y, i) => BigInt(i + 1) * y }.sum
    val dx = n * qtt - st * st
    val cxy = n * qty - st * sy
    val alphaE6 = sdivLong((sy * dx - cxy * st) * 1000000L, n * dx)
    def trendE6(tt: Long): Long =
      alphaE6 + sdivLong(cxy * tt * 1000000L, dx)
    var l = 2L * ys.head * 1000000L - trendE6(1L) // SES seeded at z_1
    (2 to t.toInt).foreach { tt =>
      val z = 2L * ys(tt - 1) * 1000000L - trendE6(tt.toLong)
      val num = BigInt(ThetaSesAlphaE6) * z +
        BigInt(1000000L - ThetaSesAlphaE6) * l
      l = sdivLong(num, BigInt(1000000L))
    }
    import s.implicits._
    (1 to ThetaHorizon).map { h =>
      val f = BigInt(trendE6(t + h)) + BigInt(l)
      (h.toLong, sdivLong(f, BigInt(2L)))
    }.toDF("horizon", "forecast_e6").orderBy(col("horizon"))
  }

  val q458Sql: String = {
    val a = ThetaSesAlphaE6
    s"""WITH RECURSIVE months AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |ser AS (SELECT ROW_NUMBER() OVER (ORDER BY m) AS t, y FROM months),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(t) AS HUGEINT) AS st, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
      |      - CAST(SUM(t) AS HUGEINT) * SUM(t) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * y)
      |      - CAST(SUM(t) AS HUGEINT) * SUM(y) AS cxy
      |  FROM ser),
      |ab AS (
      |  SELECT n, dx, cxy,
      |    CASE WHEN sy * dx - cxy * st >= 0 THEN 1 ELSE -1 END *
      |      (ABS((sy * dx - cxy * st) * 1000000) // (n * dx)) AS alpha_e6
      |  FROM mo),
      |z AS (
      |  SELECT ser.t,
      |    2 * CAST(ser.y AS HUGEINT) * 1000000
      |      - (ab.alpha_e6 + CASE WHEN ab.cxy * ser.t >= 0
      |          THEN 1 ELSE -1 END *
      |          (ABS(ab.cxy * ser.t * 1000000) // ab.dx)) AS zv
      |  FROM ser CROSS JOIN ab),
      |walk AS (
      |  SELECT 1 AS t, zv AS l FROM z WHERE t = 1
      |  UNION ALL
      |  SELECT s.t,
      |    CASE WHEN $a * s.zv + ${1000000L - a} * w.l >= 0
      |      THEN 1 ELSE -1 END *
      |    (ABS($a * s.zv + ${1000000L - a} * w.l) // 1000000)
      |  FROM walk w JOIN z s ON s.t = w.t + 1),
      |last AS (SELECT l FROM walk ORDER BY t DESC LIMIT 1)
      |SELECT CAST(h.h AS BIGINT) AS horizon,
      |  CAST(CASE WHEN (ab.alpha_e6 +
      |      CASE WHEN ab.cxy * (mo2.tl + h.h) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(ab.cxy * (mo2.tl + h.h) * 1000000) // ab.dx)) + last.l
      |      >= 0 THEN 1 ELSE -1 END *
      |    (ABS((ab.alpha_e6 +
      |      CASE WHEN ab.cxy * (mo2.tl + h.h) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(ab.cxy * (mo2.tl + h.h) * 1000000) // ab.dx)) + last.l)
      |      // 2) AS BIGINT) AS forecast_e6
      |FROM last, ab,
      |  (SELECT CAST(COUNT(*) AS HUGEINT) AS tl FROM ser) mo2,
      |  (SELECT UNNEST(range(1, ${ThetaHorizon + 1})) AS h) h
      |ORDER BY horizon""".stripMargin
  }

  // ------ q459: Bühlmann–Straub credibility premiums

  /** q459: Bühlmann–Straub credibility — the actuarial answer to the
    * question q354's EB shrinkage answers for binomials, posed for
    * CONTINUOUS per-nation monthly revenue: how much should a
    * nation's own history count against the collective mean? The
    * variance components (EPV within, VHM between) come from the
    * classical unbiased estimators; every per-nation term is staged
    * as ONE e6 integer floor (so the cross-engine sum order cannot
    * matter), and the credibility weight Z = m/(m+k) and premium
    * Z·ȳᵢ + (1−Z)·ȳ finish as one fixed IEEE tree per nation.
    *
    * Plan: one orders pass → (nation, month) rollup → per-nation
    * fold (metadata) → scalar k broadcast → 25-row premium panel.
    */
  val q459Buhlmann: Q = (s, dir) => {
    val panel = ordersWithNation(s, dir)
      .groupBy(col("c_nationkey").cast("long").as("nat"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100")
        .as("y"))
    val perNat = panel.groupBy(col("nat"))
      .agg(count(lit(1)).cast(dec).as("mi"),
        sum(col("y")).cast(dec).as("syi"),
        sum(col("y").cast(dec) * col("y")).as("qyyi"))
      .localCheckpoint()
    val tot = perNat.agg(count(lit(1)).cast(dec).as("g"),
      sum(col("mi")).as("mm"), sum(col("syi")).as("ss"),
      sum(col("mi") * col("mi")).as("m2"))
    val staged = perNat.crossJoin(broadcast(tot))
      .select(col("nat"), col("mi"), col("syi"), col("g"), col("mm"),
        col("ss"), col("m2"),
        expr(fdiv("(mi * qyyi - syi * syi) * 1000000", "mi")).as("epv_t"),
        expr(fdiv("(syi * mm - mi * ss) * (syi * mm - mi * ss) * 1000000",
          "mi")).as("bt"))
    val scal = staged.groupBy(col("g"), col("mm"), col("ss"), col("m2"))
      .agg(sum(col("epv_t")).as("sepv"), sum(col("bt")).as("sbt"))
    val epvD = d("sepv") / ((d("mm") - d("g")) * 1e6)
    val bD = d("sbt") / (d("mm") * d("mm") * 1e6)
    val vhmD = (bD - (d("g") - 1.0) * epvD) /
      (d("mm") - d("m2") / d("mm"))
    val kD = epvD / vhmD
    staged.select(col("nat"), col("mi"), col("syi"), col("mm"), col("ss"))
      .crossJoin(broadcast(scal.select(col("g"), col("mm").as("mm2"),
        col("m2"), col("sepv"), col("sbt"))))
      .withColumn("k_d", kD.as("k_d"))
      .select(col("nat").as("nation"), col("mi").cast("long")
        .as("n_months"),
        expr(fdiv("syi * 1000000", "mi")).cast("long").as("own_mean_e6"),
        (d("mi") / (d("mi") + col("k_d"))).as("z_d"),
        ((d("mi") / (d("mi") + col("k_d"))) * (d("syi") / d("mi")) +
          (lit(1.0) - d("mi") / (d("mi") + col("k_d"))) *
            (d("ss") / d("mm"))).as("premium_d"))
      .orderBy(col("nation"))
  }

  val q459Sql: String = {
    val epvD = s"(${dbl("sepv")} / ((${dbl("mm2")} - ${dbl("g")}) * 1e6))"
    val bD = s"(${dbl("sbt")} / (${dbl("mm2")} * ${dbl("mm2")} * 1e6))"
    val vhmD = s"(($bD - (${dbl("g")} - 1.0) * $epvD)" +
      s" / (${dbl("mm2")} - ${dbl("m2")} / ${dbl("mm2")}))"
    val kD = s"($epvD / $vhmD)"
    val zD = s"(${dbl("mi")} / (${dbl("mi")} + k_d))"
    s"""WITH panel AS (
      |  SELECT c.c_nationkey AS nat,
      |    year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |per_nat AS (
      |  SELECT nat, CAST(COUNT(*) AS HUGEINT) AS mi,
      |    CAST(SUM(y) AS HUGEINT) AS syi,
      |    SUM(CAST(y AS HUGEINT) * y) AS qyyi
      |  FROM panel GROUP BY nat),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS g, SUM(mi) AS mm,
      |    SUM(syi) AS ss, SUM(mi * mi) AS m2
      |  FROM per_nat),
      |staged AS (
      |  SELECT nat, mi, syi, g, mm, ss, m2,
      |    (mi * qyyi - syi * syi) * 1000000 // mi AS epv_t,
      |    (syi * mm - mi * ss) * (syi * mm - mi * ss) * 1000000 // mi
      |      AS bt
      |  FROM per_nat CROSS JOIN tot),
      |scal AS (
      |  SELECT ANY_VALUE(g) AS g, ANY_VALUE(mm) AS mm2,
      |    ANY_VALUE(m2) AS m2, SUM(epv_t) AS sepv, SUM(bt) AS sbt
      |  FROM staged),
      |kv AS (SELECT $kD AS k_d FROM scal)
      |SELECT st.nat AS nation, CAST(st.mi AS BIGINT) AS n_months,
      |  CAST(st.syi * 1000000 // st.mi AS BIGINT) AS own_mean_e6,
      |  $zD AS z_d,
      |  ($zD * (${dbl("syi")} / ${dbl("mi")})
      |    + (1.0 - $zD) * (${dbl("ss")} / ${dbl("mm")})) AS premium_d
      |FROM staged st CROSS JOIN kv
      |ORDER BY nation""".stripMargin
  }

  // ------ q460: Rayleigh test of seasonal uniformity

  /** Plan-time unit-circle table for the 12 calendar months:
    * cos/sin(2π(m−1)/12)·10⁶ (plan-build libm, the q420 trig-table
    * device).
    */
  val MonthCosE6: IndexedSeq[Long] =
    (0 until 12).map(i => math.round(math.cos(2 * math.Pi * i / 12) * 1e6))
  val MonthSinE6: IndexedSeq[Long] =
    (0 until 12).map(i => math.round(math.sin(2 * math.Pi * i / 12) * 1e6))

  /** q460: the Rayleigh test — DIRECTIONAL statistics for
    * seasonality, where q121's calendar profile only eyeballs it: map
    * the 12 calendar months onto the unit circle (plan-time trig
    * table, q420's device), fold the exact resultant vector (C, S)
    * of monthly order counts, and test uniformity with
    * z = n·R̄² = (C²+S²)/(n·10¹²), whose null tail is ≈ e^(−z) (5%
    * cut = ln 20). The peak season needs atan2 — NOT bit-portable —
    * so instead the mean direction is reported as the ARGMAX month
    * of the integer projection C·cos_m + S·sin_m: pure integer
    * arithmetic, same answer both engines.
    *
    * Plan: one orders pass → 12-row month rollup ⋈ broadcast trig
    * table → 1-row fold.
    */
  val q460Rayleigh: Q = (s, dir) => {
    val trig = s.createDataFrame((1 to 12).map(m =>
      (m.toLong, MonthCosE6(m - 1), MonthSinE6(m - 1))))
      .toDF("mo", "cos_e6", "sin_e6")
    val counts = Tables.orders(s, dir)
      .groupBy(expr("month(o_orderdate)").cast("long").as("mo"))
      .agg(count(lit(1)).as("nm"))
      .join(broadcast(trig), Seq("mo"))
      .localCheckpoint()
    val fold = counts.agg(sum(col("nm")).cast(dec).as("n"),
      sum(col("nm").cast(dec) * col("cos_e6")).as("cc"),
      sum(col("nm").cast(dec) * col("sin_e6")).as("ss"))
    val z = (d("cc") * d("cc") + d("ss") * d("ss")) / (d("n") * 1e12)
    val peak = counts.crossJoin(broadcast(fold))
      .select(col("mo"),
        (col("cc") * col("cos_e6") + col("ss") * col("sin_e6"))
          .as("proj"))
      .orderBy(col("proj").desc, col("mo")).limit(1)
      .select(col("mo").as("peak_month"))
    fold.crossJoin(broadcast(peak))
      .select(col("n").cast("long").as("n_orders"),
        col("cc").cast("long").as("c_e6"),
        col("ss").cast("long").as("s_e6"),
        z.as("rayleigh_z_d"),
        col("peak_month"),
        when(z > 2.9957, lit("seasonal")).otherwise(lit("uniform"))
          .as("verdict_5pct"))
  }

  val q460Sql: String = {
    val trig = (1 to 12).map(m =>
      s"($m, ${MonthCosE6(m - 1)}, ${MonthSinE6(m - 1)})").mkString(", ")
    val z = s"((${dbl("cc")} * ${dbl("cc")} + ${dbl("ss")} * ${dbl("ss")})" +
      s" / (${dbl("n")} * 1e12))"
    s"""WITH trig(mo, cos_e6, sin_e6) AS (VALUES $trig),
      |counts AS (
      |  SELECT month(o_orderdate) AS mo, CAST(COUNT(*) AS BIGINT) AS nm
      |  FROM orders GROUP BY 1),
      |joined AS (
      |  SELECT c.mo, c.nm, t.cos_e6, t.sin_e6
      |  FROM counts c JOIN trig t ON t.mo = c.mo),
      |fold AS (
      |  SELECT CAST(SUM(nm) AS HUGEINT) AS n,
      |    SUM(CAST(nm AS HUGEINT) * cos_e6) AS cc,
      |    SUM(CAST(nm AS HUGEINT) * sin_e6) AS ss
      |  FROM joined),
      |peak AS (
      |  SELECT j.mo AS peak_month
      |  FROM joined j CROSS JOIN fold
      |  ORDER BY cc * j.cos_e6 + ss * j.sin_e6 DESC, j.mo LIMIT 1)
      |SELECT CAST(n AS BIGINT) AS n_orders, CAST(cc AS BIGINT) AS c_e6,
      |  CAST(ss AS BIGINT) AS s_e6,
      |  $z AS rayleigh_z_d,
      |  CAST(peak_month AS BIGINT) AS peak_month,
      |  CASE WHEN $z > 2.9957 THEN 'seasonal' ELSE 'uniform' END
      |    AS verdict_5pct
      |FROM fold CROSS JOIN peak""".stripMargin
  }

  // ------ q461: Banzhaf and Shapley–Shubik voting power indices

  /** Number of weighted voters for the power-index audit. */
  val PowerG = 8

  /** q461: weighted-voting power indices — cooperative game theory
    * on the supplier concentration question q172's HHI only scores:
    * with the top-[[PowerG]] suppliers as voters weighted by revenue
    * and a majority quota, a supplier's MARKET POWER is not its
    * share but how often it SWINGS a coalition. Banzhaf counts
    * swings uniformly; Shapley–Shubik weights them by coalition size
    * through (s−1)!(G−s)!/G! — the [[FactTable]] literals again. The
    * full 2⁸ coalition lattice is a 255-row broadcast spine crossed
    * with the 8-row voter panel — pure relational enumeration, no
    * driver fold, identical in both engines, everything exact
    * integers.
    *
    * Plan: one lineitem pass → supplier rollup → top-8 → 255×8
    * metadata lattice → 8-row index panel.
    */
  val q461PowerIndices: Q = (s, dir) => {
    val g = PowerG
    val voters = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").cast("long").as("sk"))
      .agg(expr("SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))" +
        " div 1000").as("w"))
      .orderBy(col("w").desc, col("sk")).limit(g)
      .withColumn("si", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("w").desc, col("sk"))).cast("long"))
      .localCheckpoint()
    val quota = voters.agg(expr("SUM(w) div 2 + 1").cast("long").as("q"))
    val masks = s.range(1L, (1L << g)).select(col("id").as("mask"))
    val lattice = masks.crossJoin(broadcast(voters))
      .withColumn("inm", expr("(mask div CAST(pow(2, si - 1) AS BIGINT))" +
        " % 2"))
    val byMask = lattice.groupBy(col("mask"))
      .agg(sum(when(col("inm") === 1L, col("w")).otherwise(0L)).as("cw"),
        sum(col("inm")).as("sz"))
    val swings = lattice.filter(col("inm") === 1L)
      .join(broadcast(byMask), Seq("mask"))
      .crossJoin(broadcast(quota))
      .filter(col("cw") >= col("q") && col("cw") - col("w") < col("q"))
    val factDf = s.createDataFrame((0 to g).map(i =>
      (i.toLong, FactTable(i).toLong))).toDF("i", "f")
    val perVoter = swings
      .join(broadcast(factDf.select(col("i").as("szm1"), col("f")
        .as("f1"))), col("sz") - 1 === col("szm1"))
      .join(broadcast(factDf.select(col("i").as("gmsz"), col("f")
        .as("f2"))), lit(g.toLong) - col("sz") === col("gmsz"))
      .groupBy(col("si"), col("sk"), col("w"))
      .agg(count(lit(1)).as("n_swings"),
        sum(col("f1").cast(dec) * col("f2")).as("ss_num"))
    val totSwings = perVoter.agg(sum(col("n_swings")).as("tot"))
    perVoter.crossJoin(broadcast(totSwings))
      .select(col("si").as("voter_rank"), col("sk").as("suppkey"),
        col("w").as("weight"), col("n_swings"),
        expr("CAST(n_swings * 1000000 div tot AS BIGINT)")
          .as("banzhaf_e6"),
        expr(fdiv(s"ss_num * 1000000", FactTable(g).toLong.toString))
          .cast("long").as("shapley_shubik_e6"))
      .orderBy(col("voter_rank"))
  }

  val q461Sql: String = {
    val g = PowerG
    // CASE ladders instead of correlated scalar subqueries over a
    // VALUES CTE: correlated lookups into VALUES inside an aggregate
    // are not portable across DuckDB releases (driver-gate hash
    // mismatch in round 4); a plan-time CASE over sz is.
    def factCase(arg: String) = s"CASE $arg " + (0 to g)
      .map(i => s"WHEN $i THEN ${FactTable(i)}")
      .mkString(" ") + " ELSE 0 END"
    s"""WITH voters AS (
      |  SELECT sk, w, ROW_NUMBER() OVER (ORDER BY w DESC, sk) AS si
      |  FROM (
      |    SELECT CAST(l_suppkey AS BIGINT) AS sk,
      |      SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) // 1000
      |        AS w
      |    FROM lineitem GROUP BY 1
      |    ORDER BY w DESC, sk LIMIT $g)),
      |quota AS (SELECT SUM(w) // 2 + 1 AS q FROM voters),
      |masks AS (SELECT UNNEST(range(1, ${1L << g})) AS mask),
      |lattice AS (
      |  SELECT m.mask, v.si, v.sk, v.w,
      |    (m.mask // CAST(pow(2, v.si - 1) AS BIGINT)) % 2 AS inm
      |  FROM masks m CROSS JOIN voters v),
      |by_mask AS (
      |  SELECT mask,
      |    SUM(CASE WHEN inm = 1 THEN w ELSE 0 END) AS cw,
      |    CAST(SUM(inm) AS BIGINT) AS sz
      |  FROM lattice GROUP BY mask),
      |swings AS (
      |  SELECT l.si, l.sk, l.w, b.sz
      |  FROM lattice l
      |  JOIN by_mask b USING (mask)
      |  CROSS JOIN quota
      |  WHERE l.inm = 1 AND b.cw >= q AND b.cw - l.w < q),
      |per_voter AS (
      |  SELECT si, sk, w, CAST(COUNT(*) AS BIGINT) AS n_swings,
      |    SUM(CAST(${factCase("sz - 1")} AS HUGEINT) *
      |        (${factCase(s"$g - sz")}))
      |      AS ss_num
      |  FROM swings GROUP BY si, sk, w),
      |tot AS (SELECT SUM(n_swings) AS tot FROM per_voter)
      |SELECT si AS voter_rank, sk AS suppkey,
      |  CAST(w AS BIGINT) AS weight, n_swings,
      |  CAST(n_swings * 1000000 // tot AS BIGINT) AS banzhaf_e6,
      |  CAST(ss_num * 1000000 // ${FactTable(g)} AS BIGINT)
      |    AS shapley_shubik_e6
      |FROM per_voter CROSS JOIN tot
      |ORDER BY voter_rank""".stripMargin
  }

  // ------ q462: Bornhuetter–Ferguson blended reserving backtest

  /** q462: the Bornhuetter–Ferguson method — the reserving blend that
    * fixes chain-ladder's (q418) leverage problem: for green cohorts
    * CL multiplies a tiny observed base by a huge factor product,
    * while BF adds the UNREPORTED share q = 1 − 1/CDF of an exposure-
    * based prior (dev-0 revenue × the expected ultimate-to-dev0 ratio
    * taken from the oldest, fully developed cohort). Same masked
    * triangle, same plan-time factor ladder, one extra e6 ladder for
    * the CDF seeded at 10⁶ — and the backtest reports CL error and
    * BF error side by side per cohort, so the variance-bias trade is
    * visible in-output.
    *
    * Plan: rides q418's construction — one fact-orders shuffle,
    * dense-grid windows per cohort, metadata folds after.
    */
  val q462BornhuetterFerguson: Q = (s, dir) => {
    val cells = runOffCells(s, dir)
    val maxY = cells.agg(max(col("oy")).as("max_y"),
      min(col("oy")).as("min_y"))
    val (cum, fRow) = chainLadder(s, cells, maxY)
    val latest = cum.filter(col("dev") === col("max_y") - col("oy"))
      .select(col("oy"), col("dev").as("latest_dev"),
        col("c").as("latest_c"))
    val base0 = cum.filter(col("dev") === 0)
      .select(col("oy"), col("c").as("c0"))
    val actual = cum.groupBy(col("oy")).agg(max(col("c")).as("actual_ult"))
    // expected loss ratio from the OLDEST (fully developed) cohort
    val elr = actual.join(base0, Seq("oy"))
      .crossJoin(broadcast(maxY)).filter(col("oy") === col("min_y"))
      .select(expr(fdiv("actual_ult * 1000000", "c0")).as("elr_e6"))
    var proj = latest.crossJoin(broadcast(fRow))
      .withColumn("ult", col("latest_c").cast("decimal(38,0)"))
      .withColumn("cdf", lit(1000000L).cast("decimal(38,0)"))
    for (k <- 0 until ClMaxDev) {
      proj = proj
        .withColumn("ult", when(col("latest_dev") <= k,
          expr(fdiv(s"ult * f_$k", "1000000"))).otherwise(col("ult")))
        .withColumn("cdf", when(col("latest_dev") <= k,
          expr(fdiv(s"cdf * f_$k", "1000000"))).otherwise(col("cdf")))
    }
    proj.join(base0, Seq("oy")).join(actual, Seq("oy"))
      .crossJoin(broadcast(elr))
      .withColumn("prior", expr(fdiv("c0 * elr_e6", "1000000")))
      .withColumn("q_e6",
        lit(1000000L) - expr(fdiv("1000000000000", "cdf")))
      .withColumn("bf_ult",
        col("latest_c") + expr(fdiv("prior * q_e6", "1000000")))
      .select(col("oy").as("order_year"), col("latest_dev"),
        col("ult").cast("long").as("cl_ult_cents"),
        col("bf_ult").cast("long").as("bf_ult_cents"),
        col("actual_ult").cast("long").as("actual_ult_cents"),
        expr(sdivBigint("(ult - actual_ult) * 1000000", "actual_ult"))
          .as("cl_err_e6"),
        expr(sdivBigint("(bf_ult - actual_ult) * 1000000", "actual_ult"))
          .as("bf_err_e6"))
      .orderBy(col("order_year"))
  }

  val q462Sql: String = {
    val steps = (0 until ClMaxDev).map { k =>
      val prev = if (k == 0) "p_init" else s"p${k - 1}"
      s"""p$k AS (SELECT * REPLACE (
         |  CASE WHEN latest_dev <= $k THEN (ult * f[${k + 1}]) // 1000000
         |    ELSE ult END AS ult,
         |  CASE WHEN latest_dev <= $k THEN (cdf * f[${k + 1}]) // 1000000
         |    ELSE cdf END AS cdf)
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS (
      |  SELECT year(o.o_orderdate) AS oy,
      |    year(l.l_shipdate) - year(o.o_orderdate) AS dev,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
      |      AS HUGEINT) AS v
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  WHERE year(l.l_shipdate) >= year(o.o_orderdate)
      |  GROUP BY 1, 2),
      |years AS (SELECT DISTINCT oy FROM cells),
      |my AS (SELECT MAX(oy) AS max_y, MIN(oy) AS min_y FROM cells),
      |dense AS (
      |  SELECT y.oy, d.dev, COALESCE(c.v, 0) AS v
      |  FROM years y
      |  CROSS JOIN (SELECT UNNEST(range(0, $ClMaxDev)) AS dev) d
      |  LEFT JOIN cells c ON c.oy = y.oy AND c.dev = d.dev),
      |cum0 AS (
      |  SELECT oy, dev,
      |    SUM(v) OVER (PARTITION BY oy ORDER BY dev
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM dense),
      |cum AS (
      |  SELECT oy, dev, c,
      |    LEAD(c, 1) OVER (PARTITION BY oy ORDER BY dev) AS cn
      |  FROM cum0),
      |factors AS (
      |  SELECT cum.dev,
      |    SUM(cn) * 1000000 // SUM(c) AS f_e6
      |  FROM cum CROSS JOIN my
      |  WHERE oy + dev + 1 <= max_y AND cn IS NOT NULL AND c > 0
      |  GROUP BY cum.dev),
      |frow AS (
      |  SELECT list(fe ORDER BY dev) AS f FROM (
      |    SELECT d.dev, COALESCE(fx.f_e6, CAST(1000000 AS HUGEINT)) AS fe
      |    FROM (SELECT UNNEST(range(0, $ClMaxDev)) AS dev) d
      |    LEFT JOIN factors fx ON fx.dev = d.dev)),
      |latest AS (
      |  SELECT oy, dev AS latest_dev, c AS latest_c
      |  FROM cum CROSS JOIN my WHERE dev = max_y - oy),
      |base0 AS (SELECT oy, c AS c0 FROM cum WHERE dev = 0),
      |actual AS (SELECT oy, MAX(c) AS actual_ult FROM cum GROUP BY oy),
      |elr AS (
      |  SELECT a.actual_ult * 1000000 // b.c0 AS elr_e6
      |  FROM actual a JOIN base0 b USING (oy) CROSS JOIN my
      |  WHERE a.oy = min_y),
      |p_init AS (
      |  SELECT l.oy, l.latest_dev, l.latest_c,
      |    CAST(l.latest_c AS HUGEINT) AS ult,
      |    CAST(1000000 AS HUGEINT) AS cdf, f
      |  FROM latest l CROSS JOIN frow),
      |$steps
      |SELECT p.oy AS order_year, p.latest_dev,
      |  CAST(p.ult AS BIGINT) AS cl_ult_cents,
      |  CAST(p.latest_c + (b.c0 * e.elr_e6 // 1000000)
      |    * (1000000 - 1000000000000 // p.cdf) // 1000000 AS BIGINT)
      |    AS bf_ult_cents,
      |  CAST(a.actual_ult AS BIGINT) AS actual_ult_cents,
      |  CAST(CASE WHEN p.ult - a.actual_ult >= 0 THEN 1 ELSE -1 END *
      |    (ABS((p.ult - a.actual_ult) * 1000000) // a.actual_ult)
      |    AS BIGINT) AS cl_err_e6,
      |  CAST(CASE WHEN p.latest_c + (b.c0 * e.elr_e6 // 1000000)
      |      * (1000000 - 1000000000000 // p.cdf) // 1000000
      |      - a.actual_ult >= 0 THEN 1 ELSE -1 END *
      |    (ABS((p.latest_c + (b.c0 * e.elr_e6 // 1000000)
      |      * (1000000 - 1000000000000 // p.cdf) // 1000000
      |      - a.actual_ult) * 1000000) // a.actual_ult) AS BIGINT)
      |    AS bf_err_e6
      |FROM p${ClMaxDev - 1} p
      |JOIN base0 b USING (oy)
      |JOIN actual a USING (oy)
      |CROSS JOIN elr e
      |ORDER BY order_year""".stripMargin
  }

  // ------ q463: social-choice panel over the monthly brand ballots

  /** q463: social-choice aggregation — the twelve calendar months
    * rank the brands by revenue (q442 measured whether they AGREE;
    * this asks who should WIN): plurality (first places), the Borda
    * count (positional), the Copeland score (pairwise-majority wins
    * minus losses) and the Condorcet-winner certificate (beats every
    * rival head-to-head). The three rules disagree in general —
    * reporting them side by side on the same ballots is the point.
    * Ballots are deterministic total orders, so every score is exact
    * integer counting on the (month, brand) rollup and its ≤ 12·k²
    * metadata pair join.
    *
    * Plan: one lineitem ⋈ orders pass → (month, brand) rollup →
    * bounded rank windows → metadata pair fold.
    */
  val q463SocialChoice: Q = (s, dir) => {
    val mb = brandRevenueByMonth(s, dir)
    val ranked = mb.withColumn("rk",
      row_number().over(Window.partitionBy(col("mo"))
        .orderBy(col("rev").desc, col("brand"))).cast("long"))
      .localCheckpoint()
    val k = ranked.agg(countDistinct(col("brand")).as("k"))
    val positional = ranked.crossJoin(broadcast(k))
      .groupBy(col("brand"), col("k"))
      .agg(sum(col("k") - col("rk")).as("borda"),
        sum(when(col("rk") === 1L, 1L).otherwise(0L)).as("plurality"))
    val a = ranked.select(col("mo"), col("brand").as("ba"),
      col("rk").as("ra"))
    val b = ranked.select(col("mo"), col("brand").as("bb"),
      col("rk").as("rb"))
    val duels = a.join(b, Seq("mo")).filter(col("ba") =!= col("bb"))
      .groupBy(col("ba"), col("bb"))
      .agg(sum(when(col("ra") < col("rb"), 1L).otherwise(0L)).as("w"),
        count(lit(1)).as("nm"))
    val copeland = duels
      .groupBy(col("ba").as("brand"))
      .agg(sum(when(col("w") * 2 > col("nm"), 1L)
        .when(col("w") * 2 < col("nm"), -1L).otherwise(0L))
        .as("copeland"),
        sum(when(col("w") * 2 > col("nm"), 1L).otherwise(0L))
          .as("pairwise_wins"))
    positional.join(copeland, Seq("brand"))
      .select(col("brand"), col("plurality"), col("borda"),
        col("copeland"), col("pairwise_wins"),
        (col("pairwise_wins") === col("k") - 1).cast("long")
          .as("is_condorcet_winner"))
      .orderBy(col("borda").desc, col("brand"))
  }

  val q463Sql: String =
    """WITH mb AS (
      |  SELECT month(o.o_orderdate) AS mo, p.p_brand AS brand,
      |    SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS rev
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT mo, brand,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY mo
      |      ORDER BY rev DESC, brand) AS BIGINT) AS rk
      |  FROM mb),
      |kk AS (SELECT CAST(COUNT(DISTINCT brand) AS BIGINT) AS k
      |       FROM ranked),
      |pos_scores AS (
      |  SELECT brand, ANY_VALUE(k) AS k,
      |    CAST(SUM(k - rk) AS BIGINT) AS borda,
      |    CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS plurality
      |  FROM ranked CROSS JOIN kk GROUP BY brand),
      |duels AS (
      |  SELECT a.brand AS ba, b.brand AS bb,
      |    SUM(CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END) AS w,
      |    COUNT(*) AS nm
      |  FROM ranked a JOIN ranked b
      |    ON b.mo = a.mo AND a.brand <> b.brand
      |  GROUP BY 1, 2),
      |copeland AS (
      |  SELECT ba AS brand,
      |    CAST(SUM(CASE WHEN w * 2 > nm THEN 1
      |      WHEN w * 2 < nm THEN -1 ELSE 0 END) AS BIGINT) AS copeland,
      |    CAST(SUM(CASE WHEN w * 2 > nm THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pairwise_wins
      |  FROM duels GROUP BY ba)
      |SELECT p.brand, p.plurality, p.borda, c.copeland, c.pairwise_wins,
      |  CAST(CASE WHEN c.pairwise_wins = p.k - 1 THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_condorcet_winner
      |FROM pos_scores p JOIN copeland c ON c.brand = p.brand
      |ORDER BY borda DESC, p.brand""".stripMargin

  // ------ q464: concentration index and Kakwani-style progressivity

  /** Each ordering customer's total order revenue `y` in whole units
    * (integer cents `div 100`), keyed by o_custkey.
    */
  private def revenueByCustomer(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(
        expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) div 100")
          .as("y"))

  /** q464: the health-economics concentration index — q160's Gini
    * ranks spend BY ITSELF; the concentration index ranks customer
    * spend by a DIFFERENT welfare variable (account balance), so it
    * measures whether revenue concentrates among the wealthy, and
    * the Kakwani-style gap CI − Gini says whether spend is more or
    * less concentrated than spend inequality alone implies. Both
    * indices use the doubled-mid-rank device over value rollups
    * (ties exact), so each is ONE exact-integer floor:
    * CI = (Σy·(2R̄) − (n+1)·Σy) / (n·Σy) with 2R̄ the doubled
    * fractional rank.
    *
    * Plan: one orders pass → customer rollup (checkpointed) → two
    * value-rollup rank windows → 1-row fold.
    */
  val q464ConcentrationIndex: Q = (s, dir) => {
    val cust = revenueByCustomer(s, dir)
      .join(broadcast(Tables.customer(s, dir).select(
        col("c_custkey").as("o_custkey"),
        cents(col("c_acctbal")).as("bal"))), Seq("o_custkey"))
      .localCheckpoint()
    def index(rankCol: String): DataFrame = {
      val byV = cust.groupBy(col(rankCol).as("v"))
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("sy"))
      // two-level below-count (Prefix.runningSum), not a global window:
      // the distinct-value rollup grows with |customers|
      Prefix.runningSum(byV, "v", Seq.empty, "cnt", "below")
        .select((col("below") * 2 + col("cnt") + 1).cast(dec).as("dr"),
          col("sy").cast(dec).as("sy"), col("cnt").cast(dec).as("cnt"))
        .agg(sum(col("cnt")).as("n"), sum(col("sy")).as("ty"),
          sum(col("dr") * col("sy")).as("ydr"))
        .select(col("n"),
          expr(sdiv("(ydr - (n + 1) * ty) * 1000000", "n * ty"))
            .cast("long").as("idx_e6"))
    }
    val ci = index("bal").select(col("n"), col("idx_e6").as("ci_e6"))
    val gini = index("y").select(col("idx_e6").as("gini_e6"))
    ci.crossJoin(broadcast(gini))
      .select(col("n").cast("long").as("n_customers"), col("ci_e6"),
        col("gini_e6"),
        (col("ci_e6") - col("gini_e6")).as("kakwani_gap_e6"))
  }

  val q464Sql: String = {
    def idx(rankCol: String) =
      s"""SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
         |    CAST(SUM(sy) AS HUGEINT) AS ty,
         |    SUM(CAST(below * 2 + cnt + 1 AS HUGEINT) * sy) AS ydr
         |  FROM (
         |    SELECT cnt, sy,
         |      COALESCE(SUM(cnt) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS below
         |    FROM (SELECT $rankCol AS v, CAST(COUNT(*) AS BIGINT) AS cnt,
         |            SUM(y) AS sy
         |          FROM cust GROUP BY 1))""".stripMargin
    s"""WITH cust AS (
      |  SELECT o.o_custkey,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // 100 AS y,
      |    CAST(ROUND(ANY_VALUE(c.c_acctbal) * 100) AS BIGINT) AS bal
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |ci0 AS (${idx("bal")}),
      |gi0 AS (${idx("y")}),
      |ci AS (
      |  SELECT n,
      |    CAST(CASE WHEN ydr - (n + 1) * ty >= 0 THEN 1 ELSE -1 END *
      |      (ABS((ydr - (n + 1) * ty) * 1000000) // (n * ty)) AS BIGINT)
      |      AS ci_e6
      |  FROM ci0),
      |gi AS (
      |  SELECT CAST(CASE WHEN ydr - (n + 1) * ty >= 0 THEN 1 ELSE -1 END *
      |      (ABS((ydr - (n + 1) * ty) * 1000000) // (n * ty)) AS BIGINT)
      |      AS gini_e6
      |  FROM gi0)
      |SELECT CAST(n AS BIGINT) AS n_customers, ci_e6, gini_e6,
      |  ci_e6 - gini_e6 AS kakwani_gap_e6
      |FROM ci CROSS JOIN gi""".stripMargin
  }

  // ------ q465: FGT poverty panel + Sen index

  /** q465: the Foster–Greer–Thorbecke poverty family and Sen's index
    * — welfare measurement beyond inequality (q160/q464 measure
    * SPREAD; these measure SHORTFALL below a line): with the poverty
    * line at HALF THE MEDIAN customer spend (the OECD convention),
    * FGT(0) is the headcount, FGT(1) the normalized gap, FGT(2) the
    * squared-gap severity, and Sen's 1976 index H·(I + (1−I)·G_p)
    * re-weights the gap by the Gini AMONG THE POOR. The line is a
    * rank-target selection; every FGT term is one integer floor per
    * customer (sum-order safe); G_p rides the doubled-mid-rank
    * device on the poor subset; Sen finishes as one IEEE tree.
    *
    * Plan: one orders pass → customer rollup (checkpointed) → line
    * selection → one counting pass + one poor-subset rank fold.
    */
  val q465FgtSen: Q = (s, dir) => {
    val cust = revenueByCustomer(s, dir)
      .localCheckpoint()
    val byV = cust.groupBy(col("y")).agg(count(lit(1)).as("cnt"))
    // two-level below-count over the distinct-income rollup (grows with
    // |customers|) — no global window
    val rankedV = Prefix.runningSum(byV, "y", Seq.empty, "cnt", "below")
      .crossJoin(broadcast(byV.agg(sum(col("cnt")).as("n_all"))))
      .localCheckpoint()
    val line = rankedV
      .filter(col("below") < expr("(n_all + 1) div 2") &&
        expr("(n_all + 1) div 2") <= col("below") + col("cnt"))
      .select(expr("y div 2").as("z"))
    val terms = cust.crossJoin(broadcast(line))
      .select(col("y"), col("z"),
        when(col("y") < col("z"), 1L).otherwise(0L).as("poor"),
        when(col("y") < col("z"), col("z") - col("y")).otherwise(0L)
          .as("gap"),
        when(col("y") < col("z"),
          expr(fdiv("(z - y) * (z - y) * 1000000", "z * z")))
          .otherwise(lit(0L).cast(dec)).as("fgt2_t"))
    val agg = terms.groupBy(col("z"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("poor")).cast(dec).as("q"),
        sum(col("gap")).cast(dec).as("sgap"),
        sum(col("fgt2_t")).as("sfgt2"))
    // Gini among the poor (doubled-mid-rank device on the subset)
    val poorV = cust.crossJoin(broadcast(line)).filter(col("y") < col("z"))
      .groupBy(col("y")).agg(count(lit(1)).as("cnt"))
    val gp = Prefix.runningSum(poorV, "y", Seq.empty, "cnt", "below")
      .select((col("below") * 2 + col("cnt") + 1).cast(dec).as("dr"),
        (col("y").cast(dec) * col("cnt")).as("sy"),
        col("cnt").cast(dec).as("cnt"))
      .agg(sum(col("cnt")).as("qn"), sum(col("sy")).as("ty"),
        sum(col("dr") * col("sy")).as("ydr"))
      .select(col("qn"),
        expr(
          "CAST(((ydr - (qn + 1) * ty) * 1000000 - " +
            "((ydr - (qn + 1) * ty) * 1000000) % (qn * ty)) / (qn * ty)" +
            " AS DECIMAL(38,0))").as("gini_poor_e6"))
    agg.crossJoin(broadcast(gp))
      .select(col("n").cast("long").as("n_customers"),
        col("z").cast("long").as("poverty_line_dollars"),
        expr(fdiv("q * 1000000", "n")).cast("long").as("fgt0_e6"),
        expr(fdiv("sgap * 1000000", "n * z")).cast("long").as("fgt1_e6"),
        expr(fdiv("sfgt2", "n")).cast("long").as("fgt2_e6"),
        col("gini_poor_e6").cast("long").as("gini_poor_e6"),
        ((d("q") / d("n")) * (d("sgap") / (d("q") * d("z")) +
          (lit(1.0) - d("sgap") / (d("q") * d("z"))) *
            (d("gini_poor_e6") / 1e6))).as("sen_index_d"))
  }

  val q465Sql: String = {
    val iRatio = s"(${dbl("sgap")} / (${dbl("q")} * ${dbl("z")}))"
    s"""WITH cust AS (
      |  SELECT o_custkey,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |by_v AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM cust GROUP BY y),
      |ranked AS (
      |  SELECT y, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |line AS (
      |  SELECT y // 2 AS z FROM ranked
      |  WHERE below < (n_all + 1) // 2
      |    AND (n_all + 1) // 2 <= below + cnt),
      |terms AS (
      |  SELECT z, CASE WHEN y < z THEN 1 ELSE 0 END AS poor,
      |    CASE WHEN y < z THEN z - y ELSE 0 END AS gap,
      |    CASE WHEN y < z THEN
      |      CAST(z - y AS HUGEINT) * (z - y) * 1000000 // (z * z)
      |      ELSE 0 END AS fgt2_t
      |  FROM cust CROSS JOIN line),
      |agg AS (
      |  SELECT ANY_VALUE(z) AS z, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(poor) AS HUGEINT) AS q,
      |    CAST(SUM(gap) AS HUGEINT) AS sgap,
      |    CAST(SUM(fgt2_t) AS HUGEINT) AS sfgt2
      |  FROM terms),
      |poor_v AS (
      |  SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM cust CROSS JOIN line WHERE y < z GROUP BY y),
      |gp0 AS (
      |  SELECT CAST(SUM(cnt) AS HUGEINT) AS qn,
      |    CAST(SUM(CAST(y AS HUGEINT) * cnt) AS HUGEINT) AS ty,
      |    SUM(CAST(below * 2 + cnt + 1 AS HUGEINT) *
      |        (CAST(y AS HUGEINT) * cnt)) AS ydr
      |  FROM (
      |    SELECT y, cnt,
      |      COALESCE(SUM(cnt) OVER (ORDER BY y
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS below
      |    FROM poor_v)),
      |gp AS (
      |  SELECT qn,
      |    (ydr - (qn + 1) * ty) * 1000000 // (qn * ty) AS gini_poor_e6
      |  FROM gp0)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  CAST(z AS BIGINT) AS poverty_line_dollars,
      |  CAST(q * 1000000 // n AS BIGINT) AS fgt0_e6,
      |  CAST(sgap * 1000000 // (n * z) AS BIGINT) AS fgt1_e6,
      |  CAST(sfgt2 // n AS BIGINT) AS fgt2_e6,
      |  CAST(gini_poor_e6 AS BIGINT) AS gini_poor_e6,
      |  ((${dbl("q")} / ${dbl("n")}) * ($iRatio + (1.0 - $iRatio) *
      |    (${dbl("gini_poor_e6")} / 1e6))) AS sen_index_d
      |FROM agg CROSS JOIN gp""".stripMargin
  }

  // ------ q467: Page's L trend test over monthly blocks

  /** q467: Page's L — the ORDERED-treatment test for REPEATED
    * MEASURES, completing the trend-test triptych: q214's
    * Mann–Kendall is one series, q441's Jonckheere is independent
    * groups, Page's L is b blocks × k ordered treatments. Each
    * calendar month (block) ranks the five priority classes by mean
    * order value — a deterministic total order, so no mid-ranks —
    * and L = Σ j·R_j against the exact null moments
    * E = b·k(k+1)²/4, Var = b·k²(k+1)(k²−1)/144. L and E·4 are
    * exact integers; z is one IEEE expression.
    *
    * Plan: one orders pass → 60-cell (month, priority) rollup →
    * bounded rank windows → 1-row fold.
    */
  val q467PageL: Q = (s, dir) => {
    val cells = Tables.orders(s, dir)
      .groupBy(expr("month(o_orderdate)").as("mo"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("g"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))" +
        " div COUNT(*)").as("avg_c"))
    val ranked = cells.withColumn("rk",
      row_number().over(Window.partitionBy(col("mo"))
        .orderBy(col("avg_c"), col("g"))).cast("long"))
    val fold = ranked.groupBy(col("g")).agg(sum(col("rk")).as("rsum"))
      .agg(count(lit(1)).cast(dec).as("k"),
        sum(col("g").cast(dec) * col("rsum")).as("l"),
        sum(col("rsum")).cast(dec).as("tot"))
      .withColumn("b", expr("tot * 2 div (k * (k + 1))"))
    val e = d("b") * d("k") * (d("k") + 1.0) * (d("k") + 1.0) / 4.0
    val vr = d("b") * d("k") * d("k") * (d("k") + 1.0) *
      (d("k") * d("k") - 1.0) / 144.0
    val z = (d("l") - e) / sqrt(vr)
    fold.select(col("k").cast("long").as("n_priorities"),
      col("b").cast("long").as("n_blocks"),
      col("l").cast("long").as("page_l"),
      z.as("z_d"),
      when(z > 1.6449, lit("value_rises_with_priority"))
        .otherwise(lit("no_ordered_trend")).as("verdict_5pct"))
  }

  val q467Sql: String = {
    val e = s"(${dbl("b")} * ${dbl("k")} * (${dbl("k")} + 1.0) *" +
      s" (${dbl("k")} + 1.0) / 4.0)"
    val vr = s"(${dbl("b")} * ${dbl("k")} * ${dbl("k")} * (${dbl("k")} + 1.0) *" +
      s" (${dbl("k")} * ${dbl("k")} - 1.0) / 144.0)"
    val z = s"((${dbl("l")} - $e) / sqrt($vr))"
    s"""WITH cells AS (
      |  SELECT month(o_orderdate) AS mo,
      |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // COUNT(*)
      |      AS avg_c
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT g, CAST(ROW_NUMBER() OVER (PARTITION BY mo
      |    ORDER BY avg_c, g) AS BIGINT) AS rk
      |  FROM cells),
      |gs AS (SELECT g, CAST(SUM(rk) AS HUGEINT) AS rsum
      |       FROM ranked GROUP BY g),
      |fold AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS k,
      |    SUM(CAST(g AS HUGEINT) * rsum) AS l,
      |    CAST(SUM(rsum) AS HUGEINT) AS tot
      |  FROM gs),
      |fb AS (SELECT *, tot * 2 // (k * (k + 1)) AS b FROM fold)
      |SELECT CAST(k AS BIGINT) AS n_priorities,
      |  CAST(b AS BIGINT) AS n_blocks,
      |  CAST(l AS BIGINT) AS page_l,
      |  $z AS z_d,
      |  CASE WHEN $z > 1.6449 THEN 'value_rises_with_priority'
      |    ELSE 'no_ordered_trend' END AS verdict_5pct
      |FROM fb""".stripMargin
  }

  // ------ q468: orthogonal polynomial contrasts over priority

  /** Orthogonal polynomial contrast coefficients for k = 5 ordered
    * levels (the classical integer tables).
    */
  val Poly5: Seq[(String, Seq[Long])] = Seq(
    ("linear", Seq(-2L, -1L, 0L, 1L, 2L)),
    ("quadratic", Seq(2L, -1L, -2L, -1L, 2L)),
    ("cubic", Seq(-1L, 2L, 0L, -2L, 1L)),
    ("quartic", Seq(1L, -4L, 6L, -4L, 1L)))

  /** q468: orthogonal polynomial contrasts — the DECOMPOSITION of
    * q268's one-way ANOVA between-group sum of squares into trend
    * SHAPES: with the five priority classes ordered, the classical
    * integer contrast vectors split the group signal into linear,
    * quadratic, cubic and quartic components, each tested with one
    * degree of freedom against the pooled within-group MSE. Every
    * contrast estimate stages as one e6 floor per group (exact
    * sums); the F ratios finish as one IEEE tree over exact
    * integers.
    *
    * Plan: one orders pass → 5-group moment fold → 4-row broadcast
    * contrast panel.
    */
  val q468PolyContrasts: Q = (s, dir) => {
    val folds = Tables.orders(s, dir)
      .groupBy(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
        .as("g"))
      .agg(count(lit(1)).cast(dec).as("ng"),
        sum(cents(col("o_totalprice"))).cast(dec).as("sy"),
        sum(cents(col("o_totalprice")).cast(dec) *
          cents(col("o_totalprice"))).as("qyy"))
      .localCheckpoint()
    val within = folds.agg(sum(col("ng")).cast(dec).as("n"),
      sum(col("qyy") - expr(
        "CAST((sy * sy - (sy * sy) % ng) / ng AS DECIMAL(38,0))"))
        .as("ssw"))
    val contrasts = s.createDataFrame(Poly5.flatMap { case (nm, cs) =>
      cs.zipWithIndex.map { case (c, i) => (nm, i + 1L, c) }
    }).toDF("contrast", "g", "cg")
    val staged = folds.join(broadcast(contrasts), Seq("g"))
      .groupBy(col("contrast"))
      .agg(sum(expr(sdiv("cg * sy * 1000000", "ng"))).as("l_e6"),
        sum(expr(
          "CAST((cg * cg * 1000000 - (cg * cg * 1000000) % ng) / ng" +
            " AS DECIMAL(38,0))")).as("den_e6"))
    val ssC = (d("l_e6") / 1e6) * (d("l_e6") / 1e6) / (d("den_e6") / 1e6)
    val fStat = ssC / ((d("ssw") / (d("n") - 5.0)))
    staged.crossJoin(broadcast(within))
      .select(col("contrast"), col("l_e6").cast("long").as("l_e6"),
        ssC.as("ss_contrast_d"), fStat.as("f_d"),
        when(fStat > 3.84, lit("significant"))
          .otherwise(lit("ns")).as("verdict_5pct"))
      .orderBy(col("contrast"))
  }

  val q468Sql: String = {
    val cvals = Poly5.flatMap { case (nm, cs) =>
      cs.zipWithIndex.map { case (c, i) => s"('$nm', ${i + 1}, $c)" }
    }.mkString(", ")
    val ssC = s"((${dbl("l_e6")} / 1e6) * (${dbl("l_e6")} / 1e6)" +
      s" / (${dbl("den_e6")} / 1e6))"
    val f = s"($ssC / ((${dbl("ssw")} / (${dbl("n")} - 5.0))))"
    s"""WITH folds AS (
      |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
      |    CAST(COUNT(*) AS HUGEINT) AS ng,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |      AS HUGEINT) AS sy,
      |    SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
      |      * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS qyy
      |  FROM orders GROUP BY 1),
      |within AS (
      |  SELECT CAST(SUM(ng) AS HUGEINT) AS n,
      |    SUM(qyy - sy * sy // ng) AS ssw
      |  FROM folds),
      |contrasts(contrast, g, cg) AS (VALUES $cvals),
      |staged AS (
      |  SELECT contrast,
      |    SUM(CASE WHEN cg * sy >= 0 THEN 1 ELSE -1 END *
      |      (ABS(cg * sy * 1000000) // ng)) AS l_e6,
      |    SUM(cg * cg * 1000000 // ng) AS den_e6
      |  FROM folds JOIN contrasts USING (g)
      |  GROUP BY contrast)
      |SELECT contrast, CAST(l_e6 AS BIGINT) AS l_e6,
      |  $ssC AS ss_contrast_d, $f AS f_d,
      |  CASE WHEN $f > 3.84 THEN 'significant' ELSE 'ns' END
      |    AS verdict_5pct
      |FROM staged CROSS JOIN within
      |ORDER BY contrast""".stripMargin
  }

  // ------ q466: Wolfson bipolarization index

  /** q466: the Wolfson polarization index — inequality (q160) and
    * polarization are DIFFERENT things: a transfer from the middle
    * class to both tails can leave the Gini flat while hollowing out
    * the middle, and Wolfson's W = (μ/m)·(2T − Gini) with
    * T = ½ − L(½) (the share the bottom half is missing) is the
    * canonical bipolarization measure. The median and the bottom-
    * half share come from the same value-rollup rank construction as
    * the Gini, every component is one exact-integer floor, and W
    * finishes as one IEEE tree.
    *
    * Plan: one orders pass → customer rollup → one value-rollup rank
    * window feeding median, L(½) and Gini together → 1-row fold.
    */
  val q466Wolfson: Q = (s, dir) => {
    val cust = revenueByCustomer(s, dir)
      .localCheckpoint()
    val byV = cust.groupBy(col("y")).agg(count(lit(1)).as("cnt"))
    // two-level below-count over the distinct-income rollup — no global
    // window (grows with |customers|)
    val ranked = Prefix.runningSum(byV, "y", Seq.empty, "cnt", "below")
      .crossJoin(broadcast(byV.agg(sum(col("cnt")).as("n_all"))))
      .localCheckpoint()
    val med = ranked
      .filter(col("below") < expr("(n_all + 1) div 2") &&
        expr("(n_all + 1) div 2") <= col("below") + col("cnt"))
      .select(col("y").as("m"))
    // bottom-half mass: whole value-groups below the median rank plus
    // the partial group straddling it (exact by construction)
    val half = ranked.crossJoin(broadcast(med))
      .select(col("y"), col("cnt"), col("below"), col("n_all"),
        when(col("below") + col("cnt") <= expr("n_all div 2"), col("cnt"))
          .when(col("below") >= expr("n_all div 2"), lit(0L))
          .otherwise(expr("n_all div 2") - col("below")).as("take"))
      .agg(first(col("n_all")).cast(dec).as("n"),
        sum(col("y").cast(dec) * col("cnt")).as("ty"),
        sum(col("y").cast(dec) * col("take")).as("bh"),
        sum((col("below") * 2 + col("cnt") + 1).cast(dec) *
          (col("y").cast(dec) * col("cnt"))).as("ydr"))
    val giniD = (d("ydr") - (d("n") + 1.0) * d("ty")) /
      (d("n") * d("ty"))
    val tD = lit(0.5) - d("bh") / d("ty")
    val muOverM = d("ty") / d("n") / d("m")
    val wD = (tD * 2.0 - giniD) * muOverM
    half.crossJoin(broadcast(med))
      .select(col("n").cast("long").as("n_customers"),
        col("m").cast("long").as("median_dollars"),
        expr(fdiv("bh * 1000000", "ty")).cast("long")
          .as("bottom_half_share_e6"),
        giniD.as("gini_d"), wD.as("wolfson_w_d"))
  }

  val q466Sql: String = {
    val gini = s"((${dbl("ydr")} - (${dbl("n")} + 1.0) * ${dbl("ty")})" +
      s" / (${dbl("n")} * ${dbl("ty")}))"
    val tD = s"(0.5 - ${dbl("bh")} / ${dbl("ty")})"
    val wD = s"(($tD * 2.0 - $gini) * (${dbl("ty")} / ${dbl("n")}" +
      s" / ${dbl("m")}))"
    s"""WITH cust AS (
      |  SELECT o_custkey,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |by_v AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM cust GROUP BY y),
      |ranked AS (
      |  SELECT y, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER () AS n_all
      |  FROM by_v),
      |med AS (
      |  SELECT y AS m FROM ranked
      |  WHERE below < (n_all + 1) // 2
      |    AND (n_all + 1) // 2 <= below + cnt),
      |half AS (
      |  SELECT ANY_VALUE(n_all) AS n,
      |    CAST(SUM(CAST(y AS HUGEINT) * cnt) AS HUGEINT) AS ty,
      |    SUM(CAST(y AS HUGEINT) *
      |      CASE WHEN below + cnt <= n_all // 2 THEN cnt
      |        WHEN below >= n_all // 2 THEN 0
      |        ELSE n_all // 2 - below END) AS bh,
      |    SUM(CAST(below * 2 + cnt + 1 AS HUGEINT) *
      |        (CAST(y AS HUGEINT) * cnt)) AS ydr
      |  FROM ranked)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  CAST(m AS BIGINT) AS median_dollars,
      |  CAST(bh * 1000000 // ty AS BIGINT) AS bottom_half_share_e6,
      |  $gini AS gini_d, $wD AS wolfson_w_d
      |FROM half CROSS JOIN med""".stripMargin
  }

  // ------ q469: Bass diffusion fit of customer acquisition

  /** q469: the Bass diffusion model — the innovation-adoption
    * counterpart of the retention family (q104 cohorts, q110 growth
    * accounting): monthly NEW customers n_t regress on installed
    * base N and N² (Bass's discrete form n = pM + (q−p)N − (q/M)N²),
    * a two-regressor OLS the q428 determinant algebra solves in
    * closed form; the structural parameters recover as
    * M = (−b − √(b²−4ca))/(2c), p = a/M, q = −cM — one IEEE tree.
    * Innovation p vs imitation q is THE word-of-mouth diagnostic.
    *
    * Plan: one orders pass → first-order month per customer → dense
    * month spine rollup (metadata) → 1-row co-moment fold.
    */
  val q469BassDiffusion: Q = (s, dir) => {
    val firstM = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(min(expr("year(o_orderdate) * 12 + month(o_orderdate)"))
        .as("fm"))
      .groupBy(col("fm")).agg(count(lit(1)).as("nt"))
    val allM = Tables.orders(s, dir)
      .select(expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"))
      .distinct()
    val dense = allM.join(firstM, col("m") === col("fm"), "left")
      .select(col("m"), coalesce(col("nt"), lit(0L)).as("nt"))
    val w = Window.orderBy(col("m")).rowsBetween(
      Window.unboundedPreceding, -1)
    val pts = dense
      .withColumn("nprev", coalesce(sum(col("nt")).over(w), lit(0L)))
      .select(col("nt").cast(dec).as("y"), col("nprev").cast(dec).as("x"),
        (col("nprev").cast(dec) * col("nprev")).as("x2"))
      .localCheckpoint()
    val mo = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("x2")).as("sm"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("qxx"),
      sum(col("x2") * col("x2")).as("qmm"),
      sum(col("x") * col("x2")).as("qxm"),
      sum(col("x") * col("y")).as("qxy"),
      sum(col("x2") * col("y")).as("qmy"))
    val cm = mo.select(col("n"),
      (col("n") * col("qxx") - col("sx") * col("sx")).as("dx"),
      (col("n") * col("qmm") - col("sm") * col("sm")).as("dm"),
      (col("n") * col("qxm") - col("sx") * col("sm")).as("cxm"),
      (col("n") * col("qxy") - col("sx") * col("sy")).as("cxy"),
      (col("n") * col("qmy") - col("sm") * col("sy")).as("cmy"),
      col("sx"), col("sm"), col("sy"))
      .withColumn("d2", col("dx") * col("dm") - col("cxm") * col("cxm"))
    val bD = (d("cxy") * d("dm") - d("cmy") * d("cxm")) / d("d2")
    val cD = (d("cmy") * d("dx") - d("cxy") * d("cxm")) / d("d2")
    val aD = (d("sy") - bD * d("sx") - cD * d("sm")) / d("n")
    val mHat = (-bD - sqrt(bD * bD - cD * aD * 4.0)) / (cD * 2.0)
    cm.select(col("n").cast("long").as("n_months"),
      expr(sdiv("(cxy * dm - cmy * cxm) * 1000000", "d2")).cast("long")
        .as("b_e6"),
      expr(sdiv("(cmy * dx - cxy * cxm) * 1000000000000", "d2"))
        .cast("long").as("c_e12"),
      mHat.as("market_size_d"),
      (aD / mHat).as("p_innovation_d"),
      (cD * mHat * -1.0).as("q_imitation_d"))
  }

  val q469Sql: String = {
    val bD = s"((${dbl("cxy")} * ${dbl("dm")} - ${dbl("cmy")} * ${dbl("cxm")})" +
      s" / ${dbl("d2")})"
    val cD = s"((${dbl("cmy")} * ${dbl("dx")} - ${dbl("cxy")} * ${dbl("cxm")})" +
      s" / ${dbl("d2")})"
    val aD = s"((${dbl("sy")} - $bD * ${dbl("sx")} - $cD * ${dbl("sm")})" +
      s" / ${dbl("n")})"
    val mHat = s"((-$bD - sqrt($bD * $bD - $cD * $aD * 4.0))" +
      s" / ($cD * 2.0))"
    s"""WITH first_m AS (
      |  SELECT fm, CAST(COUNT(*) AS BIGINT) AS nt FROM (
      |    SELECT o_custkey,
      |      MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS fm
      |    FROM orders GROUP BY 1) GROUP BY fm),
      |all_m AS (
      |  SELECT DISTINCT year(o_orderdate) * 12 + month(o_orderdate) AS m
      |  FROM orders),
      |dense AS (
      |  SELECT a.m, COALESCE(f.nt, 0) AS nt
      |  FROM all_m a LEFT JOIN first_m f ON f.fm = a.m),
      |pts AS (
      |  SELECT CAST(nt AS HUGEINT) AS y,
      |    CAST(COALESCE(SUM(nt) OVER (ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS HUGEINT) AS x
      |  FROM dense),
      |pts2 AS (SELECT y, x, x * x AS x2 FROM pts),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(x) AS sx, SUM(x2) AS sm, SUM(y) AS sy,
      |    SUM(x * x) AS qxx, SUM(x2 * x2) AS qmm, SUM(x * x2) AS qxm,
      |    SUM(x * y) AS qxy, SUM(x2 * y) AS qmy
      |  FROM pts2),
      |cm AS (
      |  SELECT n, sx, sm, sy,
      |    n * qxx - sx * sx AS dx, n * qmm - sm * sm AS dm,
      |    n * qxm - sx * sm AS cxm, n * qxy - sx * sy AS cxy,
      |    n * qmy - sm * sy AS cmy
      |  FROM mo),
      |cm2 AS (SELECT *, dx * dm - cxm * cxm AS d2 FROM cm)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  CAST(CASE WHEN cxy * dm - cmy * cxm >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cxy * dm - cmy * cxm) * 1000000) // d2) AS BIGINT)
      |    AS b_e6,
      |  CAST(CASE WHEN cmy * dx - cxy * cxm >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cmy * dx - cxy * cxm) * 1000000000000) // d2) AS BIGINT)
      |    AS c_e12,
      |  $mHat AS market_size_d,
      |  ($aD / $mHat) AS p_innovation_d,
      |  ($cD * $mHat * -1.0) AS q_imitation_d
      |FROM cm2""".stripMargin
  }

  // ------ q470: Tukey's one degree of freedom for non-additivity

  /** q470: Tukey's 1963 non-additivity test — q388's two-way ANOVA
    * ASSUMES the interaction it reports is real structure; with one
    * mean per cell the full interaction is saturated, and Tukey's
    * insight is to spend exactly ONE degree of freedom on the
    * multiplicative alternative y_ij ≈ μ + αᵢ + βⱼ + λαᵢβⱼ. On the
    * month × priority grid of mean order values (exact floored
    * integers), the scaled identity
    * SS_na = P²/(Q_a·Q_b) with P = Σ(rRᵢ−G)(cCⱼ−G)yᵢⱼ makes the
    * whole statistic a ratio of EXACT integers (the (rc)² scale
    * factors cancel), and F compares it with the remaining additive
    * residual.
    *
    * Plan: one orders pass → 60-cell rollup → row/column totals by
    * windows keyed on mo and on g → ONE global aggregate of exact
    * moments ([[tukeyFold]]) → 1-row projection. No checkpoint, no
    * broadcast join.
    */
  val q470TukeyNonadditivity: Q = (s, dir) => {
    val cells = Tables.orders(s, dir)
      .groupBy(expr("month(o_orderdate)").cast("long").as("mo"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("g"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))" +
        " div (100 * COUNT(*))").as("y"))
    val ssNa = d("p") * d("p") / (d("qa") * d("qb"))
    val ssRes = d("e2") / (d("r") * d("r") * d("c") * d("c"))
    val dfRes = (d("r") - 1.0) * (d("c") - 1.0) - 1.0
    val fStat = ssNa / ((ssRes - ssNa) / dfRes)
    tukeyFold(cells)
      .select(col("r").cast("long").as("n_months"),
        col("c").cast("long").as("n_priorities"),
        ssNa.as("ss_nonadditivity_d"), fStat.as("f_d"),
        when(fStat > 4.07, lit("multiplicative_interaction"))
          .otherwise(lit("additive")).as("verdict_5pct"))
  }

  /** Tukey's fold of a (mo, g, y) cells frame (non-NULL integers, one row
    * per present cell; the grid may be ragged) into one row of exact
    * DECIMAL(38,0) statistics: r and c (distinct months and groups), gt =
    * Σy, and with row totals Rᵢ and column totals Cⱼ
    *
    *   p  = Σ_cells (r·Rᵢ − gt)(c·Cⱼ − gt)·y
    *   e2 = Σ_cells (r·c·y − r·Rᵢ − c·Cⱼ + gt)²
    *   qa = Σ_months (r·Rᵢ − gt)²        qb = Σ_groups (c·Cⱼ − gt)²
    *
    * The marginals are batched: Rᵢ and Cⱼ ride windows keyed on mo and on
    * g, r and c are sums of first-row indicators over the same windows,
    * and ONE global aggregate collects the moments (k = #cells, Σy, Σy²,
    * ΣRy, ΣCy, ΣRCy, ΣR², ΣC², ΣRC, ΣR, ΣC) from which the four sums
    * expand algebraically:
    *
    *   p  = rc·ΣRCy − r·gt·ΣRy − c·gt·ΣCy + gt³
    *   e2 = r²c²·Σy² + r²·ΣR² + c²·ΣC² + k·gt² − 2r²c·ΣRy − 2rc²·ΣCy
    *        + 2rc·gt² + 2rc·ΣRC − 2r·gt·ΣR − 2c·gt·ΣC
    *   qa = r²·ΣRy − r·gt²   (ΣRy = Σ_months Rᵢ², Σ_months Rᵢ = gt)
    *   qb = c²·ΣCy − c·gt²
    *
    * Integer arithmetic is exact, so the expanded sums equal the per-cell
    * definitions bit for bit (PropertySpec checks them in BigInt).
    */
  private[graft] def tukeyFold(cells: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def m(c: String): Column = dec(col(c))
    val byMo = Window.partitionBy(col("mo")).orderBy(col("g"))
    val byG = Window.partitionBy(col("g")).orderBy(col("mo"))
    def total(w: WindowSpec) = sum(col("y")).over(
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    def first(w: WindowSpec) =
      when(row_number().over(w) === 1, 1L).otherwise(0L)
    val moments = cells
      .select(col("mo"), col("g"), col("y"),
        total(byMo).as("ri"), first(byMo).as("first_mo"))
      .select(col("y"), col("ri"), col("first_mo"),
        total(byG).as("cj"), first(byG).as("first_g"))
      .agg(dec(sum(col("first_mo"))).as("r"),
        dec(sum(col("first_g"))).as("c"), dec(count(lit(1))).as("k"),
        sum(m("y")).as("gt"), sum(m("y") * m("y")).as("syy"),
        sum(m("ri") * m("y")).as("sry"), sum(m("cj") * m("y")).as("scy"),
        sum(m("ri") * m("cj") * m("y")).as("srcy"),
        sum(m("ri") * m("ri")).as("srr"), sum(m("cj") * m("cj")).as("scc"),
        sum(m("ri") * m("cj")).as("src"),
        sum(m("ri")).as("sr"), sum(m("cj")).as("sc"))
    val (r, c, gt, two) = (col("r"), col("c"), col("gt"), dec(lit(2)))
    moments.select(r, c, gt,
      (r * c * col("srcy") - r * gt * col("sry") - c * gt * col("scy") +
        gt * gt * gt).as("p"),
      (r * r * c * c * col("syy") + r * r * col("srr") + c * c * col("scc") +
        col("k") * gt * gt - two * r * r * c * col("sry") -
        two * r * c * c * col("scy") + two * r * c * gt * gt +
        two * r * c * col("src") - two * r * gt * col("sr") -
        two * c * gt * col("sc")).as("e2"),
      (r * r * col("sry") - r * gt * gt).as("qa"),
      (c * c * col("scy") - c * gt * gt).as("qb"))
  }

  val q470Sql: String = {
    val ssNa = s"(${dbl("p")} * ${dbl("p")} / (${dbl("qa")} * ${dbl("qb")}))"
    val ssRes = s"(${dbl("e2")} / (${dbl("r")} * ${dbl("r")} * ${dbl("c")}" +
      s" * ${dbl("c")}))"
    val f = s"($ssNa / (($ssRes - $ssNa) /" +
      s" ((${dbl("r")} - 1.0) * (${dbl("c")} - 1.0) - 1.0)))"
    s"""WITH cells AS (
      |  SELECT month(o_orderdate) AS mo,
      |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |      // (100 * COUNT(*)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |dims AS (
      |  SELECT CAST(COUNT(DISTINCT mo) AS HUGEINT) AS r,
      |    CAST(COUNT(DISTINCT g) AS HUGEINT) AS c,
      |    CAST(SUM(y) AS HUGEINT) AS gt
      |  FROM cells),
      |rws AS (SELECT mo, CAST(SUM(y) AS HUGEINT) AS ri
      |        FROM cells GROUP BY mo),
      |cls AS (SELECT g, CAST(SUM(y) AS HUGEINT) AS cj
      |        FROM cells GROUP BY g),
      |folded AS (
      |  SELECT ANY_VALUE(r) AS r, ANY_VALUE(c) AS c,
      |    SUM((r * ri - gt) * (c * cj - gt) * y) AS p,
      |    SUM((r * c * y - r * ri - c * cj + gt) *
      |        (r * c * y - r * ri - c * cj + gt)) AS e2
      |  FROM cells JOIN rws USING (mo) JOIN cls USING (g)
      |  CROSS JOIN dims),
      |qa AS (
      |  SELECT SUM((r * ri - gt) * (r * ri - gt)) AS qa
      |  FROM rws CROSS JOIN dims),
      |qb AS (
      |  SELECT SUM((c * cj - gt) * (c * cj - gt)) AS qb
      |  FROM cls CROSS JOIN dims)
      |SELECT CAST(r AS BIGINT) AS n_months,
      |  CAST(c AS BIGINT) AS n_priorities,
      |  $ssNa AS ss_nonadditivity_d, $f AS f_d,
      |  CASE WHEN $f > 4.07 THEN 'multiplicative_interaction'
      |    ELSE 'additive' END AS verdict_5pct
      |FROM folded CROSS JOIN qa CROSS JOIN qb""".stripMargin
  }

  // ------ q471: circular uniformity panel (Kuiper + Hodges–Ajne)

  /** q471: circular uniformity — the TEST counterpart of q460's
    * Rayleigh: Rayleigh only sees a FIRST-harmonic concentration,
    * while Kuiper's V = D⁺ + D⁻ (the rotation-invariant KS) and the
    * Hodges–Ajne half-circle count catch multimodal departures
    * (e.g., two opposite busy seasons) that leave the resultant at
    * zero. On the 12-bin month lattice both statistics are PURE
    * INTEGER folds: V's sup-deviations are maxima of 12·cum − k·N
    * over the lattice, and Hodges–Ajne's m is the minimum count over
    * the 12 half-circle rotations (six consecutive bins, modular).
    *
    * Plan: one orders pass → 12-row month rollup → 12×12 modular
    * window spine (metadata) → 1-row fold.
    */
  val q471CircularPanel: Q = (s, dir) => {
    val counts = Tables.orders(s, dir)
      .groupBy(expr("month(o_orderdate)").cast("long").as("mo"))
      .agg(count(lit(1)).as("nm"))
      .localCheckpoint()
    val n = counts.agg(sum(col("nm")).as("n"))
    val w = Window.orderBy(col("mo")).rowsBetween(
      Window.unboundedPreceding, 0)
    val cum = counts.withColumn("cum", sum(col("nm")).over(w))
      .crossJoin(broadcast(n))
    val kuiper = cum.agg(
      max(col("cum") * 12 - col("mo") * col("n")).as("dp"),
      max(col("mo") * col("n") - (col("cum") - col("nm")) * 12
        + col("n") - col("n")).as("dm0"),
      first(col("n")).as("n"))
      .select(col("n"),
        expr("CAST((dp + dm0) * 1000000 div (12 * n) AS BIGINT)")
          .as("kuiper_v_e6"))
    val spine = s.range(1L, 13L).select(col("id").as("rot"))
    val halves = counts.crossJoin(broadcast(spine))
      .filter(expr("pmod(mo - rot, 12)") < 6)
      .groupBy(col("rot")).agg(sum(col("nm")).as("half"))
      .agg(min(col("half")).as("hodges_m"))
    kuiper.crossJoin(broadcast(halves))
      .select(col("n").cast("long").as("n_orders"), col("kuiper_v_e6"),
        col("hodges_m"))
  }

  val q471Sql: String =
    """WITH counts AS (
      |  SELECT month(o_orderdate) AS mo, CAST(COUNT(*) AS BIGINT) AS nm
      |  FROM orders GROUP BY 1),
      |n AS (SELECT CAST(SUM(nm) AS BIGINT) AS n FROM counts),
      |cum AS (
      |  SELECT mo, nm,
      |    SUM(nm) OVER (ORDER BY mo
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM counts),
      |kuiper AS (
      |  SELECT ANY_VALUE(n.n) AS n,
      |    MAX(cum * 12 - mo * n.n) AS dp,
      |    MAX(mo * n.n - (cum - nm) * 12) AS dm0
      |  FROM cum CROSS JOIN n),
      |halves AS (
      |  SELECT MIN(half) AS hodges_m FROM (
      |    SELECT r.rot, SUM(c.nm) AS half
      |    FROM counts c
      |    CROSS JOIN (SELECT UNNEST(range(1, 13)) AS rot) r
      |    WHERE ((c.mo - r.rot) % 12 + 12) % 12 < 6
      |    GROUP BY r.rot))
      |SELECT CAST(n AS BIGINT) AS n_orders,
      |  CAST((dp + dm0) * 1000000 // (12 * n) AS BIGINT) AS kuiper_v_e6,
      |  CAST(hodges_m AS BIGINT) AS hodges_m
      |FROM kuiper CROSS JOIN halves""".stripMargin

  // ------ q472: process capability (Cp / Cpk) of shipping delay

  /** Shipping-delay specification limits, in days (business spec,
    * plan-time constants).
    */
  val SpecLslDays = 0L
  val SpecUslDays = 120L

  /** q472: process capability indices — the SPC summary q316's XmR
    * chart doesn't give: the chart asks "is the process stable", Cp/
    * Cpk ask "does the stable process FIT the spec": with shipping
    * delay specified to [[[SpecLslDays]], [[SpecUslDays]]] days,
    * Cp = (USL−LSL)/6σ is the potential and Cpk = min(USL−μ, μ−LSL)/
    * 3σ the centered capability; the observed out-of-spec ppm rides
    * beside them as the empirical check. Moments are exact integer
    * sums; the indices are one IEEE tree.
    *
    * Plan: lineitem ⋈ orders (one shuffle) → 1-row moment fold +
    * exact spec census.
    */
  val q472ProcessCapability: Q = (s, dir) => {
    val delays = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(expr("datediff(l_shipdate, o_orderdate)")
        .cast("long").as("d"))
    val fold = delays.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("d")).cast(dec).as("sd"),
      sum(col("d").cast(dec) * col("d")).as("qdd"),
      sum(when(col("d") < SpecLslDays || col("d") > SpecUslDays, 1L)
        .otherwise(0L)).cast(dec).as("oos"))
    val sigma = sqrt((d("qdd") - d("sd") * d("sd") / d("n")) /
      (d("n") - 1.0))
    val mu = d("sd") / d("n")
    val cp = lit((SpecUslDays - SpecLslDays).toDouble) / (sigma * 6.0)
    val cpk = least(lit(SpecUslDays.toDouble) - mu,
      mu - SpecLslDays.toDouble) / (sigma * 3.0)
    fold.select(col("n").cast("long").as("n_lines"),
      mu.as("mean_delay_d"), sigma.as("sigma_d"),
      cp.as("cp_d"), cpk.as("cpk_d"),
      expr("CAST(oos * 1000000 DIV n AS BIGINT)").as("observed_oos_ppm"),
      when(cpk >= 1.33, lit("capable"))
        .when(cpk >= 1.0, lit("marginal"))
        .otherwise(lit("incapable")).as("verdict"))
  }

  val q472Sql: String = {
    val sigma = s"sqrt((${dbl("qdd")} - ${dbl("sd")} * ${dbl("sd")} /" +
      s" ${dbl("n")}) / (${dbl("n")} - 1.0))"
    val mu = s"(${dbl("sd")} / ${dbl("n")})"
    val cp = s"(${(SpecUslDays - SpecLslDays).toDouble} / ($sigma * 6.0))"
    val cpk = s"(LEAST(${SpecUslDays.toDouble} - $mu," +
      s" $mu - ${SpecLslDays.toDouble}) / ($sigma * 3.0))"
    s"""WITH delays AS (
      |  SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate)
      |    AS BIGINT) AS d
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |fold AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(d) AS HUGEINT) AS sd,
      |    SUM(CAST(d AS HUGEINT) * d) AS qdd,
      |    CAST(SUM(CASE WHEN d < $SpecLslDays OR d > $SpecUslDays
      |      THEN 1 ELSE 0 END) AS HUGEINT) AS oos
      |  FROM delays)
      |SELECT CAST(n AS BIGINT) AS n_lines,
      |  $mu AS mean_delay_d, $sigma AS sigma_d,
      |  $cp AS cp_d, $cpk AS cpk_d,
      |  CAST(oos * 1000000 // n AS BIGINT) AS observed_oos_ppm,
      |  CASE WHEN $cpk >= 1.33 THEN 'capable'
      |    WHEN $cpk >= 1.0 THEN 'marginal'
      |    ELSE 'incapable' END AS verdict
      |FROM fold""".stripMargin
  }

  // ------ q473: Diebold–Mariano forecast comparison

  /** q473: the Diebold–Mariano test — the forecast-evaluation family
    * (q182 scorecard, q296 accuracy metrics) reports WHO has lower
    * error; DM asks whether the difference is STATISTICALLY real:
    * on monthly revenue, the naive forecast (last month) and the
    * seasonal-naive forecast (same month last year) produce aligned
    * squared-error series, and DM = d̄/√(Var(d)/m) on their exact
    * integer difference series d_t = e₁² − e₂² decides. Everything
    * before the final IEEE tree is exact (lags are windows over the
    * metadata month rollup).
    *
    * Plan: one orders pass → month rollup → two lag windows →
    * 1-row fold.
    */
  val q473DieboldMariano: Q = (s, dir) => {
    val cells = monthlyRevenue(s, dir).localCheckpoint()
    val w = Window.orderBy(col("m"))
    val dd = cells
      .withColumn("y1", lag(col("y"), 1).over(w))
      .withColumn("y12", lag(col("y"), 12).over(w))
      .filter(col("y1").isNotNull && col("y12").isNotNull)
      .select(((col("y") - col("y1")).cast(dec) * (col("y") - col("y1")) -
        (col("y") - col("y12")).cast(dec) * (col("y") - col("y12")))
        .as("dt"))
    val fold = dd.agg(count(lit(1)).cast(dec).as("m"),
      sum(col("dt")).as("sdt"),
      sum(col("dt") * col("dt")).as("qdt"))
    val dm = (d("sdt") / d("m")) /
      sqrt((d("qdt") - d("sdt") * d("sdt") / d("m")) /
        ((d("m") - 1.0) * d("m")))
    fold.select(col("m").cast("long").as("n_forecasts"),
      col("sdt").cast("long").as("loss_diff_sum"),
      dm.as("dm_stat_d"),
      when(dm > 1.96, lit("seasonal_naive_better"))
        .when(dm < -1.96, lit("naive_better"))
        .otherwise(lit("no_significant_difference")).as("verdict_5pct"))
  }

  val q473Sql: String = {
    val dm = s"((${dbl("sdt")} / ${dbl("m")}) / sqrt((${dbl("qdt")} -" +
      s" ${dbl("sdt")} * ${dbl("sdt")} / ${dbl("m")}) /" +
      s" ((${dbl("m")} - 1.0) * ${dbl("m")})))"
    s"""WITH cells AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT y, LAG(y, 1) OVER (ORDER BY m) AS y1,
      |    LAG(y, 12) OVER (ORDER BY m) AS y12
      |  FROM cells),
      |dd AS (
      |  SELECT CAST(y - y1 AS HUGEINT) * (y - y1)
      |    - CAST(y - y12 AS HUGEINT) * (y - y12) AS dt
      |  FROM lagged WHERE y1 IS NOT NULL AND y12 IS NOT NULL),
      |fold AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m, SUM(dt) AS sdt,
      |    SUM(dt * dt) AS qdt
      |  FROM dd)
      |SELECT CAST(m AS BIGINT) AS n_forecasts,
      |  CAST(sdt AS BIGINT) AS loss_diff_sum,
      |  $dm AS dm_stat_d,
      |  CASE WHEN $dm > 1.96 THEN 'seasonal_naive_better'
      |    WHEN $dm < -1.96 THEN 'naive_better'
      |    ELSE 'no_significant_difference' END AS verdict_5pct
      |FROM fold""".stripMargin
  }

  // ------ q474: Mincer–Zarnowitz forecast rationality regression

  /** q474: the Mincer–Zarnowitz regression — the RATIONALITY test
    * behind every forecast scorecard: regress the realization on the
    * forecast (here the seasonal-naive y_{t−12}) and test the joint
    * null (α, β) = (0, 1); a rational forecast leaves no exploitable
    * bias. The restricted SSE is the exact Σ(y−f)², the unrestricted
    * SSE comes from the OLS determinant form, and
    * F = ((SSE_r − SSE_u)/2)/(SSE_u/(m−2)) is one IEEE tree over
    * exact integers, with α and β floors beside it.
    *
    * Plan: one orders pass → month rollup → lag window → 1-row
    * co-moment fold.
    */
  val q474MincerZarnowitz: Q = (s, dir) => {
    val cells = monthlyRevenue(s, dir).localCheckpoint()
    val w = Window.orderBy(col("m"))
    val pts = cells.withColumn("f", lag(col("y"), 12).over(w))
      .filter(col("f").isNotNull)
      .select(col("y").cast(dec).as("y"), col("f").cast(dec).as("f"))
    val mo = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("f")).as("sf"), sum(col("y")).as("sy"),
      sum(col("f") * col("f")).as("qff"),
      sum(col("y") * col("y")).as("qyy"),
      sum(col("f") * col("y")).as("qfy"),
      sum((col("y") - col("f")) * (col("y") - col("f"))).as("sser"))
      .select(col("n"), col("sf"), col("sy"), col("sser"),
        (col("n") * col("qff") - col("sf") * col("sf")).as("dx"),
        (col("n") * col("qyy") - col("sy") * col("sy")).as("dy"),
        (col("n") * col("qfy") - col("sf") * col("sy")).as("cxy"))
    val sseU = (d("dy") * d("dx") - d("cxy") * d("cxy")) /
      (d("n") * d("dx"))
    val fStat = ((d("sser") - sseU) / 2.0) / (sseU / (d("n") - 2.0))
    mo.select(col("n").cast("long").as("n_forecasts"),
      expr(sdiv("(sy * dx - cxy * sf) * 1000000", "n * dx")).cast("long")
        .as("alpha_e6"),
      expr(sdiv("cxy * 1000000", "dx")).cast("long").as("beta_e6"),
      fStat.as("mz_f_d"),
      when(fStat > 3.13, lit("forecast_irrational"))
        .otherwise(lit("rational")).as("verdict_5pct"))
  }

  val q474Sql: String = {
    val sseU = s"((${dbl("dy")} * ${dbl("dx")} - ${dbl("cxy")} * ${dbl("cxy")})" +
      s" / (${dbl("n")} * ${dbl("dx")}))"
    val f = s"(((${dbl("sser")} - $sseU) / 2.0) / ($sseU / (${dbl("n")}" +
      s" - 2.0)))"
    s"""WITH cells AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |pts AS (
      |  SELECT CAST(y AS HUGEINT) AS y, CAST(f AS HUGEINT) AS f
      |  FROM (SELECT y, LAG(y, 12) OVER (ORDER BY m) AS f FROM cells)
      |  WHERE f IS NOT NULL),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    SUM(f) AS sf, SUM(y) AS sy,
      |    SUM((y - f) * (y - f)) AS sser,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(f * f) - SUM(f) * SUM(f) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(y * y) - SUM(y) * SUM(y) AS dy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(f * y) - SUM(f) * SUM(y) AS cxy
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_forecasts,
      |  CAST(CASE WHEN sy * dx - cxy * sf >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sy * dx - cxy * sf) * 1000000) // (n * dx)) AS BIGINT)
      |    AS alpha_e6,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx) AS BIGINT) AS beta_e6,
      |  $f AS mz_f_d,
      |  CASE WHEN $f > 3.13 THEN 'forecast_irrational'
      |    ELSE 'rational' END AS verdict_5pct
      |FROM mo""".stripMargin
  }

  // ------ q475: directional forecast skill (Pesaran–Timmermann + U2)

  /** q475: directional accuracy — q473's DM weighs squared losses,
    * but traders and planners often only need the DIRECTION right:
    * the Pesaran–Timmermann test asks whether the momentum rule
    * "this month moves the way last month moved" beats the hit rate
    * its marginals would produce by luck, with the full four-term
    * variance; Theil's U2 rides beside it, scoring the seasonal-
    * naive forecast against the naive benchmark in RMSE ratio terms.
    * All counts and sums fold exactly; both statistics finish as one
    * IEEE tree each.
    *
    * Plan: one orders pass → month rollup → lag windows over
    * metadata → 1-row fold.
    */
  val q475DirectionalSkill: Q = (s, dir) => {
    val cells = monthlyRevenue(s, dir).localCheckpoint()
    val w = Window.orderBy(col("m"))
    val lagged = cells
      .withColumn("y1", lag(col("y"), 1).over(w))
      .withColumn("y2", lag(col("y"), 2).over(w))
      .withColumn("y12", lag(col("y"), 12).over(w))
    val dirs = lagged.filter(col("y2").isNotNull)
      .select((col("y") > col("y1")).cast("long").as("up"),
        (col("y1") > col("y2")).cast("long").as("fup"))
    val ptFold = dirs.agg(count(lit(1)).cast(dec).as("m"),
      sum(when(col("up") === col("fup"), 1L).otherwise(0L)).cast(dec)
        .as("h"),
      sum(col("up")).cast(dec).as("nu"), sum(col("fup")).cast(dec)
        .as("nf"))
    val u2Fold = lagged.filter(col("y12").isNotNull)
      .agg(sum((col("y") - col("y12")).cast(dec) *
        (col("y") - col("y12"))).as("ssn"),
        sum((col("y") - col("y1")).cast(dec) * (col("y") - col("y1")))
          .as("ss1"))
    val py = d("nu") / d("m"); val pf = d("nf") / d("m")
    val pHat = d("h") / d("m")
    val pStar = py * pf + (lit(1.0) - py) * (lit(1.0) - pf)
    val vHat = pStar * (lit(1.0) - pStar) / d("m")
    val vStar = (py * 2.0 - 1.0) * (py * 2.0 - 1.0) * pf *
      (lit(1.0) - pf) / d("m") +
      (pf * 2.0 - 1.0) * (pf * 2.0 - 1.0) * py * (lit(1.0) - py) /
        d("m") +
      py * pf * (lit(1.0) - py) * (lit(1.0) - pf) * 4.0 /
        (d("m") * d("m"))
    val ptZ = (pHat - pStar) / sqrt(vHat - vStar)
    val u2 = sqrt(d("ssn") / d("ss1"))
    ptFold.crossJoin(broadcast(u2Fold))
      .select(col("m").cast("long").as("n_signs"),
        col("h").cast("long").as("n_hits"),
        ptZ.as("pt_z_d"), u2.as("theil_u2_d"),
        when(ptZ > 1.6449, lit("momentum_has_skill"))
          .otherwise(lit("no_directional_skill")).as("verdict_5pct"))
  }

  val q475Sql: String = {
    val py = s"(${dbl("nu")} / ${dbl("m")})"
    val pf = s"(${dbl("nf")} / ${dbl("m")})"
    val pHat = s"(${dbl("h")} / ${dbl("m")})"
    val pStar = s"($py * $pf + (1.0 - $py) * (1.0 - $pf))"
    val vHat = s"($pStar * (1.0 - $pStar) / ${dbl("m")})"
    val vStar = s"(($py * 2.0 - 1.0) * ($py * 2.0 - 1.0) * $pf *" +
      s" (1.0 - $pf) / ${dbl("m")} + ($pf * 2.0 - 1.0) * ($pf * 2.0 - 1.0)" +
      s" * $py * (1.0 - $py) / ${dbl("m")} + $py * $pf * (1.0 - $py) *" +
      s" (1.0 - $pf) * 4.0 / (${dbl("m")} * ${dbl("m")}))"
    val ptZ = s"(($pHat - $pStar) / sqrt($vHat - $vStar))"
    val u2 = s"sqrt(${dbl("ssn")} / ${dbl("ss1")})"
    s"""WITH cells AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |lagged AS (
      |  SELECT y, LAG(y, 1) OVER (ORDER BY m) AS y1,
      |    LAG(y, 2) OVER (ORDER BY m) AS y2,
      |    LAG(y, 12) OVER (ORDER BY m) AS y12
      |  FROM cells),
      |dirs AS (
      |  SELECT CASE WHEN y > y1 THEN 1 ELSE 0 END AS up,
      |    CASE WHEN y1 > y2 THEN 1 ELSE 0 END AS fup
      |  FROM lagged WHERE y2 IS NOT NULL),
      |pt AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
      |    CAST(SUM(CASE WHEN up = fup THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS h,
      |    CAST(SUM(up) AS HUGEINT) AS nu,
      |    CAST(SUM(fup) AS HUGEINT) AS nf
      |  FROM dirs),
      |u2f AS (
      |  SELECT SUM(CAST(y - y12 AS HUGEINT) * (y - y12)) AS ssn,
      |    SUM(CAST(y - y1 AS HUGEINT) * (y - y1)) AS ss1
      |  FROM lagged WHERE y12 IS NOT NULL)
      |SELECT CAST(m AS BIGINT) AS n_signs, CAST(h AS BIGINT) AS n_hits,
      |  $ptZ AS pt_z_d, $u2 AS theil_u2_d,
      |  CASE WHEN $ptZ > 1.6449 THEN 'momentum_has_skill'
      |    ELSE 'no_directional_skill' END AS verdict_5pct
      |FROM pt CROSS JOIN u2f""".stripMargin
  }

  // ------ q476: Ansari–Bradley scale test with hash-permutation p

  /** Pseudo-permutation count for the Ansari–Bradley null. */
  val AbPermB = 19

  /** q476: the Ansari–Bradley test — the RANK test of SCALE (q444's
    * Cucconi is the location-scale omnibus; AB isolates dispersion):
    * scores fold toward the ends, s = min(2R̄, 2(N+1) − 2R̄) on
    * doubled mid-ranks, so a group whose values crowd the extremes
    * scores low. Heavy quantity ties make the textbook variance
    * wrong, so the null is the q419 HASH-PERMUTATION device instead:
    * B relabelings by portable hash, each statistic centered as the
    * exact integer |T·N − n₂·S| so varying relabeled group sizes
    * cancel, p exact at 1/(B+1) resolution.
    *
    * Plan: one lineitem pass → value rollup scores (broadcast) →
    * ×B spine fold on the row stream. Bounded fan-out.
    */
  val q476AnsariBradley: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_returnflag") === "R").cast("long").as("grp"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("v"))
    val byV = li.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("v")).rowsBetween(
      Window.unboundedPreceding, -1)
    val nAll = byV.agg(sum(col("cnt")).as("n"))
    val scores = byV
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .crossJoin(broadcast(nAll))
      .select(col("v"),
        least(col("below") * 2 + col("cnt") + 1,
          (col("n") + 1) * 2 - (col("below") * 2 + col("cnt") + 1))
          .as("sc"),
        col("n"))
    val totS = byV.join(scores, Seq("v"))
      .agg(sum(col("cnt").cast(dec) * col("sc")).as("s_all"))
    // scale shape: ONE corpus pass computes, per value, the observed
    // group-1 count AND all B bit-sums of the per-row hash (bit b of
    // one md5 IS relabeling b) — the xB spine never touches the fact
    // stream, it unfolds on the ~50-row value rollup
    val hashed = li.withColumn("h",
      graft.functions.Text.portableHash(
        concat(col("l_orderkey").cast("string"), lit("#"),
          col("l_linenumber").cast("string"))))
    val bitSums = (1 to AbPermB).map(b =>
      sum(expr(s"(h div ${1L << b}) % 2")).as(s"sb_$b"))
    val aggAll = Seq(sum(col("grp")).as("sb_0")) ++ bitSums
    val perV = hashed.groupBy(col("v"))
      .agg(aggAll.head, aggAll.tail: _*)
      .localCheckpoint()
    val arms = perV.select(col("v"), explode(map(
      (0 to AbPermB).flatMap(b =>
        Seq(lit(b.toLong), col(s"sb_$b"))): _*)).as(Seq("b", "cnt")))
    val stats = arms
      .join(broadcast(scores.select(col("v"), col("sc"), col("n"))),
        Seq("v"))
      .groupBy(col("b"))
      .agg(sum(col("cnt").cast(dec) * col("sc")).as("t"),
        sum(col("cnt")).cast(dec).as("n2"),
        first(col("n")).cast(dec).as("n"))
      .crossJoin(broadcast(totS))
      .select(col("b"),
        abs(col("t") * col("n") - col("n2") * col("s_all")).as("cstat"))
      .localCheckpoint()
    val obs = stats.filter(col("b") === 0L).select(col("cstat")
      .as("c_obs"))
    stats.filter(col("b") > 0L).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(col("cstat") >= col("c_obs"), 1L).otherwise(0L))
          .as("n_ge"),
        first(col("c_obs")).as("c_obs"))
      .select(col("c_obs").cast("long").as("centered_stat_obs"),
        col("n_perm"), col("n_ge"),
        expr("CAST((1 + n_ge) * 1000000 div (1 + n_perm) AS BIGINT)")
          .as("p_e6"))
  }

  val q476Sql: String =
    s"""WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS v
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      |by_v AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM li GROUP BY v),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM by_v),
      |scores AS (
      |  SELECT v,
      |    LEAST(below * 2 + cnt + 1, (n.n + 1) * 2
      |      - (below * 2 + cnt + 1)) AS sc, n.n
      |  FROM (
      |    SELECT v, cnt,
      |      COALESCE(SUM(cnt) OVER (ORDER BY v
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS below
      |    FROM by_v) b CROSS JOIN n),
      |tot_s AS (
      |  SELECT SUM(CAST(by_v.cnt AS HUGEINT) * scores.sc) AS s_all
      |  FROM by_v JOIN scores USING (v)),
      |hashed AS (
      |  SELECT li.*, CAST(concat('0x', substr(md5(
      |      CAST(li.l_orderkey AS VARCHAR) || '#' ||
      |      CAST(li.l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM li),
      |per_v AS (
      |  SELECT v, CAST(SUM(grp) AS BIGINT) AS sb_0,
      |    ${(1 to AbPermB).map(b =>
             s"CAST(SUM((h // ${1L << b}) % 2) AS BIGINT) AS sb_$b")
             .mkString(", ")}
      |  FROM hashed GROUP BY v),
      |arms AS (
      |  SELECT v, sp.b,
      |    CASE sp.b ${(0 to AbPermB).map(b =>
             s"WHEN $b THEN sb_$b").mkString(" ")} END AS cnt
      |  FROM per_v
      |  CROSS JOIN (SELECT UNNEST(range(0, ${AbPermB + 1})) AS b) sp),
      |stats AS (
      |  SELECT b,
      |    ABS(SUM(CAST(cnt AS HUGEINT) * s.sc) * ANY_VALUE(s.n)
      |      - CAST(SUM(cnt) AS HUGEINT)
      |        * (SELECT s_all FROM tot_s)) AS cstat
      |  FROM arms JOIN scores s USING (v) GROUP BY b),
      |obs AS (SELECT cstat AS c_obs FROM stats WHERE b = 0)
      |SELECT CAST(ANY_VALUE(c_obs) AS BIGINT) AS centered_stat_obs,
      |  CAST(COUNT(*) AS BIGINT) AS n_perm,
      |  CAST(SUM(CASE WHEN cstat >= c_obs THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ge,
      |  CAST((1 + SUM(CASE WHEN cstat >= c_obs THEN 1 ELSE 0 END))
      |    * 1000000 // (1 + COUNT(*)) AS BIGINT) AS p_e6
      |FROM stats CROSS JOIN obs WHERE b > 0""".stripMargin

  // ------ q477: Quade test — weighted blocked ranks

  /** q477: the Quade test — Friedman (q338) weights every block
    * equally; Quade's refinement weights blocks by the RANGE of what
    * happened inside them, so months where priorities actually
    * differ count more. Within-block ranks and the block-range ranks
    * are both deterministic total orders on the (month, priority)
    * mean-value grid, S_ij = Q_i·(r_ij − (k+1)/2) stays integer
    * (k = 5 ⇒ (k+1)/2 = 3), and the F statistic
    * (b−1)·ΣS_j² / (b·A − ΣS_j²) is ONE exact rational — a single
    * e6 floor, no doubles at all.
    *
    * Plan: one orders pass → 60-cell rollup → bounded rank windows
    * → 1-row fold.
    */
  val q477Quade: Q = (s, dir) => {
    val cells = Tables.orders(s, dir)
      .groupBy(expr("month(o_orderdate)").cast("long").as("mo"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("g"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))" +
        " div COUNT(*)").as("y"))
      .localCheckpoint()
    val ranked = cells.withColumn("r",
      row_number().over(Window.partitionBy(col("mo"))
        .orderBy(col("y"), col("g"))).cast("long"))
    val ranges = cells.groupBy(col("mo"))
      .agg((max(col("y")) - min(col("y"))).as("rng"))
      .withColumn("q", row_number().over(
        Window.orderBy(col("rng"), col("mo"))).cast("long"))
    val sij = ranked.join(broadcast(ranges), Seq("mo"))
      .select(col("g"), (col("q") * (col("r") - 3L)).cast(dec).as("s"))
    val byTreat = sij.groupBy(col("g")).agg(sum(col("s")).as("sj"))
    val fold = sij.agg(sum(col("s") * col("s")).as("a"),
      count(lit(1)).cast(dec).as("cells"))
      .crossJoin(broadcast(byTreat.agg(
        sum(col("sj") * col("sj")).as("bsum"),
        count(lit(1)).cast(dec).as("k"))))
      .withColumn("b", expr(fdiv("cells", "k")))
    fold.select(col("b").cast("long").as("n_blocks"),
      col("k").cast("long").as("n_treatments"),
      expr(fdiv("(b - 1) * bsum * 1000000", "b * a - bsum"))
        .cast("long").as("quade_f_e6"),
      when(expr(fdiv("(b - 1) * bsum * 1000000", "b * a - bsum")) >
        2580000L, lit("priorities_differ"))
        .otherwise(lit("homogeneous")).as("verdict_5pct"))
  }

  val q477Sql: String =
    """WITH cells AS (
      |  SELECT month(o_orderdate) AS mo,
      |    CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS g,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // COUNT(*)
      |      AS y
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT mo, g,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY mo ORDER BY y, g)
      |      AS BIGINT) AS r
      |  FROM cells),
      |ranges AS (
      |  SELECT mo,
      |    CAST(ROW_NUMBER() OVER (ORDER BY MAX(y) - MIN(y), mo)
      |      AS BIGINT) AS q
      |  FROM cells GROUP BY mo),
      |sij AS (
      |  SELECT g, CAST(q * (r - 3) AS HUGEINT) AS s
      |  FROM ranked JOIN ranges USING (mo)),
      |by_treat AS (SELECT g, SUM(s) AS sj FROM sij GROUP BY g),
      |fold AS (
      |  SELECT (SELECT SUM(s * s) FROM sij) AS a,
      |    (SELECT CAST(COUNT(*) AS HUGEINT) FROM sij) AS cells,
      |    SUM(sj * sj) AS bsum,
      |    CAST(COUNT(*) AS HUGEINT) AS k
      |  FROM by_treat),
      |fb AS (SELECT *, cells // k AS b FROM fold)
      |SELECT CAST(b AS BIGINT) AS n_blocks,
      |  CAST(k AS BIGINT) AS n_treatments,
      |  CAST((b - 1) * bsum * 1000000 // (b * a - bsum) AS BIGINT)
      |    AS quade_f_e6,
      |  CASE WHEN (b - 1) * bsum * 1000000 // (b * a - bsum) > 2580000
      |    THEN 'priorities_differ' ELSE 'homogeneous' END
      |    AS verdict_5pct
      |FROM fb""".stripMargin

  // ------ q478: distance correlation between quantity and discount

  /** q478: distance correlation (Székely–Rizzo 2007) — the modern
    * DEPENDENCE measure that is ZERO if and only if the variables
    * are independent, catching the nonlinear structure Pearson
    * (q117), Spearman (q271) and even Hoeffding's D (q396) can
    * miss. Quantity (50 values) and discount (11 cent values) have
    * small native supports, so the O(n²) double-centering collapses
    * onto the ≤ 550-cell joint contingency: row means and the grand
    * mean stage as one e6 floor per cell (sum-order safe), the three
    * dCov numerators fold over cell PAIRS (≤ 550² metadata rows),
    * and dCor = V_xy/√(V_xx·V_yy) finishes as one IEEE tree — the
    * N²·10¹² scale factors cancel.
    *
    * Plan: one lineitem pass → 550-cell rollup (checkpointed) → two
    * bounded pair passes → 1-row fold.
    */
  val q478DistanceCorrelation: Q = (s, dir) => {
    val cells = Tables.lineitem(s, dir)
      .groupBy(expr("CAST(ROUND(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(ROUND(l_discount * 100) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val nTot = cells.agg(sum(col("n")).as("nn"))
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("n").as("na"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("n").as("nb"))
    val rowm = a.join(broadcast(b), lit(true))
      .groupBy(col("xa"), col("ya"))
      .agg(sum(col("nb").cast(dec) * abs(col("xa") - col("xb")))
        .as("sax"),
        sum(col("nb").cast(dec) * abs(col("ya") - col("yb"))).as("say"))
      .crossJoin(broadcast(nTot))
      .select(col("xa"), col("ya"),
        expr(fdiv("sax * 1000000", "nn")).as("abar"),
        expr(fdiv("say * 1000000", "nn")).as("bbar"))
      .localCheckpoint()
    val grand2 = rowm.join(cells, col("xa") === col("x") &&
      col("ya") === col("y"))
      .crossJoin(broadcast(nTot))
      .select(col("n"), col("abar"), col("bbar"), col("nn"))
      .agg(first(col("nn")).cast(dec).as("nn"),
        sum(col("n").cast(dec) * col("abar")).as("sna"),
        sum(col("n").cast(dec) * col("bbar")).as("snb"))
      .select(col("nn"),
        expr(fdiv("sna", "nn")).as("agbar"),
        expr(fdiv("snb", "nn")).as("bgbar"))
    val la = rowm.select(col("xa"), col("ya"), col("abar").as("abar_a"),
      col("bbar").as("bbar_a"))
    val lb = rowm.select(col("xa").as("xb"), col("ya").as("yb"),
      col("abar").as("abar_b"), col("bbar").as("bbar_b"))
    val paired = a.join(broadcast(la), Seq("xa", "ya"))
      .join(broadcast(lb.join(b, Seq("xb", "yb"))), lit(true))
      .crossJoin(broadcast(grand2))
      .select(col("na").cast(dec) * col("nb") as "w",
        (abs(col("xa") - col("xb")) * 1000000 - col("abar_a") -
          col("abar_b") + col("agbar")).as("ac"),
        (abs(col("ya") - col("yb")) * 1000000 - col("bbar_a") -
          col("bbar_b") + col("bgbar")).as("bc"))
    val folds = paired.agg(
      sum(col("w") * col("ac") * col("bc")).as("vxy"),
      sum(col("w") * col("ac") * col("ac")).as("vxx"),
      sum(col("w") * col("bc") * col("bc")).as("vyy"))
    val dcor = d("vxy") / sqrt(d("vxx") * d("vyy"))
    folds.crossJoin(broadcast(nTot))
      .select(col("nn").cast("long").as("n_lines"),
        dcor.as("dcor_d"),
        (d("vxy") / (d("nn") * d("nn") * 1e12)).as("dcov2_d"))
  }

  val q478Sql: String = {
    s"""WITH cells AS (
      |  SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
      |    CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |nt AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn FROM cells),
      |rowm AS (
      |  SELECT a.x AS xa, a.y AS ya,
      |    SUM(CAST(b.n AS HUGEINT) * ABS(a.x - b.x)) * 1000000
      |      // ANY_VALUE(nt.nn) AS abar,
      |    SUM(CAST(b.n AS HUGEINT) * ABS(a.y - b.y)) * 1000000
      |      // ANY_VALUE(nt.nn) AS bbar
      |  FROM cells a CROSS JOIN cells b CROSS JOIN nt
      |  GROUP BY a.x, a.y),
      |grand AS (
      |  SELECT ANY_VALUE(nt.nn) AS nn,
      |    SUM(CAST(c.n AS HUGEINT) * r.abar) // ANY_VALUE(nt.nn)
      |      AS agbar,
      |    SUM(CAST(c.n AS HUGEINT) * r.bbar) // ANY_VALUE(nt.nn)
      |      AS bgbar
      |  FROM rowm r JOIN cells c ON c.x = r.xa AND c.y = r.ya
      |  CROSS JOIN nt),
      |paired AS (
      |  SELECT CAST(ca.n AS HUGEINT) * cb.n AS w,
      |    ABS(ca.x - cb.x) * 1000000 - ra.abar - rb.abar + g.agbar
      |      AS ac,
      |    ABS(ca.y - cb.y) * 1000000 - ra.bbar - rb.bbar + g.bgbar
      |      AS bc
      |  FROM cells ca
      |  JOIN rowm ra ON ra.xa = ca.x AND ra.ya = ca.y
      |  CROSS JOIN cells cb
      |  JOIN rowm rb ON rb.xa = cb.x AND rb.ya = cb.y
      |  CROSS JOIN grand g),
      |folds AS (
      |  SELECT SUM(w * ac * bc) AS vxy, SUM(w * ac * ac) AS vxx,
      |    SUM(w * bc * bc) AS vyy
      |  FROM paired)
      |SELECT CAST(nn AS BIGINT) AS n_lines,
      |  (${dbl("vxy")} / sqrt(${dbl("vxx")} * ${dbl("vyy")})) AS dcor_d,
      |  (${dbl("vxy")} / (${dbl("nn")} * ${dbl("nn")} * 1e12)) AS dcov2_d
      |FROM folds CROSS JOIN nt""".stripMargin
  }

  // ------ q479: PERMANOVA over the Bray–Curtis nation matrix

  /** Pseudo-permutation count for the PERMANOVA null. */
  val PermanovaB = 19

  /** q479: PERMANOVA (Anderson 2001) — the distance-matrix ANOVA
    * that finishes what q434/q435 started: do REGIONS explain the
    * Bray–Curtis structure between nation brand mixes? The pseudo-F
    * needs only pairwise d²: SS_total = Σd²/n and SS_within from
    * region-internal pairs; labels permute via the q435 nation hash
    * device, and because SS_total is permutation-INVARIANT,
    * comparing SS_within alone decides F_b ≥ F_obs — every
    * comparison an exact integer after one floor per region. p exact
    * at 1/(B+1).
    *
    * Plan: the q434 pair matrix (one corpus pass) ⋈ broadcast nation
    * dim → 300-row pair table → ×B broadcast spine fold.
    */
  val q479Permanova: Q = (s, dir) => {
    val d1 = brayCurtisPairs(s, dir)
      .select(col("na"), col("nb"),
        (col("bc_e6").cast(dec) * col("bc_e6")).as("d2"))
      .localCheckpoint()
    val regions = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("rg"))
    val nats = d1.select(col("na").as("nat"))
      .union(d1.select(col("nb").as("nat"))).distinct()
      .join(broadcast(regions), Seq("nat"))
      .localCheckpoint()
    val nG = nats.groupBy(col("rg")).agg(count(lit(1)).as("nr"))
    val nAll = nats.agg(count(lit(1)).as("n"),
      countDistinct(col("rg")).as("g"))
    val spine = s.range(0L, PermanovaB + 1L).select(col("id").as("b"))
    val labels = nats.select(col("nat")).crossJoin(broadcast(spine))
      .withColumn("hk",
        when(col("b") === 0L, col("nat"))
          .otherwise(graft.functions.Text.portableHash(
            concat(lit("permanova#"), col("nat").cast("string"),
              lit("#"), col("b").cast("string")))))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("b")).orderBy(col("hk"), col("nat"))))
    val natOfRank = labels.filter(col("b") === 0L)
      .select(col("r"), col("nat").as("target"))
    val sigma = labels.join(broadcast(natOfRank), Seq("r"))
      .join(broadcast(nats.select(col("nat").as("target"),
        col("rg"))), Seq("target"))
      .select(col("b"), col("nat"), col("rg"))
    val within = d1.crossJoin(broadcast(spine))
      .join(broadcast(sigma.select(col("b"), col("nat").as("na"),
        col("rg").as("ra"))), Seq("b", "na"))
      .join(broadcast(sigma.select(col("b"), col("nat").as("nb"),
        col("rg").as("rb"))), Seq("b", "nb"))
      .filter(col("ra") === col("rb"))
      .groupBy(col("b"), col("ra"))
      .agg(sum(col("d2")).as("sd2"))
      .join(broadcast(nG.select(col("rg").as("ra"), col("nr"))),
        Seq("ra"))
      .groupBy(col("b"))
      .agg(sum(expr(fdiv("sd2 * 1000000", "nr"))).as("w"))
      .localCheckpoint()
    val tot = d1.crossJoin(broadcast(nAll))
      .agg(first(col("n")).cast(dec).as("n"),
        first(col("g")).cast(dec).as("g"),
        expr(fdiv("SUM(d2) * 1000000", "first(n)")).as("t"))
    val obs = within.filter(col("b") === 0L).select(col("w").as("w_obs"))
    val fStat = ((d("t") - d("w_obs")) / (d("g") - 1.0)) /
      (d("w_obs") / (d("n") - d("g")))
    within.filter(col("b") > 0L).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(col("w") <= col("w_obs"), 1L).otherwise(0L)).as("n_le"),
        first(col("w_obs")).as("w_obs"))
      .crossJoin(broadcast(tot))
      .select(col("n").cast("long").as("n_nations"),
        col("g").cast("long").as("n_regions"),
        fStat.as("pseudo_f_d"),
        col("n_perm"), col("n_le"),
        expr("CAST((1 + n_le) * 1000000 div (1 + n_perm) AS BIGINT)")
          .as("p_e6"))
  }

  val q479Sql: String = {
    val fStat = s"(((${dbl("t")} - ${dbl("w_obs")}) / (${dbl("g")} - 1.0))" +
      s" / (${dbl("w_obs")} / (${dbl("n")} - ${dbl("g")})))"
    s"""WITH $BrayCurtisCtes,
      |d1 AS (
      |  SELECT na, nb, CAST(bc_e6 AS HUGEINT) * bc_e6 AS d2 FROM bc),
      |nats AS (
      |  SELECT DISTINCT nat, n.n_regionkey AS rg FROM (
      |    SELECT na AS nat FROM d1 UNION SELECT nb FROM d1) u
      |  JOIN nation n ON n.n_nationkey = u.nat),
      |ng AS (SELECT rg, CAST(COUNT(*) AS BIGINT) AS nr
      |       FROM nats GROUP BY rg),
      |nall AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |  CAST(COUNT(DISTINCT rg) AS HUGEINT) AS g FROM nats),
      |spine AS (SELECT UNNEST(range(0, ${PermanovaB + 1})) AS b),
      |labels AS (
      |  SELECT b, nat,
      |    ROW_NUMBER() OVER (PARTITION BY b ORDER BY
      |      CASE WHEN b = 0 THEN nat
      |        ELSE CAST(concat('0x', substr(md5('permanova#' ||
      |          CAST(nat AS VARCHAR) || '#' || CAST(b AS VARCHAR)),
      |          1, 15)) AS BIGINT) END, nat) AS r
      |  FROM nats CROSS JOIN spine),
      |nat_of_rank AS (SELECT r, nat AS target FROM labels WHERE b = 0),
      |sigma AS (
      |  SELECT l.b, l.nat, t.rg
      |  FROM labels l
      |  JOIN nat_of_rank nr0 USING (r)
      |  JOIN nats t ON t.nat = nr0.target),
      |within AS (
      |  SELECT sp.b, SUM(per_r.wr) AS w FROM (
      |    SELECT sa.b AS b2, sa.rg AS ra,
      |      SUM(d1.d2) * 1000000 // ANY_VALUE(ng.nr) AS wr
      |    FROM d1
      |    CROSS JOIN spine sp2
      |    JOIN sigma sa ON sa.b = sp2.b AND sa.nat = d1.na
      |    JOIN sigma sb ON sb.b = sp2.b AND sb.nat = d1.nb
      |    JOIN ng ON ng.rg = sa.rg
      |    WHERE sa.rg = sb.rg
      |    GROUP BY sa.b, sa.rg) per_r
      |  JOIN (SELECT b FROM spine) sp ON sp.b = per_r.b2
      |  GROUP BY sp.b),
      |ptot AS (
      |  SELECT ANY_VALUE(nall.n) AS n, ANY_VALUE(nall.g) AS g,
      |    SUM(d2) * 1000000 // ANY_VALUE(nall.n) AS t
      |  FROM d1 CROSS JOIN nall),
      |obs AS (SELECT w AS w_obs FROM within WHERE b = 0),
      |fin AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_perm,
      |    CAST(SUM(CASE WHEN w <= w_obs THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_le,
      |    ANY_VALUE(w_obs) AS w_obs
      |  FROM within CROSS JOIN obs WHERE b > 0)
      |SELECT CAST(n AS BIGINT) AS n_nations,
      |  CAST(g AS BIGINT) AS n_regions,
      |  $fStat AS pseudo_f_d, n_perm, n_le,
      |  CAST((1 + n_le) * 1000000 // (1 + n_perm) AS BIGINT) AS p_e6
      |FROM fin CROSS JOIN ptot""".stripMargin
  }

  // ------ q480: Hodges–Lehmann shift estimator

  /** q480: the Hodges–Lehmann estimator — q295's Mann–Whitney tests
    * WHETHER returned lines differ in quantity; HL says BY HOW MUCH,
    * as the median of all n₁·n₂ pairwise differences — the robust
    * location-shift estimate with the same breakdown pedigree as the
    * median itself. Quantity's 50-value support turns the O(n²) pair
    * set into a 99-row difference spectrum with exact integer
    * masses, and the median difference is one rank-target selection
    * (lower median at even counts, documented).
    *
    * Plan: one lineitem pass → 100-cell rollup → bounded difference
    * fold → rank-target pick.
    */
  val q480HodgesLehmann: Q = (s, dir) => {
    val li = returnedQuantityCounts(s, dir)
    val xr = li.filter(col("a") === 1L).select(col("v").as("vr"),
      col("n").as("nr"))
    val xn = li.filter(col("a") === 0L).select(col("v").as("vn"),
      col("n").as("nn"))
    val diffs = xr.crossJoin(broadcast(xn))
      .groupBy((col("vr") - col("vn")).as("dv"))
      .agg(sum(col("nr") * col("nn")).as("m"))
      .localCheckpoint()
    val tot = diffs.agg(sum(col("m")).as("tm"))
    val w = Window.orderBy(col("dv")).rowsBetween(
      Window.unboundedPreceding, -1)
    val hl = diffs.withColumn("below",
      coalesce(sum(col("m")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .filter(col("below") < expr("(tm + 1) div 2") &&
        expr("(tm + 1) div 2") <= col("below") + col("m"))
      .select(col("dv").as("hl_shift"), col("tm"))
    val counts = li.agg(
      sum(when(col("a") === 1L, col("n")).otherwise(0L)).as("n_returned"),
      sum(when(col("a") === 0L, col("n")).otherwise(0L)).as("n_regular"))
    hl.crossJoin(broadcast(counts))
      .select(col("n_returned"), col("n_regular"),
        col("tm").cast("long").as("n_pairs"),
        col("hl_shift"))
  }

  val q480Sql: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
      |  GROUP BY 1, 2),
      |diffs AS (
      |  SELECT r.v - q.v AS dv, SUM(CAST(r.n AS HUGEINT) * q.n) AS m
      |  FROM (SELECT v, n FROM li WHERE a = 1) r
      |  CROSS JOIN (SELECT v, n FROM li WHERE a = 0) q
      |  GROUP BY 1),
      |tot AS (SELECT SUM(m) AS tm FROM diffs),
      |ranked AS (
      |  SELECT dv, m,
      |    COALESCE(SUM(m) OVER (ORDER BY dv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below
      |  FROM diffs),
      |hl AS (
      |  SELECT dv AS hl_shift, tot.tm
      |  FROM ranked CROSS JOIN tot
      |  WHERE below < (tm + 1) // 2 AND (tm + 1) // 2 <= below + m),
      |counts AS (
      |  SELECT CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END) AS BIGINT)
      |      AS n_returned,
      |    CAST(SUM(CASE WHEN a = 0 THEN n ELSE 0 END) AS BIGINT)
      |      AS n_regular
      |  FROM li)
      |SELECT n_returned, n_regular, CAST(tm AS BIGINT) AS n_pairs,
      |  CAST(hl_shift AS BIGINT) AS hl_shift
      |FROM hl CROSS JOIN counts""".stripMargin

  // ------ q481: Rosner's generalized ESD outlier procedure

  /** Rosner λ critical values for n = 25, α = 0.05, rounds 1..3
    * (published ESD tables — plan-time constants).
    */
  val EsdLambdas: Seq[Double] = Seq(2.82, 2.80, 2.78)

  /** q481: Rosner's generalized ESD test — q404's Grubbs checks ONE
    * suspected outlier and is notoriously masked by a second;
    * Rosner's procedure tests up to k=3 sequentially, recomputing
    * mean and spread after each removal, and the DECISION rule runs
    * backwards (the largest i with R_i > λ_i wins), immune to
    * masking. Three unrolled rounds over the 25-nation AOV panel:
    * each argmax |y·n − Σy| is an exact n-cleared integer ordering
    * (ties → nation), each R_i one IEEE expression over exact
    * moments, each λ a plan-time table constant.
    *
    * Plan: one orders pass → 25-row panel (checkpointed) → three
    * metadata argmax rounds.
    */
  val q481RosnerEsd: Q = (s, dir) => {
    val panel = ordersWithNation(s, dir)
      .groupBy(col("c_nationkey").cast("long").as("nat"))
      .agg(expr("SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))" +
        " div COUNT(*)").as("y"))
      .localCheckpoint()
    var active = panel
    var outRows: Seq[DataFrame] = Seq.empty
    for (k <- 1 to 3) {
      val mo = active.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("y")).cast(dec).as("sy"),
        sum(col("y").cast(dec) * col("y")).as("qyy"))
      val cand = active.crossJoin(broadcast(mo))
        .withColumn("dev",
          abs(col("y").cast(dec) * col("n") - col("sy")))
        .orderBy(col("dev").desc, col("nat")).limit(1)
      val sD = sqrt((d("qyy") - d("sy") * d("sy") / d("n")) /
        (d("n") - 1.0))
      val rD = (d("dev") / d("n")) / sD
      val lam = EsdLambdas(k - 1)
      outRows = outRows :+ cand.select(lit(k.toLong).as("round"),
        col("nat").as("nation"), col("y").as("aov"),
        rD.as("r_stat_d"), lit(lam).as("lambda_d"),
        (rD > lam).cast("long").as("is_outlier"))
      active = active.join(cand.select(col("nat")), Seq("nat"),
        "left_anti").localCheckpoint()
    }
    outRows.reduce(_ unionAll _)
      .select(col("round"), col("nation"), col("aov").cast("long")
        .as("aov"), col("r_stat_d"), col("lambda_d"), col("is_outlier"))
      .orderBy(col("round"))
  }

  val q481Sql: String = {
    def round(k: Int, from: String): String = {
      val lam = EsdLambdas(k - 1)
      val sD = s"sqrt((${dbl("qyy")} - ${dbl("sy")} * ${dbl("sy")} /" +
        s" ${dbl("n")}) / (${dbl("n")} - 1.0))"
      s"""mo$k AS (
         |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(y) AS HUGEINT) AS sy,
         |    SUM(CAST(y AS HUGEINT) * y) AS qyy
         |  FROM $from),
         |cand$k AS (
         |  SELECT $k AS round, a.nat, a.y,
         |    ABS(CAST(a.y AS HUGEINT) * mo$k.n - mo$k.sy) AS dev,
         |    mo$k.n, mo$k.sy, mo$k.qyy
         |  FROM $from a CROSS JOIN mo$k
         |  ORDER BY dev DESC, a.nat LIMIT 1),
         |out$k AS (
         |  SELECT round, nat AS nation, y AS aov,
         |    ((${dbl("dev")} / ${dbl("n")}) / $sD) AS r_stat_d,
         |    CAST('$lam' AS DOUBLE) AS lambda_d,
         |    CASE WHEN (${dbl("dev")} / ${dbl("n")}) / $sD > $lam
         |      THEN 1 ELSE 0 END AS is_outlier
         |  FROM cand$k),
         |act${k + 1} AS (
         |  SELECT p.* FROM $from p
         |  WHERE p.nat NOT IN (SELECT nat FROM cand$k))""".stripMargin
    }
    s"""WITH panel AS (
      |  SELECT c.c_nationkey AS nat,
      |    SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) // COUNT(*)
      |      AS y
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1),
      |act1 AS (SELECT * FROM panel),
      |${round(1, "act1")},
      |${round(2, "act2")},
      |${round(3, "act3")}
      |SELECT CAST(round AS BIGINT) AS round,
      |  CAST(nation AS BIGINT) AS nation, CAST(aov AS BIGINT) AS aov,
      |  r_stat_d, lambda_d, CAST(is_outlier AS BIGINT) AS is_outlier
      |FROM (SELECT * FROM out1 UNION ALL SELECT * FROM out2
      |      UNION ALL SELECT * FROM out3)
      |ORDER BY round""".stripMargin
  }

  // ------ q482: Siegel repeated-medians robust slope

  /** q482: Siegel's repeated-medians regression — q215's Theil–Sen
    * survives 29% contamination; Siegel's nested median (median over
    * i of the median over j of pairwise slopes) survives 50%, the
    * best possible breakdown. On the monthly revenue series the
    * 80×79 slope grid is metadata; both median layers are
    * deterministic rank-target selections over (slope, index) —
    * identical IEEE slope values and tie-breaks in both engines —
    * and the intercept repeats the device on y − β̂t.
    *
    * Plan: one orders pass → month rollup → bounded pair grid →
    * two rank-window medians.
    */
  val q482SiegelSlope: Q = (s, dir) => {
    val cells = monthlyRevenue(s, dir).localCheckpoint()
    val t0 = cells.agg(min(col("m")).as("m0"),
      count(lit(1)).as("tn"))
    val pts = cells.crossJoin(broadcast(t0))
      .select((col("m") - col("m0") + 1L).as("t"), col("y"), col("tn"))
      .localCheckpoint()
    val a = pts.select(col("t").as("ti"), col("y").as("yi"), col("tn"))
    val b = pts.select(col("t").as("tj"), col("y").as("yj"))
    val slopes = a.join(broadcast(b), col("ti") =!= col("tj"))
      .select(col("ti"), col("tj"), col("tn"),
        ((col("yj") - col("yi")).cast("double") /
          (col("tj") - col("ti")).cast("double")).as("sl"))
    val wI = Window.partitionBy(col("ti")).orderBy(col("sl"), col("tj"))
    val perI = slopes.withColumn("rk", row_number().over(wI))
      .filter(col("rk") === expr("(tn - 1 + 1) div 2"))
      .select(col("ti"), col("sl").as("med_i"), col("tn"))
    val wAll = Window.orderBy(col("med_i"), col("ti"))
    val beta = perI.withColumn("rk", row_number().over(wAll))
      .filter(col("rk") === expr("(tn + 1) div 2"))
      .select(col("med_i").as("beta_d"))
    val wInt = Window.orderBy(col("ic"), col("t"))
    val alpha = pts.crossJoin(broadcast(beta))
      .select(col("t"), col("tn"),
        (col("y").cast("double") - col("beta_d") *
          col("t").cast("double")).as("ic"))
      .withColumn("rk", row_number().over(wInt))
      .filter(col("rk") === expr("(tn + 1) div 2"))
      .select(col("ic").as("alpha_d"))
    beta.crossJoin(broadcast(alpha)).crossJoin(broadcast(
      pts.agg(count(lit(1)).as("n_months"))))
      .select(col("n_months"), col("beta_d"), col("alpha_d"))
  }

  val q482Sql: String =
    """WITH cells AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) // 100 AS y
      |  FROM orders GROUP BY 1),
      |t0 AS (SELECT MIN(m) AS m0, CAST(COUNT(*) AS BIGINT) AS tn
      |       FROM cells),
      |pts AS (
      |  SELECT m - m0 + 1 AS t, y, tn FROM cells CROSS JOIN t0),
      |slopes AS (
      |  SELECT a.t AS ti, b.t AS tj, a.tn,
      |    CAST(CAST(b.y - a.y AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(b.t - a.t AS VARCHAR) AS DOUBLE) AS sl
      |  FROM pts a JOIN pts b ON b.t <> a.t),
      |per_i AS (
      |  SELECT ti, sl AS med_i, tn FROM (
      |    SELECT ti, sl, tn,
      |      ROW_NUMBER() OVER (PARTITION BY ti ORDER BY sl, tj) AS rk
      |    FROM slopes)
      |  WHERE rk = (tn - 1 + 1) // 2),
      |beta AS (
      |  SELECT med_i AS beta_d FROM (
      |    SELECT med_i, ti, tn,
      |      ROW_NUMBER() OVER (ORDER BY med_i, ti) AS rk
      |    FROM per_i)
      |  WHERE rk = (tn + 1) // 2),
      |alpha AS (
      |  SELECT ic AS alpha_d FROM (
      |    SELECT CAST(CAST(y AS VARCHAR) AS DOUBLE)
      |        - beta_d * CAST(CAST(t AS VARCHAR) AS DOUBLE) AS ic,
      |      t, tn,
      |      ROW_NUMBER() OVER (ORDER BY
      |        CAST(CAST(y AS VARCHAR) AS DOUBLE)
      |          - beta_d * CAST(CAST(t AS VARCHAR) AS DOUBLE), t) AS rk
      |    FROM pts CROSS JOIN beta)
      |  WHERE rk = (tn + 1) // 2),
      |nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM pts)
      |SELECT n_months, beta_d, alpha_d
      |FROM beta CROSS JOIN alpha CROSS JOIN nm""".stripMargin

  // ------ q483: Yuen's trimmed-means robust two-sample test

  /** Trim fraction numerator for Yuen's test (20% each tail). */
  val YuenTrimPct = 20L

  /** q483: Yuen's test — q283's Welch t still worships the mean;
    * with 20% trimming Yuen compares TRIMMED means using WINSORIZED
    * variances, keeping the test honest under heavy tails. On the
    * quantity contingency everything is exact: the trim boundaries
    * are rank-target selections, the middle mass and the winsorized
    * moments are cumulative-count arithmetic with partial cells, and
    * t = (x̄ₜ₁ − x̄ₜ₂)/√(d₁+d₂) with d = s²w(n−1)/(h(h−1)) finishes
    * as one IEEE tree.
    *
    * Plan: one lineitem pass → 100-cell rollup → per-group
    * cumulative folds (metadata).
    */
  val q483YuenTest: Q = (s, dir) => {
    val li = returnedQuantityCounts(s, dir)
    def groupFold(grp: Long): DataFrame = {
      val g = li.filter(col("a") === grp)
      val nTot = g.agg(sum(col("n")).as("ng"))
      val w = Window.orderBy(col("v")).rowsBetween(
        Window.unboundedPreceding, -1)
      val cum = g.withColumn("below", coalesce(sum(col("n")).over(w),
        lit(0L))).crossJoin(broadcast(nTot))
        .withColumn("trim", expr(s"ng * $YuenTrimPct div 100"))
      // middle take per cell: overlap of [below, below+n) with
      // [trim, ng - trim)
      val taken = cum.withColumn("lo",
        greatest(col("below"), col("trim")))
        .withColumn("hi", least(col("below") + col("n"),
          col("ng") - col("trim")))
        .withColumn("take", greatest(col("hi") - col("lo"), lit(0L)))
      val bounds = cum
        .filter(col("below") < col("trim") + 1 &&
          col("trim") + 1 <= col("below") + col("n"))
        .select(col("v").as("vlo"))
        .crossJoin(broadcast(cum
          .filter(col("below") < col("ng") - col("trim") &&
            col("ng") - col("trim") <= col("below") + col("n"))
          .select(col("v").as("vhi"))))
      taken.crossJoin(broadcast(bounds))
        .agg(first(col("ng")).cast(dec).as(s"n$grp"),
          first(col("trim")).cast(dec).as(s"g$grp"),
          sum(col("take").cast(dec) * col("v")).as(s"mid$grp"),
          (sum(col("take").cast(dec) * col("v") * col("v")) +
            first(col("trim")).cast(dec) * first(col("vlo")) *
              first(col("vlo")) +
            first(col("trim")).cast(dec) * first(col("vhi")) *
              first(col("vhi"))).as(s"wss$grp"),
          (sum(col("take").cast(dec) * col("v")) +
            first(col("trim")).cast(dec) * first(col("vlo")) +
            first(col("trim")).cast(dec) * first(col("vhi")))
            .as(s"ws$grp"))
    }
    val f1 = groupFold(1L); val f0 = groupFold(0L)
    def h(g: String, n: String) = d(n) - d(g) * 2.0
    val tm1 = d("mid1") / h("g1", "n1")
    val tm0 = d("mid0") / h("g0", "n0")
    val sw1 = (d("wss1") - d("ws1") * d("ws1") / d("n1")) /
      (d("n1") - 1.0)
    val sw0 = (d("wss0") - d("ws0") * d("ws0") / d("n0")) /
      (d("n0") - 1.0)
    val d1 = sw1 * (d("n1") - 1.0) /
      (h("g1", "n1") * (h("g1", "n1") - 1.0))
    val d0 = sw0 * (d("n0") - 1.0) /
      (h("g0", "n0") * (h("g0", "n0") - 1.0))
    val t = (tm1 - tm0) / sqrt(d1 + d0)
    f1.crossJoin(broadcast(f0))
      .select(col("n1").cast("long").as("n_returned"),
        col("n0").cast("long").as("n_regular"),
        tm1.as("trimmed_mean_returned_d"),
        tm0.as("trimmed_mean_regular_d"),
        t.as("yuen_t_d"),
        when(abs(t) > 1.96, lit("robustly_different"))
          .otherwise(lit("no_robust_difference")).as("verdict_5pct"))
  }

  val q483Sql: String = {
    def h(g: String, n: String) = s"(${dbl(n)} - ${dbl(g)} * 2.0)"
    def gf(grp: Int) =
      s"""cum$grp AS (
         |  SELECT v, n,
         |    COALESCE(SUM(n) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS below,
         |    SUM(n) OVER () AS ng
         |  FROM li WHERE a = $grp),
         |cum${grp}t AS (
         |  SELECT *, ng * $YuenTrimPct // 100 AS trim FROM cum$grp),
         |bounds$grp AS (
         |  SELECT lo.v AS vlo, hi.v AS vhi
         |  FROM (SELECT v FROM cum${grp}t
         |        WHERE below < trim + 1 AND trim + 1 <= below + n) lo
         |  CROSS JOIN (SELECT v FROM cum${grp}t
         |        WHERE below < ng - trim
         |          AND ng - trim <= below + n) hi),
         |fold$grp AS (
         |  SELECT ANY_VALUE(CAST(ng AS HUGEINT)) AS n$grp,
         |    ANY_VALUE(CAST(trim AS HUGEINT)) AS g$grp,
         |    SUM(CAST(GREATEST(LEAST(below + n, ng - trim)
         |      - GREATEST(below, trim), 0) AS HUGEINT) * v) AS mid$grp,
         |    SUM(CAST(GREATEST(LEAST(below + n, ng - trim)
         |      - GREATEST(below, trim), 0) AS HUGEINT) * v * v)
         |      + ANY_VALUE(CAST(trim AS HUGEINT)) * ANY_VALUE(b.vlo)
         |        * ANY_VALUE(b.vlo)
         |      + ANY_VALUE(CAST(trim AS HUGEINT)) * ANY_VALUE(b.vhi)
         |        * ANY_VALUE(b.vhi) AS wss$grp,
         |    SUM(CAST(GREATEST(LEAST(below + n, ng - trim)
         |      - GREATEST(below, trim), 0) AS HUGEINT) * v)
         |      + ANY_VALUE(CAST(trim AS HUGEINT)) * ANY_VALUE(b.vlo)
         |      + ANY_VALUE(CAST(trim AS HUGEINT)) * ANY_VALUE(b.vhi)
         |      AS ws$grp
         |  FROM cum${grp}t CROSS JOIN bounds$grp b)""".stripMargin
    val tm1 = s"(${dbl("mid1")} / ${h("g1", "n1")})"
    val tm0 = s"(${dbl("mid0")} / ${h("g0", "n0")})"
    val sw1 = s"((${dbl("wss1")} - ${dbl("ws1")} * ${dbl("ws1")} /" +
      s" ${dbl("n1")}) / (${dbl("n1")} - 1.0))"
    val sw0 = s"((${dbl("wss0")} - ${dbl("ws0")} * ${dbl("ws0")} /" +
      s" ${dbl("n0")}) / (${dbl("n0")} - 1.0))"
    val d1 = s"($sw1 * (${dbl("n1")} - 1.0) / (${h("g1", "n1")} *" +
      s" (${h("g1", "n1")} - 1.0)))"
    val d0 = s"($sw0 * (${dbl("n0")} - 1.0) / (${h("g0", "n0")} *" +
      s" (${h("g0", "n0")} - 1.0)))"
    val t = s"(($tm1 - $tm0) / sqrt($d1 + $d0))"
    s"""WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
      |  GROUP BY 1, 2),
      |${gf(1)},
      |${gf(0)}
      |SELECT CAST(n1 AS BIGINT) AS n_returned,
      |  CAST(n0 AS BIGINT) AS n_regular,
      |  $tm1 AS trimmed_mean_returned_d,
      |  $tm0 AS trimmed_mean_regular_d,
      |  $t AS yuen_t_d,
      |  CASE WHEN ABS($t) > 1.96 THEN 'robustly_different'
      |    ELSE 'no_robust_difference' END AS verdict_5pct
      |FROM fold1 CROSS JOIN fold0""".stripMargin
  }

  // --------- q388: two-way ANOVA cell decomposition with interaction

  /** q388: the two-way factorial decomposition — q268 is one-way; real
    * warehouses ask two-factor questions ("does the priority effect on
    * price DEPEND on order status?"). The cell-means decomposition over
    * priority × status:
    *
    *   SS_cells = Σ n_ij(x̄_ij − x̄)²,  SS_AB = SS_cells − SS_A − SS_B,
    *   SS_W = SS_T − SS_cells
    *
    * (the interaction term signed — with unbalanced cells the main
    * effects here are the marginal, ignoring-the-other sums of squares;
    * documented). Every SS comes from exact integer power sums via the
    * n-cleared t = s²/n floors; mean squares are BIGINT cents², the two
    * F ratios fixed IEEE trees.
    *
    * Plan: one orders pass → 15-cell rollup; marginals and the fold are
    * metadata. One shuffle.
    */
  val q388TwoWayAnova: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"),
        cents(col("o_totalprice")).as("c"))
    val cells = o.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("c")).cast(dec).as("s"),
        sum(col("c").cast(dec) * col("c")).as("ss"))
      .localCheckpoint()
    val grand = cells.agg(sum(col("n")).as("nn"), sum(col("s")).as("st"),
      sum(col("ss")).as("sst"),
      countDistinct(col("a")).cast(dec).as("ka"),
      countDistinct(col("b")).cast(dec).as("kb"))
    val tCells = cells.agg(sum(expr(fdiv("s * s", "n"))).as("tc"))
    val tA = cells.groupBy(col("a"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .agg(sum(expr(fdiv("s * s", "n"))).as("ta"))
    val tB = cells.groupBy(col("b"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .agg(sum(expr(fdiv("s * s", "n"))).as("tb"))
    grand.crossJoin(broadcast(tCells)).crossJoin(broadcast(tA))
      .crossJoin(broadcast(tB))
      .select(col("nn"), col("ka"), col("kb"),
        (col("ta") - expr(fdiv("st * st", "nn"))).as("ss_a"),
        (col("tb") - expr(fdiv("st * st", "nn"))).as("ss_b"),
        (col("tc") - expr(fdiv("st * st", "nn"))).as("ss_cells"),
        (col("sst") - col("tc")).as("ss_w"))
      .select(col("nn").cast("long").as("n_rows"),
        expr(fdiv("ss_a", "ka - 1")).cast("long").as("ms_a_c2"),
        expr(fdiv("ss_b", "kb - 1")).cast("long").as("ms_b_c2"),
        expr(fdiv("ss_cells - ss_a - ss_b", "(ka - 1) * (kb - 1)"))
          .cast("long").as("ms_ab_c2"),
        expr(fdiv("ss_w", "nn - ka * kb")).cast("long").as("ms_w_c2"),
        (expr(fdiv("ss_a", "ka - 1")).cast("double") /
          expr(fdiv("ss_w", "nn - ka * kb")).cast("double")).as("f_a_d"),
        (expr(fdiv("ss_b", "kb - 1")).cast("double") /
          expr(fdiv("ss_w", "nn - ka * kb")).cast("double")).as("f_b_d"))
  }

  val q388Sql: String = {
    s"""WITH o AS (
      |  SELECT o_orderpriority AS a, o_orderstatus AS b,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |cells AS (
      |  SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(c) AS HUGEINT) AS s, SUM(CAST(c AS HUGEINT) * c) AS ss
      |  FROM o GROUP BY a, b),
      |grand AS (
      |  SELECT SUM(n) AS nn, SUM(s) AS st, SUM(ss) AS sst,
      |    CAST(COUNT(DISTINCT a) AS HUGEINT) AS ka,
      |    CAST(COUNT(DISTINCT b) AS HUGEINT) AS kb
      |  FROM cells),
      |tc AS (SELECT SUM(s * s // n) AS tc FROM cells),
      |ta AS (SELECT SUM(s * s // n) AS ta FROM (
      |  SELECT SUM(n) AS n, SUM(s) AS s FROM cells GROUP BY a)),
      |tb AS (SELECT SUM(s * s // n) AS tb FROM (
      |  SELECT SUM(n) AS n, SUM(s) AS s FROM cells GROUP BY b)),
      |sss AS (
      |  SELECT nn, ka, kb,
      |    ta - st * st // nn AS ss_a,
      |    tb - st * st // nn AS ss_b,
      |    tc - st * st // nn AS ss_cells,
      |    sst - tc AS ss_w
      |  FROM grand CROSS JOIN tc CROSS JOIN ta CROSS JOIN tb)
      |SELECT CAST(nn AS BIGINT) AS n_rows,
      |  CAST(ss_a // (ka - 1) AS BIGINT) AS ms_a_c2,
      |  CAST(ss_b // (kb - 1) AS BIGINT) AS ms_b_c2,
      |  CAST((ss_cells - ss_a - ss_b) // ((ka - 1) * (kb - 1)) AS BIGINT)
      |    AS ms_ab_c2,
      |  CAST(ss_w // (nn - ka * kb) AS BIGINT) AS ms_w_c2,
      |  ${dbl("ss_a // (ka - 1)")} / ${dbl("ss_w // (nn - ka * kb)")} AS f_a_d,
      |  ${dbl("ss_b // (kb - 1)")} / ${dbl("ss_w // (nn - ka * kb)")} AS f_b_d
      |FROM sss""".stripMargin
  }

  // --------------- q390: birthday-bound hash-collision audit

  /** Truncated hash space for the collision audit. */
  val BirthdayM = 65536L

  /** q390: the birthday audit — when the engine buckets keys into a
    * truncated hash space (LSH bands, shard counts, bitmap universes),
    * how many collisions should it EXPECT, and does the portable hash
    * deliver? Observed colliding pairs Σ C(c_m, 2) over the
    * [[BirthdayM]]-bucket histogram of the UNIQUE order keys vs the
    * birthday bound
    * E = n(n−1)/(2M); a healthy hash reads ratio ≈ 1, a broken one
    * reads far above (structure) or below (hidden regularity, equally
    * suspicious). Complements q366 (bit balance) with PAIRWISE balance.
    *
    * Plan: one lineitem pass → bucket histogram → 1-row fold.
    */
  val q390HashBirthday: Q = (s, dir) => {
    val h = graft.functions.Text.portableHash(col("o_orderkey").cast("string"))
    val buckets = Tables.orders(s, dir)
      .select((h % BirthdayM).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("c"))
    buckets.agg(sum(col("c")).cast(dec).as("n"),
        count(lit(1)).as("n_buckets"),
        sum(expr(fdiv("CAST(c AS DECIMAL(38,0)) * (c - 1)", "2"))).as("obs"))
      .select(col("n").cast("long").as("n_keys"),
        col("n_buckets").cast("long").as("n_buckets"),
        col("obs").cast("long").as("obs_pairs"),
        expr(fdiv("n * (n - 1) * 1000000", s"2 * $BirthdayM")).cast("long")
          .as("expected_pairs_e6"),
        expr(fdiv(s"obs * 2 * $BirthdayM * 1000000", "n * (n - 1)"))
          .cast("long").as("ratio_e6"))
  }

  val q390Sql: String =
    s"""WITH b AS (
      |  SELECT CAST(concat('0x',
      |      substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
      |    % $BirthdayM AS m
      |  FROM orders),
      |hist AS (SELECT m, CAST(COUNT(*) AS HUGEINT) AS c FROM b GROUP BY m),
      |folded AS (
      |  SELECT SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    SUM(c * (c - 1) // 2) AS obs
      |  FROM hist)
      |SELECT CAST(n AS BIGINT) AS n_keys, n_buckets,
      |  CAST(obs AS BIGINT) AS obs_pairs,
      |  CAST(n * (n - 1) * 1000000 // (2 * $BirthdayM) AS BIGINT)
      |    AS expected_pairs_e6,
      |  CAST(obs * 2 * $BirthdayM * 1000000 // (n * (n - 1)) AS BIGINT)
      |    AS ratio_e6
      |FROM folded""".stripMargin

  // ---------- q383: trending parts by smoothed log-frequency ratio

  /** How many movers to report in each direction. */
  val TrendTopK = 10

  /** q383: trend detection — which parts are HEATING UP or COOLING OFF
    * between the pre- and post-median halves of the order stream? The
    * raw count ratio explodes on small counts; the standard fix is
    * additive smoothing inside a log ratio,
    *
    *   score = log₂(c_post + 1) − log₂(c_pre + 1)
    *
    * (the portable LUT log), reported for the [[TrendTopK]] biggest
    * movers each way. Unlike q146's snapshot diff (absolute deltas),
    * the log ratio ranks a 3→30 jump above a 1000→1100 drift — trend,
    * not volume.
    *
    * Plan: one lineitem pass → (part, half) rollup → part-wide rows;
    * two TakeOrdered top-Ks — never a global sort.
    */
  val q383TrendingParts: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("part"),
        expr("unix_millis(l_shipdate) div 86400000").as("day"))
    val wide = EventQueries.splitAtMidday(li)
      .groupBy(col("part"))
      .agg(sum(when(col("day") < col("midday"), 1L).otherwise(0L)).as("c0"),
        sum(when(col("day") >= col("midday"), 1L).otherwise(0L)).as("c1"))
      .select(col("part"), col("c0"), col("c1"),
        (expr(l2("c1 + 1")) - expr(l2("c0 + 1"))).as("score_e6"))
      .localCheckpoint()
    val up = wide.orderBy(col("score_e6").desc, col("part"))
      .limit(TrendTopK).withColumn("direction", lit("up"))
    val down = wide.orderBy(col("score_e6").asc, col("part"))
      .limit(TrendTopK).withColumn("direction", lit("down"))
    up.unionAll(down)
      .select(col("direction"), col("part"), col("c0"), col("c1"),
        col("score_e6"))
      .orderBy(col("direction").desc, col("score_e6").desc, col("part"))
  }

  val q383Sql: String = {
    s"""WITH li AS (
      |  SELECT l_partkey AS part,
      |    CAST(epoch_ms(l_shipdate) AS BIGINT) // 86400000 AS day
      |  FROM lineitem),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM li),
      |wide AS (
      |  SELECT part,
      |    CAST(SUM(CASE WHEN day < midday THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c0,
      |    CAST(SUM(CASE WHEN day >= midday THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c1
      |  FROM li CROSS JOIN mid GROUP BY part),
      |scored AS (
      |  SELECT part, c0, c1,
      |    ${duckL2("c1 + 1")} - ${duckL2("c0 + 1")} AS score_e6
      |  FROM wide),
      |up AS (SELECT 'up' AS direction, part, c0, c1, score_e6
      |  FROM scored ORDER BY score_e6 DESC, part LIMIT $TrendTopK),
      |down AS (SELECT 'down' AS direction, part, c0, c1, score_e6
      |  FROM scored ORDER BY score_e6 ASC, part LIMIT $TrendTopK)
      |SELECT * FROM (SELECT * FROM up UNION ALL SELECT * FROM down)
      |ORDER BY direction DESC, score_e6 DESC, part""".stripMargin
  }

  // ------------ q384: rank-biased overlap of pre/post leaderboards

  /** RBO persistence parameter and evaluation depth. */
  val RboP = 0.9
  val RboDepth = 10

  /** Per-entry RBO weights W(m) = (1−p)/p · Σ_{d=m..D} p^d/d at e12,
    * computed ONCE at plan build (libm allowed there) and inlined as the
    * same integer literals in both engines — an item first covered by
    * both prefixes at depth m contributes exactly W(m).
    */
  private val RboW: IndexedSeq[Long] = {
    val sums = (1 to RboDepth).map { m =>
      (m to RboDepth).map(d => math.pow(RboP, d) / d).sum
    }
    sums.map(s => math.round(s * (1 - RboP) / RboP * 1e12))
  }

  /** q384: rank-biased overlap — did the revenue leaderboard CHANGE, in
    * the metric IR uses to compare indefinite rankings? Top-[[RboDepth]]
    * BRANDS by revenue in each half (the brand grain keeps the two
    * prefixes comparable — part-grain leaderboards at this cardinality
    * share almost nothing and read a degenerate 0); RBO(p = [[RboP]]) weights agreement
    * at depth d by p^d, so rank-1 churn matters and rank-20 churn
    * barely does — unlike q378's kappa (cell-level) or set Jaccard
    * (unordered). The whole truncated series collapses to one integer
    * lookup per common item: an item entering both prefixes at depth
    * m = max(rank_A, rank_B) contributes the plan-time weight W(m),
    * so RBO@20 = Σ W(max(ra, rb)) exactly — no per-depth loop, no
    * runtime pow.
    *
    * Plan: one fact pass → (part, half) revenue rollup; two TakeOrdered
    * top-20s; a 20×20-bounded join and a 1-row fold.
    */
  val q384Rbo: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wArr = RboW.mkString(", ")
    val li = withBrand(s, dir, Tables.lineitem(s, dir))
      .select(col("p_brand").as("brand"),
        expr("unix_millis(l_shipdate) div 86400000").as("day"),
        cents(col("l_extendedprice")).as("v"))
    val halves = EventQueries.splitAtMidday(li)
      .groupBy(col("brand"), (col("day") >= col("midday")).cast("long").as("t"))
      .agg(sum(col("v")).as("rev"))
      .localCheckpoint()
    def topOf(t: Long, rCol: String) = halves.filter(col("t") === t)
      .orderBy(col("rev").desc, col("brand")).limit(RboDepth)
      .select(col("brand"),
        row_number().over(Window.orderBy(col("rev").desc, col("brand")))
          .as(rCol))
    val joined = topOf(0L, "ra").join(topOf(1L, "rb"), Seq("brand"))
      .select(greatest(col("ra"), col("rb")).as("m"))
    joined
      .agg(count(lit(1)).as("n_common"),
        coalesce(sum(expr(s"element_at(array($wArr), CAST(m AS INT))")),
          lit(0L)).as("rbo"))
      .select(col("n_common").cast("long").as("n_common"),
        col("rbo").cast("long").as("rbo_e12"))
  }

  val q384Sql: String = {
    val wArr = RboW.mkString(", ")
    s"""WITH li AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(epoch_ms(l_shipdate) AS BIGINT) // 86400000 AS day,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS v
      |  FROM lineitem JOIN part p ON l_partkey = p.p_partkey),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM li),
      |halves AS (
      |  SELECT brand, CASE WHEN day >= midday THEN 1 ELSE 0 END AS t,
      |    CAST(SUM(v) AS HUGEINT) AS rev
      |  FROM li CROSS JOIN mid GROUP BY 1, 2),
      |ta AS (
      |  SELECT brand, ROW_NUMBER() OVER (ORDER BY rev DESC, brand) AS ra
      |  FROM halves WHERE t = 0 ORDER BY rev DESC, brand LIMIT $RboDepth),
      |tb AS (
      |  SELECT brand, ROW_NUMBER() OVER (ORDER BY rev DESC, brand) AS rb
      |  FROM halves WHERE t = 1 ORDER BY rev DESC, brand LIMIT $RboDepth),
      |joined AS (
      |  SELECT GREATEST(ra, rb) AS m FROM ta JOIN tb USING (brand))
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_common,
      |  CAST(COALESCE(SUM(([$wArr])[CAST(m AS INT)]), 0) AS BIGINT)
      |    AS rbo_e12
      |FROM joined""".stripMargin
  }

  // --------- q381: LMDI (log-mean Divisia) revenue decomposition

  /** q381: the LMDI-I decomposition — how much of each segment's revenue
    * change is VOLUME and how much is PRICE, with the property q175's
    * Laspeyres decomposition lacks: log-mean weights make the effects
    * ADD UP with no interaction term (in real arithmetic; the portable
    * LUT log leaves a small residual which ships as its own column —
    * the honesty line). Per return-flag segment, pre vs post median
    * ship-day, with V = Q·P:
    *
    *   ΔV_qty = L(V¹,V⁰)·ln(Q¹/Q⁰),  ΔV_price = L(V¹,V⁰)·ln(P¹/P⁰),
    *   L(a,b) = (a−b)/(ln a − ln b)  (= a when a = b)
    *
    * ln ratios decompose into LUT log2 differences of BIGINT-safe
    * single terms (never an a·b product that could overflow bin()), and
    * every division is a signed e6 floor.
    *
    * Plan: one fact pass → 3×2 segment-period rollup; everything after
    * is a 3-row metadata fold.
    */
  val q381Lmdi: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("unix_millis(l_shipdate) div 86400000").as("day"),
        cents(col("l_extendedprice")).as("v"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
    val cells = EventQueries.splitAtMidday(li)
      .groupBy(col("flag"),
        (col("day") >= col("midday")).cast("long").as("t"))
      .agg(sum(col("v")).cast(dec).as("vv"), sum(col("q")).cast(dec).as("qq"))
    val wide = cells.filter(col("t") === 1L)
      .select(col("flag"), col("vv").as("v1"), col("qq").as("q1"))
      .join(cells.filter(col("t") === 0L)
        .select(col("flag"), col("vv").as("v0"), col("qq").as("q0")),
        Seq("flag"))
      // ln ratios in e6 nats: ln2 * (log2 a - log2 b), single-term args
      .withColumn("lnv", expr(sdiv(
        s"(${l2("CAST(v1 AS BIGINT)")} - ${l2("CAST(v0 AS BIGINT)")}) * 693147",
        "1000000")))
      .withColumn("lnq", expr(sdiv(
        s"(${l2("CAST(q1 AS BIGINT)")} - ${l2("CAST(q0 AS BIGINT)")}) * 693147",
        "1000000")))
      .withColumn("lnp", col("lnv") - col("lnq"))
      // log-mean weight L(v1, v0), e0 cents; LUT resolution can zero the
      // denominator while v1 != v0 — take the a = b limit there
      .withColumn("lw", when(col("lnv") === 0L, col("v1")).otherwise(
        expr(sdiv("(v1 - v0) * 1000000", "lnv"))))
    wide.select(col("flag"),
        col("v0").cast("long").as("v0_c"), col("v1").cast("long").as("v1_c"),
        (col("v1") - col("v0")).cast("long").as("dv_c"),
        expr(sdiv("lw * lnq", "1000000")).cast("long").as("eff_qty_c"),
        expr(sdiv("lw * lnp", "1000000")).cast("long").as("eff_price_c"),
        ((col("v1") - col("v0")) -
          expr(sdiv("lw * lnq", "1000000")).cast(dec) -
          expr(sdiv("lw * lnp", "1000000")).cast(dec)).cast("long")
          .as("residual_c"))
      .orderBy(col("flag"))
  }

  val q381Sql: String = {
    s"""WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(epoch_ms(l_shipdate) AS BIGINT) // 86400000 AS day,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS v,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS q
      |  FROM lineitem),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM li),
      |cells AS (
      |  SELECT flag, CASE WHEN day >= midday THEN 1 ELSE 0 END AS t,
      |    CAST(SUM(v) AS HUGEINT) AS vv, CAST(SUM(q) AS HUGEINT) AS qq
      |  FROM li CROSS JOIN mid GROUP BY 1, 2),
      |wide AS (
      |  SELECT a.flag, a.vv AS v1, a.qq AS q1, b.vv AS v0, b.qq AS q0
      |  FROM cells a JOIN cells b ON a.flag = b.flag
      |    AND a.t = 1 AND b.t = 0),
      |lns AS (
      |  SELECT flag, v0, v1,
      |    ${duckSdiv(s"(${duckL2("CAST(v1 AS BIGINT)")} - ${duckL2("CAST(v0 AS BIGINT)")}) * 693147", "1000000")} AS lnv,
      |    ${duckSdiv(s"(${duckL2("CAST(q1 AS BIGINT)")} - ${duckL2("CAST(q0 AS BIGINT)")}) * 693147", "1000000")} AS lnq
      |  FROM wide),
      |lw AS (
      |  SELECT flag, v0, v1, lnq, lnv - lnq AS lnp,
      |    CASE WHEN lnv = 0 THEN v1
      |      ELSE ${duckSdiv("(v1 - v0) * 1000000", "lnv")} END AS lw
      |  FROM lns)
      |SELECT flag, CAST(v0 AS BIGINT) AS v0_c, CAST(v1 AS BIGINT) AS v1_c,
      |  CAST(v1 - v0 AS BIGINT) AS dv_c,
      |  CAST(${duckSdiv("lw * lnq", "1000000")} AS BIGINT) AS eff_qty_c,
      |  CAST(${duckSdiv("lw * lnp", "1000000")} AS BIGINT) AS eff_price_c,
      |  CAST((v1 - v0) - (${duckSdiv("lw * lnq", "1000000")})
      |    - (${duckSdiv("lw * lnp", "1000000")}) AS BIGINT) AS residual_c
      |FROM lw
      |ORDER BY flag""".stripMargin
  }

  // -------- q382: compaction planner — next-fit-decreasing bin pack

  /** Rowgroup target (rows per output file) for the packing plan. */
  val PackTarget = 1048576L

  /** q382: the compaction PLANNER — before `Compaction.rebuild` rewrites
    * anything, plan how today's per-day row counts pack into
    * [[PackTarget]]-row files with next-fit-decreasing (sort descending,
    * keep one open bin, ≤ 2·OPT by the classical bound) and report the
    * plan's efficiency against the volume lower bound ⌈total/target⌉.
    * The greedy is inherently sequential, so it folds driver-side over
    * the metadata-sized day rollup (the q259/q357 seam) while the
    * recursive-CTE oracle replays the identical (bin, load) walk.
    */
  val q382PackPlanner: Q = (s, dir) => {
    val roll = Tables.lineitem(s, dir)
      .select(expr("unix_millis(l_shipdate) div 86400000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("day")).collect()
    var bins = 0L
    var load = 0L
    var maxLoad = 0L
    roll.foreach { r =>
      val n = r.getAs[Long]("n")
      if (bins == 0L || load + n > PackTarget) { bins += 1; load = n }
      else load += n
      if (load > maxLoad) maxLoad = load
    }
    val total = roll.map(_.getAs[Long]("n")).sum
    val lb = (total + PackTarget - 1) / PackTarget
    import s.implicits._
    Seq((roll.length.toLong, total, PackTarget, bins, lb,
      if (bins == 0) 0L else lb * 1000000L / bins, maxLoad))
      .toDF("n_files", "total_rows", "target_rows", "bins_used",
        "lower_bound", "efficiency_e6", "max_bin_rows")
  }

  val q382Sql: String =
    s"""WITH RECURSIVE roll AS MATERIALIZED (
      |  SELECT CAST(epoch_ms(l_shipdate) AS BIGINT) // 86400000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY 1),
      |ordered AS MATERIALIZED (
      |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, day) AS rk
      |  FROM roll),
      |walk AS (
      |  SELECT rk, n, 1 AS bins, n AS load, n AS max_load
      |  FROM ordered WHERE rk = 1
      |  UNION ALL
      |  SELECT o.rk, o.n,
      |    CASE WHEN w.load + o.n > $PackTarget THEN w.bins + 1
      |      ELSE w.bins END,
      |    CASE WHEN w.load + o.n > $PackTarget THEN o.n
      |      ELSE w.load + o.n END,
      |    GREATEST(w.max_load,
      |      CASE WHEN w.load + o.n > $PackTarget THEN o.n
      |        ELSE w.load + o.n END)
      |  FROM walk w JOIN ordered o ON o.rk = w.rk + 1),
      |last AS (SELECT bins, max_load FROM walk ORDER BY rk DESC LIMIT 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
      |  CAST(SUM(n) AS BIGINT) AS total_rows FROM roll)
      |SELECT n_files, total_rows, CAST($PackTarget AS BIGINT)
      |    AS target_rows,
      |  CAST(bins AS BIGINT) AS bins_used,
      |  (total_rows + $PackTarget - 1) // $PackTarget AS lower_bound,
      |  CASE WHEN bins = 0 THEN 0 ELSE
      |    ((total_rows + $PackTarget - 1) // $PackTarget) * 1000000 // bins
      |    END AS efficiency_e6,
      |  CAST(max_load AS BIGINT) AS max_bin_rows
      |FROM last CROSS JOIN tot""".stripMargin

  // ---------- q376: 1-D Wasserstein (earth mover's) distance

  /** Bucket width (cents) for the Wasserstein value grid. */
  val W1Bucket = 10000L

  /** q376: the 1-D Wasserstein-1 distance between URGENT and LOW order
    * prices — the EDF family's third member with its third question:
    * KS (q157) reads the worst gap, CvM (q352) the mean-squared gap,
    * W₁ the COST of morphing one distribution into the other in actual
    * dollars (∫|F_A − F_B| dv — same units as the value axis, the only
    * one of the three a finance reader can act on). Computed exactly on
    * the [[W1Bucket]]-cent value grid (the metric is DEFINED on the
    * bucketed values — a documented quantization, not an approximation
    * of it): one cross-multiplied integer |cumA·n_B − cumB·n_A| per
    * grid step, Δv from LEAD over the ≤ range/W1Bucket-row bucket
    * rollup — metadata-sized, so the serial walk never touches the
    * corpus.
    */
  val q376Wasserstein: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin(MwArmA, MwArmB))
      .select((col("o_orderpriority") === MwArmA).cast("long").as("a"),
        expr(s"CAST(ROUND(o_totalprice*100) AS BIGINT) div $W1Bucket")
          .as("b"))
    // the value-grid rollup grows with the money domain (4990 rows at
    // sf0.1) — cumulative sums and the grid-step LEAD run through the
    // two-level bucket devices, checkpointed once and shared
    val cells = o.groupBy(col("b"))
      .agg(sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb"))
      .localCheckpoint()
    val walk = Prefix.leadOver(
        Prefix.runningSum(
          Prefix.runningSum(cells, "b", Nil, "ca", "cuma_l",
            includeCurrent = true, materialize = false),
          "b", Nil, "cb", "cumb_l", includeCurrent = true),
        "b", Nil, "b", "nextb")
      .withColumn("cuma", col("cuma_l").cast(dec))
      .withColumn("cumb", col("cumb_l").cast(dec))
      .filter(col("nextb").isNotNull)
    val tot = cells.agg(sum(col("ca")).cast(dec).as("na"),
      sum(col("cb")).cast(dec).as("nb"))
    walk.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        (abs(col("cuma") * col("nb") - col("cumb") * col("na")) *
          (col("nextb") - col("b")).cast(dec)).as("term"))
      .groupBy(col("na"), col("nb"))
      .agg(sum(col("term")).as("st"))
      .select(col("na").cast("long").as("n1"),
        col("nb").cast("long").as("n2"),
        expr(fdiv(s"st * $W1Bucket", "na * nb")).cast("long").as("w1_c"))
  }

  val q376Sql: String =
    s"""WITH o AS (
      |  SELECT CASE WHEN o_orderpriority = '$MwArmA' THEN 1 ELSE 0 END
      |      AS a,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) // $W1Bucket AS b
      |  FROM orders
      |  WHERE o_orderpriority IN ('$MwArmA', '$MwArmB')),
      |cells AS (
      |  SELECT b, CAST(SUM(a) AS HUGEINT) AS ca,
      |    CAST(SUM(1 - a) AS HUGEINT) AS cb
      |  FROM o GROUP BY b),
      |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM cells),
      |walk AS (
      |  SELECT b,
      |    SUM(ca) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    LEAD(b, 1) OVER (ORDER BY b) AS nextb
      |  FROM cells),
      |terms AS (
      |  SELECT ABS(cuma * nb - cumb * na) * (nextb - b) AS term, na, nb
      |  FROM walk CROSS JOIN tot WHERE nextb IS NOT NULL)
      |SELECT CAST(na AS BIGINT) AS n1, CAST(nb AS BIGINT) AS n2,
      |  CAST(SUM(term) * $W1Bucket // (na * nb) AS BIGINT) AS w1_c
      |FROM terms GROUP BY na, nb""".stripMargin

  // --------- q377: Cochran–Armitage trend test (ordered proportions)

  /** q377: Cochran–Armitage — do ORDERED groups trend in a binary rate?
    * q347's Mood and q272's KW treat the five priorities as unordered;
    * CA spends its single degree of freedom on the monotone alternative
    * ("the more urgent, the likelier an above-median price"), which is
    * the question the priority ladder actually poses. Scores w = 1..5
    * by priority order, y = price above the grand median (the q347
    * relational selection):
    *
    *   z² = T₁²·N / (A(N−A)·(N·Σw²n_g − (Σw·n_g)²)),
    *   T₁ = N·Σw·a_g − A·Σw·n_g
    *
    * — every term an exact DECIMAL integer (T₁ ≤ 5N² stays ≤ 10³⁸ to
    * 10¹⁸ rows); the final z² is one fixed IEEE tree.
    */
  val q377CochranArmitage: Q = (s, dir) => {
    val (o, med) = ordersAndMedian(s, dir)
    val byG = o.crossJoin(broadcast(med))
      .select(substring(col("g"), 1, 1).cast(dec).as("w"),
        when(col("c") > col("med"), 1L).otherwise(0L).as("y"))
      .agg(count(lit(1)).cast(dec).as("nn"),
        sum(col("y")).cast(dec).as("aa"),
        sum(col("w") * col("y")).as("swa"),
        sum(col("w")).as("swn"),
        sum(col("w") * col("w")).as("sw2n"))
    val t1 = (col("nn") * col("swa") - col("aa") * col("swn")).cast("double")
    val den = (col("aa") * (col("nn") - col("aa"))).cast("double") *
      (col("nn") * col("sw2n") - col("swn") * col("swn")).cast("double")
    byG.select(col("nn").cast("long").as("n_rows"),
      col("aa").cast("long").as("n_above"),
      (t1 * t1 * col("nn").cast("double") / den).as("z2_d"))
  }

  val q377Sql: String = {
    s"""WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |med AS (
      |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS med
      |  FROM o),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
      |    CAST(SUM(CASE WHEN c > med THEN 1 ELSE 0 END) AS HUGEINT) AS aa,
      |    CAST(SUM(CAST(substr(g, 1, 1) AS BIGINT) *
      |      CASE WHEN c > med THEN 1 ELSE 0 END) AS HUGEINT) AS swa,
      |    CAST(SUM(CAST(substr(g, 1, 1) AS BIGINT)) AS HUGEINT) AS swn,
      |    CAST(SUM(CAST(substr(g, 1, 1) AS BIGINT) *
      |      CAST(substr(g, 1, 1) AS BIGINT)) AS HUGEINT) AS sw2n
      |  FROM o CROSS JOIN med)
      |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(aa AS BIGINT) AS n_above,
      |  ${dbl("nn * swa - aa * swn")} * ${dbl("nn * swa - aa * swn")} *
      |    ${dbl("nn")} /
      |    (${dbl("aa * (nn - aa)")} * ${dbl("nn * sw2n - swn * swn")}) AS z2_d
      |FROM folded""".stripMargin
  }

  // ------- q374: rendezvous (HRW) placement audit with node removal

  /** Virtual node count for the placement ring. */
  val HrwNodes = 8

  /** q374: rendezvous-hashing placement — the data-placement policy a
    * 1000-executor deployment of this engine would use for sticky
    * assignment (cache affinity, shard ownership): each part lands on
    * argmax_node hash(part:node). The audit proves the two properties
    * that justify HRW IN THE OUTPUT: balance (per-node counts) and
    * MINIMAL MOVEMENT — after removing the last node, `n_non7_moved`
    * counts survivors whose assignment changed and is ZERO by
    * construction (only the removed node's keys move, exactly its
    * count). Scores are the portable hash, the 8-way argmax is an
    * inline greatest + first-match CASE (ties break to the lowest
    * node, spelled identically in both engines) — no explode, no
    * shuffle beyond the final 8-row rollup.
    */
  val q374HrwPlacement: Q = (s, dir) => {
    def score(i: Int) = graft.functions.Text.portableHash(
      concat(col("p_partkey").cast("string"), lit(s":$i")))
    val scored = Tables.part(s, dir).select(
      (col("p_partkey") +: (0 until HrwNodes).map(i => score(i).as(s"s$i"))): _*)
    def argmaxOver(n: Int): Column = {
      val mx = greatest((0 until n).map(i => col(s"s$i")): _*)
      (0 until n).foldRight(lit(-1L): Column) { (i, acc) =>
        when(col(s"s$i") === mx, i.toLong).otherwise(acc)
      }
    }
    val assigned = scored
      .select(argmaxOver(HrwNodes).as("node_b"),
        argmaxOver(HrwNodes - 1).as("node_a"))
      .localCheckpoint()
    val inv = assigned.agg(
      sum(when(col("node_b") =!= HrwNodes - 1 &&
        col("node_a") =!= col("node_b"), 1L).otherwise(0L))
        .as("n_non7_moved"),
      count(lit(1)).cast(dec).as("n_total"))
    val byNode = assigned.groupBy(col("node_a").as("node"))
      .agg(sum(when(col("node_b") === col("node_a"), 1L).otherwise(0L))
        .as("n_before"),
        count(lit(1)).as("n_after"))
    byNode.crossJoin(broadcast(inv))
      .select(col("node"), col("n_before").cast("long").as("n_before"),
        col("n_after").cast("long").as("n_after"),
        (col("n_after") - col("n_before")).cast("long").as("n_gained"),
        col("n_non7_moved").cast("long").as("n_non7_moved"),
        expr(fdiv("CAST(n_after - n_before AS DECIMAL(38,0)) * 1000000",
          "n_total")).cast("long").as("gained_share_e6"))
      .orderBy(col("node"))
  }

  val q374Sql: String = {
    def score(i: Int) =
      s"""CAST(concat('0x', substr(md5(concat(CAST(p_partkey AS VARCHAR),
         | ':$i')), 1, 15)) AS BIGINT)""".stripMargin.replace("\n", " ")
    val sCols = (0 until HrwNodes).map(i => s"${score(i)} AS s$i")
      .mkString(",\n      |    ")
    def argmax(n: Int): String = {
      val mx = "GREATEST(" + (0 until n).map(i => s"s$i").mkString(", ") + ")"
      "CASE " + (0 until n).map(i => s"WHEN s$i = $mx THEN $i")
        .mkString(" ") + " END"
    }
    s"""WITH scored AS (
      |  SELECT $sCols
      |  FROM part),
      |assigned AS (
      |  SELECT ${argmax(HrwNodes)} AS node_b,
      |    ${argmax(HrwNodes - 1)} AS node_a
      |  FROM scored),
      |inv AS (
      |  SELECT CAST(SUM(CASE WHEN node_b <> ${HrwNodes - 1}
      |      AND node_a <> node_b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_non7_moved,
      |    CAST(COUNT(*) AS HUGEINT) AS n_total
      |  FROM assigned),
      |by_node AS (
      |  SELECT node_a AS node,
      |    CAST(SUM(CASE WHEN node_b = node_a THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_before,
      |    CAST(COUNT(*) AS BIGINT) AS n_after
      |  FROM assigned GROUP BY node_a)
      |SELECT node, n_before, n_after, n_after - n_before AS n_gained,
      |  n_non7_moved,
      |  CAST(CAST(n_after - n_before AS HUGEINT) * 1000000 // n_total
      |    AS BIGINT) AS gained_share_e6
      |FROM by_node CROSS JOIN inv
      |ORDER BY node""".stripMargin
  }

  // ------------- q375: data-contract expectation suite (GE-style)

  /** q375: the expectation suite — the data-contract runner a warehouse
    * load pipeline gates on (the operational twin of q126's passive
    * profile): eight typed assertions over the star — non-null keys,
    * foreign-key coverage (anti-join spelled as unmatched count),
    * domain ranges, enumerated values, and key uniqueness — each a row
    * with checked/violation counts and a PASS/FAIL verdict. Every check
    * is a pushed-down, column-pruned aggregate; the union is 8 rows.
    */
  val q375Expectations: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val ev = Tables.events(s, dir)
    def row(name: String, table: String, checked: Column, viol: Column,
        df: DataFrame) =
      df.agg(checked.as("n_checked"), viol.as("n_violations"))
        .select(lit(name).as("check_name"), lit(table).as("table_name"),
          col("n_checked").cast("long").as("n_checked"),
          col("n_violations").cast("long").as("n_violations"),
          when(col("n_violations") === 0L, "PASS").otherwise("FAIL")
            .as("status"))
    val cnt = count(lit(1))
    val checks = Seq(
      row("orderkey_not_null", "lineitem", cnt,
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)), li),
      row("orderkey_fk_orders", "lineitem", cnt,
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)),
        li.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left")),
      row("custkey_fk_customer", "orders", cnt,
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)),
        o.join(broadcast(c.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left")),
      row("totalprice_positive", "orders", cnt,
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)), o),
      row("discount_in_range", "lineitem", cnt,
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)), li),
      row("quantity_in_range", "lineitem", cnt,
        sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
          .otherwise(0L)), li),
      row("orderkey_unique", "orders", cnt,
        (cnt - countDistinct(col("o_orderkey"))), o),
      row("event_type_enum", "events", cnt,
        sum(when(!col("event_type").isin("view", "click", "purchase",
          "signup", "error"), 1L).otherwise(0L)), ev))
    checks.reduce(_ unionAll _).orderBy(col("check_name"))
  }

  val q375Sql: String =
    """SELECT * FROM (
      |  SELECT 'orderkey_not_null' AS check_name, 'lineitem' AS table_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_checked,
      |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_violations,
      |    CASE WHEN SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
      |      THEN 'PASS' ELSE 'FAIL' END AS status
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orderkey_fk_orders', 'lineitem', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CASE WHEN SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      = 0 THEN 'PASS' ELSE 'FAIL' END
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'custkey_fk_customer', 'orders', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CASE WHEN SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
      |      = 0 THEN 'PASS' ELSE 'FAIL' END
      |  FROM orders od LEFT JOIN customer c ON od.o_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 'totalprice_positive', 'orders', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CASE WHEN SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)
      |      = 0 THEN 'PASS' ELSE 'FAIL' END
      |  FROM orders
      |  UNION ALL
      |  SELECT 'discount_in_range', 'lineitem', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CASE WHEN SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
      |      THEN 1 ELSE 0 END) = 0 THEN 'PASS' ELSE 'FAIL' END
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'quantity_in_range', 'lineitem', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    CASE WHEN SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
      |      THEN 1 ELSE 0 END) = 0 THEN 'PASS' ELSE 'FAIL' END
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orderkey_unique', 'orders', CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
      |    CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey)
      |      THEN 'PASS' ELSE 'FAIL' END
      |  FROM orders
      |  UNION ALL
      |  SELECT 'event_type_enum', 'events', CAST(COUNT(*) AS BIGINT),
      |    CAST(SUM(CASE WHEN event_type NOT IN ('view', 'click',
      |      'purchase', 'signup', 'error') THEN 1 ELSE 0 END) AS BIGINT),
      |    CASE WHEN SUM(CASE WHEN event_type NOT IN ('view', 'click',
      |      'purchase', 'signup', 'error') THEN 1 ELSE 0 END) = 0
      |      THEN 'PASS' ELSE 'FAIL' END
      |  FROM events)
      |ORDER BY check_name""".stripMargin

  // ------------ q371: price elasticity by log-log regression

  /** q371: own-price elasticity of demand — the slope of log-quantity on
    * log-price across parts, the number every pricing decision quotes
    * and q175's price/volume/mix decomposition cannot give (it
    * attributes, it doesn't extrapolate). Both logs ride the portable
    * LUT log2 (the BASE CANCELS in a log-log slope, so log2 elasticity
    * IS natural-log elasticity), per-part aggregates are exact integer
    * floors, and the slope/R² are one signed e6 floor and one fixed
    * IEEE tree over exact sums.
    *
    * Plan: one fact pass → part rollup → a 1-row fold.
    */
  val q371PriceElasticity: Q = (s, dir) => {
    val pp = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("sc"),
        count(lit(1)).as("nl"),
        sum(expr("CAST(ROUND(l_quantity) AS BIGINT)")).as("q"))
      .select(
        expr("CAST(" +
          l2(s"CAST(${fdiv("CAST(sc AS DECIMAL(38,0))", "nl")} AS BIGINT)") +
          " AS DECIMAL(38,0))").as("x"),
        expr(s"CAST(${l2("q")} AS DECIMAL(38,0))").as("y"))
    logLogFit(pp, "elasticity_e6")
  }

  val q371Sql: String = {
    def c(ab: String, a: String, b: String) = dbl(s"n * $ab - $a * $b")
    val r2 = s"((${c("sxy", "sx", "sy")} * ${c("sxy", "sx", "sy")}) / " +
      s"(${c("sxx", "sx", "sx")} * ${c("syy", "sy", "sy")}))"
    s"""WITH pp0 AS (
      |  SELECT
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS HUGEINT)
      |      // COUNT(*) AS avgp,
      |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_partkey),
      |pp AS (
      |  SELECT CAST(${duckL2("CAST(avgp AS BIGINT)")} AS HUGEINT) AS x,
      |    CAST(${duckL2("q")} AS HUGEINT) AS y
      |  FROM pp0),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM pp)
      |SELECT CAST(n AS BIGINT) AS n_parts,
      |  CAST(CASE WHEN n * sxy - sx * sy >= 0 THEN 1 ELSE -1 END *
      |    (ABS((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
      |    AS BIGINT) AS elasticity_e6,
      |  $r2 AS r2_d
      |FROM sums""".stripMargin
  }

  // ----------- q372: last-two-digit forensic audit (cents uniformity)

  /** q372: the cents-digit audit — Benford (q118) reads FIRST digits,
    * forensic accounting's other standard screen reads the LAST two:
    * organic amounts spread the trailing cents uniformly, while invented
    * or policy-priced amounts pile on .00/.99. Reports the exact
    * chi-square against uniform over the 100 cells,
    * χ² = (100·ΣO² − N²)/N (df = 99), the .00/.99 shares, and the
    * modal digit pair.
    *
    * Plan: one fact pass → 100-cell rollup → 100-row folds. One shuffle.
    */
  val q372LastDigitAudit: Q = (s, dir) => {
    val cells = Tables.orders(s, dir)
      .select((cents(col("o_totalprice")) % 100).as("dd"))
      .groupBy(col("dd")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val folded = cells.agg(sum(col("o")).cast(dec).as("n"),
      sum(col("o").cast(dec) * col("o")).as("so2"),
      max(col("o")).as("mx"),
      sum(when(col("dd") === 0L, col("o")).otherwise(0L)).cast(dec).as("c00"),
      sum(when(col("dd") === 99L, col("o")).otherwise(0L)).cast(dec).as("c99"))
    val top = cells.crossJoin(broadcast(folded.select(col("mx"))))
      .filter(col("o") === col("mx")).agg(max(col("dd")).as("top_pair"))
    folded.crossJoin(broadcast(top))
      .select(col("n").cast("long").as("n_rows"),
        expr(fdiv("(100 * so2 - n * n) * 1000000", "n")).cast("long")
          .as("chi2_e6"),
        expr(fdiv("c00 * 1000000", "n")).cast("long").as("share_00_e6"),
        expr(fdiv("c99 * 1000000", "n")).cast("long").as("share_99_e6"),
        col("top_pair").cast("long").as("top_pair"),
        expr(fdiv("mx * 1000000", "n")).cast("long").as("top_share_e6"))
  }

  val q372Sql: String =
    """WITH cells AS (
      |  SELECT CAST(ROUND(o_totalprice*100) AS BIGINT) % 100 AS dd,
      |    CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM orders GROUP BY 1),
      |folded AS (
      |  SELECT SUM(o) AS n, SUM(o * o) AS so2, MAX(o) AS mx,
      |    SUM(CASE WHEN dd = 0 THEN o ELSE 0 END) AS c00,
      |    SUM(CASE WHEN dd = 99 THEN o ELSE 0 END) AS c99
      |  FROM cells),
      |top AS (
      |  SELECT MAX(dd) AS top_pair FROM cells CROSS JOIN folded
      |  WHERE o = mx)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  CAST((100 * so2 - n * n) * 1000000 // n AS BIGINT) AS chi2_e6,
      |  CAST(c00 * 1000000 // n AS BIGINT) AS share_00_e6,
      |  CAST(c99 * 1000000 // n AS BIGINT) AS share_99_e6,
      |  CAST(top_pair AS BIGINT) AS top_pair,
      |  CAST(mx * 1000000 // n AS BIGINT) AS top_share_e6
      |FROM folded CROSS JOIN top""".stripMargin

  // --------- q368: post-hoc pairwise comparisons (Tukey q statistics)

  /** q368: the post-hoc pairwise panel — q268's ANOVA says SOME priority
    * differs in mean price; this says WHICH pairs, via the studentized-
    * range numerators Tukey's HSD compares: for every unordered pair,
    *
    *   q_ab = |x̄_a − x̄_b| / √(MSW/2·(1/n_a + 1/n_b))
    *
    * with MSW the pooled within-group mean square from exact per-group
    * power sums (each within-SS n-cleared with one floor). The mean
    * difference ships as a signed e6 integer; the q statistic is one
    * fixed IEEE tree. k = 5 groups → a 10-row broadcast self-join on the
    * 5-row rollup — post-hoc comparisons cost nothing beyond the one
    * fact pass.
    */
  val q368TukeyPairs: Q = (s, dir) => {
    val byG = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"))
      .groupBy(col("g"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("c")).cast(dec).as("s"),
        sum(col("c").cast(dec) * col("c")).as("ss"))
      .select(col("g"), col("n"), col("s"), col("ss"),
        expr(fdiv("n * ss - s * s", "n")).as("w"))
      .localCheckpoint()
    val msw = byG.agg(sum(col("w")).as("sw"), sum(col("n")).as("nn"),
        count(lit(1)).cast(dec).as("k"))
      .select(((col("sw")).cast("double") /
        (col("nn") - col("k")).cast("double")).as("msw_d"))
    val pairs = byG.select(col("g").as("g_a"), col("n").as("na"),
        col("s").as("sa"))
      .join(broadcast(byG.select(col("g").as("g_b"), col("n").as("nb"),
        col("s").as("sb"))), col("g_a") < col("g_b"))
      .crossJoin(broadcast(msw))
    val diffD = (col("sa").cast("double") / col("na").cast("double")) -
      (col("sb").cast("double") / col("nb").cast("double"))
    pairs.select(col("g_a"), col("g_b"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        expr(sdivBigint("(sa * nb - sb * na) * 1000000", "na * nb")).as("diff_e6"),
        (abs(diffD) / sqrt(col("msw_d") / lit(2.0) *
          (lit(1.0) / col("na").cast("double") +
            lit(1.0) / col("nb").cast("double")))).as("q_stat_d"))
      .orderBy(col("g_a"), col("g_b"))
  }

  val q368Sql: String = {
    s"""WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |by_g AS (
      |  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(c) AS HUGEINT)
      |      AS s,
      |    SUM(CAST(c AS HUGEINT) * c) AS ss
      |  FROM o GROUP BY g),
      |bw AS (SELECT g, n, s, ss, (n * ss - s * s) // n AS w FROM by_g),
      |msw AS (
      |  SELECT ${dbl("SUM(w)")} / ${dbl("SUM(n) - COUNT(*)")} AS msw_d
      |  FROM bw),
      |pairs AS (
      |  SELECT a.g AS g_a, b.g AS g_b, a.n AS na, b.n AS nb,
      |    a.s AS sa, b.s AS sb
      |  FROM bw a JOIN bw b ON a.g < b.g)
      |SELECT g_a, g_b, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(CASE WHEN sa * nb - sb * na >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sa * nb - sb * na) * 1000000) // (na * nb)) AS BIGINT)
      |    AS diff_e6,
      |  ABS(${dbl("sa")} / ${dbl("na")} - ${dbl("sb")} / ${dbl("nb")}) /
      |    sqrt(msw_d / 2.0 * (1.0 / ${dbl("na")} + 1.0 / ${dbl("nb")}))
      |    AS q_stat_d
      |FROM pairs CROSS JOIN msw
      |ORDER BY g_a, g_b""".stripMargin
  }

  // ------- q354: empirical-Bayes beta-binomial shrinkage of rates

  /** q354: empirical-Bayes shrinkage — the fix for every "top return-rate
    * parts" leaderboard that q30-style raw TOP-k gets wrong: a part with
    * 2/3 returns outranks one with 40/100 on the raw rate but carries far
    * less evidence. Fit a beta prior to the per-part return rates by the
    * method of moments (K = m(1−m)/v − 1, α = mK) and report each part's
    * posterior mean (x+α)/(n+K) next to the raw x/n — small-n rates pull
    * hard toward the corpus mean, large-n rates barely move, and the
    * leaderboard reorders accordingly. Everything is exact-integer e6
    * fixed point (rates floored BEFORE the moment sums — the q340 rule,
    * so cross-part additions are exact).
    *
    * Plan: one fact pass → part rollup (checkpointed — MoM fold and
    * per-part output both ride it); the prior is a broadcast 1-row
    * scalar; the leaderboard is a distributed TakeOrdered top-15.
    */
  val q354EbShrinkage: Q = (s, dir) => {
    val rates = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      .select(col("l_partkey"), col("n"), col("x"),
        expr(fdiv("CAST(x AS DECIMAL(38,0)) * 1000000", "n")).as("p"))
      .localCheckpoint()
    val mom = rates
      .agg(count(lit(1)).cast(dec).as("cnt"),
        sum(col("p")).as("sp"), sum(col("p") * col("p")).as("spp"))
      .select(expr(fdiv("sp", "cnt")).as("m_e6"),
        expr(fdiv("cnt * spp - sp * sp", "cnt * (cnt - 1)")).as("v_e12"))
      .select(col("m_e6"),
        (expr(fdiv("m_e6 * (1000000 - m_e6) * 1000000", "v_e12")) -
          lit(1000000).cast(dec)).as("k_e6"))
      .select(col("m_e6"), col("k_e6"),
        expr(fdiv("m_e6 * k_e6", "1000000")).as("alpha_e6"))
    rates.crossJoin(broadcast(mom))
      .select(col("l_partkey").as("part"), col("n"), col("x"),
        col("p").cast("long").as("raw_e6"),
        expr(fdiv("(CAST(x AS DECIMAL(38,0)) * 1000000 + alpha_e6) * 1000000",
          "CAST(n AS DECIMAL(38,0)) * 1000000 + k_e6")).cast("long")
          .as("shrunk_e6"),
        col("k_e6").cast("long").as("prior_k_e6"))
      .orderBy(col("raw_e6").desc, col("part"))
      .limit(15)
  }

  val q354Sql: String =
    """WITH pp AS (
      |  SELECT l_partkey AS part, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS x
      |  FROM lineitem GROUP BY l_partkey),
      |rates AS (SELECT part, n, x, x * 1000000 // n AS p FROM pp),
      |mom0 AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS cnt, SUM(p) AS sp,
      |    SUM(p * p) AS spp
      |  FROM rates),
      |mom1 AS (
      |  SELECT sp // cnt AS m_e6,
      |    (cnt * spp - sp * sp) // (cnt * (cnt - 1)) AS v_e12
      |  FROM mom0),
      |mom2 AS (
      |  SELECT m_e6,
      |    m_e6 * (1000000 - m_e6) * 1000000 // v_e12 - 1000000 AS k_e6
      |  FROM mom1),
      |mom AS (SELECT m_e6, k_e6, m_e6 * k_e6 // 1000000 AS alpha_e6
      |  FROM mom2)
      |SELECT CAST(part AS BIGINT) AS part, CAST(n AS BIGINT) AS n,
      |  CAST(x AS BIGINT) AS x, CAST(p AS BIGINT) AS raw_e6,
      |  CAST((x * 1000000 + alpha_e6) * 1000000 // (n * 1000000 + k_e6)
      |    AS BIGINT) AS shrunk_e6,
      |  CAST(k_e6 AS BIGINT) AS prior_k_e6
      |FROM rates CROSS JOIN mom
      |ORDER BY raw_e6 DESC, part LIMIT 15""".stripMargin

  // ---------- q352: two-sample Cramér–von Mises (EDF distance test)

  /** q352: the two-sample Cramér–von Mises test on URGENT vs LOW order
    * values — the INTEGRATED companion to q157's KS (KS reads the single
    * worst EDF gap, CvM the mean-squared gap over the whole curve, so it
    * sees broad shape differences KS misses). The classical form
    *
    *   T = [n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)²]/(nm(n+m)) − (4nm−1)/(6(n+m))
    *
    * is an O(N) pass over sorted elements; here the element sum collapses
    * PER TIE-CELL in closed form: a cell of t elements of group g at
    * doubled-average global rank d̄ and within-group doubled offset 2w
    * contributes Σ_{j=1..t}(d̄−2(w+j))² = t·A² − 2A·t(t+1) +
    * 4·(t(t+1)(2t+1)/6) with A = d̄−2w — the sum-of-squares identity as
    * a symbolic unroll, so no per-element expansion ever materializes
    * (ties use average doubled ranks, the deterministic convention shared
    * with q295/q337). Both rank families come from the two-level bucket
    * construction; every term is an exact integer ≤ 4·10³¹ at 10¹⁰ rows
    * per arm, and the two e6 floors subtract to the signed statistic.
    *
    * Plan: priority filter pushes to the scan; one fact pass → (arm,
    * value) rollup; global + per-arm ranks off the rollups; a cell-level
    * fold and a 2-row pivot finish.
    */
  val q352CramerVonMises: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin(MwArmA, MwArmB))
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"))
    val gc = o.groupBy(col("g"), col("c")).agg(count(lit(1)).as("cnt"))
    val byV = gc.groupBy(col("c")).agg(sum(col("cnt")).as("cnt"))
    val gRank = doubledRankBelow(byV, Seq.empty, "c", 100000L)
      .select(col("c"),
        (lit(2L) * col("below") + col("cnt") + 1L).as("dbar"))
    val cells = doubledRankBelow(gc, Seq("g"), "c", 100000L)
      .join(gRank, Seq("c"))
      .select(col("g"), col("cnt").cast(dec).as("t"),
        (col("dbar").cast(dec) - lit(2).cast(dec) * col("below")).as("a"))
    val perG = cells
      .select(col("g"),
        (col("t") * col("a") * col("a") -
          lit(2).cast(dec) * col("a") * col("t") * (col("t") + 1) +
          lit(4).cast(dec) *
            expr(fdiv("t * (t + 1) * (2 * t + 1)", "6"))).as("u4"),
        col("t"))
      .groupBy(col("g"))
      .agg(sum(col("u4")).as("u4"), sum(col("t")).as("n_g"))
    perG.agg(
        max(when(col("g") === MwArmA, col("n_g"))).as("n"),
        max(when(col("g") === MwArmB, col("n_g"))).as("m"),
        max(when(col("g") === MwArmA, col("u4"))).as("u41"),
        max(when(col("g") === MwArmB, col("u4"))).as("u42"))
      .select(col("n").cast("long").as("n1"), col("m").cast("long").as("n2"),
        (expr(fdiv("u41 * 1000000", "4 * m * (n + m)")) +
          expr(fdiv("u42 * 1000000", "4 * n * (n + m)")) -
          expr(fdiv("(4 * n * m - 1) * 1000000", "6 * (n + m)")))
          .cast("long").as("t_e6"))
  }

  val q352Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS g,
       |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
       |  FROM orders
       |  WHERE o_orderpriority IN ('$MwArmA', '$MwArmB')),
       |gc AS (SELECT g, c, CAST(COUNT(*) AS HUGEINT) AS cnt
       |  FROM o GROUP BY g, c),
       |by_v AS (SELECT c, SUM(cnt) AS cnt FROM gc GROUP BY c),
       |g_rank AS (
       |  SELECT c, 2 * COALESCE(SUM(cnt) OVER (ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + cnt + 1 AS dbar
       |  FROM by_v),
       |cells AS (
       |  SELECT g, cnt AS t,
       |    dbar - 2 * COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY c
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
       |  FROM gc JOIN g_rank USING (c)),
       |per_g AS (
       |  SELECT g,
       |    SUM(t * a * a - 2 * a * t * (t + 1)
       |      + 4 * (t * (t + 1) * (2 * t + 1) // 6)) AS u4,
       |    SUM(t) AS n_g
       |  FROM cells GROUP BY g),
       |piv AS (
       |  SELECT MAX(CASE WHEN g = '$MwArmA' THEN n_g END) AS n,
       |    MAX(CASE WHEN g = '$MwArmB' THEN n_g END) AS m,
       |    MAX(CASE WHEN g = '$MwArmA' THEN u4 END) AS u41,
       |    MAX(CASE WHEN g = '$MwArmB' THEN u4 END) AS u42
       |  FROM per_g)
       |SELECT CAST(n AS BIGINT) AS n1, CAST(m AS BIGINT) AS n2,
       |  CAST(u41 * 1000000 // (4 * m * (n + m))
       |    + u42 * 1000000 // (4 * n * (n + m))
       |    - (4 * n * m - 1) * 1000000 // (6 * (n + m)) AS BIGINT) AS t_e6
       |FROM piv""".stripMargin

  // ------ q485: Neyman-allocation stratified sampling design

  /** Total sample budget the allocation distributes across strata. */
  val SampleBudget = 1000L

  /** q485: Neyman (optimal) allocation for stratified sampling — the
    * SURVEY-DESIGN operator the engine's resampling family (q86/q328
    * rake to known margins) still lacked: given strata (order priority)
    * and a budget of [[SampleBudget]] draws, allocate n_h ∝ N_h·S_h so
    * the stratified mean's variance is minimized, next to the
    * proportional allocation (n_h ∝ N_h) it beats exactly when
    * within-stratum spreads differ. N_h·S_h = √(N_h·Σx² − (Σx)²) comes
    * out as ONE bit-portable FLOOR(SQRT(·)) per stratum (the q373 band
    * device; staged //10⁴ to stay under 2⁵³), and the integer budget is
    * apportioned by largest remainder — floor shares plus +1 to the
    * biggest remainders, deterministic priority tie-break — so the five
    * allocations sum to the budget EXACTLY in both engines, no float
    * rounding anywhere.
    *
    * Plan: one orders pass → 5-row stratum rollup (checkpointed) →
    * metadata windows for the apportionment.
    */
  val q485NeymanAllocation: Q = (s, dir) => {
    val B = SampleBudget
    val o = Tables.orders(s, dir).select(col("o_orderpriority").as("g"),
      expr("CAST(ROUND(o_totalprice*100) AS BIGINT) div 100000").as("x"))
    val per = o.groupBy(col("g"))
      .agg(count(lit(1)).cast(dec).as("nh"),
        sum(col("x")).cast(dec).as("sx"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      .select(col("g"), col("nh").cast("long").as("nh"),
        expr("CAST(FLOOR(SQRT(CAST(" +
          fdiv("nh * sxx - sx * sx", "10000") +
          " AS DOUBLE))) AS BIGINT)").as("w"))
      .localCheckpoint()
    val tot = per.agg(sum(col("w")).as("wt"), sum(col("nh")).as("nt"))
    val staged = per.crossJoin(broadcast(tot))
      .select(col("g"), col("nh"), col("w"),
        expr(s"CASE WHEN wt = 0 THEN NULL ELSE ($B * w) div wt END")
          .as("base_n"),
        expr(s"CASE WHEN wt = 0 THEN NULL ELSE ($B * w) % wt END")
          .as("rem_n"),
        expr(s"($B * nh) div nt").as("base_p"),
        expr(s"($B * nh) % nt").as("rem_p"))
      .localCheckpoint()
    val left = staged.agg((lit(B) - sum(col("base_n"))).as("ln"),
      (lit(B) - sum(col("base_p"))).as("lp"))
    staged.crossJoin(broadcast(left))
      .withColumn("rk_n", row_number().over(
        Window.orderBy(col("rem_n").desc, col("g"))))
      .withColumn("rk_p", row_number().over(
        Window.orderBy(col("rem_p").desc, col("g"))))
      .select(col("g").as("priority"), col("nh").as("n_h"),
        col("w").as("ns_weight"),
        (col("base_n") + (col("rk_n") <= col("ln")).cast("long"))
          .as("alloc_neyman"),
        (col("base_p") + (col("rk_p") <= col("lp")).cast("long"))
          .as("alloc_prop"))
      .orderBy(col("priority"))
  }

  val q485Sql: String = {
    val B = SampleBudget
    s"""WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) // 100000 AS x
      |  FROM orders),
      |per AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS nh,
      |    CAST(FLOOR(SQRT(CAST(CAST(
      |      (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
      |        - CAST(SUM(x) AS HUGEINT) * SUM(x)) // 10000
      |      AS VARCHAR) AS DOUBLE))) AS BIGINT) AS w
      |  FROM o GROUP BY g),
      |tot AS (SELECT SUM(w) AS wt, SUM(nh) AS nt FROM per),
      |staged AS (
      |  SELECT g, nh, w,
      |    CASE WHEN wt = 0 THEN NULL ELSE ($B * w) // wt END AS base_n,
      |    CASE WHEN wt = 0 THEN NULL ELSE ($B * w) % wt END AS rem_n,
      |    ($B * nh) // nt AS base_p,
      |    ($B * nh) % nt AS rem_p
      |  FROM per CROSS JOIN tot),
      |leftov AS (
      |  SELECT $B - SUM(base_n) AS ln, $B - SUM(base_p) AS lp
      |  FROM staged),
      |ranked AS (
      |  SELECT g, nh, w, base_n, base_p, ln, lp,
      |    ROW_NUMBER() OVER (ORDER BY rem_n DESC, g) AS rk_n,
      |    ROW_NUMBER() OVER (ORDER BY rem_p DESC, g) AS rk_p
      |  FROM staged CROSS JOIN leftov)
      |SELECT g AS priority, nh AS n_h, w AS ns_weight,
      |  CAST(base_n + CASE WHEN rk_n <= ln THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_neyman,
      |  CAST(base_p + CASE WHEN rk_p <= lp THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_prop
      |FROM ranked ORDER BY priority""".stripMargin
  }

  // ------ q486: Breslow-Day homogeneity of stratified odds ratios

  /** Each customer's region: (c_custkey, r = n_regionkey). */
  private def customerRegion(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_regionkey").as("r"))

  /** q486: the Breslow–Day test — the companion question to the engine's
    * Mantel–Haenszel common odds ratio (q-MH family): MH ASSUMES the
    * exposure→outcome odds ratio is the same in every stratum; BD TESTS
    * that assumption, per region, before anyone quotes the pooled OR.
    * Exposure = urgent/high order priority, outcome = order value above
    * the grand mean, strata = customer regions. The common OR stages as
    * exact e6-floored MH sums; each stratum's expected exposed-case
    * count solves the OR-constrained quadratic — ONE IEEE tree
    * ((−b−√(b²−4ac))/2a over exact integers and the shared or_e6, with
    * the R=1 degenerate root m₁n₁/n guarded exactly) — and each BD term
    * (a−x)²/V floors to e6 BEFORE the cross-stratum sum, so the chi²
    * total is an exact integer sum of identically-rounded terms, never
    * an order-dependent float reduction.
    *
    * Plan: one orders scalar (threshold) + one orders⋈broadcast-customer
    * pass → 5-region cell rollup → metadata folds.
    */
  val q486BreslowDay: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      expr("CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2")
        .cast("long").as("e"),
      cents(col("o_totalprice")).as("c"))
    val thr = o.agg(expr("SUM(c) div COUNT(*)").as("t"))
    val dim = customerRegion(s, dir)
    val cells = o.crossJoin(broadcast(thr))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("r"), col("e"), (col("c") > col("t")).cast("long").as("y"))
      .groupBy(col("r"))
      .agg(sum(col("e") * col("y")).as("a"),
        sum(col("e") * (lit(1L) - col("y"))).as("b"),
        sum((lit(1L) - col("e")) * col("y")).as("cc"),
        sum((lit(1L) - col("e")) * (lit(1L) - col("y"))).as("d"))
      .localCheckpoint()
    val mh = cells.agg(
      sum(expr(fdiv("CAST(a AS DECIMAL(38,0)) * d * 1000000",
        "a + b + cc + d"))).as("num_e6"),
      sum(expr(fdiv("CAST(b AS DECIMAL(38,0)) * cc * 1000000",
        "a + b + cc + d"))).as("den_e6"))
      .select(expr("CASE WHEN den_e6 = 0 THEN NULL ELSE " +
        fdiv("num_e6 * 1000000", "den_e6") + " END")
        .cast("long").as("or_e6"))
    val terms = cells.crossJoin(broadcast(mh))
      .withColumn("n", col("a") + col("b") + col("cc") + col("d"))
      .withColumn("m1", col("a") + col("b"))
      .withColumn("n1", col("a") + col("cc"))
      .withColumn("rd", col("or_e6").cast("double") / 1000000.0)
      .withColumn("x",
        when(col("or_e6") === 1000000L,
          col("m1").cast("double") * col("n1") / col("n"))
          .otherwise {
            val a2 = col("rd") - 1.0
            val b2 = (col("m1") + col("n1")).cast("double") * col("rd") * -1.0 -
              (col("n") - col("m1") - col("n1")).cast("double")
            val c2 = col("rd") * col("m1") * col("n1")
            (b2 * -1.0 - sqrt(b2 * b2 - a2 * c2 * 4.0)) / (a2 * 2.0)
          })
      .withColumn("v", lit(1.0) / (lit(1.0) / col("x") +
        lit(1.0) / (col("m1") - col("x")) +
        lit(1.0) / (col("n1") - col("x")) +
        lit(1.0) / (col("n") - col("m1") - col("n1") + col("x"))))
      .withColumn("bd_term_e6", expr(
        "CAST(FLOOR((a - x) * (a - x) / v * 1000000) AS BIGINT)"))
      .localCheckpoint()
    val chi = terms.agg(sum(col("bd_term_e6")).as("chi2_e6"))
    terms.crossJoin(broadcast(chi))
      .select(col("r").as("region"), col("a").cast("long").as("a"),
        col("b").cast("long").as("b"), col("cc").cast("long").as("c"),
        col("d").cast("long").as("d"), col("or_e6"),
        col("x").as("expected_a_d"), col("bd_term_e6"), col("chi2_e6"))
      .orderBy(col("region"))
  }

  val q486Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CASE WHEN CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2
      |      THEN 1 ELSE 0 END AS e,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |thr AS (SELECT SUM(c) // COUNT(*) AS t FROM o),
      |dim AS (
      |  SELECT c_custkey, n_regionkey AS r
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |cells AS (
      |  SELECT r,
      |    CAST(SUM(e * y) AS BIGINT) AS a,
      |    CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
      |    CAST(SUM((1 - e) * y) AS BIGINT) AS cc,
      |    CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d
      |  FROM (
      |    SELECT dim.r, o.e, CASE WHEN o.c > thr.t THEN 1 ELSE 0 END AS y
      |    FROM o CROSS JOIN thr JOIN dim ON o.o_custkey = dim.c_custkey)
      |  GROUP BY r),
      |mh AS (
      |  SELECT CAST(CASE WHEN SUM(CAST(b AS HUGEINT) * cc * 1000000
      |        // (a + b + cc + d)) = 0 THEN NULL
      |    ELSE SUM(CAST(a AS HUGEINT) * d * 1000000
      |        // (a + b + cc + d)) * 1000000
      |      // SUM(CAST(b AS HUGEINT) * cc * 1000000 // (a + b + cc + d))
      |    END AS BIGINT) AS or_e6
      |  FROM cells),
      |terms AS (
      |  SELECT r, a, b, cc, d, or_e6,
      |    a + b + cc + d AS n, a + b AS m1, a + cc AS n1,
      |    or_e6 / 1000000.0 AS rd
      |  FROM cells CROSS JOIN mh),
      |solved AS (
      |  SELECT r, a, b, cc, d, or_e6, n, m1, n1,
      |    CASE WHEN or_e6 = 1000000
      |      THEN CAST(m1 AS DOUBLE) * n1 / n
      |      ELSE (-1.0 * (CAST(m1 + n1 AS DOUBLE) * rd * -1.0
      |          - CAST(n - m1 - n1 AS DOUBLE))
      |        - SQRT((CAST(m1 + n1 AS DOUBLE) * rd * -1.0
      |            - CAST(n - m1 - n1 AS DOUBLE))
      |          * (CAST(m1 + n1 AS DOUBLE) * rd * -1.0
      |            - CAST(n - m1 - n1 AS DOUBLE))
      |          - (rd - 1.0) * (rd * m1 * n1) * 4.0))
      |        / ((rd - 1.0) * 2.0) END AS x
      |  FROM terms),
      |scored AS (
      |  SELECT r, a, b, cc, d, or_e6, x,
      |    CAST(FLOOR((a - x) * (a - x) /
      |      (1.0 / (1.0 / x + 1.0 / (m1 - x) + 1.0 / (n1 - x)
      |        + 1.0 / (n - m1 - n1 + x))) * 1000000) AS BIGINT)
      |      AS bd_term_e6
      |  FROM solved),
      |chi AS (SELECT SUM(bd_term_e6) AS chi2_e6 FROM scored)
      |SELECT r AS region, a, b, cc AS c, d, or_e6, x AS expected_a_d,
      |  bd_term_e6, CAST(chi2_e6 AS BIGINT) AS chi2_e6
      |FROM scored CROSS JOIN chi
      |ORDER BY region""".stripMargin

  // ------ q487: weight-of-evidence / information-value screening

  /** q487: WoE/IV — credit scoring's standard supervised feature screen,
    * the missing member next to the engine's classifier-evaluation suite
    * (q99/q114/q164 score, lift, AUC): per feature bin b (market
    * segment), WoE_b = ln(p_b/q_b) compares the bin's share of GOODS
    * (orders above the grand mean) against its share of BADS, and
    * IV = Σ(p_b − q_b)·WoE_b grades the whole feature (rule of thumb:
    * < 0.02 useless, > 0.3 strong). Both logs ride the portable e6 log2
    * LUT — woe_e6 = (l2(G_b·B) − l2(B_b·G))·ln2, every l2 argument one
    * BIGINT-safe product — and each IV term is one signed e6 floor, so
    * the cross-bin IV total is an exact integer sum. Empty cells
    * NULL-guard the logs (ANSI rule).
    *
    * Plan: one orders scalar (threshold) + one orders⋈broadcast-customer
    * pass → 5-bin rollup → metadata folds.
    */
  val q487WoeIv: Q = (s, dir) => {
    import graft.functions.Text
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      cents(col("o_totalprice")).as("c"))
    val thr = o.agg(expr("SUM(c) div COUNT(*)").as("t"))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val bins = o.crossJoin(broadcast(thr))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"))
      .agg(sum((col("c") > col("t")).cast("long")).as("gb"),
        sum((col("c") <= col("t")).cast("long")).as("bb"))
      .localCheckpoint()
    val tot = bins.agg(sum(col("gb")).as("gt"), sum(col("bb")).as("bt"))
    val staged = bins.crossJoin(broadcast(tot))
      .withColumn("gx", col("gb") * col("bt"))
      .withColumn("bx", col("bb") * col("gt"))
      .withColumn("woe_e6", expr(
        "CASE WHEN gx = 0 OR bx = 0 THEN NULL ELSE " +
          sdiv(s"(${Text.log2e6SparkSql("gx")} - " +
            s"${Text.log2e6SparkSql("bx")}) * 693147", "1000000") +
          " END").cast("long"))
      .withColumn("iv_term_e6", expr(
        "CASE WHEN woe_e6 IS NULL THEN NULL ELSE " +
          sdiv("(gx - bx) * CAST(woe_e6 AS DECIMAL(38,0))",
            "CAST(gt AS DECIMAL(38,0)) * bt") + " END").cast("long"))
      .localCheckpoint()
    val iv = staged.agg(sum(col("iv_term_e6")).as("iv_total_e6"))
    staged.crossJoin(broadcast(iv))
      .select(col("seg").as("segment"), col("gb").as("n_good"),
        col("bb").as("n_bad"), col("woe_e6"), col("iv_term_e6"),
        col("iv_total_e6"))
      .orderBy(col("segment"))
  }

  val q487Sql: String = {
    import graft.functions.Text
    s"""WITH o AS (
      |  SELECT o_custkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |thr AS (SELECT SUM(c) // COUNT(*) AS t FROM o),
      |bins AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(SUM(CASE WHEN c > t THEN 1 ELSE 0 END) AS BIGINT) AS gb,
      |    CAST(SUM(CASE WHEN c <= t THEN 1 ELSE 0 END) AS BIGINT) AS bb
      |  FROM o CROSS JOIN thr
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |tot AS (SELECT SUM(gb) AS gt, SUM(bb) AS bt FROM bins),
      |staged AS (
      |  SELECT seg, gb, bb, gb * bt AS gx, bb * gt AS bx, gt, bt
      |  FROM bins CROSS JOIN tot),
      |woe AS (
      |  SELECT seg, gb, bb, gx, bx, gt, bt,
      |    CASE WHEN gx = 0 OR bx = 0 THEN NULL ELSE
      |      CAST(CASE WHEN ${Text.log2e6DuckSql("gx")}
      |          - ${Text.log2e6DuckSql("bx")} >= 0 THEN 1 ELSE -1 END *
      |        (ABS((${Text.log2e6DuckSql("gx")}
      |          - ${Text.log2e6DuckSql("bx")}) * 693147) // 1000000)
      |        AS BIGINT) END AS woe_e6
      |  FROM staged),
      |terms AS (
      |  SELECT seg, gb, bb, woe_e6,
      |    CASE WHEN woe_e6 IS NULL THEN NULL ELSE
      |      CAST(CASE WHEN (gx - bx) * woe_e6 >= 0 THEN 1 ELSE -1 END *
      |        (ABS(CAST(gx - bx AS HUGEINT) * woe_e6)
      |          // (CAST(gt AS HUGEINT) * bt)) AS BIGINT) END
      |      AS iv_term_e6
      |  FROM woe),
      |iv AS (SELECT CAST(SUM(iv_term_e6) AS BIGINT) AS iv_total_e6
      |       FROM terms)
      |SELECT seg AS segment, gb AS n_good, bb AS n_bad, woe_e6,
      |  iv_term_e6, iv_total_e6
      |FROM terms CROSS JOIN iv
      |ORDER BY segment""".stripMargin
  }

  // ------ q488: count-data overdispersion diagnostics

  /** q488: overdispersion diagnostics for count data — before anyone
    * fits a Poisson model to per-customer order counts, this asks the
    * prerequisite question the engine's continuous-variance tests
    * (ARCH, variance-ratio) don't: is Var(y) > E(y)? Two classical
    * statistics side by side: Fisher's dispersion index
    * D = Σ(y−ȳ)²/ȳ = (nΣy² − (Σy)²)/Σy (EXACT e6 rational, ~χ²_{n−1}
    * under Poisson) with its normal standardization
    * z = (D − (n−1))/√(2(n−1)), and the Cameron–Trivedi score
    * T = (Σ(y−ȳ)² − Σy)/(ȳ·√(2n)) for the NB-variance alternative.
    * Both z and T are single IEEE trees over the same three exact
    * integer moments; the overdispersed flag compares identical
    * doubles, so it is bit-stable.
    *
    * Plan: one orders pass → customer rollup → 1-row moment fold.
    */
  val q488Overdispersion: Q = (s, dir) => {
    val y = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("y"))
    val m = y.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("y")).cast(dec).as("sy"),
      sum(col("y").cast(dec) * col("y")).as("syy"))
      .withColumn("num", col("n") * col("syy") - col("sy") * col("sy"))
    m.select(col("n").cast("long").as("n_customers"),
      col("sy").cast("long").as("n_orders"),
      expr(fdiv("sy * 1000000", "n")).cast("long").as("mean_y_e6"),
      expr(fdiv("num * 1000000", "sy")).cast("long").as("disp_index_e6"),
      ((col("num").cast("double") / col("sy").cast("double") -
        (col("n").cast("double") - 1.0)) /
        sqrt((col("n").cast("double") - 1.0) * 2.0)).as("z_fisher_d"),
      ((col("num").cast("double") / col("n").cast("double") -
        col("sy").cast("double")) /
        (col("sy").cast("double") / col("n").cast("double") *
          sqrt(col("n").cast("double") * 2.0))).as("t_ct_d"))
      .withColumn("overdispersed",
        (col("z_fisher_d") > 3.0).cast("long"))
  }

  val q488Sql: String =
    """WITH y AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS y
      |  FROM orders GROUP BY o_custkey),
      |m AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM y),
      |st AS (SELECT n, sy, syy, n * syy - sy * sy AS num FROM m)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  CAST(sy AS BIGINT) AS n_orders,
      |  CAST(sy * 1000000 // n AS BIGINT) AS mean_y_e6,
      |  CAST(num * 1000000 // sy AS BIGINT) AS disp_index_e6,
      |  (CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      - (CAST(CAST(n AS VARCHAR) AS DOUBLE) - 1.0))
      |    / SQRT((CAST(CAST(n AS VARCHAR) AS DOUBLE) - 1.0) * 2.0)
      |    AS z_fisher_d,
      |  (CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(n AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(sy AS VARCHAR) AS DOUBLE))
      |    / (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |        / CAST(CAST(n AS VARCHAR) AS DOUBLE)
      |      * SQRT(CAST(CAST(n AS VARCHAR) AS DOUBLE) * 2.0))
      |    AS t_ct_d,
      |  CAST(CASE WHEN (CAST(CAST(num AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |      - (CAST(CAST(n AS VARCHAR) AS DOUBLE) - 1.0))
      |    / SQRT((CAST(CAST(n AS VARCHAR) AS DOUBLE) - 1.0) * 2.0) > 3.0
      |    THEN 1 ELSE 0 END AS BIGINT) AS overdispersed
      |FROM st""".stripMargin

  // ------ q489: two-proportion sample-size / MDE design panel

  /** Relative-lift ladder (percent) for the q489 design panel. */
  val MdeLiftsPct: Seq[Int] = Seq(2, 5, 10, 20)

  /** z_{α/2} for α = 5% and z_β for 80% power — plan-time constants,
    * inlined as identical CAST('…' AS DOUBLE) literals in both engines
    * (runtime inverse-normal is not bit-portable; these are the published
    * two-sided-5%/80% values every power calculator hard-codes).
    */
  val ZAlphaHalf = "1.959963984540054"
  val ZBeta = "0.8416212335729143"

  /** q489: the two-proportion sample-size / minimum-detectable-effect
    * panel — EXPERIMENT DESIGN, the step before every A/B readout the
    * engine already evaluates (q-CUPED, q298 DiD, QTE): from the
    * measured baseline conversion p₀ (share of user-days with a
    * purchase — the (user, day) grain the data supports), how many
    * user-days per arm does each relative lift on the [[MdeLiftsPct]]
    * ladder need at α = 5%, power 80%?
    *
    *   n = ⌈(z_{α/2}·√(2p̄q̄) + z_β·√(p₀q₀ + p₁q₁))² / (p₁−p₀)²⌉
    *
    * p₀ = a/b is one double division of exact counters, the z's are
    * plan-time literals, so the whole tree is identical IEEE in both
    * engines and the CEIL lands on the same integer. Lifts that push
    * p₁ ≥ 1 return NULL (undetectable rung).
    *
    * Plan: one events pass → (user, day) rollup → 1-row counter fold ×
    * 4-row plan-time spine.
    */
  val q489SampleSize: Q = (s, dir) => {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        (col("event_type") === "purchase").cast("long").as("p"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(col("p")).as("purch"))
    val base = ud.agg(count(lit(1)).cast(dec).as("b"),
      sum(col("purch")).cast(dec).as("a"))
    val spine = s.createDataFrame(MdeLiftsPct.map(l => Tuple1(l.toLong)))
      .toDF("lift_pct")
    val za = s"CAST('$ZAlphaHalf' AS DOUBLE)"
    val zb = s"CAST('$ZBeta' AS DOUBLE)"
    spine.crossJoin(broadcast(base))
      .withColumn("p0", col("a").cast("double") / col("b").cast("double"))
      .withColumn("p1", col("p0") * (lit(1.0) + col("lift_pct") / 100.0))
      .select(col("lift_pct"),
        expr(fdiv("a * 1000000", "b")).cast("long").as("p0_e6"),
        expr(fdiv("a * (100 + lift_pct) * 1000000", "b * 100"))
          .cast("long").as("p1_e6"),
        expr(s"""CASE WHEN p1 >= 1.0 THEN NULL ELSE
          | CAST(CEIL(($za * SQRT(2.0 * ((p0 + p1) / 2.0)
          |     * (1.0 - (p0 + p1) / 2.0))
          |   + $zb * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
          |  * ($za * SQRT(2.0 * ((p0 + p1) / 2.0)
          |     * (1.0 - (p0 + p1) / 2.0))
          |   + $zb * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
          |  / ((p1 - p0) * (p1 - p0))) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")).as("n_per_arm"))
      .withColumn("n_total", col("n_per_arm") * 2)
      .orderBy(col("lift_pct"))
  }

  val q489Sql: String = {
    val za = s"CAST('$ZAlphaHalf' AS DOUBLE)"
    val zb = s"CAST('$ZBeta' AS DOUBLE)"
    val rungs = MdeLiftsPct.map(l => s"($l)").mkString(", ")
    s"""WITH ud AS (
      |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS purch
      |  FROM events GROUP BY 1, 2),
      |base AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS b,
      |    CAST(SUM(purch) AS HUGEINT) AS a
      |  FROM ud),
      |rungs(lift_pct) AS (VALUES $rungs),
      |staged AS (
      |  SELECT CAST(lift_pct AS BIGINT) AS lift_pct, a, b,
      |    CAST(CAST(a AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(b AS VARCHAR) AS DOUBLE) AS p0,
      |    CAST(CAST(a AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(b AS VARCHAR) AS DOUBLE)
      |      * (1.0 + lift_pct / 100.0) AS p1
      |  FROM rungs CROSS JOIN base)
      |SELECT lift_pct,
      |  CAST(a * 1000000 // b AS BIGINT) AS p0_e6,
      |  CAST(a * (100 + lift_pct) * 1000000 // (b * 100) AS BIGINT)
      |    AS p1_e6,
      |  CASE WHEN p1 >= 1.0 THEN NULL ELSE
      |    CAST(CEIL(($za * SQRT(2.0 * ((p0 + p1) / 2.0)
      |        * (1.0 - (p0 + p1) / 2.0))
      |      + $zb * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
      |     * ($za * SQRT(2.0 * ((p0 + p1) / 2.0)
      |        * (1.0 - (p0 + p1) / 2.0))
      |      + $zb * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
      |     / ((p1 - p0) * (p1 - p0))) AS BIGINT) END AS n_per_arm,
      |  CASE WHEN p1 >= 1.0 THEN NULL ELSE
      |    CAST(CEIL(($za * SQRT(2.0 * ((p0 + p1) / 2.0)
      |        * (1.0 - (p0 + p1) / 2.0))
      |      + $zb * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
      |     * ($za * SQRT(2.0 * ((p0 + p1) / 2.0)
      |        * (1.0 - (p0 + p1) / 2.0))
      |      + $zb * SQRT(p0 * (1.0 - p0) + p1 * (1.0 - p1)))
      |     / ((p1 - p0) * (p1 - p0))) AS BIGINT) * 2 END AS n_total
      |FROM staged ORDER BY lift_pct""".stripMargin
  }

  // ------ q490: Brown-Forsythe variance-homogeneity test

  /** q490: the Brown–Forsythe test (Levene with median centers) — the
    * PARAMETRIC variance-homogeneity screen next to the engine's
    * rank-based scale tests (Ansari–Bradley q476, Mood): one-way ANOVA
    * on z = |x − median_g|, the robust form every "can I pool these
    * variances?" check (and ANOVA's own homoscedasticity prerequisite)
    * uses. Group medians are rank-target picks off the house two-level
    * below-count device — never a per-group sort — and z inherits the
    * (g, x) rollup's exact counts, so SSB/SSW stage as the engine's
    * standard n-cleared e6 ANOVA fold and F is one exact rational.
    *
    * Plan: one orders pass → (priority, value) rollup (checkpointed) →
    * two-level medians → rollup-grain |deviation| fold → 5-row ANOVA.
    */
  val q490BrownForsythe: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderpriority").as("g"),
      expr("CAST(ROUND(o_totalprice*100) AS BIGINT) div 100").as("x"))
    val byV = o.groupBy(col("g"), col("x")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val nG = byV.groupBy(col("g")).agg(sum(col("cnt")).as("n_g"))
    val med = doubledRankBelow(byV, Seq("g"), "x", 100000L)
      .join(nG, "g")
      .filter(col("below") + col("cnt") >= expr("(n_g + 1) div 2"))
      .groupBy(col("g")).agg(min(col("x")).as("med"))
    val zRoll = byV.join(med, "g")
      .select(col("g"), abs(col("x") - col("med")).as("z"), col("cnt"))
      .groupBy(col("g"))
      .agg(sum(col("cnt")).cast(dec).as("n"),
        sum(col("z").cast(dec) * col("cnt")).as("sz"),
        sum(col("z").cast(dec) * col("z") * col("cnt")).as("szz"))
      .withColumn("t_g", expr(fdiv("sz * sz * 1000000", "n")))
      .localCheckpoint()
    val roll = zRoll.agg(count(lit(1)).cast(dec).as("k"),
      sum(col("n")).as("nn"), sum(col("sz")).as("s_all"),
      sum(col("szz")).as("q_all"), sum(col("t_g")).as("t_all"))
      .select(col("k"), col("nn"),
        expr(s"CAST(t_all - ${fdiv("s_all * s_all * 1000000", "nn")}" +
          " AS DECIMAL(38,0))").as("ssb_e6"),
        (expr("q_all * 1000000") - col("t_all")).as("ssw_e6"))
      .select(col("k").cast("long").as("k_groups"),
        col("nn").cast("long").as("n_total"),
        expr("CASE WHEN " + fdiv("ssw_e6", "nn - k") + " = 0 THEN NULL " +
          "ELSE " + fdiv(fdiv("ssb_e6", "k - 1") + " * 1000000",
            fdiv("ssw_e6", "nn - k")) + " END").cast("long").as("f_e6"))
    zRoll.crossJoin(broadcast(roll))
      .join(med, "g")
      .select(col("g").as("priority"), col("n").cast("long").as("n_g"),
        col("med").as("median_c2"),
        expr(fdiv("sz * 1000000", "n")).cast("long").as("zbar_e6"),
        col("k_groups"), col("n_total"), col("f_e6"))
      .orderBy(col("priority"))
  }

  val q490Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS g,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) // 100 AS x
      |  FROM orders),
      |by_v AS (
      |  SELECT g, x, CAST(COUNT(*) AS BIGINT) AS cnt FROM o GROUP BY 1, 2),
      |ranked AS (
      |  SELECT g, x, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
      |    SUM(cnt) OVER (PARTITION BY g) AS n_g
      |  FROM by_v),
      |med AS (
      |  SELECT g, MIN(x) AS med FROM ranked
      |  WHERE below + cnt >= (n_g + 1) // 2 GROUP BY g),
      |z_roll AS (
      |  SELECT by_v.g, CAST(SUM(cnt) AS HUGEINT) AS n,
      |    SUM(CAST(ABS(x - med) AS HUGEINT) * cnt) AS sz,
      |    SUM(CAST(ABS(x - med) AS HUGEINT) * ABS(x - med) * cnt) AS szz,
      |    ANY_VALUE(med) AS med
      |  FROM by_v JOIN med ON by_v.g = med.g
      |  GROUP BY by_v.g),
      |staged AS (
      |  SELECT g, n, sz, szz, med, sz * sz * 1000000 // n AS t_g
      |  FROM z_roll),
      |roll AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(n) AS nn,
      |    SUM(t_g) - SUM(sz) * SUM(sz) * 1000000 // SUM(n) AS ssb_e6,
      |    SUM(szz) * 1000000 - SUM(t_g) AS ssw_e6
      |  FROM staged),
      |fstat AS (
      |  SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT)
      |      AS n_total,
      |    CAST(CASE WHEN ssw_e6 // (nn - k) = 0 THEN NULL
      |      ELSE (ssb_e6 // (k - 1)) * 1000000 // (ssw_e6 // (nn - k))
      |      END AS BIGINT) AS f_e6
      |  FROM roll)
      |SELECT g AS priority, CAST(n AS BIGINT) AS n_g, med AS median_c2,
      |  CAST(sz * 1000000 // n AS BIGINT) AS zbar_e6,
      |  k_groups, n_total, f_e6
      |FROM staged CROSS JOIN fstat
      |ORDER BY priority""".stripMargin

  // ------ q491: win ratio over a hierarchical composite endpoint

  /** q491: the win ratio (Pocock 2012) — the composite-endpoint
    * comparison that respects PRIORITY where a weighted sum cannot:
    * every (A, B) customer pair is decided first on the more serious
    * endpoint (any returned merchandise), and only e1-ties fall through
    * to total spend; WR = wins/losses. The n_A·n_B pair space never
    * materializes: e1-level wins are products of four stratum counts,
    * and the spend tiebreak inside each e1 stratum is a Mann–Whitney
    * below-count fold off the house two-level rank device over the
    * (stratum, value) rollup — counts, never pairs, the same discipline
    * as q480's difference spectrum. wins + losses + ties = n_A·n_B
    * tiles exactly, checkable in-output.
    *
    * Plan: orders/lineitem rollups → customer-grain table → (stratum,
    * value) rollup (checkpointed) → two-level below-counts → 1-row fold.
    */
  val q491WinRatio: Q = (s, dir) => {
    val reg = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        (col("n_regionkey") === 0).cast("long").as("grp"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey"), expr("CAST(ROUND(o_totalprice*100) AS BIGINT)" +
        " div 100").as("v0"))
    val retCust = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
      .join(ord.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("rc")).distinct()
    val cust = ord.groupBy(col("o_custkey")).agg(sum(col("v0")).as("v"))
      .join(retCust, col("o_custkey") === col("rc"), "left")
      .join(broadcast(reg), col("o_custkey") === col("c_custkey"))
      .select(col("grp"), col("rc").isNotNull.cast("long").as("strat"),
        col("v"))
    val byV = cust.groupBy(col("strat"), col("v"))
      .agg(sum(col("grp")).as("cnt_a"),
        sum(lit(1L) - col("grp")).as("cnt"))
      .localCheckpoint()
    val strata = byV.groupBy(col("strat"))
      .agg(sum(col("cnt_a")).as("na_s"), sum(col("cnt")).as("nb_s"))
      .localCheckpoint()
    val lvl1 = strata.agg(
      sum(when(col("strat") === 0L, col("na_s")).otherwise(0L)).as("na0"),
      sum(when(col("strat") === 1L, col("na_s")).otherwise(0L)).as("na1"),
      sum(when(col("strat") === 0L, col("nb_s")).otherwise(0L)).as("nb0"),
      sum(when(col("strat") === 1L, col("nb_s")).otherwise(0L)).as("nb1"))
      .select((col("na0").cast(dec) * col("nb1")).as("w1"),
        (col("na1").cast(dec) * col("nb0")).as("l1"),
        (col("na0") + col("na1")).as("n_a"),
        (col("nb0") + col("nb1")).as("n_b"))
    val within = doubledRankBelow(byV, Seq("strat"), "v", 100000L)
      .join(strata.select(col("strat"), col("nb_s")), "strat")
      .agg(sum(col("cnt_a").cast(dec) * col("below")).as("gt"),
        sum(col("cnt_a").cast(dec) *
          (col("nb_s") - col("below") - col("cnt"))).as("lt"),
        sum(col("cnt_a").cast(dec) * col("cnt")).as("tt"))
    lvl1.crossJoin(broadcast(within))
      .select(col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        (col("w1") + col("gt")).cast("long").as("wins"),
        (col("l1") + col("lt")).cast("long").as("losses"),
        col("tt").cast("long").as("ties"),
        expr("CASE WHEN l1 + lt = 0 THEN NULL ELSE " +
          fdiv("(w1 + gt) * 1000000", "l1 + lt") + " END")
          .cast("long").as("win_ratio_e6"))
  }

  val q491Sql: String =
    """WITH reg AS (
      |  SELECT c_custkey,
      |    CASE WHEN n_regionkey = 0 THEN 1 ELSE 0 END AS grp
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |ord AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) // 100 AS v0
      |  FROM orders),
      |ret AS (
      |  SELECT DISTINCT o_custkey AS rc
      |  FROM (SELECT DISTINCT l_orderkey FROM lineitem
      |        WHERE l_returnflag = 'R') r
      |  JOIN ord ON r.l_orderkey = ord.o_orderkey),
      |cust AS (
      |  SELECT reg.grp,
      |    CASE WHEN ret.rc IS NULL THEN 0 ELSE 1 END AS strat,
      |    t.v
      |  FROM (SELECT o_custkey, SUM(v0) AS v FROM ord GROUP BY o_custkey) t
      |  LEFT JOIN ret ON t.o_custkey = ret.rc
      |  JOIN reg ON t.o_custkey = reg.c_custkey),
      |by_v AS (
      |  SELECT strat, v, CAST(SUM(grp) AS BIGINT) AS cnt_a,
      |    CAST(SUM(1 - grp) AS BIGINT) AS cnt
      |  FROM cust GROUP BY 1, 2),
      |strata AS (
      |  SELECT strat, SUM(cnt_a) AS na_s, SUM(cnt) AS nb_s
      |  FROM by_v GROUP BY strat),
      |lvl1 AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN strat = 0 THEN na_s ELSE 0 END) AS HUGEINT)
      |      * SUM(CASE WHEN strat = 1 THEN nb_s ELSE 0 END) AS w1,
      |    CAST(SUM(CASE WHEN strat = 1 THEN na_s ELSE 0 END) AS HUGEINT)
      |      * SUM(CASE WHEN strat = 0 THEN nb_s ELSE 0 END) AS l1,
      |    CAST(SUM(na_s) AS BIGINT) AS n_a,
      |    CAST(SUM(nb_s) AS BIGINT) AS n_b
      |  FROM strata),
      |ranked AS (
      |  SELECT strat, v, cnt_a, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY strat ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM by_v),
      |within AS (
      |  SELECT SUM(CAST(cnt_a AS HUGEINT) * below) AS gt,
      |    SUM(CAST(cnt_a AS HUGEINT) * (nb_s - below - cnt)) AS lt,
      |    SUM(CAST(cnt_a AS HUGEINT) * cnt) AS tt
      |  FROM ranked JOIN strata USING (strat))
      |SELECT n_a, n_b,
      |  CAST(w1 + gt AS BIGINT) AS wins,
      |  CAST(l1 + lt AS BIGINT) AS losses,
      |  CAST(tt AS BIGINT) AS ties,
      |  CAST(CASE WHEN l1 + lt = 0 THEN NULL
      |    ELSE (w1 + gt) * 1000000 // (l1 + lt) END AS BIGINT)
      |    AS win_ratio_e6
      |FROM lvl1 CROSS JOIN within""".stripMargin

  // ------ q492: gravity model of inter-nation trade flows

  /** q492: the gravity model — international economics' workhorse
    * regression, run on the supplier-nation → customer-nation revenue
    * matrix (the TPC-H q7 shipping shape promoted to ALL 625 lanes):
    * log flow against log (origin mass × destination mass), where the
    * masses are the matrix's own row/column sums (total exports /
    * total imports). Both logs ride the portable e6 log2 LUT — the
    * elasticity β is log-base invariant, so the combined-mass
    * coefficient reads in natural units and the classical "unitary
    * elasticity" hypothesis is the β_e6 = 10⁶ line. OLS over the ≤625
    * lanes is the engine's standard n-cleared e6 fold; R² composes as
    * one IEEE ratio of the same exact co-moments.
    *
    * Plan: one lineitem⋈orders shuffle with broadcast supplier/
    * customer/nation dims → 625-row flow matrix (checkpointed) →
    * metadata mass joins + 1-row OLS fold.
    */
  val q492GravityModel: Q = (s, dir) => {
    import graft.functions.Text
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("sn"))
    val cus = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey").as("cn"))
    val flows = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        cents(col("l_extendedprice")).as("c"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .groupBy(col("sn"), col("cn"))
      .agg(expr("SUM(c) div 100000").as("f"))
      .localCheckpoint()
    val mOut = flows.groupBy(col("sn")).agg(sum(col("f")).as("m"))
    val mIn = flows.groupBy(col("cn")).agg(sum(col("f")).as("w"))
    val pts = flows.join(mOut, "sn").join(mIn, "cn")
      .filter(col("f") >= 1L && col("m") >= 1L && col("w") >= 1L)
      .withColumn("mw", col("m") * col("w"))
      .select(expr(Text.log2e6SparkSql("mw")).cast(dec).as("x"),
        expr(Text.log2e6SparkSql("f")).cast(dec).as("y"))
    val mo = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    def c(ab: String, a: String, b: String) =
      (col("n") * col(ab) - col(a) * col(b)).cast("double")
    mo.select(col("n").cast("long").as("n_lanes"),
      expr("CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE " +
        sdiv("(n * sxy - sx * sy) * 1000000", "n * sxx - sx * sx") +
        " END").cast("long").as("beta_e6"),
      expr(sdiv("sy - " +
        "CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE " +
        sdiv("(n * sxy - sx * sy) * sx", "n * sxx - sx * sx") +
        " END", "n")).cast("long").as("alpha_l2e6"),
      ((c("sxy", "sx", "sy") * c("sxy", "sx", "sy")) /
        (c("sxx", "sx", "sx") * c("syy", "sy", "sy"))).as("r2_d"))
  }

  val q492Sql: String = {
    import graft.functions.Text
    s"""WITH flows AS (
      |  SELECT s_nationkey AS sn, c_nationkey AS cn,
      |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) // 100000 AS f
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |m_out AS (SELECT sn, SUM(f) AS m FROM flows GROUP BY sn),
      |m_in AS (SELECT cn, SUM(f) AS w FROM flows GROUP BY cn),
      |pts AS (
      |  SELECT ${Text.log2e6DuckSql("m * w")} AS x,
      |    ${Text.log2e6DuckSql("f")} AS y
      |  FROM flows JOIN m_out USING (sn) JOIN m_in USING (cn)
      |  WHERE f >= 1 AND m >= 1 AND w >= 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_lanes,
      |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
      |    ${duckSdivHuge("(n * sxy - sx * sy) * 1000000", "n * sxx - sx * sx")}
      |    END AS BIGINT) AS beta_e6,
      |  CAST(${duckSdivHuge(
        "sy - CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE " +
          duckSdivHuge("(n * sxy - sx * sy) * sx", "n * sxx - sx * sx") + " END",
        "n")} AS BIGINT) AS alpha_l2e6,
      |  (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE))
      |    / (CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
      |      * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS r2_d
      |FROM mo""".stripMargin
  }

  // ------ q493: Kemeny-optimal rank aggregation over a permutation lattice

  /** Number of brands ranked in the q493 Kemeny aggregation. */
  val KemenyItems = 5

  /** The full S₅ lattice as plan-time (perm_id, ahead, behind) pairs:
    * for permutation π (lexicographic id), one row per ordered item
    * pair (a, b) with π placing a ahead of b — 120·10 rows, the q461
    * mask-lattice device applied to rankings.
    */
  private lazy val KemenyPairRows: Seq[(Int, Int, Int)] =
    (0 until KemenyItems).permutations.toSeq.sortBy(_.mkString)
      .zipWithIndex.flatMap { case (perm, pid) =>
        for {
          i <- 0 until KemenyItems
          j <- (i + 1) until KemenyItems
        } yield (pid, perm(i), perm(j))
      }

  /** q493: Kemeny-optimal rank aggregation — the MEDIAN ranking, next
    * to q463's positional Borda/Copeland: five regional rankings of
    * the top-5 brands (by regional revenue) aggregate into the
    * permutation minimizing total Kendall disagreement. NP-hard in
    * general, EXACT here: the S₅ lattice inlines as 1200 plan-time
    * (perm, ahead, behind) rows (the q461 mask-lattice device), each
    * permutation's cost is one join against the 20-cell pairwise
    * disagreement matrix, and the argmin is a rank-1 pick with
    * deterministic id tie-break. Everything is exact integer counts.
    *
    * Plan: one orders⋈dims rollup → 25-cell regional revenue matrix →
    * top-5 brands (broadcast) → 20-cell vote matrix × 1200-row
    * plan-time lattice → metadata argmin.
    */
  val q493KemenyRanking: Q = (s, dir) => {
    val rev = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        cents(col("l_extendedprice")).as("c"))
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_regionkey").as("r"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("r"), col("p_brand")).agg(sum(col("c")).as("rev"))
      .localCheckpoint()
    val top = rev.groupBy(col("p_brand")).agg(sum(col("rev")).as("t"))
      .orderBy(col("t").desc, col("p_brand")).limit(KemenyItems)
      .withColumn("item", row_number().over(
        Window.orderBy(col("t").desc, col("p_brand"))) - 1)
      .select(col("p_brand"), col("item"))
    val ranked = rev.join(broadcast(top), "p_brand")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("r"))
          .orderBy(col("rev").desc, col("p_brand"))))
    val votes = ranked.select(col("r"), col("item").as("a"), col("rk").as("rka"))
      .join(ranked.select(col("r"), col("item").as("b"), col("rk").as("rkb")),
        "r")
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("rka") < col("rkb")).cast("long")).as("v"))
    val lattice = s.createDataFrame(KemenyPairRows)
      .toDF("pid", "ahead", "behind")
    // cost of π = Σ over π's (ahead, behind) pairs of the voters who
    // rank behind ABOVE ahead
    val costs = lattice
      .join(broadcast(votes.select(col("b").as("ahead"),
        col("a").as("behind"), col("v"))), Seq("ahead", "behind"))
      .groupBy(col("pid")).agg(sum(col("v")).as("cost"))
    val best = costs.orderBy(col("cost"), col("pid")).limit(1)
    val perm = s.createDataFrame(
      (0 until KemenyItems).permutations.toSeq.sortBy(_.mkString)
        .zipWithIndex.flatMap { case (p, pid) =>
          p.zipWithIndex.map { case (item, pos) =>
            (pid, item, pos + 1) } })
      .toDF("pid", "item", "position")
    best.join(broadcast(perm), "pid")
      .join(broadcast(top.select(col("p_brand"), col("item").as("titem"))),
        col("item") === col("titem"))
      .select(col("position"), col("p_brand").as("brand"),
        col("cost").as("kemeny_cost"))
      .orderBy(col("position"))
  }

  val q493Sql: String = {
    val pairRows = KemenyPairRows
      .map { case (p, a, b) => s"($p, $a, $b)" }.mkString(", ")
    val permRows = (0 until KemenyItems).permutations.toSeq
      .sortBy(_.mkString).zipWithIndex
      .flatMap { case (p, pid) =>
        p.zipWithIndex.map { case (item, pos) => s"($pid, $item, ${pos + 1})" } }
      .mkString(", ")
    s"""WITH rev AS (
      |  SELECT n_regionkey AS r, p_brand,
      |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS rev
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT p_brand,
      |    ROW_NUMBER() OVER (ORDER BY SUM(rev) DESC, p_brand) - 1 AS item
      |  FROM rev GROUP BY p_brand
      |  ORDER BY SUM(rev) DESC, p_brand LIMIT $KemenyItems),
      |ranked AS (
      |  SELECT r, item,
      |    ROW_NUMBER() OVER (PARTITION BY r
      |      ORDER BY rev DESC, p_brand) AS rk
      |  FROM rev JOIN top USING (p_brand)),
      |votes AS (
      |  SELECT x.item AS a, y.item AS b,
      |    CAST(SUM(CASE WHEN x.rk < y.rk THEN 1 ELSE 0 END) AS BIGINT)
      |      AS v
      |  FROM ranked x JOIN ranked y ON x.r = y.r AND x.item <> y.item
      |  GROUP BY 1, 2),
      |lattice(pid, ahead, behind) AS (VALUES $pairRows),
      |costs AS (
      |  SELECT pid, SUM(v.v) AS cost
      |  FROM lattice l
      |  JOIN votes v ON v.b = l.ahead AND v.a = l.behind
      |  GROUP BY pid),
      |best AS (SELECT pid, cost FROM costs ORDER BY cost, pid LIMIT 1),
      |perm(pid, item, position) AS (VALUES $permRows)
      |SELECT position, p_brand AS brand,
      |  CAST(cost AS BIGINT) AS kemeny_cost
      |FROM best JOIN perm USING (pid) JOIN top USING (item)
      |ORDER BY position""".stripMargin
  }

  // ------ q494: Johnson's rule two-machine flow-shop schedule

  /** Number of brand-jobs scheduled by q494. */
  val FlowShopJobs = 10

  /** q494: Johnson's rule — the classical two-machine flow-shop
    * schedule that provably minimizes makespan, joining the engine's
    * OR family (knapsack q447, Wagner–Whitin q452, bin packing): the
    * top-10 brands are jobs whose stage-1/stage-2 processing times are
    * their average quantity and average line value; Johnson's order
    * (min(m₁,m₂) ascending — m₁-side first ascending, m₂-side last
    * descending) is ONE deterministic sort key, and the makespan needs
    * no sequential simulation because the two-machine critical path
    * has the closed form max_j (Σ_{i≤j} m₁ + Σ_{i≥j} m₂) — two windows
    * over the 10-row schedule. FCFS (brand order) makespan sits beside
    * it as the baseline the rule beats.
    *
    * Plan: one lineitem rollup → 10-row job table (checkpointed) →
    * metadata windows, everything exact integers.
    */
  val q494JohnsonRule: Q = (s, dir) => {
    val jobs = Tables.lineitem(s, dir)
      .select(col("l_partkey"), expr("CAST(ROUND(l_quantity) AS BIGINT)")
        .as("q"), expr("CAST(ROUND(l_extendedprice*100) AS BIGINT)" +
        " div 10000").as("v"))
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"), expr("SUM(q) div COUNT(*)").as("m1"),
        expr("SUM(v) div COUNT(*)").as("m2"))
      .orderBy(col("cnt").desc, col("p_brand")).limit(FlowShopJobs)
      .select(col("p_brand"), col("m1"), col("m2"))
      .localCheckpoint()
    def makespan(ordered: DataFrame): DataFrame = {
      val w = Window.orderBy(col("pos"))
      ordered
        .withColumn("pre1", sum(col("m1")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("suf2", sum(col("m2")).over(
          w.rowsBetween(0, Window.unboundedFollowing)))
        .agg(max(col("pre1") + col("suf2")).as("ms"))
    }
    val johnson = jobs.withColumn("pos", row_number().over(Window.orderBy(
      (col("m1") > col("m2")).cast("int"),
      when(col("m1") <= col("m2"), col("m1")).otherwise(-col("m2")),
      col("p_brand"))))
      .localCheckpoint()
    val fcfs = jobs.withColumn("pos",
      row_number().over(Window.orderBy(col("p_brand"))))
    val msJ = makespan(johnson).withColumnRenamed("ms", "johnson_makespan")
    val msF = makespan(fcfs).withColumnRenamed("ms", "fcfs_makespan")
    johnson.crossJoin(broadcast(msJ)).crossJoin(broadcast(msF))
      .select(col("pos").cast("long").as("position"),
        col("p_brand").as("brand"), col("m1"), col("m2"),
        col("johnson_makespan"), col("fcfs_makespan"))
      .orderBy(col("position"))
  }

  val q494Sql: String =
    s"""WITH jobs AS (
      |  SELECT p_brand,
      |    SUM(CAST(ROUND(l_quantity) AS BIGINT)) // COUNT(*) AS m1,
      |    SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) // 10000)
      |      // COUNT(*) AS m2
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand
      |  ORDER BY COUNT(*) DESC, p_brand LIMIT $FlowShopJobs),
      |johnson AS (
      |  SELECT p_brand, m1, m2,
      |    ROW_NUMBER() OVER (ORDER BY
      |      CASE WHEN m1 > m2 THEN 1 ELSE 0 END,
      |      CASE WHEN m1 <= m2 THEN m1 ELSE -m2 END,
      |      p_brand) AS pos
      |  FROM jobs),
      |fcfs AS (
      |  SELECT m1, m2,
      |    ROW_NUMBER() OVER (ORDER BY p_brand) AS pos
      |  FROM jobs),
      |ms_j AS (
      |  SELECT MAX(pre1 + suf2) AS johnson_makespan FROM (
      |    SELECT SUM(m1) OVER (ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre1,
      |      SUM(m2) OVER (ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suf2
      |    FROM johnson)),
      |ms_f AS (
      |  SELECT MAX(pre1 + suf2) AS fcfs_makespan FROM (
      |    SELECT SUM(m1) OVER (ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre1,
      |      SUM(m2) OVER (ORDER BY pos
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS suf2
      |    FROM fcfs))
      |SELECT CAST(pos AS BIGINT) AS position, p_brand AS brand,
      |  CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
      |  CAST(johnson_makespan AS BIGINT) AS johnson_makespan,
      |  CAST(fcfs_makespan AS BIGINT) AS fcfs_makespan
      |FROM johnson CROSS JOIN ms_j CROSS JOIN ms_f
      |ORDER BY position""".stripMargin

  // ------ q495: acceptance-sampling operating-characteristic curve

  /** Plan-time defect-rate grid (per-mille) for the q495 OC curve. */
  val OcGridPm: Seq[Int] = Seq(10, 25, 50, 100, 150, 200, 300)

  /** q495: the operating-characteristic curve of a single acceptance-
    * sampling plan (n = 10, c = 1) — classical quality engineering
    * next to the engine's process-capability panel (q472): for each
    * lot defect rate p, the probability a 10-item sample with at most
    * one defective accepts the lot, P = q¹⁰ + 10·p·q⁹, evaluated over
    * a plan-time rate grid AND at the corpus's measured returned-line
    * share. The binomial polynomial is written as explicit repeated
    * multiplication (no libm POW), so both engines evaluate the same
    * IEEE tree; the measured rate enters as one exact a/b division.
    *
    * Plan: one lineitem counter fold × 8-row plan-time spine.
    */
  val q495OcCurve: Q = (s, dir) => {
    val base = Tables.lineitem(s, dir)
      .agg(count(lit(1)).cast(dec).as("b"),
        sum((col("l_returnflag") === "R").cast("long")).cast(dec).as("a"))
    val grid = s.createDataFrame(OcGridPm.map(p => (p.toLong, "grid")))
      .toDF("p_pm", "source")
    val pAcc = "(q*q*q*q*q*q*q*q*q) * q + 10.0 * p * (q*q*q*q*q*q*q*q*q)"
    val gridRows = grid.crossJoin(broadcast(base))
      .withColumn("p", col("p_pm").cast("double") / 1000.0)
      .withColumn("q", lit(1.0) - col("p"))
      .select(col("source"), col("p_pm"), expr(pAcc).as("p_accept_d"))
    val measured = base
      .withColumn("p", col("a").cast("double") / col("b").cast("double"))
      .withColumn("q", lit(1.0) - col("p"))
      .select(lit("measured").as("source"),
        expr(fdiv("a * 1000", "b")).cast("long").as("p_pm"),
        expr(pAcc).as("p_accept_d"))
    gridRows.unionAll(measured).orderBy(col("source"), col("p_pm"))
  }

  val q495Sql: String = {
    val rows = OcGridPm.map(p => s"($p)").mkString(", ")
    val pAcc = "(q*q*q*q*q*q*q*q*q) * q + 10.0 * p * (q*q*q*q*q*q*q*q*q)"
    s"""WITH base AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS b,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS a
      |  FROM lineitem),
      |grid(p_pm) AS (VALUES $rows),
      |grid_rows AS (
      |  SELECT 'grid' AS source, CAST(p_pm AS BIGINT) AS p_pm,
      |    CAST(p_pm AS DOUBLE) / 1000.0 AS p,
      |    1.0 - CAST(p_pm AS DOUBLE) / 1000.0 AS q
      |  FROM grid),
      |measured AS (
      |  SELECT 'measured' AS source,
      |    CAST(a * 1000 // b AS BIGINT) AS p_pm,
      |    CAST(CAST(a AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(b AS VARCHAR) AS DOUBLE) AS p,
      |    1.0 - CAST(CAST(a AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(b AS VARCHAR) AS DOUBLE) AS q
      |  FROM base),
      |unioned AS (
      |  SELECT source, p_pm, p, q FROM grid_rows
      |  UNION ALL SELECT source, p_pm, p, q FROM measured)
      |SELECT source, p_pm, $pAcc AS p_accept_d
      |FROM unioned ORDER BY source, p_pm""".stripMargin
  }

  // ------ q496: adstock decay selection for media-mix response

  /** Plan-time adstock decay grid (per-mille retention). */
  val AdstockGridPm: Seq[Long] = Seq(0L, 300L, 500L, 700L, 900L)

  /** q496: adstock decay selection — media-mix modeling's carryover
    * question, new next to the engine's lag/cross-correlation family
    * (q405 Granger, q411): today's purchases respond to a geometric
    * memory of clicks, a_t = x_t + λ·a_{t−1}, not to today's clicks
    * alone. For each λ on the plan-time grid the adstock walk runs as
    * exact floored integers over the ~30-day series (driver fold; the
    * oracle replays it as a recursive CTE carrying all five states —
    * the q416 device), then slope and R² of revenue on adstock come
    * from exact co-moments with one e6 floor each, and the best λ is
    * an exact integer argmax (tie → smaller λ). The λ ladder is the
    * whole hypothesis space, stated in-output rather than fitted
    * opaquely.
    *
    * Plan: one events pass → day rollup (calendar-bounded) → 5
    * plan-time walks → 5-row report.
    */
  val q496AdstockSelection: Q = (s, dir) => {
    val roll = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        (col("event_type") === "click").cast("long").as("ck"),
        when(col("event_type") === "purchase",
          expr("CAST(ROUND(value*100) AS BIGINT) div 100")).otherwise(0L)
          .as("rv"))
      .groupBy(col("day"))
      .agg(sum(col("ck")).as("x"), sum(col("rv")).as("y"))
      .orderBy(col("day")).collect()
    val xs = roll.map(_.getAs[Long]("x"))
    val ys = roll.map(_.getAs[Long]("y"))
    val n = BigInt(xs.length)
    val sy = ys.map(BigInt(_)).sum
    val syy = ys.map(v => BigInt(v) * v).sum
    val rows = AdstockGridPm.map { lam =>
      var a = 0L
      var sa, saa, say = BigInt(0)
      xs.indices.foreach { i =>
        a = xs(i) + lam * a / 1000L
        sa += a; saa += BigInt(a) * a; say += BigInt(a) * ys(i)
      }
      val cxy = n * say - sa * sy
      val cxx = n * saa - sa * sa
      val cyy = n * syy - sy * sy
      val slope = if (cxx == 0) None
        else Some((cxy.abs * 1000000 / cxx * cxy.signum).toLong)
      val r2 = if (cxx == 0 || cyy == 0) None
        else Some((cxy * cxy * 1000000 / (cxx * cyy)).toLong)
      (lam, slope, r2)
    }
    val bestR2 = rows.flatMap(_._3).maxOption.getOrElse(0L)
    val best = rows.find(_._3.contains(bestR2)).map(_._1).getOrElse(-1L)
    import s.implicits._
    rows.map { case (lam, sl, r2) =>
      (lam, sl, r2, if (lam == best) 1L else 0L) }
      .toDF("lambda_pm", "slope_e6", "r2_e6", "is_best")
  }

  val q496Sql: String = {
    val lams = AdstockGridPm
    val initCols = lams.map(l => s"x AS a_$l").mkString(", ")
    val stepCols = lams.map(l =>
      s"s.x + ($l * w.a_$l) // 1000 AS a_$l").mkString(",\n      |    ")
    val branches = lams.map { l =>
      s"""SELECT $l AS lambda_pm,
         |    CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(a_$l) AS HUGEINT) AS sa,
         |    SUM(CAST(a_$l AS HUGEINT) * a_$l) AS saa,
         |    SUM(CAST(a_$l AS HUGEINT) * y) AS say,
         |    CAST(SUM(y) AS HUGEINT) AS sy,
         |    SUM(CAST(y AS HUGEINT) * y) AS syy
         |  FROM joined""".stripMargin
    }.mkString("\n      |  UNION ALL ")
    s"""WITH RECURSIVE bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) // 100 ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |ser AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS rk, x, y FROM bd),
      |walk AS (
      |  SELECT rk, $initCols FROM ser WHERE rk = 1
      |  UNION ALL
      |  SELECT s.rk,
      |    $stepCols
      |  FROM walk w JOIN ser s ON s.rk = w.rk + 1),
      |joined AS (SELECT w.*, s.y FROM walk w JOIN ser s USING (rk)),
      |mo AS (
      |  $branches),
      |scored AS (
      |  SELECT lambda_pm,
      |    CASE WHEN n * saa - sa * sa = 0 THEN NULL ELSE
      |      CAST(CASE WHEN n * say - sa * sy >= 0 THEN 1 ELSE -1 END *
      |        (ABS((n * say - sa * sy) * 1000000) // (n * saa - sa * sa))
      |        AS BIGINT) END AS slope_e6,
      |    CASE WHEN n * saa - sa * sa = 0 OR n * syy - sy * sy = 0
      |      THEN NULL ELSE
      |      CAST((n * say - sa * sy) * (n * say - sa * sy) * 1000000
      |        // ((n * saa - sa * sa) * (n * syy - sy * sy)) AS BIGINT)
      |      END AS r2_e6
      |  FROM mo),
      |best AS (
      |  SELECT lambda_pm AS best_lam FROM scored
      |  WHERE r2_e6 IS NOT NULL
      |  ORDER BY r2_e6 DESC, lambda_pm LIMIT 1)
      |SELECT lambda_pm, slope_e6, r2_e6,
      |  CAST(CASE WHEN lambda_pm = best_lam THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_best
      |FROM scored CROSS JOIN best
      |ORDER BY lambda_pm""".stripMargin
  }

  // ------ q497: UCB1 bandit replay over the order stream

  /** Engine-side twin of the portable e6 log2 LUT formula
    * ([[graft.functions.Text.log2e6SparkSql]]) for driver folds: the
    * SAME integer in Scala, SQL-Spark and SQL-DuckDB.
    */
  private def l2e6Scala(x: Long): Long = {
    require(x >= 1, s"l2e6 needs x >= 1, got $x")
    val bl = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val norm = if (bl <= 9) x << (9 - bl) else x >> (bl - 9)
    (bl - 9).toLong * 1000000L +
      graft.functions.Text.Log2LutE6((norm - 256).toInt)
  }

  /** q497: UCB1 replay — an ONLINE-LEARNING audit, a family the engine
    * did not have: treating the five order priorities as arms and each
    * day's high-value-order share as that arm's payout, the replay
    * asks what the classic UCB1 policy (mean + √(2·ln t / n_k), Auer
    * 2002) would have earned against the day-batched order stream. The
    * walk is exact integer arithmetic end to end — means are e6
    * floors, ln t rides the portable log2 LUT, the bonus is one
    * bit-portable FLOOR(SQRT(·)) — so the driver fold and the oracle's
    * recursive-CTE replay (the q416 device, with the argmax unrolled
    * as a 5-way CASE) agree bit-for-bit. Each arm's replay mean lands
    * next to its full-data mean: exploration cost made visible.
    *
    * Plan: one orders pass → (day, arm) rollup (calendar×5-bounded) →
    * T-step driver fold → 5-row report.
    */
  val q497UcbReplay: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderdate").as("d"),
      expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("arm"),
      cents(col("o_totalprice")).as("c"))
    val thr = o.agg(expr("SUM(c) div COUNT(*)").as("t"))
    val rwExprs = (1 to 5).map(k =>
      expr(s"""CASE WHEN SUM(CASE WHEN arm = $k THEN 1 ELSE 0 END) = 0
        | THEN 0 ELSE SUM(CASE WHEN arm = $k THEN h ELSE 0 END)
        |   * 1000000 div SUM(CASE WHEN arm = $k THEN 1 ELSE 0 END)
        | END""".stripMargin.replace("\n", " ")).as(s"rw$k"))
    val byDay = o.crossJoin(broadcast(thr))
      .select(col("d"), col("arm"), (col("c") > col("t")).cast("long").as("h"))
      .groupBy(col("d"))
      .agg(rwExprs.head, rwExprs.tail: _*)
      .orderBy(col("d")).collect()
    val overall = o.crossJoin(broadcast(thr))
      .select(col("arm"), (col("c") > col("t")).cast("long").as("h"))
      .groupBy(col("arm"))
      .agg(expr("SUM(h) * 1000000 div COUNT(*)").as("om"))
      .collect().map(r => r.getAs[Int]("arm") -> r.getAs[Long]("om")).toMap
    val plays = Array.fill(6)(0L)
    val sums = Array.fill(6)(0L)
    byDay.zipWithIndex.foreach { case (row, i) =>
      val t = i + 1L
      val choice =
        if (t <= 5) t.toInt
        else {
          val lnE6 = l2e6Scala(t) * 693147L / 1000000L
          val ucb = (1 to 5).map { k =>
            val mean = sums(k) / plays(k)
            val bonus = math.floor(math.sqrt(
              (2L * lnE6 * 1000000L / plays(k)).toDouble)).toLong
            k -> (mean + bonus)
          }
          val mx = ucb.map(_._2).max
          ucb.find(_._2 == mx).get._1
        }
      plays(choice) += 1
      sums(choice) += row.getAs[Long](s"rw$choice")
    }
    import s.implicits._
    (1 to 5).map { k =>
      (k.toLong, plays(k), sums(k),
        if (plays(k) == 0) None else Some(sums(k) / plays(k)),
        overall.getOrElse(k, 0L))
    }.toDF("arm", "plays", "sum_reward_e6", "replay_mean_e6",
      "fulldata_mean_e6")
  }

  val q497Sql: String = {
    import graft.functions.Text
    val rwDefs = (1 to 5).map(k =>
      s"""CASE WHEN SUM(CASE WHEN arm = $k THEN 1 ELSE 0 END) = 0
         | THEN 0 ELSE SUM(CASE WHEN arm = $k THEN h ELSE 0 END)
         |   * 1000000 // SUM(CASE WHEN arm = $k THEN 1 ELSE 0 END)
         | END AS rw$k""".stripMargin.replace("\n", " "))
      .mkString(",\n      |    ")
    // Oracle-latency contract (the round-5 lesson: this oracle at
    // >7 min standalone likely blew the driver's whole gate). Three
    // costs are designed out, measured individually at sf0.01:
    // (1) DuckDB re-evaluates any CTE subtree referenced inside a
    // recursive arm on EVERY iteration — so the day series is folded
    // into LIST state columns in the base case (the q500/q505 device)
    // and the arm references nothing but `walk` (245 s → 12.5 s);
    // (2) DuckDB also INLINES a multiply-referenced CTE, so `rep`
    // reads `fin` ONCE through a 5-row UNNEST unpivot instead of five
    // UNION ALL branches — five branches re-ran the whole recursion
    // five times (the four extra REC_CTEs were ~3.3 s each);
    // (3) the per-day rewards and the LUT-built ln value ride as TWO
    // bit-packed lists (rw ≤ 10⁶ < 2²⁰ → 20-bit lanes; lt < 2²³ in
    // the 2⁴⁰ lane, total < 2⁶³) to halve per-iteration state copy,
    // and the 256-entry log2 LUT plus each UCB score is evaluated
    // ONCE per step via nested derived tables. 3.2 s standalone.
    // The recursive state still carries `nc`, the choice ALREADY MADE
    // for this step, so updates read a plain column.
    val lt = s"((${Text.log2e6DuckSql("rk + 1")}) * 693147 // 1000000)"
    val p20 = 1048576L
    val p40 = 1099511627776L
    val innerP = (1 to 5).map(k =>
      s"t.p$k + CASE WHEN t.nc = $k THEN 1 ELSE 0 END AS p$k")
      .mkString(",\n      |        ")
    val innerS = (1 to 5).map(k =>
      s"t.s$k + CASE WHEN t.nc = $k THEN t.rsel ELSE 0 END AS s$k")
      .mkString(",\n      |        ")
    // reward of the chosen arm, unpacked from the two 20-bit-lane
    // lists with one subscript per list (multiplying by 0/1 indicator
    // terms keeps it a single expression with no nested CASE)
    val rsel = Seq(
      s"w.la[w.rk + 1] % $p20 * (CASE WHEN w.nc = 1 THEN 1 ELSE 0 END)",
      s"(w.la[w.rk + 1] // $p20) % $p20 * (CASE WHEN w.nc = 2 THEN 1 ELSE 0 END)",
      s"w.la[w.rk + 1] // $p40 * (CASE WHEN w.nc = 3 THEN 1 ELSE 0 END)",
      s"w.lb[w.rk + 1] % $p20 * (CASE WHEN w.nc = 4 THEN 1 ELSE 0 END)",
      s"(w.lb[w.rk + 1] // $p20) % $p20 * (CASE WHEN w.nc = 5 THEN 1 ELSE 0 END)")
      .mkString("\n      |          + ")
    val midU = (1 to 5).map(k =>
      s"""CASE WHEN u.p$k = 0 THEN 0 ELSE (u.s$k // u.p$k)
         | + CAST(FLOOR(SQRT(CAST((2 * u.lt * 1000000) // u.p$k
         | AS DOUBLE))) AS BIGINT) END AS u$k"""
        .stripMargin.replace("\n", " "))
      .mkString(",\n      |      ")
    val midCarry = ((1 to 5).map(k => s"u.p$k") ++
      (1 to 5).map(k => s"u.s$k")).mkString(", ")
    val ncNext =
      s"""CASE WHEN v.rk + 1 <= 5 THEN v.rk + 1
         | WHEN v.u1 >= v.u2 AND v.u1 >= v.u3
         |   AND v.u1 >= v.u4 AND v.u1 >= v.u5 THEN 1
         | WHEN v.u2 >= v.u3 AND v.u2 >= v.u4
         |   AND v.u2 >= v.u5 THEN 2
         | WHEN v.u3 >= v.u4 AND v.u3 >= v.u5 THEN 3
         | WHEN v.u4 >= v.u5 THEN 4
         | ELSE 5 END""".stripMargin.replace("\n", " ")
    // fin is read ONCE (cost lesson #2): a 5-row UNNEST unpivot with
    // CASE lane selection, not five UNION ALL branches over fin
    def lane(col: String) =
      s"""CASE g.arm WHEN 1 THEN ${col}1 WHEN 2 THEN ${col}2
         | WHEN 3 THEN ${col}3 WHEN 4 THEN ${col}4
         | ELSE ${col}5 END""".stripMargin.replace("\n", " ")
    val meanLane = (1 to 4).map(k =>
      s"WHEN $k THEN CASE WHEN p$k = 0 THEN NULL ELSE s$k // p$k END")
      .mkString("CASE g.arm ", " ",
        " ELSE CASE WHEN p5 = 0 THEN NULL ELSE s5 // p5 END END")
    s"""WITH RECURSIVE o AS (
      |  SELECT o_orderdate AS d,
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS arm,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |thr AS (SELECT SUM(c) // COUNT(*) AS t FROM o),
      |by_day AS (
      |  SELECT d,
      |    $rwDefs
      |  FROM (SELECT d, arm, CASE WHEN c > t THEN 1 ELSE 0 END AS h
      |        FROM o CROSS JOIN thr)
      |  GROUP BY d),
      |ser AS (
      |  SELECT rk, rw1, rw2, rw3, rw4, rw5, $lt AS lt
      |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rk,
      |          rw1, rw2, rw3, rw4, rw5
      |        FROM by_day)),
      |sl AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    list(rw1 + $p20 * rw2 + $p40 * rw3 ORDER BY rk) AS la,
      |    list(rw4 + $p20 * rw5 + $p40 * lt ORDER BY rk) AS lb
      |  FROM ser),
      |walk AS (
      |  SELECT CAST(1 AS BIGINT) AS rk, n, la, lb,
      |    CAST(1 AS BIGINT) AS p1, CAST(0 AS BIGINT) AS p2,
      |    CAST(0 AS BIGINT) AS p3, CAST(0 AS BIGINT) AS p4,
      |    CAST(0 AS BIGINT) AS p5,
      |    CAST(la[1] % $p20 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
      |    CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
      |    CAST(0 AS BIGINT) AS s5,
      |    CAST(2 AS BIGINT) AS nc
      |  FROM sl
      |  UNION ALL
      |  SELECT v.rk, v.n, v.la, v.lb,
      |    v.p1, v.p2, v.p3, v.p4, v.p5,
      |    v.s1, v.s2, v.s3, v.s4, v.s5,
      |    CAST($ncNext AS BIGINT) AS nc
      |  FROM (
      |    SELECT $midCarry, u.rk, u.n, u.la, u.lb,
      |      $midU
      |    FROM (
      |      SELECT t.rk, t.n, t.la, t.lb,
      |        t.pb // $p40 AS lt,
      |        $innerP,
      |        $innerS
      |      FROM (
      |        SELECT w.rk + 1 AS rk, w.n, w.la, w.lb, w.nc,
      |          w.p1, w.p2, w.p3, w.p4, w.p5,
      |          w.s1, w.s2, w.s3, w.s4, w.s5,
      |          $rsel AS rsel,
      |          w.lb[w.rk + 1] AS pb
      |        FROM walk w WHERE w.rk < w.n) t) u) v),
      |fin AS (
      |  SELECT * FROM walk ORDER BY rk DESC LIMIT 1),
      |overall AS (
      |  SELECT arm,
      |    SUM(CASE WHEN c > t THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
      |      AS fulldata_mean_e6
      |  FROM o CROSS JOIN thr
      |  GROUP BY arm),
      |rep AS (
      |  SELECT CAST(g.arm AS BIGINT) AS arm,
      |    ${lane("p")} AS plays,
      |    ${lane("s")} AS sum_reward_e6,
      |    $meanLane AS replay_mean_e6
      |  FROM fin CROSS JOIN (SELECT UNNEST(range(1, 6)) AS arm) g)
      |SELECT rep.arm, rep.plays, rep.sum_reward_e6, rep.replay_mean_e6,
      |  CAST(overall.fulldata_mean_e6 AS BIGINT) AS fulldata_mean_e6
      |FROM rep JOIN overall ON rep.arm = overall.arm
      |ORDER BY rep.arm""".stripMargin
  }

  // ------ q501: MMD two-sample test with an explicit quadratic kernel

  /** q501: maximum mean discrepancy between returned and kept lines —
    * the KERNEL two-sample test next to the engine's CDF-based ones
    * (Wasserstein, CvM, Kuiper): with the quadratic kernel
    * k(u,v) = (1 + ⟨u,v⟩)², the feature map is EXPLICIT —
    * (1, √2u₁, √2u₂, u₁², u₂², √2u₁u₂) — so the biased V-statistic
    * MMD² = ‖φ̄_x − φ̄_y‖² collapses to five exact moment means per
    * group (coefficients 2,2,1,1,2; the constant feature cancels): no
    * pair enumeration, no Gram matrix, just two map-side moment folds
    * over (quantity, value-in-thousands). Each moment mean is one e6
    * floor; MMD² composes as one fixed-shape IEEE expression over the
    * ten exact integers, identical in both engines.
    *
    * Plan: one lineitem pass → 2-group moment rollup → 1-row stitch.
    */
  val q501MmdTest: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select((col("l_returnflag") === "R").cast("long").as("g"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("u1"),
        expr("CAST(ROUND(l_extendedprice*100) AS BIGINT) div 100000")
          .as("u2"))
    val m = li.groupBy(col("g"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("u1")).cast(dec).as("s1"),
        sum(col("u2")).cast(dec).as("s2"),
        sum(col("u1").cast(dec) * col("u1")).as("s11"),
        sum(col("u2").cast(dec) * col("u2")).as("s22"),
        sum(col("u1").cast(dec) * col("u2")).as("s12"))
      .select(col("g"), col("n").cast("long").as("n"),
        expr(fdiv("s1 * 1000000", "n")).cast("long").as("m1"),
        expr(fdiv("s2 * 1000000", "n")).cast("long").as("m2"),
        expr(fdiv("s11 * 1000000", "n")).cast("long").as("m11"),
        expr(fdiv("s22 * 1000000", "n")).cast("long").as("m22"),
        expr(fdiv("s12 * 1000000", "n")).cast("long").as("m12"))
    val wide = m.agg(
      sum(when(col("g") === 1L, col("n")).otherwise(0L)).as("n_x"),
      sum(when(col("g") === 0L, col("n")).otherwise(0L)).as("n_y"),
      sum(when(col("g") === 1L, col("m1")).otherwise(0L)).as("x1"),
      sum(when(col("g") === 1L, col("m2")).otherwise(0L)).as("x2"),
      sum(when(col("g") === 1L, col("m11")).otherwise(0L)).as("x11"),
      sum(when(col("g") === 1L, col("m22")).otherwise(0L)).as("x22"),
      sum(when(col("g") === 1L, col("m12")).otherwise(0L)).as("x12"),
      sum(when(col("g") === 0L, col("m1")).otherwise(0L)).as("y1"),
      sum(when(col("g") === 0L, col("m2")).otherwise(0L)).as("y2"),
      sum(when(col("g") === 0L, col("m11")).otherwise(0L)).as("y11"),
      sum(when(col("g") === 0L, col("m22")).otherwise(0L)).as("y22"),
      sum(when(col("g") === 0L, col("m12")).otherwise(0L)).as("y12"))
    wide.select(col("n_x").cast("long").as("n_x"),
      col("n_y").cast("long").as("n_y"),
      (col("x1") - col("y1")).cast("long").as("gap_m1_e6"),
      (col("x2") - col("y2")).cast("long").as("gap_m2_e6"),
      (col("x11") - col("y11")).cast("long").as("gap_m11_e6"),
      (col("x22") - col("y22")).cast("long").as("gap_m22_e6"),
      (col("x12") - col("y12")).cast("long").as("gap_m12_e6"),
      expr("""(2.0 * (CAST(x1 - y1 AS DOUBLE) * CAST(x1 - y1 AS DOUBLE))
        | + 2.0 * (CAST(x2 - y2 AS DOUBLE) * CAST(x2 - y2 AS DOUBLE))
        | + CAST(x11 - y11 AS DOUBLE) * CAST(x11 - y11 AS DOUBLE)
        | + CAST(x22 - y22 AS DOUBLE) * CAST(x22 - y22 AS DOUBLE)
        | + 2.0 * (CAST(x12 - y12 AS DOUBLE) * CAST(x12 - y12 AS DOUBLE)))
        | / 1e12""".stripMargin.replace("\n", " ")).as("mmd2_d"))
  }

  val q501Sql: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS u1,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) // 100000 AS u2
      |  FROM lineitem),
      |m AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(CAST(SUM(u1) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
      |      AS m1,
      |    CAST(CAST(SUM(u2) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT)
      |      AS m2,
      |    CAST(SUM(CAST(u1 AS HUGEINT) * u1) * 1000000 // COUNT(*)
      |      AS BIGINT) AS m11,
      |    CAST(SUM(CAST(u2 AS HUGEINT) * u2) * 1000000 // COUNT(*)
      |      AS BIGINT) AS m22,
      |    CAST(SUM(CAST(u1 AS HUGEINT) * u2) * 1000000 // COUNT(*)
      |      AS BIGINT) AS m12
      |  FROM li GROUP BY g),
      |wide AS (
      |  SELECT
      |    SUM(CASE WHEN g = 1 THEN n ELSE 0 END) AS n_x,
      |    SUM(CASE WHEN g = 0 THEN n ELSE 0 END) AS n_y,
      |    SUM(CASE WHEN g = 1 THEN m1 ELSE 0 END)
      |      - SUM(CASE WHEN g = 0 THEN m1 ELSE 0 END) AS d1,
      |    SUM(CASE WHEN g = 1 THEN m2 ELSE 0 END)
      |      - SUM(CASE WHEN g = 0 THEN m2 ELSE 0 END) AS d2,
      |    SUM(CASE WHEN g = 1 THEN m11 ELSE 0 END)
      |      - SUM(CASE WHEN g = 0 THEN m11 ELSE 0 END) AS d11,
      |    SUM(CASE WHEN g = 1 THEN m22 ELSE 0 END)
      |      - SUM(CASE WHEN g = 0 THEN m22 ELSE 0 END) AS d22,
      |    SUM(CASE WHEN g = 1 THEN m12 ELSE 0 END)
      |      - SUM(CASE WHEN g = 0 THEN m12 ELSE 0 END) AS d12
      |  FROM m)
      |SELECT CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
      |  CAST(d1 AS BIGINT) AS gap_m1_e6, CAST(d2 AS BIGINT) AS gap_m2_e6,
      |  CAST(d11 AS BIGINT) AS gap_m11_e6,
      |  CAST(d22 AS BIGINT) AS gap_m22_e6,
      |  CAST(d12 AS BIGINT) AS gap_m12_e6,
      |  (2.0 * (CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE))
      |   + 2.0 * (CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE))
      |   + CAST(d11 AS DOUBLE) * CAST(d11 AS DOUBLE)
      |   + CAST(d22 AS DOUBLE) * CAST(d22 AS DOUBLE)
      |   + 2.0 * (CAST(d12 AS DOUBLE) * CAST(d12 AS DOUBLE)))
      |  / 1e12 AS mmd2_d
      |FROM wide""".stripMargin

  // ------ q502: energy-distance two-sample test on the value spectrum

  /** q502: Székely's energy distance between returned and kept
    * quantity distributions — the DISTANCE-based two-sample test whose
    * correlation cousin (dCor, q478) the engine already has:
    * D² = 2E|X−Y| − E|X−X′| − E|Y−Y′|, zero iff the distributions
    * match. Quantity's 50-value support turns all three expectations
    * into exact integer folds over difference spectra (the q480
    * Hodges–Lehmann device — counts times |v−w|, never row pairs),
    * each staged through one e6 floor; the test statistic
    * T = (n_x·n_y/(n_x+n_y))·D² is one more exact division.
    *
    * Plan: one lineitem pass → 100-cell rollup → bounded spectrum
    * folds, all metadata.
    */
  val q502EnergyDistance: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select((col("l_returnflag") === "R").cast("long").as("g"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    def spectrum(ga: Long, gb: Long, asName: String) = {
      val xa = li.filter(col("g") === ga)
        .select(col("v").as("va"), col("n").as("na"))
      val xb = li.filter(col("g") === gb)
        .select(col("v").as("vb"), col("n").as("nb"))
      xa.crossJoin(broadcast(xb))
        .agg(sum(col("na").cast(dec) * col("nb") *
          abs(col("va") - col("vb"))).as(asName))
    }
    val counts = li.groupBy(col("g")).agg(sum(col("n")).as("tot"))
      .agg(sum(when(col("g") === 1L, col("tot")).otherwise(0L))
        .cast(dec).as("nx"),
        sum(when(col("g") === 0L, col("tot")).otherwise(0L))
          .cast(dec).as("ny"))
    counts
      .crossJoin(broadcast(spectrum(1L, 0L, "sxy")))
      .crossJoin(broadcast(spectrum(1L, 1L, "sxx")))
      .crossJoin(broadcast(spectrum(0L, 0L, "syy")))
      .select(col("nx").cast("long").as("n_x"),
        col("ny").cast("long").as("n_y"),
        expr(fdiv("sxy * 1000000", "nx * ny")).cast("long").as("exy_e6"),
        expr(fdiv("sxx * 1000000", "nx * nx")).cast("long").as("exx_e6"),
        expr(fdiv("syy * 1000000", "ny * ny")).cast("long").as("eyy_e6"))
      .withColumn("energy_e6",
        lit(2L) * col("exy_e6") - col("exx_e6") - col("eyy_e6"))
      .withColumn("t_stat_e6", expr(
        // sign-ABS sdiv device: energy_e6 ~ 0 for identically
        // distributed groups and can land negative at other scales;
        // Spark DIV truncates while DuckDB // floors, so divide the
        // absolute value and re-apply the sign on both sides.
        """CAST(CASE WHEN energy_e6 >= 0 THEN 1 ELSE -1 END *
          | (CAST(n_x AS DECIMAL(38,0)) * n_y * abs(energy_e6)
          |  DIV (CAST(n_x AS DECIMAL(38,0)) + n_y)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
  }

  val q502Sql: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem WHERE l_returnflag IN ('R', 'N')
      |  GROUP BY 1, 2),
      |counts AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN g = 1 THEN n ELSE 0 END) AS HUGEINT) AS nx,
      |    CAST(SUM(CASE WHEN g = 0 THEN n ELSE 0 END) AS HUGEINT) AS ny
      |  FROM li),
      |sxy AS (
      |  SELECT SUM(CAST(a.n AS HUGEINT) * b.n * ABS(a.v - b.v)) AS s
      |  FROM (SELECT v, n FROM li WHERE g = 1) a
      |  CROSS JOIN (SELECT v, n FROM li WHERE g = 0) b),
      |sxx AS (
      |  SELECT SUM(CAST(a.n AS HUGEINT) * b.n * ABS(a.v - b.v)) AS s
      |  FROM (SELECT v, n FROM li WHERE g = 1) a
      |  CROSS JOIN (SELECT v, n FROM li WHERE g = 1) b),
      |syy AS (
      |  SELECT SUM(CAST(a.n AS HUGEINT) * b.n * ABS(a.v - b.v)) AS s
      |  FROM (SELECT v, n FROM li WHERE g = 0) a
      |  CROSS JOIN (SELECT v, n FROM li WHERE g = 0) b),
      |staged AS (
      |  SELECT CAST(nx AS BIGINT) AS n_x, CAST(ny AS BIGINT) AS n_y,
      |    CAST(sxy.s * 1000000 // (nx * ny) AS BIGINT) AS exy_e6,
      |    CAST(sxx.s * 1000000 // (nx * nx) AS BIGINT) AS exx_e6,
      |    CAST(syy.s * 1000000 // (ny * ny) AS BIGINT) AS eyy_e6
      |  FROM counts CROSS JOIN sxy CROSS JOIN sxx CROSS JOIN syy)
      |SELECT n_x, n_y, exy_e6, exx_e6, eyy_e6,
      |  2 * exy_e6 - exx_e6 - eyy_e6 AS energy_e6,
      |  CAST(CASE WHEN 2 * exy_e6 - exx_e6 - eyy_e6 >= 0
      |      THEN 1 ELSE -1 END *
      |    (CAST(n_x AS HUGEINT) * n_y * ABS(2 * exy_e6 - exx_e6 - eyy_e6)
      |     // (CAST(n_x AS HUGEINT) + n_y)) AS BIGINT) AS t_stat_e6
      |FROM staged""".stripMargin

  // ------ q503: DerSimonian-Laird random-effects meta-analysis

  /** q503: random-effects meta-analysis (DerSimonian–Laird 1986) — the
    * EVIDENCE-POOLING layer the engine's per-group tests stop short
    * of: treating each region as a study measuring the returned-vs-
    * kept quantity gap, the panel pools the five effects under fixed
    * effect, tests their homogeneity (Cochran's Q against k−1), turns
    * the excess into the between-study variance τ² (the DL moment
    * estimator), and re-pools with τ²-widened weights — with I²
    * reporting how much of the spread is real heterogeneity. Every
    * study row is exact integer moments; weights are e6 floors of
    * reciprocal variances, Q/τ²/I² floor per term before the
    * cross-study sums, so the whole ladder is order-safe integers.
    *
    * Plan: one lineitem⋈broadcast-dims pass → 5-study moment rollup
    * (checkpointed) → metadata pooling folds.
    */
  val q503MetaAnalysis: Q = (s, dir) => {
    val dim = customerRegion(s, dir)
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(col("l_orderkey"),
        (col("l_returnflag") === "R").cast("long").as("g"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
    val studies = li.groupBy(col("r"))
      .agg(sum(col("g")).cast(dec).as("nx"),
        sum(lit(1L) - col("g")).cast(dec).as("ny"),
        sum(col("g") * col("q")).cast(dec).as("sx"),
        sum((lit(1L) - col("g")) * col("q")).cast(dec).as("sy"),
        sum(col("g") * col("q") * col("q")).cast(dec).as("ssx"),
        sum((lit(1L) - col("g")) * col("q") * col("q")).cast(dec).as("ssy"))
      .select(col("r"), col("nx"), col("ny"),
        (expr(fdiv("sx * 1000000", "nx")) -
          expr(fdiv("sy * 1000000", "ny"))).as("d_e6"),
        (expr(fdiv(fdiv("(nx * ssx - sx * sx) * 1000000", "nx * (nx - 1)")
          + " * 1000000", "nx")) +
          expr(fdiv(fdiv("(ny * ssy - sy * sy) * 1000000", "ny * (ny - 1)")
            + " * 1000000", "ny"))).as("v_e12"))
      .withColumn("w_fe", expr(fdiv("1000000000000000000", "v_e12")))
      .localCheckpoint()
    val fe = studies.agg(count(lit(1)).cast(dec).as("k"),
      sum(col("w_fe")).as("sw"),
      sum(col("w_fe") * col("d_e6")).as("swd"),
      sum(col("w_fe") * col("w_fe")).as("sww"))
      .select(col("k"), col("sw"), col("sww"),
        expr(sdiv("swd", "sw")).as("pooled_fe_e6"))
      .localCheckpoint()
    val q = studies.crossJoin(broadcast(fe))
      .select(expr(fdiv(
        "w_fe * (d_e6 - pooled_fe_e6) * (d_e6 - pooled_fe_e6)",
        "1000000000000")).as("qterm"))
      .agg(sum(col("qterm")).as("q_e6"))
    val tau = fe.crossJoin(broadcast(q))
      .select(col("k"), col("pooled_fe_e6"), col("q_e6"),
        expr("CASE WHEN q_e6 <= (k - 1) * 1000000 THEN CAST(0 AS " +
          "DECIMAL(38,0)) ELSE " +
          fdiv("(q_e6 - (k - 1) * 1000000) * 1000000000000",
            "sw - " + fdiv("sww", "sw")) + " END").as("tau2_e12"),
        expr("CASE WHEN q_e6 = 0 THEN 0 ELSE " +
          "GREATEST(0, CAST(" + fdiv("(q_e6 - (k - 1) * 1000000) * 1000000",
          "q_e6") + " AS BIGINT)) END").as("i2_e6"))
      .localCheckpoint()
    val re = studies.crossJoin(broadcast(tau))
      .select(expr(fdiv("1000000000000000000", "v_e12 + tau2_e12"))
        .as("w_re"), col("d_e6"))
      .agg(expr("CAST(" + sdiv("SUM(w_re * d_e6)", "SUM(w_re)") +
        " AS BIGINT)").as("pooled_re_e6"))
    studies.crossJoin(broadcast(tau)).crossJoin(broadcast(re))
      .select(col("r").as("region"),
        col("nx").cast("long").as("n_returned"),
        col("ny").cast("long").as("n_kept"),
        col("d_e6").cast("long").as("effect_e6"),
        col("v_e12").cast("long").as("var_e12"),
        col("pooled_fe_e6").cast("long").as("pooled_fe_e6"),
        col("q_e6").cast("long").as("q_e6"),
        col("tau2_e12").cast("long").as("tau2_e12"),
        col("i2_e6").cast("long").as("i2_e6"),
        col("pooled_re_e6"))
      .orderBy(col("region"))
  }

  val q503Sql: String =
    """WITH dim AS (
      |  SELECT c_custkey, n_regionkey AS r
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |li AS (
      |  SELECT dim.r,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS q
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN dim ON o_custkey = dim.c_custkey
      |  WHERE l_returnflag IN ('R', 'N')),
      |studies AS (
      |  SELECT r,
      |    CAST(SUM(g) AS HUGEINT) AS nx,
      |    CAST(SUM(1 - g) AS HUGEINT) AS ny,
      |    CAST(SUM(g * q) AS HUGEINT) AS sx,
      |    CAST(SUM((1 - g) * q) AS HUGEINT) AS sy,
      |    SUM(CAST(g AS HUGEINT) * q * q) AS ssx,
      |    SUM(CAST(1 - g AS HUGEINT) * q * q) AS ssy
      |  FROM li GROUP BY r),
      |eff AS (
      |  SELECT r, nx, ny,
      |    sx * 1000000 // nx - sy * 1000000 // ny AS d_e6,
      |    ((nx * ssx - sx * sx) * 1000000 // (nx * (nx - 1))) * 1000000
      |        // nx
      |      + ((ny * ssy - sy * sy) * 1000000 // (ny * (ny - 1)))
      |        * 1000000 // ny AS v_e12
      |  FROM studies),
      |wgt AS (
      |  SELECT r, nx, ny, d_e6, v_e12,
      |    1000000000000000000 // v_e12 AS w_fe
      |  FROM eff),
      |fe AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS k, SUM(w_fe) AS sw,
      |    SUM(w_fe * w_fe) AS sww,
      |    CAST(CASE WHEN SUM(w_fe * d_e6) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(SUM(w_fe * d_e6)) // SUM(w_fe)) AS HUGEINT)
      |      AS pooled_fe_e6
      |  FROM wgt),
      |qq AS (
      |  SELECT SUM(w_fe * (d_e6 - pooled_fe_e6) * (d_e6 - pooled_fe_e6)
      |    // 1000000000000) AS q_e6
      |  FROM wgt CROSS JOIN fe),
      |tau AS (
      |  SELECT k, pooled_fe_e6, q_e6,
      |    CASE WHEN q_e6 <= (k - 1) * 1000000 THEN CAST(0 AS HUGEINT)
      |      ELSE (q_e6 - (k - 1) * 1000000) * 1000000000000
      |        // (sw - sww // sw) END AS tau2_e12,
      |    CASE WHEN q_e6 = 0 THEN 0
      |      ELSE GREATEST(0, (q_e6 - (k - 1) * 1000000) * 1000000
      |        // q_e6) END AS i2_e6
      |  FROM fe CROSS JOIN qq),
      |re AS (
      |  SELECT CAST(CASE WHEN SUM(w_re * d_e6) >= 0 THEN 1 ELSE -1 END *
      |    (ABS(SUM(w_re * d_e6)) // SUM(w_re)) AS BIGINT)
      |    AS pooled_re_e6
      |  FROM (
      |    SELECT 1000000000000000000 // (v_e12 + tau2_e12) AS w_re, d_e6
      |    FROM wgt CROSS JOIN tau))
      |SELECT r AS region, CAST(nx AS BIGINT) AS n_returned,
      |  CAST(ny AS BIGINT) AS n_kept,
      |  CAST(d_e6 AS BIGINT) AS effect_e6,
      |  CAST(v_e12 AS BIGINT) AS var_e12,
      |  CAST(pooled_fe_e6 AS BIGINT) AS pooled_fe_e6,
      |  CAST(q_e6 AS BIGINT) AS q_e6,
      |  CAST(tau2_e12 AS BIGINT) AS tau2_e12,
      |  CAST(i2_e6 AS BIGINT) AS i2_e6,
      |  pooled_re_e6
      |FROM wgt CROSS JOIN tau CROSS JOIN re
      |ORDER BY region""".stripMargin

  // ------ q504: (s, S) inventory-policy replay on measured demand

  /** q504: base-stock (s, S) policy simulation — INVENTORY CONTROL
    * next to the engine's lot-sizing operators (Wagner–Whitin q452,
    * newsvendor): the top brand's daily shipped quantity is the
    * measured demand stream; the policy reviews daily, serves what
    * stock allows, and when the position falls below the reorder
    * point s = 2·mean it orders up to S = 4·mean with one day of
    * lead time (yesterday's order arrives this morning). The replay
    * is a driver fold over the calendar-bounded day series, the
    * oracle the same walk as a recursive CTE with plain joins (the
    * q416 device) — fill rate, stockout days, order count and
    * holding all exact integers, so service-vs-holding reads
    * directly off the output.
    *
    * Plan: one lineitem rollup → top-brand day series (calendar-
    * bounded) → T-step fold → 1-row report.
    *
    * Oracle-latency contract (round-5 lesson — this oracle ran 29 s):
    * the end-of-day inventory expression is computed ONCE per step in
    * a nested derived table, not re-expanded eight times in the arm.
    */
  val q504InventoryPolicy: Q = (s, dir) => {
    val topBrand = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p_brand")).limit(1)
      .localCheckpoint()
    val series = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(topBrand.select(col("p_brand"))), "p_brand")
      .groupBy(col("l_shipdate").as("d"))
      .agg(expr("SUM(CAST(ROUND(l_quantity) AS BIGINT))").as("dem"))
      .orderBy(col("d")).collect()
    val dems = series.map(_.getAs[Long]("dem"))
    val n = dems.length.toLong
    val mean = dems.sum / n
    val sLow = 2L * mean
    val sUp = 4L * mean
    var inv = sUp
    var onOrder = 0L
    var served, lost, holding, orders = 0L
    var stockoutDays = 0L
    dems.foreach { d =>
      inv += onOrder; onOrder = 0L
      val sv = math.min(d, inv)
      served += sv
      if (d > inv) { lost += d - inv; stockoutDays += 1 }
      inv -= sv
      holding += inv
      if (inv < sLow) { onOrder = sUp - inv; orders += 1 }
    }
    import s.implicits._
    Seq((n, dems.sum, sLow, sUp, served, lost, stockoutDays, orders,
      holding, served * 1000000L / dems.sum))
      .toDF("n_days", "total_demand", "s_reorder", "s_upto", "served",
        "lost", "stockout_days", "n_orders", "holding_unit_days",
        "fill_rate_e6")
  }

  val q504Sql: String =
    """WITH RECURSIVE tb AS (
      |  SELECT p_brand FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand ORDER BY COUNT(*) DESC, p_brand LIMIT 1),
      |bd AS (
      |  SELECT l_shipdate AS d,
      |    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS dem
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN tb USING (p_brand)
      |  GROUP BY 1),
      |ser AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rk, dem FROM bd),
      |par AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(dem) AS BIGINT) AS tot,
      |    2 * (SUM(dem) // COUNT(*)) AS s_low,
      |    4 * (SUM(dem) // COUNT(*)) AS s_up,
      |    list(CAST(dem AS BIGINT) ORDER BY rk) AS dems
      |  FROM ser),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS rk, n, dems, s_up AS inv,
      |    CAST(0 AS BIGINT) AS onord, CAST(0 AS BIGINT) AS served,
      |    CAST(0 AS BIGINT) AS lost, CAST(0 AS BIGINT) AS so_days,
      |    CAST(0 AS BIGINT) AS orders, CAST(0 AS BIGINT) AS holding,
      |    s_low, s_up
      |  FROM par
      |  UNION ALL
      |  SELECT v.rk, v.n, v.dems,
      |    v.endinv,
      |    CASE WHEN v.endinv < v.s_low THEN v.s_up - v.endinv
      |      ELSE 0 END,
      |    v.served + v.sv,
      |    v.lost + v.dem - v.sv,
      |    v.so_days + CASE WHEN v.dem > v.pos THEN 1 ELSE 0 END,
      |    v.orders + CASE WHEN v.endinv < v.s_low THEN 1 ELSE 0 END,
      |    v.holding + v.endinv,
      |    v.s_low, v.s_up
      |  FROM (
      |    SELECT u.rk, u.n, u.dems, u.dem, u.served, u.lost, u.so_days,
      |      u.orders, u.holding, u.s_low, u.s_up, u.pos, u.sv,
      |      u.pos - u.sv AS endinv
      |    FROM (
      |      SELECT w.rk + 1 AS rk, w.n, w.dems,
      |        w.dems[w.rk + 1] AS dem, w.served, w.lost, w.so_days,
      |        w.orders, w.holding, w.s_low, w.s_up,
      |        w.inv + w.onord AS pos,
      |        LEAST(w.dems[w.rk + 1], w.inv + w.onord) AS sv
      |      FROM walk w WHERE w.rk < w.n) u) v),
      |fin AS (SELECT * FROM walk ORDER BY rk DESC LIMIT 1)
      |SELECT par.n AS n_days, par.tot AS total_demand,
      |  CAST(par.s_low AS BIGINT) AS s_reorder,
      |  CAST(par.s_up AS BIGINT) AS s_upto,
      |  fin.served, fin.lost, fin.so_days AS stockout_days,
      |  fin.orders AS n_orders, fin.holding AS holding_unit_days,
      |  CAST(fin.served * 1000000 // par.tot AS BIGINT) AS fill_rate_e6
      |FROM fin CROSS JOIN par""".stripMargin

  // ------ q505: Walker alias-table construction for O(1) sampling

  /** Items in the q505 alias table (top brands by line count). */
  val AliasK = 20

  /** q505: Walker's alias method — the SAMPLING-INFRASTRUCTURE
    * operator behind every O(1) weighted draw a trillion-token mixer
    * makes (q86/q98/q498 decide WEIGHTS; this builds the structure
    * that samples from them in constant time): brand weights scale to
    * per-item probabilities summing to k·10⁶ EXACTLY (largest
    * remainder, the q485 device), then the classic pairing finalizes
    * one below-mean item per step against an above-mean donor
    * (argmin/argmax with packed-key tie-breaks; the all-equal tail
    * self-aliases). The construction INVARIANT ships in the output:
    * own-cell probability plus donated residue reconstructs every
    * item's scaled weight exactly — recon_e6 = scaled_e6, integer
    * equality, no float anywhere. Engine = driver fold over the
    * 20-row table; oracle = the same walk as a LIST-state recursive
    * CTE (probs as a carried list, lambda indexing, no subqueries in
    * lambdas).
    *
    * Plan: one lineitem rollup → 20-row apportionment → k-step fold.
    */
  val q505AliasTable: Q = (s, dir) => {
    val k = AliasK
    val top = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("p_brand")).limit(k)
      .withColumn("item", row_number().over(
        Window.orderBy(col("w").desc, col("p_brand"))))
      .localCheckpoint()
    val tot = top.agg(sum(col("w")).as("wt"))
    val staged = top.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($k * 1000000 * w) div wt"))
      .withColumn("rem", expr(s"($k * 1000000 * w) % wt"))
    val left = staged.agg((lit(k * 1000000L) - sum(col("base"))).as("lv"))
    val scaled = staged.crossJoin(broadcast(left))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("item"))))
      .select(col("item"), col("p_brand"), col("w"),
        (col("base") + (col("rk") <= col("lv")).cast("long"))
          .as("scaled_e6"))
      .orderBy(col("item"))
      .collect()
    val ps = Array.fill(k + 1)(0L)
    scaled.foreach(r => ps(r.getAs[Int]("item")) = r.getAs[Long]("scaled_e6"))
    val fin = Array.fill(k + 1)(false)
    val alias = Array.fill(k + 1)(0)
    val pFinal = Array.fill(k + 1)(0L)
    (1 to k).foreach { _ =>
      val open = (1 to k).filterNot(fin)
      val sI = open.minBy(i => (ps(i), i))
      val lI = if (ps(sI) == 1000000L) sI
        else open.filter(_ != sI).minBy(i => (-ps(i), i))
      fin(sI) = true
      alias(sI) = lI
      pFinal(sI) = ps(sI)
      if (lI != sI) ps(lI) += ps(sI) - 1000000L
    }
    val recon = (1 to k).map { i =>
      pFinal(i) + (1 to k).filter(j => j != i && alias(j) == i)
        .map(1000000L - pFinal(_)).sum
    }
    import s.implicits._
    scaled.toSeq.map { r =>
      val i = r.getAs[Int]("item")
      (i.toLong, r.getAs[String]("p_brand"), r.getAs[Long]("w"),
        r.getAs[Long]("scaled_e6"), pFinal(i), alias(i).toLong,
        recon(i - 1))
    }.toDF("item", "brand", "weight", "scaled_e6", "p_final_e6",
      "alias_item", "recon_e6")
  }

  val q505Sql: String = {
    val k = AliasK
    val idx = (1 to k).mkString("[", ", ", "]")
    // packed keys: argmin by (p, i) ascending, argmax by (p, k-i) so
    // ties break toward the SMALLEST index on both sides; p ≤ k·10⁶
    // fits far below the 2^26 field
    val smin = s"""list_min(list_transform(list_filter($idx,
      | i -> NOT list_contains(w.fin, i)),
      | i -> w.ps[i] * 32 + i))""".stripMargin.replace("\n", " ")
    def sOf(e: String) = s"(($e) % 32)"
    val lmax = s"""list_min(list_transform(list_filter($idx,
      | i -> NOT list_contains(w.fin, i) AND i <> ${sOf(smin)}),
      | i -> (20000001 - w.ps[i]) * 32 + i))""".stripMargin
      .replace("\n", " ")
    val sExpr = sOf(smin)
    val lExpr = s"""CASE WHEN w.ps[${sOf(smin)}] = 1000000
      | THEN ${sOf(smin)} ELSE ($lmax) % 32 END""".stripMargin
      .replace("\n", " ")
    s"""WITH RECURSIVE top AS (
      |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS w,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, p_brand) AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand ORDER BY COUNT(*) DESC, p_brand LIMIT $k),
      |tot AS (SELECT SUM(w) AS wt FROM top),
      |staged AS (
      |  SELECT item, p_brand, w,
      |    ($k * 1000000 * w) // wt AS base,
      |    ($k * 1000000 * w) % wt AS rem
      |  FROM top CROSS JOIN tot),
      |leftov AS (SELECT $k * 1000000 - SUM(base) AS lv FROM staged),
      |scaled AS (
      |  SELECT item, p_brand, w,
      |    CAST(base + CASE WHEN ROW_NUMBER()
      |        OVER (ORDER BY rem DESC, item) <= lv
      |      THEN 1 ELSE 0 END AS BIGINT) AS scaled_e6
      |  FROM staged CROSS JOIN leftov),
      |init AS (
      |  SELECT list(scaled_e6 ORDER BY item) AS ps FROM scaled),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS step, ps,
      |    CAST([] AS BIGINT[]) AS fin, CAST([] AS BIGINT[]) AS pairs
      |  FROM init
      |  UNION ALL
      |  SELECT w.step + 1,
      |    list_transform($idx, i -> CASE
      |      WHEN i = $lExpr AND i <> $sExpr
      |        THEN w.ps[i] + w.ps[$sExpr] - 1000000
      |      ELSE w.ps[i] END),
      |    list_append(w.fin, $sExpr),
      |    list_append(w.pairs,
      |      ($sExpr) * 4294967296 + ($lExpr) * 67108864
      |        + w.ps[$sExpr])
      |  FROM walk w WHERE w.step < $k),
      |fin AS (SELECT pairs FROM walk WHERE step = $k),
      |spine AS (SELECT UNNEST(range(1, ${k + 1})) AS j),
      |picked AS (
      |  SELECT CAST(pairs[CAST(j AS INT)] // 4294967296 AS BIGINT)
      |      AS item,
      |    CAST((pairs[CAST(j AS INT)] // 67108864) % 64 AS BIGINT)
      |      AS alias_item,
      |    CAST(pairs[CAST(j AS INT)] % 67108864 AS BIGINT)
      |      AS p_final_e6
      |  FROM fin CROSS JOIN spine),
      |recon AS (
      |  SELECT p.item,
      |    p.p_final_e6 + COALESCE(SUM(1000000 - d.p_final_e6), 0)
      |      AS recon_e6
      |  FROM picked p
      |  LEFT JOIN picked d ON d.alias_item = p.item AND d.item <> p.item
      |  GROUP BY p.item, p.p_final_e6)
      |SELECT s.item, s.p_brand AS brand, s.w AS weight, s.scaled_e6,
      |  p.p_final_e6, p.alias_item, CAST(r.recon_e6 AS BIGINT)
      |    AS recon_e6
      |FROM scaled s
      |JOIN picked p ON p.item = s.item
      |JOIN recon r ON r.item = s.item
      |ORDER BY s.item""".stripMargin
  }

  // ------ q507: cluster-robust (sandwich) standard errors

  /** q507: cluster-robust inference for the pooled trend — the third
    * member of the engine's robust-variance family (Newey–West fixes
    * serial correlation, q429's FE fixes level heterogeneity; CLUSTERED
    * errors fix the remaining sin of treating a nation's months as
    * independent draws): the pooled OLS slope of monthly nation revenue
    * on time keeps its point estimate, but its variance uses the CR1
    * sandwich Σ_g S_g² over per-nation score sums S_g = Σ x̃(ỹ − b̂x̃),
    * with the G/(G−1)·(N−1)/(N−2) small-sample factor. Scores stage as
    * exact e6-centered integer products with one floor per cluster
    * (S² would overflow DECIMAL unstaged); the naive iid SE sits
    * beside the clustered one so the design-effect ratio reads off
    * the row.
    *
    * Plan: rides q429's panel — orders ⋈ broadcast customer dim →
    * (nation, month) rollup → per-nation score fold → 1-row sandwich.
    */
  val q507ClusterRobust: Q = (s, dir) => {
    val cells = ordersWithNation(s, dir)
      .select(col("c_nationkey").as("nat"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
        expr("CAST(ROUND(o_totalprice*100) AS BIGINT) div 100000").as("v"))
      .groupBy(col("nat"), col("m")).agg(sum(col("v")).as("y"))
      .localCheckpoint()
    val t0 = cells.agg(min(col("m")).as("m0"))
    val pts = cells.crossJoin(broadcast(t0))
      .select(col("nat"), (col("m") - col("m0") + 1L).as("t"), col("y"))
      .localCheckpoint()
    val glob = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("t")).cast(dec).as("st"), sum(col("y")).cast(dec).as("sy"),
      sum(col("t").cast(dec) * col("t")).as("stt"),
      sum(col("t").cast(dec) * col("y")).as("sty"))
      .select(col("n"),
        expr(fdiv("st * 1000000", "n")).as("tbar_e6"),
        expr(fdiv("sy * 1000000", "n")).as("ybar_e6"),
        expr(sdiv("(n * sty - st * sy) * 1000000", "n * stt - st * st"))
          .as("b_e6"))
      .localCheckpoint()
    val scores = pts.crossJoin(broadcast(glob))
      .select(col("nat"), col("n"), col("b_e6"),
        (col("t").cast(dec) * 1000000L - col("tbar_e6")).as("xt"),
        (col("y").cast(dec) * 1000000L - col("ybar_e6")).as("yt"))
      .groupBy(col("nat"))
      .agg(max(col("n")).as("n"), max(col("b_e6")).as("b_e6"),
        sum(col("xt") * col("yt")).as("sxy_e12"),
        sum(col("xt") * col("xt")).as("sxx_e12"))
      .select(col("n"), col("b_e6"), col("sxx_e12"),
        expr(fdiv("sxy_e12 - " + fdiv("b_e6 * sxx_e12", "1000000"),
          "1000000")).as("s_g_e6"))
    val out = scores.agg(count(lit(1)).cast(dec).as("g"),
      max(col("n")).as("n"), max(col("b_e6")).as("b_e6"),
      sum(col("sxx_e12")).as("bread_e12"),
      sum(col("s_g_e6") * col("s_g_e6")).as("meat_e12"))
    out.select(col("g").cast("long").as("n_clusters"),
      col("n").cast("long").as("n_cells"),
      col("b_e6").cast("long").as("slope_e6"),
      expr("""SQRT(CAST(meat_e12 AS DOUBLE)
        | * (CAST(g AS DOUBLE) / (CAST(g AS DOUBLE) - 1.0))
        | * ((CAST(n AS DOUBLE) - 1.0) / (CAST(n AS DOUBLE) - 2.0)))
        | / (CAST(bread_e12 AS DOUBLE) / 1e12)
        | """.stripMargin.replace("\n", " ")).as("se_cr1_e6_d"))
  }

  val q507Sql: String =
    """WITH cells AS (
      |  SELECT c_nationkey AS nat,
      |    year(o_orderdate) * 12 + month(o_orderdate) AS m,
      |    SUM(CAST(ROUND(o_totalprice*100) AS BIGINT) // 100000) AS y
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1, 2),
      |pts AS (
      |  SELECT nat, m - (SELECT MIN(m) FROM cells) + 1 AS t, y
      |  FROM cells),
      |gl AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(t) AS HUGEINT) * 1000000 // COUNT(*) AS tbar_e6,
      |    CAST(SUM(y) AS HUGEINT) * 1000000 // COUNT(*) AS ybar_e6,
      |    CAST(CASE WHEN CAST(COUNT(*) AS HUGEINT)
      |          * SUM(CAST(t AS HUGEINT) * y)
      |        - CAST(SUM(t) AS HUGEINT) * SUM(y) >= 0 THEN 1 ELSE -1 END *
      |      (ABS((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * y)
      |        - CAST(SUM(t) AS HUGEINT) * SUM(y)) * 1000000)
      |       // (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
      |        - CAST(SUM(t) AS HUGEINT) * SUM(t))) AS HUGEINT) AS b_e6
      |  FROM pts),
      |scores AS (
      |  SELECT nat, ANY_VALUE(n) AS n, ANY_VALUE(b_e6) AS b_e6,
      |    SUM((CAST(t AS HUGEINT) * 1000000 - tbar_e6)
      |      * (CAST(y AS HUGEINT) * 1000000 - ybar_e6)) AS sxy_e12,
      |    SUM((CAST(t AS HUGEINT) * 1000000 - tbar_e6)
      |      * (CAST(t AS HUGEINT) * 1000000 - tbar_e6)) AS sxx_e12
      |  FROM pts CROSS JOIN gl
      |  GROUP BY nat),
      |staged AS (
      |  SELECT n, b_e6, sxx_e12,
      |    CAST(CASE WHEN sxy_e12 - CAST(CASE WHEN b_e6 * sxx_e12 >= 0
      |          THEN 1 ELSE -1 END *
      |          (ABS(b_e6 * sxx_e12) // 1000000) AS HUGEINT) >= 0
      |        THEN 1 ELSE -1 END *
      |      (ABS(sxy_e12 - CAST(CASE WHEN b_e6 * sxx_e12 >= 0
      |          THEN 1 ELSE -1 END *
      |          (ABS(b_e6 * sxx_e12) // 1000000) AS HUGEINT))
      |        // 1000000) AS HUGEINT) AS s_g_e6
      |  FROM scores),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS g, ANY_VALUE(n) AS n,
      |    ANY_VALUE(b_e6) AS b_e6,
      |    SUM(sxx_e12) AS bread_e12,
      |    SUM(s_g_e6 * s_g_e6) AS meat_e12
      |  FROM staged)
      |SELECT CAST(g AS BIGINT) AS n_clusters,
      |  CAST(n AS BIGINT) AS n_cells,
      |  CAST(b_e6 AS BIGINT) AS slope_e6,
      |  SQRT(CAST(CAST(meat_e12 AS VARCHAR) AS DOUBLE)
      |    * (CAST(CAST(g AS VARCHAR) AS DOUBLE)
      |       / (CAST(CAST(g AS VARCHAR) AS DOUBLE) - 1.0))
      |    * ((CAST(CAST(n AS VARCHAR) AS DOUBLE) - 1.0)
      |       / (CAST(CAST(n AS VARCHAR) AS DOUBLE) - 2.0)))
      |  / (CAST(CAST(bread_e12 AS VARCHAR) AS DOUBLE) / 1e12)
      |    AS se_cr1_e6_d
      |FROM agg""".stripMargin

  // ------ q509: Elo rating replay over daily priority contests

  /** Elo logistic-expectation slope as a plan-time constant:
    * round(log2(10)/400 · 10⁶), so 10^(d/400) = 2^(d·EloC/10⁶) rides
    * the exp2 LUT identically in the Scala fold and the DuckDB walk.
    */
  val EloC = 8305L

  /** Elo K-factor (classic 32) and the rating-gap clamp that keeps the
    * exp2 argument in the LUT's int64-safe window (E saturates at
    * ±800 anyway: 10^(800/400) = 100 → E < 0.01).
    */
  val EloK = 32L
  val EloDCap = 800L

  /** q509: Elo rating replay — the SEQUENTIAL pairwise-skill ladder
    * next to the batch Bradley–Terry fit (q437 estimates strengths
    * from the full pair matrix at once; Elo walks the match stream
    * one day at a time, the ONLINE shape a live leaderboard runs).
    * Each day the two most-active order priorities play one match
    * (winner = higher e6-floored mean order value, ties to the
    * first-ranked arm); ratings move by K·(S − E) with
    * E = 1/(1 + 10^((R_b−R_a)/400)). The power rides the e6-scale
    * exp2 LUT ([[graft.functions.Text.exp2e6ScaledScala]]) and the
    * update divides through the sign-ABS sdiv, so every rating is the
    * SAME integer in the fold and the oracle's list-state walk.
    * Updates are antisymmetric, so Σ ratings = 5·1000 exactly — the
    * in-output conservation certificate (plan-pinned).
    *
    * Plan: one orders pass → (day, arm) rollup (calendar×5-bounded)
    * → top-2-per-day match series → T-step driver fold → 5-row
    * report; match/win counts come relationally from the series, so
    * the walk carries only the five ratings.
    */
  val q509EloReplay: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderdate").as("d"),
      expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("arm"),
      cents(col("o_totalprice")).as("c"))
    val byDay = o.groupBy(col("d"), col("arm"))
      .agg(count(lit(1)).as("cnt"), sum(col("c")).as("sumc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("d"))
          .orderBy(col("cnt").desc, col("arm"))))
      .filter(col("rn") <= 2)
    val matches = byDay.groupBy(col("d"))
      .agg(
        max(when(col("rn") === 1, col("arm"))).as("a"),
        max(when(col("rn") === 2, col("arm"))).as("b"),
        max(when(col("rn") === 1, expr("sumc div cnt"))).as("mva"),
        max(when(col("rn") === 2, expr("sumc div cnt"))).as("mvb"))
      .filter(col("b").isNotNull)
      .select(col("d"), col("a"), col("b"),
        when(col("mva") >= col("mvb"), 1L).otherwise(0L).as("s"))
      .orderBy(col("d")).collect()
    val r = Array.fill(6)(1000L)
    val plays = Array.fill(6)(0L)
    val wins = Array.fill(6)(0L)
    matches.foreach { row =>
      val a = row.getAs[Int]("a"); val b = row.getAs[Int]("b")
      val sWin = row.getAs[Long]("s")
      val dGap = r(b) - r(a)
      val y = math.min(math.abs(dGap), EloDCap) * EloC
      val t = graft.functions.Text.exp2e6ScaledScala(y)
      val ea =
        if (dGap >= 0) 1000000000000L / (1000000L + t)
        else t * 1000000L / (1000000L + t)
      val num = EloK * (sWin * 1000000L - ea)
      val delta = (if (num >= 0) 1L else -1L) * (math.abs(num) / 1000000L)
      r(a) += delta; r(b) -= delta
      plays(a) += 1; plays(b) += 1
      if (sWin == 1) wins(a) += 1 else wins(b) += 1
    }
    import s.implicits._
    (1 to 5).map(k => (k.toLong, r(k), plays(k), wins(k)))
      .toDF("arm", "rating", "matches", "wins")
  }

  val q509Sql: String = {
    import graft.functions.Text
    // list-state walk (the q497 cost rules): the match stream packs
    // (a, b, s) into one small-int list carried from the base case;
    // the exp2 LUT and every derived value evaluate ONCE per step in
    // nested derived tables (tx level holds the single LUT instance);
    // fin is read once through the UNNEST unpivot; matches/wins fold
    // relationally outside the walk.
    val tExpr = Text.exp2e6ScaledDuckSql("t1.y")
    def rLane(src: String, idx: String) =
      s"""CASE $idx WHEN 1 THEN $src.r1 WHEN 2 THEN $src.r2
         | WHEN 3 THEN $src.r3 WHEN 4 THEN $src.r4
         | ELSE $src.r5 END""".stripMargin.replace("\n", " ")
    val rUpd = (1 to 5).map(k =>
      s"""t3.r$k + CASE WHEN t3.ma = $k THEN t3.delta
         | WHEN t3.mb = $k THEN -t3.delta ELSE 0 END"""
        .stripMargin.replace("\n", " "))
      .mkString(",\n      |    ")
    val finLane = (1 to 4).map(k => s"WHEN $k THEN r$k")
      .mkString("CASE g.arm ", " ", " ELSE r5 END")
    s"""WITH RECURSIVE o AS (
      |  SELECT o_orderdate AS d,
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS arm,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS c
      |  FROM orders),
      |byday AS (
      |  SELECT d, arm, COUNT(*) AS cnt, SUM(c) AS sumc,
      |    ROW_NUMBER() OVER (PARTITION BY d
      |      ORDER BY COUNT(*) DESC, arm) AS rn
      |  FROM o GROUP BY d, arm),
      |mt AS (
      |  SELECT x.d, x.arm AS a, y.arm AS b,
      |    CASE WHEN x.sumc // x.cnt >= y.sumc // y.cnt
      |      THEN 1 ELSE 0 END AS s
      |  FROM (SELECT * FROM byday WHERE rn = 1) x
      |  JOIN (SELECT * FROM byday WHERE rn = 2) y ON x.d = y.d),
      |ser AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rk,
      |    CAST(a + 8*b + 64*s AS BIGINT) AS m
      |  FROM mt),
      |sl AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    list(m ORDER BY rk) AS lm
      |  FROM ser),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS rk, n, lm,
      |    CAST(1000 AS BIGINT) AS r1, CAST(1000 AS BIGINT) AS r2,
      |    CAST(1000 AS BIGINT) AS r3, CAST(1000 AS BIGINT) AS r4,
      |    CAST(1000 AS BIGINT) AS r5
      |  FROM sl
      |  UNION ALL
      |  SELECT t3.rk, t3.n, t3.lm,
      |    $rUpd
      |  FROM (
      |    SELECT t2.*,
      |      CASE WHEN t2.num >= 0 THEN 1 ELSE -1 END
      |        * (ABS(t2.num) // 1000000) AS delta
      |    FROM (
      |      SELECT tx.*,
      |        $EloK * (tx.s * 1000000 - CASE WHEN tx.dg >= 0
      |          THEN 1000000000000 // (1000000 + tx.t)
      |          ELSE tx.t * 1000000 // (1000000 + tx.t)
      |          END) AS num
      |      FROM (
      |        SELECT t1.*, $tExpr AS t
      |        FROM (
      |          SELECT t0.*,
      |            ${rLane("t0", "t0.mb")} - ${rLane("t0", "t0.ma")} AS dg,
      |            LEAST(ABS(${rLane("t0", "t0.mb")}
      |              - ${rLane("t0", "t0.ma")}), $EloDCap) * $EloC AS y
      |          FROM (
      |            SELECT w.rk + 1 AS rk, w.n, w.lm,
      |              w.r1, w.r2, w.r3, w.r4, w.r5,
      |              CAST(w.lm[w.rk + 1] % 8 AS INT) AS ma,
      |              CAST((w.lm[w.rk + 1] // 8) % 8 AS INT) AS mb,
      |              w.lm[w.rk + 1] // 64 AS s
      |            FROM walk w WHERE w.rk < w.n) t0) t1) tx) t2) t3),
      |fin AS (SELECT * FROM walk ORDER BY rk DESC LIMIT 1),
      |tal AS (
      |  SELECT arm, COUNT(*) AS matches, SUM(w) AS wins FROM (
      |    SELECT a AS arm, s AS w FROM mt
      |    UNION ALL
      |    SELECT b AS arm, 1 - s AS w FROM mt)
      |  GROUP BY arm)
      |SELECT CAST(g.arm AS BIGINT) AS arm,
      |  CAST($finLane AS BIGINT) AS rating,
      |  CAST(COALESCE(tal.matches, 0) AS BIGINT) AS matches,
      |  CAST(COALESCE(tal.wins, 0) AS BIGINT) AS wins
      |FROM (SELECT UNNEST(range(1, 6)) AS arm) g
      |CROSS JOIN fin
      |LEFT JOIN tal ON tal.arm = g.arm
      |ORDER BY g.arm""".stripMargin
  }

  // ------ q510: s–t min-cut of the fulfillment network by lattice scan

  /** Fraction (numerator over 10) of observed nation throughput the
    * network model treats as committable source/sink capacity — the
    * knob that keeps terminal edges from trivially dominating.
    */
  val MinCutCapPct = 6L

  /** q510: s–t minimum cut — WHERE does the supplier→customer network
    * bottleneck? The flow network is source → 5 supply nations →
    * 5 demand nations → sink (capacities from one lineitem⋈orders
    * pass; terminal capacities at 60% of observed throughput), and
    * instead of an augmenting-path walk the cut is found by scanning
    * the FULL 2⁵×2⁵ source-side lattice — 1,024 cuts, each a masked
    * sum over 35 edge weights, the Kemeny-style bounded-enumeration
    * device that stays one broadcast join at any data scale (masks ×
    * edges is 35K rows of metadata regardless of corpus size). By
    * max-flow/min-cut duality the reported value also bounds every
    * feasible flow; the output carries the three cut components
    * (sum = cut value), the runner-up value and the argmin
    * multiplicity as in-output certificates.
    *
    * Plan: one lineitem⋈orders pass → 5×5 cell rollup → 1,024-mask
    * lattice scan (metadata) → 1-row report.
    */
  val q510MinCut: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_suppkey"), expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("na"))
    val cus = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey").as("nb"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val flows = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .groupBy(col("na"), col("nb")).agg(sum(col("q")).as("v"))
      .localCheckpoint()
    def top5(key: String, as: String) = flows.groupBy(col(key))
      .agg(sum(col("v")).as("tot"))
      .orderBy(col("tot").desc, col(key))
      .limit(5)
      .withColumn(as, row_number().over(
        Window.orderBy(col("tot").desc, col(key))) - 1)
    val ta = top5("na", "ia").localCheckpoint()
    val tb = top5("nb", "ib").localCheckpoint()
    val cells = flows.join(broadcast(ta.select(col("na"), col("ia"))), "na")
      .join(broadcast(tb.select(col("nb"), col("ib"))), "nb")
      .select(col("ia"), col("ib"), col("v"))
      .localCheckpoint()
    val eMid = cells.select(lit("m").as("kind"), col("ia").as("i"),
      col("ib").as("j"), col("v").as("w"))
    val eSrc = cells.groupBy(col("ia")).agg(
        expr(s"$MinCutCapPct * SUM(v) div 10").as("w"))
      .select(lit("s").as("kind"), col("ia").as("i"), lit(0).as("j"), col("w"))
    val eSnk = cells.groupBy(col("ib")).agg(
        expr(s"$MinCutCapPct * SUM(v) div 10").as("w"))
      .select(lit("t").as("kind"), lit(0).as("i"), col("ib").as("j"), col("w"))
    val edges = eSrc.unionAll(eMid).unionAll(eSnk)
    val masks = s.range(0, 1024).select(
      expr("id div 32").as("ma"), expr("id % 32").as("mb"))
    val cuts = masks.crossJoin(broadcast(edges))
      .filter(
        (col("kind") === "s" && expr("(ma div shiftleft(1, i)) % 2 = 0")) ||
        (col("kind") === "m" && expr("(ma div shiftleft(1, i)) % 2 = 1") &&
          expr("(mb div shiftleft(1, j)) % 2 = 0")) ||
        (col("kind") === "t" && expr("(mb div shiftleft(1, j)) % 2 = 1")))
      .groupBy(col("ma"), col("mb"))
      .agg(sum(col("w")).as("cut"),
        count(lit(1)).as("n_cut_edges"),
        sum(when(col("kind") === "s", col("w")).otherwise(0L)).as("cut_src"),
        sum(when(col("kind") === "m", col("w")).otherwise(0L)).as("cut_mid"),
        sum(when(col("kind") === "t", col("w")).otherwise(0L)).as("cut_snk"))
      .localCheckpoint()
    val bestRow = cuts.orderBy(col("cut"), col("ma"), col("mb")).limit(1)
    val stats = cuts.crossJoin(broadcast(
        bestRow.select(col("cut").as("best"))))
      .agg(sum((col("cut") === col("best")).cast("long")).as("n_optimal"),
        min(when(col("cut") > col("best"), col("cut"))).as("runner_up"))
    bestRow.crossJoin(broadcast(stats))
      .crossJoin(broadcast(flows.agg(sum(col("v")).as("total_volume"))))
      .select(col("cut").as("min_cut"), col("ma").as("mask_a"),
        col("mb").as("mask_b"), col("n_cut_edges"),
        col("cut_src"), col("cut_mid"), col("cut_snk"),
        col("n_optimal"), col("runner_up"), col("total_volume"))
  }

  val q510Sql: String =
    s"""WITH flows AS (
      |  SELECT s_nationkey AS na, c_nationkey AS nb,
      |    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS v
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |ta AS (
      |  SELECT na, ROW_NUMBER() OVER (ORDER BY SUM(v) DESC, na) - 1 AS ia
      |  FROM flows GROUP BY na ORDER BY SUM(v) DESC, na LIMIT 5),
      |tb AS (
      |  SELECT nb, ROW_NUMBER() OVER (ORDER BY SUM(v) DESC, nb) - 1 AS ib
      |  FROM flows GROUP BY nb ORDER BY SUM(v) DESC, nb LIMIT 5),
      |cells AS (
      |  SELECT ia, ib, v FROM flows
      |  JOIN ta USING (na) JOIN tb USING (nb)),
      |edges AS (
      |  SELECT 's' AS kind, ia AS i, 0 AS j,
      |    $MinCutCapPct * SUM(v) // 10 AS w
      |  FROM cells GROUP BY ia
      |  UNION ALL
      |  SELECT 'm', ia, ib, v FROM cells
      |  UNION ALL
      |  SELECT 't', 0, ib, $MinCutCapPct * SUM(v) // 10
      |  FROM cells GROUP BY ib),
      |masks AS (
      |  SELECT mid // 32 AS ma, mid % 32 AS mb
      |  FROM (SELECT UNNEST(range(0, 1024)) AS mid)),
      |cuts AS (
      |  SELECT ma, mb, SUM(w) AS cut, COUNT(*) AS n_cut_edges,
      |    SUM(CASE WHEN kind = 's' THEN w ELSE 0 END) AS cut_src,
      |    SUM(CASE WHEN kind = 'm' THEN w ELSE 0 END) AS cut_mid,
      |    SUM(CASE WHEN kind = 't' THEN w ELSE 0 END) AS cut_snk
      |  FROM masks JOIN edges ON
      |    (kind = 's' AND (ma // (1 << i)) % 2 = 0)
      |    OR (kind = 'm' AND (ma // (1 << i)) % 2 = 1
      |        AND (mb // (1 << j)) % 2 = 0)
      |    OR (kind = 't' AND (mb // (1 << j)) % 2 = 1)
      |  GROUP BY ma, mb),
      |best AS (
      |  SELECT * FROM cuts ORDER BY cut, ma, mb LIMIT 1),
      |stats AS (
      |  SELECT SUM(CASE WHEN cuts.cut = best.cut THEN 1 ELSE 0 END)
      |      AS n_optimal,
      |    MIN(CASE WHEN cuts.cut > best.cut THEN cuts.cut END) AS runner_up
      |  FROM cuts CROSS JOIN best),
      |tot AS (SELECT SUM(v) AS total_volume FROM flows)
      |SELECT CAST(best.cut AS BIGINT) AS min_cut,
      |  CAST(best.ma AS BIGINT) AS mask_a, CAST(best.mb AS BIGINT) AS mask_b,
      |  CAST(best.n_cut_edges AS BIGINT) AS n_cut_edges,
      |  CAST(best.cut_src AS BIGINT) AS cut_src,
      |  CAST(best.cut_mid AS BIGINT) AS cut_mid,
      |  CAST(best.cut_snk AS BIGINT) AS cut_snk,
      |  CAST(stats.n_optimal AS BIGINT) AS n_optimal,
      |  CAST(stats.runner_up AS BIGINT) AS runner_up,
      |  CAST(tot.total_volume AS BIGINT) AS total_volume
      |FROM best CROSS JOIN stats CROSS JOIN tot""".stripMargin

  // ------ q511: differential-privacy budget ledger (composition)

  /** Per-release base privacy cost ε₀ = 0.1 (e6) and the plan-time
    * composition constants: ln(1/δ′)·10⁶ for δ′ = 10⁻⁶, and
    * (e^{ε₀} − 1)·10⁶ — libm evaluated ONCE at plan build (the
    * Benford-constants rule), identical literals in both engines.
    */
  val DpEps0E6 = 100000L
  val DpLnInvDeltaE6 = 13815511L
  val DpExpEps0M1E6 = 105171L
  /** Docs per counted release: one mechanism invocation per 256 docs. */
  val DpDocsPerQuery = 256L

  /** q511: the DP budget accountant — the PRIVACY-ACCOUNTING layer the
    * engine's anonymity suite (k-anon/l-div/t-close, q181/q255) stops
    * short of: if every source's statistics were released through an
    * ε₀-DP mechanism once per 256 documents, what privacy has each
    * source SPENT? Basic composition adds k·ε₀; the advanced
    * composition theorem (Dwork–Roth) charges
    * ε₀·√(2k·ln(1/δ′)) + k·ε₀·(e^{ε₀}−1) — sublinear in k, so it
    * overtakes basic at a data-determined crossover the ledger makes
    * visible per source. All integer: the square root is one
    * bit-portable FLOOR(SQRT(·)) over an exact product, the two
    * transcendental constants are plan-time literals.
    *
    * Plan: one documents rollup (20 sources) → metadata arithmetic.
    */
  val q511DpLedger: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("k_queries",
        expr(s"1 + (n_docs - 1) div $DpDocsPerQuery"))
      .withColumn("eps_basic_e6", col("k_queries") * DpEps0E6)
      .withColumn("eps_adv_e6",
        expr(s"""100 * CAST(FLOOR(SQRT(CAST(
          | 2 * k_queries * $DpLnInvDeltaE6 AS DOUBLE))) AS BIGINT)
          | + (k_queries * $DpExpEps0M1E6) div 10"""
          .stripMargin.replace("\n", " ")))
      .withColumn("eps_effective_e6", least(col("eps_basic_e6"), col("eps_adv_e6")))
      .withColumn("tighter",
        when(col("eps_adv_e6") < col("eps_basic_e6"), "advanced")
          .otherwise("basic"))
      .withColumn("delta_total_e9", (col("k_queries") + 1L) * 1000L)
      .select(col("source"), col("n_docs"), col("k_queries"),
        col("eps_basic_e6"), col("eps_adv_e6"), col("eps_effective_e6"),
        col("tighter"), col("delta_total_e9"))
  }

  val q511Sql: String =
    s"""WITH per_source AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    1 + (COUNT(*) - 1) // $DpDocsPerQuery AS k
      |  FROM documents GROUP BY source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(k AS BIGINT) AS k_queries,
      |  CAST(k * $DpEps0E6 AS BIGINT) AS eps_basic_e6,
      |  CAST(100 * CAST(FLOOR(SQRT(CAST(
      |      2 * k * $DpLnInvDeltaE6 AS DOUBLE))) AS BIGINT)
      |    + (k * $DpExpEps0M1E6) // 10 AS BIGINT) AS eps_adv_e6,
      |  CAST(LEAST(k * $DpEps0E6,
      |    100 * CAST(FLOOR(SQRT(CAST(
      |      2 * k * $DpLnInvDeltaE6 AS DOUBLE))) AS BIGINT)
      |    + (k * $DpExpEps0M1E6) // 10) AS BIGINT) AS eps_effective_e6,
      |  CASE WHEN 100 * CAST(FLOOR(SQRT(CAST(
      |      2 * k * $DpLnInvDeltaE6 AS DOUBLE))) AS BIGINT)
      |    + (k * $DpExpEps0M1E6) // 10 < k * $DpEps0E6
      |    THEN 'advanced' ELSE 'basic' END AS tighter,
      |  CAST((k + 1) * 1000 AS BIGINT) AS delta_total_e9
      |FROM per_source""".stripMargin

  // ------ q513: negative-binomial fit of daily order counts

  /** q513: negative-binomial method-of-moments fit — the DISTRIBUTION
    * model for the overdispersion q488 only indexes: per priority,
    * daily order counts over the full calendar spine (absent days
    * count ZERO — the spine join is what makes the moments honest),
    * mean and variance as exact integer co-moments, then the MoM
    * inversion r = m²/(s²−m), p = m/s² — defined exactly when the
    * variance-mean ratio exceeds 1, which the output flags per group
    * (Poisson-compatible groups report NULL r/p rather than a
    * fabricated fit).
    *
    * Plan: one orders pass → (day, arm) rollup → calendar×5 spine
    * join (metadata) → 5-row moment fold.
    */
  val q513NegBinomial: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(
      col("o_orderdate").as("d"),
      expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("arm"))
    val cellsNb = o.groupBy(col("d"), col("arm")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val spine = cellsNb.select(col("d")).distinct()
    val arms = s.range(1, 6).select(col("id").cast("int").as("arm"))
    val full = spine.crossJoin(broadcast(arms))
      .join(cellsNb, Seq("d", "arm"), "left")
      .select(col("arm"), coalesce(col("c"), lit(0L)).as("c"))
    full.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
      .select(col("arm").cast("long").as("arm"), col("n").as("n_days"),
        expr("sc * 1000000 div n").as("mean_e6"),
        expr("(n * scc - sc * sc) * 1000000 div (n * (n - 1))").as("var_e6"))
      .withColumn("vmr_e6",
        when(col("mean_e6") > 0,
          expr("var_e6 * 1000000 div mean_e6")))
      .withColumn("r_e6",
        when(col("var_e6") > col("mean_e6"),
          expr("mean_e6 * mean_e6 div (var_e6 - mean_e6)")))
      .withColumn("p_e6",
        when(col("var_e6") > col("mean_e6"),
          expr("mean_e6 * 1000000 div var_e6")))
      .withColumn("overdispersed",
        (col("var_e6") > col("mean_e6")).cast("long"))
      .orderBy(col("arm"))
  }

  val q513Sql: String =
    """WITH o AS (
      |  SELECT o_orderdate AS d,
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS arm
      |  FROM orders),
      |cells AS (SELECT d, arm, COUNT(*) AS c FROM o GROUP BY 1, 2),
      |spine AS (SELECT DISTINCT d FROM cells),
      |arms AS (SELECT UNNEST(range(1, 6)) AS arm),
      |full_grid AS (
      |  SELECT spine.d, arms.arm, COALESCE(cells.c, 0) AS c
      |  FROM spine CROSS JOIN arms
      |  LEFT JOIN cells ON cells.d = spine.d AND cells.arm = arms.arm),
      |mom AS (
      |  SELECT arm, COUNT(*) AS n, SUM(c) AS sc, SUM(c * c) AS scc
      |  FROM full_grid GROUP BY arm),
      |st AS (
      |  SELECT arm, n,
      |    sc * 1000000 // n AS mean_e6,
      |    (n * scc - sc * sc) * 1000000 // (n * (n - 1)) AS var_e6
      |  FROM mom)
      |SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n_days,
      |  CAST(mean_e6 AS BIGINT) AS mean_e6, CAST(var_e6 AS BIGINT) AS var_e6,
      |  CAST(CASE WHEN mean_e6 > 0
      |    THEN var_e6 * 1000000 // mean_e6 END AS BIGINT) AS vmr_e6,
      |  CAST(CASE WHEN var_e6 > mean_e6
      |    THEN mean_e6 * mean_e6 // (var_e6 - mean_e6) END AS BIGINT) AS r_e6,
      |  CAST(CASE WHEN var_e6 > mean_e6
      |    THEN mean_e6 * 1000000 // var_e6 END AS BIGINT) AS p_e6,
      |  CAST(CASE WHEN var_e6 > mean_e6 THEN 1 ELSE 0 END AS BIGINT)
      |    AS overdispersed
      |FROM st ORDER BY arm""".stripMargin

  // ------ q516: circuit routing (TSP) over the nation trade graph

  /** Cities in the q516 tour (top supply nations); (n−1)! = 720 tours. */
  val TspN = 7

  /** All (TspN−1)! tours from fixed city 0, one row per leg:
    * (packed tour id, from, to). Packing is position-major base-8, so
    * numeric tid order IS lexicographic tour order — the tie-break
    * both engines share. Plan-time structure (the q493 Kemeny-lattice
    * device): the tour lattice is literals; only leg costs are data.
    */
  lazy val TspLegRows: Seq[(Long, Int, Int)] =
    (1 until TspN).permutations.flatMap { p =>
      val tour = 0 +: p
      val tid = p.zipWithIndex.map { case (c, i) =>
        c.toLong * math.pow(8, i).toLong }.sum
      (0 until TspN).map(i =>
        (tid, tour(i), tour((i + 1) % TspN)))
    }.toSeq

  /** q516: shortest trade circuit — the TSP over the top-7 supply
    * nations with leg cost sup_i + sup_j − v(i,j) − v(j,i) (heavily
    * trading pairs are CHEAP to chain, so the optimal circuit is the
    * supply chain a coordinator would actually route; costs are
    * nonnegative because mutual flow never exceeds either side's
    * throughput). Solved by the bounded-enumeration lattice (the q493
    * device at 720 tours × 7 legs = 5,040 plan-time rows joined to 49
    * data cells — metadata at any corpus scale; past n ≈ 9 the same
    * operator would switch to Held–Karp subset DP, the documented
    * growth path). Symmetric costs make every tour's reversal a tie,
    * so the argmin multiplicity is ALWAYS ≥ 2 — shipped in-output and
    * plan-pinned, along with the runner-up gap.
    *
    * Plan: one lineitem⋈orders pass → 7×7 cell rollup → lattice join
    * (broadcast) → 1-row report.
    */
  val q516TspCircuit: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_suppkey"), expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
    val flows = li
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("na"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nb"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("na"), col("nb")).agg(sum(col("q")).as("v"))
      .localCheckpoint()
    val topN = flows.groupBy(col("na")).agg(sum(col("v")).as("sup"))
      .orderBy(col("sup").desc, col("na")).limit(TspN)
      .withColumn("city", row_number().over(
        Window.orderBy(col("sup").desc, col("na"))) - 1)
      .localCheckpoint()
    val cellsT = topN.select(col("na").as("ni"), col("city").as("i"),
        col("sup").as("supi"))
      .crossJoin(broadcast(topN.select(col("na").as("nj"),
        col("city").as("j"), col("sup").as("supj"))))
      .filter(col("i") =!= col("j"))
      .join(flows.select(col("na").as("ni"), col("nb").as("nj"),
        col("v").as("vij")), Seq("ni", "nj"), "left")
      .join(flows.select(col("na").as("nj"), col("nb").as("ni"),
        col("v").as("vji")), Seq("ni", "nj"), "left")
      .select(col("i"), col("j"),
        (col("supi") + col("supj") - coalesce(col("vij"), lit(0L))
          - coalesce(col("vji"), lit(0L))).as("cost"))
    import s.implicits._
    val legs = TspLegRows.toDF("tid", "i", "j")
    val tours = legs.join(broadcast(cellsT), Seq("i", "j"))
      .groupBy(col("tid")).agg(sum(col("cost")).as("tc"))
      .localCheckpoint()
    val best = tours.orderBy(col("tc"), col("tid")).limit(1)
    val statsT = tours.crossJoin(broadcast(best.select(col("tc").as("bt"))))
      .agg(sum((col("tc") === col("bt")).cast("long")).as("n_optimal"),
        min(when(col("tc") > col("bt"), col("tc"))).as("runner_up"),
        count(lit(1)).as("n_tours"))
    best.crossJoin(broadcast(statsT))
      .select(lit(TspN.toLong).as("n_cities"), col("tc").as("tour_cost"),
        col("tid").as("tour_packed"), col("n_optimal"),
        col("runner_up"), col("n_tours"))
  }

  val q516Sql: String = {
    // the same plan-time lattice, rendered as literal rows
    val legLits = TspLegRows.map { case (t, i, j) => s"($t,$i,$j)" }
      .grouped(64).map(_.mkString(",")).mkString(",\n      |    ")
    s"""WITH flows AS (
      |  SELECT s_nationkey AS na, c_nationkey AS nb,
      |    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS v
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |topn AS (
      |  SELECT na, SUM(v) AS sup,
      |    ROW_NUMBER() OVER (ORDER BY SUM(v) DESC, na) - 1 AS city
      |  FROM flows GROUP BY na ORDER BY SUM(v) DESC, na LIMIT $TspN),
      |cells AS (
      |  SELECT a.city AS i, b.city AS j,
      |    a.sup + b.sup - COALESCE(f1.v, 0) - COALESCE(f2.v, 0) AS cost
      |  FROM topn a CROSS JOIN topn b
      |  LEFT JOIN flows f1 ON f1.na = a.na AND f1.nb = b.na
      |  LEFT JOIN flows f2 ON f2.na = b.na AND f2.nb = a.na
      |  WHERE a.city <> b.city),
      |legs(tid, i, j) AS (VALUES
      |    $legLits),
      |tours AS (
      |  SELECT tid, SUM(cost) AS tc
      |  FROM legs JOIN cells USING (i, j) GROUP BY tid),
      |best AS (SELECT * FROM tours ORDER BY tc, tid LIMIT 1),
      |stats AS (
      |  SELECT SUM(CASE WHEN tours.tc = best.tc THEN 1 ELSE 0 END)
      |      AS n_optimal,
      |    MIN(CASE WHEN tours.tc > best.tc THEN tours.tc END) AS runner_up,
      |    COUNT(*) AS n_tours
      |  FROM tours CROSS JOIN best)
      |SELECT CAST($TspN AS BIGINT) AS n_cities,
      |  CAST(best.tc AS BIGINT) AS tour_cost,
      |  CAST(best.tid AS BIGINT) AS tour_packed,
      |  CAST(stats.n_optimal AS BIGINT) AS n_optimal,
      |  CAST(stats.runner_up AS BIGINT) AS runner_up,
      |  CAST(stats.n_tours AS BIGINT) AS n_tours
      |FROM best CROSS JOIN stats""".stripMargin
  }

  // ------ q517: longest monotone runs of the daily revenue series

  /** q517: longest increasing / decreasing subsequence — the ORDER-
    * structure statistic of the revenue series that trend tests
    * (Mann–Kendall q214) summarize away: patience sorting over the
    * daily order-value totals gives the exact LIS and LDS lengths in
    * one pass each, and the Erdős–Szekeres theorem guarantees
    * lis·lds ≥ n — a mathematical identity the output must satisfy,
    * shipped as the in-output certificate (plan-pinned). Both folds
    * use the same "first tail ≥ x" replacement rule (strict
    * monotonicity; duplicates never extend), which the oracle's
    * list-state walk reproduces with a count-below position — the
    * binary search and the count agree exactly on a sorted tails
    * list.
    *
    * Plan: one orders pass → calendar-bounded day series → two
    * patience folds → 1-row report.
    */
  val q517LisLds: Q = (s, dir) => {
    val xs = Tables.orders(s, dir)
      .select(col("o_orderdate").as("d"), cents(col("o_totalprice")).as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("x"))
      .orderBy(col("d")).collect().map(_.getAs[Long]("x"))
    def lisLen(v: Array[Long]): Long = {
      val tails = scala.collection.mutable.ArrayBuffer.empty[Long]
      v.foreach { x =>
        var lo = 0; var hi = tails.length
        while (lo < hi) {
          val m = (lo + hi) / 2
          if (tails(m) < x) lo = m + 1 else hi = m
        }
        if (lo == tails.length) tails += x else tails(lo) = x
      }
      tails.length.toLong
    }
    val n = xs.length.toLong
    val lis = lisLen(xs)
    val lds = lisLen(xs.map(x => -x))
    import s.implicits._
    Seq((n, lis, lds, lis * lds, if (lis * lds >= n) 1L else 0L))
      .toDF("n_days", "lis_len", "lds_len", "erdos_product", "erdos_ok")
  }

  val q517Sql: String =
    """WITH RECURSIVE bd AS (
      |  SELECT o_orderdate AS d,
      |    SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |sl AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    list(x ORDER BY d) AS vals
      |  FROM bd),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS i, n, vals,
      |    CAST([] AS BIGINT[]) AS t1, CAST([] AS BIGINT[]) AS t2
      |  FROM sl
      |  UNION ALL
      |  SELECT v.i, v.n, v.vals,
      |    list_transform(range(1, CAST(v.nl1 + 1 AS BIGINT)),
      |      k -> CASE WHEN k = v.p1 THEN v.x ELSE v.t1[CAST(k AS INT)] END),
      |    list_transform(range(1, CAST(v.nl2 + 1 AS BIGINT)),
      |      k -> CASE WHEN k = v.p2 THEN -v.x ELSE v.t2[CAST(k AS INT)] END)
      |  FROM (
      |    SELECT u.*,
      |      GREATEST(LEN(u.t1), u.p1) AS nl1,
      |      GREATEST(LEN(u.t2), u.p2) AS nl2
      |    FROM (
      |      SELECT t0.*,
      |        LEN(list_filter(t0.t1, y -> y < t0.x)) + 1 AS p1,
      |        LEN(list_filter(t0.t2, y -> y < -t0.x)) + 1 AS p2
      |      FROM (
      |        SELECT w.i + 1 AS i, w.n, w.vals, w.t1, w.t2,
      |          w.vals[w.i + 1] AS x
      |        FROM walk w WHERE w.i < w.n) t0) u) v),
      |fin AS (SELECT * FROM walk ORDER BY i DESC LIMIT 1)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(LEN(t1) AS BIGINT) AS lis_len,
      |  CAST(LEN(t2) AS BIGINT) AS lds_len,
      |  CAST(LEN(t1) * LEN(t2) AS BIGINT) AS erdos_product,
      |  CAST(CASE WHEN LEN(t1) * LEN(t2) >= n THEN 1 ELSE 0 END AS BIGINT)
      |    AS erdos_ok
      |FROM fin""".stripMargin

  // ------ q518: optimal-stopping (secretary rule) replay

  /** 1/e in e6 — the classical observation fraction, a plan-time
    * constant literal in both engines.
    */
  val SecretaryInvEE6 = 367879L

  /** q518: the secretary 1/e stopping rule replayed against the real
    * daily order-value stream — the ONLINE-DECISION audit for "when do
    * we commit?" questions (vendor selection, spot pricing): observe
    * the first ⌊n/e⌋ days without committing, then take the first day
    * that beats everything seen. Fully RELATIONAL — one prefix-max
    * over the observation window and one first-crossing pick; no walk,
    * no state, so it runs as two windowed passes at any scale. The
    * output carries the chosen day's true rank among all days and the
    * success flag (did the rule catch the global maximum), plus the
    * forced-last-day fallback when nothing beats the threshold.
    *
    * Plan: one orders pass → calendar-bounded day series → two window
    * functions → 1-row report.
    */
  val q518Secretary: Q = (s, dir) => {
    // both ranks ride the two-level day/value-bucket device — the day
    // spine funnels >1k rows, the gate's floor for single-task windows
    val bd = Prefix.rowNumber(
        Tables.orders(s, dir)
          .select(col("o_orderdate").as("d"), cents(col("o_totalprice")).as("c"))
          .groupBy(col("d")).agg(sum(col("c")).as("x"))
          .withColumn("dd", expr("datediff(d, DATE '1970-01-01')")),
        "dd", Nil, "rk")
      .drop("dd")
      .localCheckpoint()
    val n = bd.agg(count(lit(1)).as("n"))
    val withN = bd.crossJoin(broadcast(n))
      .withColumn("obs", expr(s"(n * $SecretaryInvEE6) div 1000000"))
    val thr = withN.filter(col("rk") <= col("obs"))
      .agg(max(col("x")).as("thr"))
    val cand = withN.crossJoin(broadcast(thr))
      .filter(col("rk") > col("obs") && col("x") > col("thr"))
      .orderBy(col("rk")).limit(1)
      .select(col("rk").as("pick_rk"))
    val lastRk = withN.agg(max(col("rk")).as("last_rk"))
    val pick = lastRk.crossJoin(broadcast(cand.agg(min(col("pick_rk"))
        .as("first_beat"))))
      .select(coalesce(col("first_beat"), col("last_rk")).as("chosen_rk"),
        (col("first_beat").isNotNull).cast("long").as("beat_threshold"))
    val ranked = Prefix.rowNumber(bd, "x", Seq("d"), "vrank", desc = true)
    pick.join(ranked, col("chosen_rk") === col("rk"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(thr))
      .select(col("n").as("n_days"),
        expr(s"(n * $SecretaryInvEE6) div 1000000").as("n_observed"),
        col("thr").as("threshold_c"), col("d").as("chosen_day"),
        col("x").as("chosen_value_c"),
        col("vrank").cast("long").as("chosen_rank"),
        (col("vrank") === 1L).cast("long").as("success"),
        col("beat_threshold"))
  }

  val q518Sql: String =
    s"""WITH bd AS (
      |  SELECT o_orderdate AS d,
      |    SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS x,
      |    ROW_NUMBER() OVER (ORDER BY o_orderdate) AS rk
      |  FROM orders GROUP BY o_orderdate),
      |nn AS (SELECT COUNT(*) AS n,
      |  (COUNT(*) * $SecretaryInvEE6) // 1000000 AS obs FROM bd),
      |thr AS (
      |  SELECT MAX(x) AS thr FROM bd CROSS JOIN nn WHERE rk <= obs),
      |cand AS (
      |  SELECT MIN(rk) AS first_beat
      |  FROM bd CROSS JOIN nn CROSS JOIN thr
      |  WHERE rk > obs AND x > thr),
      |pick AS (
      |  SELECT COALESCE(cand.first_beat, nn.n) AS chosen_rk,
      |    CASE WHEN cand.first_beat IS NULL THEN 0 ELSE 1 END
      |      AS beat_threshold
      |  FROM cand CROSS JOIN nn),
      |ranked AS (
      |  SELECT d, x, rk,
      |    ROW_NUMBER() OVER (ORDER BY x DESC, d) AS vrank
      |  FROM bd)
      |SELECT CAST(nn.n AS BIGINT) AS n_days,
      |  CAST(nn.obs AS BIGINT) AS n_observed,
      |  CAST(thr.thr AS BIGINT) AS threshold_c,
      |  ranked.d AS chosen_day,
      |  CAST(ranked.x AS BIGINT) AS chosen_value_c,
      |  CAST(ranked.vrank AS BIGINT) AS chosen_rank,
      |  CAST(CASE WHEN ranked.vrank = 1 THEN 1 ELSE 0 END AS BIGINT)
      |    AS success,
      |  CAST(pick.beat_threshold AS BIGINT) AS beat_threshold
      |FROM pick
      |JOIN ranked ON ranked.rk = pick.chosen_rk
      |CROSS JOIN nn CROSS JOIN thr""".stripMargin

  // ------ q519: Pareto skyline of the part catalog

  /** q519: the skyline operator — the classic "no part is both cheaper
    * and bigger" Pareto frontier over (retail price ↓, size ↑), the
    * multi-objective shortlist every procurement or curation pass
    * wants (the document analog: quality ↑ vs length ↓). Computed
    * WITHOUT a pairwise dominance join: one price-grain rollup (best
    * size per price point), one running max over the price order, and
    * a join back — a part is on the frontier iff it achieves its price
    * group's best size AND beats every strictly-cheaper group's best.
    * Equal (price, size) twins are all kept (neither dominates — no
    * strict coordinate), the textbook definition.
    *
    * Plan: one part pass → price-grain rollup (bounded by distinct
    * prices) → windowed prefix max → broadcast join back.
    */
  val q519Skyline: Q = (s, dir) => {
    val p = Tables.part(s, dir).select(col("p_partkey"),
      cents(col("p_retailprice")).as("price_c"), col("p_size"))
    val grain = p.groupBy(col("price_c")).agg(max(col("p_size")).as("best"))
    // prefix max via the two-level price-bucket device (distinct prices
    // grow with the catalog; empty-prefix NULL preserved)
    val front = Prefix.runningMax(grain, "price_c", Nil, "best", "mprev")
      .filter(col("mprev").isNull || col("best") > col("mprev"))
      .select(col("price_c"), col("best"))
    p.as("pp").join(broadcast(front.as("fr")),
        col("pp.price_c") === col("fr.price_c") &&
          col("pp.p_size") === col("fr.best"))
      .select(col("pp.p_partkey"), col("pp.price_c"),
        col("pp.p_size").cast("long").as("size"))
      .orderBy(col("price_c"), col("p_partkey"))
  }

  val q519Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_c,
      |    p_size
      |  FROM part),
      |grain AS (SELECT price_c, MAX(p_size) AS best FROM p GROUP BY price_c),
      |front AS (
      |  SELECT price_c, best FROM (
      |    SELECT price_c, best,
      |      MAX(best) OVER (ORDER BY price_c
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mprev
      |    FROM grain)
      |  WHERE mprev IS NULL OR best > mprev)
      |SELECT p.p_partkey, p.price_c, CAST(p.p_size AS BIGINT) AS size
      |FROM p JOIN front ON p.price_c = front.price_c AND p.p_size = front.best
      |ORDER BY p.price_c, p.p_partkey""".stripMargin

  // ------ q520: interval scheduling (earliest-finish greedy)

  /** The supplier with the most lines (ties to the lower key, picked by
    * one collected top-1) and its lines, each joined to its order's
    * o_orderdate — the interval set q520 and q526 schedule.
    */
  private def topSupplierLines(s: SparkSession,
      dir: String): (Long, DataFrame) = {
    val li = Tables.lineitem(s, dir)
    val topSupp = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_suppkey")).limit(1)
      .collect()(0).getAs[Long]("l_suppkey")
    val lines = li.filter(col("l_suppkey") === topSupp)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
    (topSupp, lines)
  }

  /** q520: maximum non-overlapping job set — the classic activity-
    * selection greedy over the busiest supplier's fulfillment
    * intervals (order date → ship date): sort by finish and take
    * every job whose start does not precede the running end
    * (same-day handoff allowed).
    * Earliest-finish-first is PROVABLY optimal, so n_selected is the
    * true maximum, not a heuristic — and the walk is bounded by the
    * per-supplier row count, which TPC-H holds roughly constant at
    * every scale factor (suppliers grow with the data). The oracle
    * replays the fold as a list-state walk over the day-number pairs.
    *
    * Plan: one lineitem rollup picks the supplier → per-supplier
    * interval collect (bounded) → greedy fold → 1-row report.
    */
  val q520IntervalSchedule: Q = (s, dir) => {
    val (topSupp, lines) = topSupplierLines(s, dir)
    val ivs = lines
      .select(expr("datediff(o_orderdate, DATE '1970-01-01')").as("sd"),
        expr("datediff(l_shipdate, DATE '1970-01-01')").as("rd"),
        col("l_orderkey"), col("l_linenumber"))
      .filter(col("rd") >= col("sd"))
      .orderBy(col("rd"), col("sd"), col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getAs[Int]("sd").toLong, r.getAs[Int]("rd").toLong))
    var cur = Long.MinValue
    var nSel = 0L
    var busy = 0L
    var firstStart = -1L
    var lastEnd = -1L
    ivs.foreach { case (sd, rd) =>
      if (sd >= cur) {
        if (nSel == 0) firstStart = sd
        nSel += 1; busy += rd - sd; cur = rd; lastEnd = rd
      }
    }
    import s.implicits._
    val span = if (nSel > 0) lastEnd - firstStart else 0L
    Seq((topSupp, ivs.length.toLong, nSel, busy, firstStart, lastEnd,
      if (span > 0) busy * 1000000L / span else 0L))
      .toDF("s_suppkey", "n_intervals", "n_selected", "busy_days",
        "first_start_day", "last_end_day", "utilization_e6")
  }

  val q520Sql: String =
    """WITH RECURSIVE ts AS (
      |  SELECT l_suppkey FROM lineitem GROUP BY l_suppkey
      |  ORDER BY COUNT(*) DESC, l_suppkey LIMIT 1),
      |iv AS (
      |  SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS sd,
      |    date_diff('day', DATE '1970-01-01', l_shipdate) AS rd,
      |    ROW_NUMBER() OVER (ORDER BY l_shipdate, o_orderdate,
      |      l_orderkey, l_linenumber) AS rk
      |  FROM lineitem JOIN ts USING (l_suppkey)
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate >= o_orderdate),
      |sl AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    list(CAST(sd AS BIGINT) ORDER BY rk) AS sds,
      |    list(CAST(rd AS BIGINT) ORDER BY rk) AS rds
      |  FROM iv),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS i, n, sds, rds,
      |    CAST(-4611686018427387904 AS BIGINT) AS cur,
      |    CAST(0 AS BIGINT) AS nsel, CAST(0 AS BIGINT) AS busy,
      |    CAST(-1 AS BIGINT) AS fs, CAST(-1 AS BIGINT) AS le
      |  FROM sl
      |  UNION ALL
      |  SELECT v.i, v.n, v.sds, v.rds,
      |    CASE WHEN v.take THEN v.rd ELSE v.cur END,
      |    v.nsel + CASE WHEN v.take THEN 1 ELSE 0 END,
      |    v.busy + CASE WHEN v.take THEN v.rd - v.sd ELSE 0 END,
      |    CASE WHEN v.take AND v.nsel = 0 THEN v.sd ELSE v.fs END,
      |    CASE WHEN v.take THEN v.rd ELSE v.le END
      |  FROM (
      |    SELECT u.*, u.sd >= u.cur AS take
      |    FROM (
      |      SELECT w.i + 1 AS i, w.n, w.sds, w.rds, w.cur, w.nsel,
      |        w.busy, w.fs, w.le,
      |        w.sds[w.i + 1] AS sd, w.rds[w.i + 1] AS rd
      |      FROM walk w WHERE w.i < w.n) u) v),
      |fin AS (SELECT * FROM walk ORDER BY i DESC LIMIT 1)
      |SELECT CAST(ts.l_suppkey AS BIGINT) AS s_suppkey,
      |  CAST(fin.n AS BIGINT) AS n_intervals,
      |  CAST(fin.nsel AS BIGINT) AS n_selected,
      |  CAST(fin.busy AS BIGINT) AS busy_days,
      |  CAST(fin.fs AS BIGINT) AS first_start_day,
      |  CAST(fin.le AS BIGINT) AS last_end_day,
      |  CAST(CASE WHEN fin.le - fin.fs > 0 AND fin.nsel > 0
      |    THEN fin.busy * 1000000 // (fin.le - fin.fs)
      |    ELSE 0 END AS BIGINT) AS utilization_e6
      |FROM fin CROSS JOIN ts""".stripMargin

  // ------ q523: Page's trend test (ordered alternatives in blocks)

  /** q523: Page's L — the ORDERED-alternative sibling of Friedman
    * (q338): within each order-year block the five priorities are
    * ranked by mean order value, and L = Σ_j j·R_j asks whether the
    * ranks TREND with the priority index rather than merely differ.
    * Under H₀, μ_L = b·k(k+1)²/4 and σ²_L = b·k²(k+1)²(k−1)/144 —
    * both exact integers for k = 5 — so the standardization is one
    * IEEE division over exact moments. Ties rank deterministically
    * (mean, then priority), and only complete blocks (all five arms
    * present) enter, exactly like the textbook balanced design.
    *
    * Plan: one orders pass → (year, priority) rollup (calendar×5) →
    * within-block ranks → metadata fold.
    */
  val q523PageTrend: Q = (s, dir) => {
    val cellsP = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("yr"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("arm"),
        cents(col("o_totalprice")).as("c"))
      .groupBy(col("yr"), col("arm"))
      .agg(expr("SUM(c) div COUNT(*)").as("mc"))
    val complete = cellsP.groupBy(col("yr")).agg(count(lit(1)).as("k"))
      .filter(col("k") === 5).select(col("yr"))
    val ranked = cellsP.join(broadcast(complete), "yr")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("yr")).orderBy(col("mc"), col("arm"))))
    ranked.agg(
        (count(lit(1)) / 5).cast("long").as("b_blocks"),
        sum(col("arm").cast("long") * col("rnk")).as("l_stat"))
      .select(col("b_blocks"), lit(5L).as("k_treatments"), col("l_stat"),
        (col("b_blocks") * 45L).as("mu_l"),
        (col("b_blocks") * 25L).as("var_l"),
        expr("""CAST(l_stat - b_blocks * 45 AS DOUBLE)
          | / SQRT(CAST(b_blocks * 25 AS DOUBLE))"""
          .stripMargin.replace("\n", " ")).as("z_d"))
  }

  val q523Sql: String =
    """WITH cells AS (
      |  SELECT EXTRACT(year FROM o_orderdate) AS yr,
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS arm,
      |    SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) // COUNT(*) AS mc
      |  FROM orders GROUP BY 1, 2),
      |complete AS (
      |  SELECT yr FROM cells GROUP BY yr HAVING COUNT(*) = 5),
      |ranked AS (
      |  SELECT cells.yr, arm, mc,
      |    ROW_NUMBER() OVER (PARTITION BY cells.yr ORDER BY mc, arm) AS rnk
      |  FROM cells JOIN complete ON cells.yr = complete.yr),
      |agg AS (
      |  SELECT COUNT(*) // 5 AS b, SUM(arm * rnk) AS l FROM ranked)
      |SELECT CAST(b AS BIGINT) AS b_blocks, CAST(5 AS BIGINT) AS k_treatments,
      |  CAST(l AS BIGINT) AS l_stat,
      |  CAST(b * 45 AS BIGINT) AS mu_l,
      |  CAST(b * 25 AS BIGINT) AS var_l,
      |  CAST(l - b * 45 AS DOUBLE) / SQRT(CAST(b * 25 AS DOUBLE)) AS z_d
      |FROM agg""".stripMargin

  // ------ q524: regression discontinuity at the discount threshold

  /** RD design constants: cutoff at 5% discount, ±4-point bandwidth. */
  val RdCutoff = 5L

  /** q524: sharp regression discontinuity — does quantity JUMP at the
    * 5% discount threshold, beyond what the trend on either side
    * explains? Local linear fits on the two sides of the cutoff
    * (running variable centered at the cutoff, so each intercept IS
    * the boundary estimate), both from exact integer moments with the
    * sign-ABS division device; the RD effect is the intercept gap.
    * The quasi-experimental member of the causal suite (DiD q298,
    * IV q450, CUPED q203) the engine lacked.
    *
    * Plan: one lineitem pass → per-side moment rollup (two cells) →
    * metadata arithmetic.
    */
  val q524RegressionDiscontinuity: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(expr("CAST(ROUND(l_discount*100) AS BIGINT)").as("d100"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("y"))
      .filter(col("d100").between(RdCutoff - 4, RdCutoff + 4))
      .select((col("d100") >= RdCutoff).cast("long").as("side"),
        (col("d100") - RdCutoff).as("x"), col("y"))
    val mom = li.groupBy(col("side"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("det", expr("n * sxx - sx * sx"))
      .withColumn("slope_e6",
        expr(sdivDiv("(n * sxy - sx * sy) * 1000000", "det")))
      .withColumn("b0_e6",
        expr(sdivDiv("(sy * sxx - sx * sxy) * 1000000", "det")))
    val wideRd = mom.agg(
      sum(when(col("side") === 0L, col("n")).otherwise(0L)).as("n_left"),
      sum(when(col("side") === 1L, col("n")).otherwise(0L)).as("n_right"),
      sum(when(col("side") === 0L, col("slope_e6")).otherwise(0L))
        .as("slope_left_e6"),
      sum(when(col("side") === 1L, col("slope_e6")).otherwise(0L))
        .as("slope_right_e6"),
      sum(when(col("side") === 0L, col("b0_e6")).otherwise(0L))
        .as("b0_left_e6"),
      sum(when(col("side") === 1L, col("b0_e6")).otherwise(0L))
        .as("b0_right_e6"))
    wideRd.select(col("n_left").cast("long").as("n_left"),
      col("n_right").cast("long").as("n_right"),
      col("slope_left_e6").cast("long").as("slope_left_e6"),
      col("slope_right_e6").cast("long").as("slope_right_e6"),
      col("b0_left_e6").cast("long").as("b0_left_e6"),
      col("b0_right_e6").cast("long").as("b0_right_e6"),
      (col("b0_right_e6") - col("b0_left_e6")).cast("long")
        .as("rd_effect_e6"))
  }

  val q524Sql: String =
    s"""WITH li AS (
      |  SELECT CASE WHEN d100 >= $RdCutoff THEN 1 ELSE 0 END AS side,
      |    d100 - $RdCutoff AS x, y
      |  FROM (SELECT CAST(ROUND(l_discount*100) AS BIGINT) AS d100,
      |          CAST(ROUND(l_quantity) AS BIGINT) AS y
      |        FROM lineitem)
      |  WHERE d100 BETWEEN ${RdCutoff - 4} AND ${RdCutoff + 4}),
      |mom AS (
      |  SELECT side, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy
      |  FROM li GROUP BY side),
      |fit AS (
      |  SELECT side, n,
      |    CASE WHEN (n * sxy - sx * sy) >= 0 THEN 1 ELSE -1 END
      |      * (ABS(n * sxy - sx * sy) * 1000000
      |         // (n * sxx - sx * sx)) AS slope_e6,
      |    CASE WHEN (sy * sxx - sx * sxy) >= 0 THEN 1 ELSE -1 END
      |      * (ABS(sy * sxx - sx * sxy) * 1000000
      |         // (n * sxx - sx * sx)) AS b0_e6
      |  FROM mom)
      |SELECT
      |  CAST(SUM(CASE WHEN side = 0 THEN n ELSE 0 END) AS BIGINT) AS n_left,
      |  CAST(SUM(CASE WHEN side = 1 THEN n ELSE 0 END) AS BIGINT) AS n_right,
      |  CAST(SUM(CASE WHEN side = 0 THEN slope_e6 ELSE 0 END) AS BIGINT)
      |    AS slope_left_e6,
      |  CAST(SUM(CASE WHEN side = 1 THEN slope_e6 ELSE 0 END) AS BIGINT)
      |    AS slope_right_e6,
      |  CAST(SUM(CASE WHEN side = 0 THEN b0_e6 ELSE 0 END) AS BIGINT)
      |    AS b0_left_e6,
      |  CAST(SUM(CASE WHEN side = 1 THEN b0_e6 ELSE 0 END) AS BIGINT)
      |    AS b0_right_e6,
      |  CAST(SUM(CASE WHEN side = 1 THEN b0_e6 ELSE 0 END)
      |    - SUM(CASE WHEN side = 0 THEN b0_e6 ELSE 0 END) AS BIGINT)
      |    AS rd_effect_e6
      |FROM fit""".stripMargin

  // ------ q525: nearest-neighbor covariate matching (ATT)

  /** q525: 1-NN covariate matching — the MATCHING estimator of the
    * causal suite: every urgent order (treated) is paired with the
    * low-priority order (control) nearest in total value, and the ATT
    * is the mean difference in line counts between the pairs. The
    * match is found WITHOUT a pairwise join: controls dedupe to one
    * representative per value point, the interleaved (value, side)
    * sort gives each treated row its below-index via a running
    * control count, and two index equi-joins fetch the below/above
    * candidates (nearer wins, ties below) — the sort-merge shape that
    * scales where a distance cross join cannot. Determinism: control
    * representative = smallest orderkey per value; every tie rule is
    * total.
    *
    * Plan: one orders⋈line-count pass → interleaved sort + running
    * count → two index joins → 1-row report.
    */
  val q525NnMatching: Q = (s, dir) => {
    val lc = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("y"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        expr("CAST(substring(o_orderpriority, 1, 1) AS INT)").as("pr"),
        cents(col("o_totalprice")).as("x"))
      .filter(col("pr").isin(1, 5))
      .join(lc, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("pr"), col("x"), col("y"))
      .localCheckpoint()
    // both global sorts (control index, merged cumulative-control count)
    // run through the two-level Prefix device — they grow with |orders|
    val ctrl = Prefix.rowNumber(
      o.filter(col("pr") === 5)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("x")).orderBy(col("o_orderkey"))))
        .filter(col("rn") === 1).drop("rn"),
      "x", Seq.empty, "idx", materialize = false)
      .select(col("idx"), col("x").as("cx"), col("y").as("cy"))
      .localCheckpoint()
    val treatedRaw = o.filter(col("pr") === 1)
      .select(col("o_orderkey"), col("x"), col("y"))
    val mixed = Prefix.runningSum(
      ctrl.select(col("cx").as("x"), lit(0L).as("flag"),
        col("idx").cast("long").as("key"), lit(0L).as("y"))
        .unionAll(treatedRaw.select(col("x"), lit(1L).as("flag"),
          col("o_orderkey").as("key"), col("y")))
        .withColumn("w0", (col("flag") === 0L).cast("long")),
      "x", Seq("flag", "key"), "w0", "cc", includeCurrent = true,
      materialize = false)
    val t = mixed.filter(col("flag") === 1L)
      .select(col("key").as("t_key"), col("x").as("tx"),
        col("y").as("ty"), col("cc"))
    val paired = t
      .join(ctrl.select(col("idx").as("i0"), col("cx").as("px"),
        col("cy").as("py")), col("cc") === col("i0"), "left")
      .join(ctrl.select(col("idx").as("i1"), col("cx").as("nx"),
        col("cy").as("ny")), col("cc") + 1L === col("i1"), "left")
      .select(col("t_key"), col("tx"), col("ty"),
        when(col("px").isNull, col("ny"))
          .when(col("nx").isNull, col("py"))
          .when(col("tx") - col("px") <= col("nx") - col("tx"), col("py"))
          .otherwise(col("ny")).as("my"),
        when(col("px").isNull, col("nx") - col("tx"))
          .when(col("nx").isNull, col("tx") - col("px"))
          .when(col("tx") - col("px") <= col("nx") - col("tx"),
            col("tx") - col("px"))
          .otherwise(col("nx") - col("tx")).as("gap"))
    paired.agg(count(lit(1)).as("n_treated"),
        sum(col("ty") - col("my")).as("sdiff"),
        sum(col("gap")).as("sgap"))
      .crossJoin(broadcast(ctrl.agg(count(lit(1)).as("n_controls"))))
      .select(col("n_treated"), col("n_controls"),
        expr("""CAST(CASE WHEN sdiff >= 0 THEN 1 ELSE -1 END *
          | (abs(sdiff) * 1000000 div n_treated) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("att_e6"),
        expr("sgap div n_treated").as("mean_gap_c"))
  }

  val q525Sql: String =
    """WITH lc AS (
      |  SELECT l_orderkey, COUNT(*) AS y FROM lineitem GROUP BY 1),
      |o AS (
      |  SELECT o_orderkey,
      |    CAST(substring(o_orderpriority, 1, 1) AS INT) AS pr,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS x, lc.y
      |  FROM orders JOIN lc ON o_orderkey = l_orderkey
      |  WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) IN (1, 5)),
      |ctrl AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY x) AS idx, x AS cx, y AS cy
      |  FROM (
      |    SELECT x, y,
      |      ROW_NUMBER() OVER (PARTITION BY x ORDER BY o_orderkey) AS rn
      |    FROM o WHERE pr = 5)
      |  WHERE rn = 1),
      |mixed AS (
      |  SELECT x, flag, key, y,
      |    SUM(CASE WHEN flag = 0 THEN 1 ELSE 0 END) OVER (
      |      ORDER BY x, flag, key
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
      |  FROM (
      |    SELECT cx AS x, 0 AS flag, idx AS key, CAST(0 AS BIGINT) AS y
      |    FROM ctrl
      |    UNION ALL
      |    SELECT x, 1, o_orderkey, y FROM o WHERE pr = 1)),
      |paired AS (
      |  SELECT t.x AS tx, t.y AS ty,
      |    CASE WHEN c0.cx IS NULL THEN c1.cy
      |      WHEN c1.cx IS NULL THEN c0.cy
      |      WHEN t.x - c0.cx <= c1.cx - t.x THEN c0.cy
      |      ELSE c1.cy END AS my,
      |    CASE WHEN c0.cx IS NULL THEN c1.cx - t.x
      |      WHEN c1.cx IS NULL THEN t.x - c0.cx
      |      WHEN t.x - c0.cx <= c1.cx - t.x THEN t.x - c0.cx
      |      ELSE c1.cx - t.x END AS gap
      |  FROM (SELECT * FROM mixed WHERE flag = 1) t
      |  LEFT JOIN ctrl c0 ON c0.idx = t.cc
      |  LEFT JOIN ctrl c1 ON c1.idx = t.cc + 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
      |  CAST((SELECT COUNT(*) FROM ctrl) AS BIGINT) AS n_controls,
      |  CAST(CASE WHEN SUM(ty - my) >= 0 THEN 1 ELSE -1 END
      |    * (ABS(SUM(ty - my)) * 1000000 // COUNT(*)) AS BIGINT) AS att_e6,
      |  CAST(SUM(gap) // COUNT(*) AS BIGINT) AS mean_gap_c
      |FROM paired""".stripMargin

  // ------ q526: weighted interval scheduling (DP twin of q520)

  /** q526: weighted interval scheduling — the DP upgrade of q520's
    * greedy: when each fulfillment window carries revenue, earliest-
    * finish-first is no longer optimal and the classic p(i) dynamic
    * program is (dp[i] = max(dp[i−1], wᵢ + dp[p(i)]), intervals
    * finish-sorted, p(i) = latest compatible predecessor). Same
    * per-supplier-bounded interval set as q520, weights = line
    * revenue cents. The oracle replays the DP as a list-state walk
    * whose dp list grows by one exact cell per step (p(i) located by
    * a prefix count on the finish-sorted ends — identical to the
    * fold's binary search on a sorted array).
    *
    * Plan: one lineitem⋈orders rollup (bounded per supplier) →
    * |intervals|-step fold → 1-row report.
    */
  val q526WeightedSchedule: Q = (s, dir) => {
    val (topSupp, lines) = topSupplierLines(s, dir)
    val ivs = lines
      .select(expr("datediff(o_orderdate, DATE '1970-01-01')").as("sd"),
        expr("datediff(l_shipdate, DATE '1970-01-01')").as("rd"),
        cents(col("l_extendedprice")).as("w"),
        col("l_orderkey"), col("l_linenumber"))
      .filter(col("rd") >= col("sd"))
      .orderBy(col("rd"), col("sd"), col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getAs[Int]("sd").toLong,
        r.getAs[Int]("rd").toLong, r.getAs[Long]("w")))
    val n = ivs.length
    val dp = Array.fill(n + 1)(0L)
    (1 to n).foreach { i =>
      val (sd, _, w) = ivs(i - 1)
      // p(i): count of finish-sorted predecessors with rd <= sd
      var lo = 0; var hi = i - 1
      while (lo < hi) {
        val m = (lo + hi) / 2
        if (ivs(m)._2 <= sd) lo = m + 1 else hi = m
      }
      dp(i) = math.max(dp(i - 1), w + dp(lo))
    }
    val total = ivs.map(_._3).sum
    import s.implicits._
    Seq((topSupp, n.toLong, total, dp(n),
      if (total > 0) dp(n) * 1000000L / total else 0L))
      .toDF("s_suppkey", "n_intervals", "total_weight_c", "best_value_c",
        "kept_frac_e6")
  }

  val q526Sql: String =
    """WITH RECURSIVE ts AS (
      |  SELECT l_suppkey FROM lineitem GROUP BY l_suppkey
      |  ORDER BY COUNT(*) DESC, l_suppkey LIMIT 1),
      |iv AS (
      |  SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS sd,
      |    date_diff('day', DATE '1970-01-01', l_shipdate) AS rd,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS w,
      |    ROW_NUMBER() OVER (ORDER BY l_shipdate, o_orderdate,
      |      l_orderkey, l_linenumber) AS rk
      |  FROM lineitem JOIN ts USING (l_suppkey)
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate >= o_orderdate),
      |sl AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    list(CAST(sd AS BIGINT) ORDER BY rk) AS sds,
      |    list(CAST(rd AS BIGINT) ORDER BY rk) AS rds,
      |    list(w ORDER BY rk) AS ws,
      |    CAST(SUM(w) AS BIGINT) AS tot
      |  FROM iv),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS i, n, sds, rds, ws, tot,
      |    CAST([0] AS BIGINT[]) AS dp
      |  FROM sl
      |  UNION ALL
      |  SELECT v.i, v.n, v.sds, v.rds, v.ws, v.tot,
      |    list_append(v.dp, GREATEST(v.dp[CAST(v.i AS INT)],
      |      v.wt + v.dp[CAST(v.p + 1 AS INT)]))
      |  FROM (
      |    SELECT u.*,
      |      LEN(list_filter(range(1, u.i),
      |        k -> u.rds[CAST(k AS INT)] <= u.sd)) AS p
      |    FROM (
      |      SELECT w.i + 1 AS i, w.n, w.sds, w.rds, w.ws, w.tot, w.dp,
      |        w.sds[w.i + 1] AS sd, w.ws[w.i + 1] AS wt
      |      FROM walk w WHERE w.i < w.n) u) v),
      |fin AS (SELECT * FROM walk ORDER BY i DESC LIMIT 1)
      |SELECT CAST(ts.l_suppkey AS BIGINT) AS s_suppkey,
      |  CAST(fin.n AS BIGINT) AS n_intervals,
      |  CAST(fin.tot AS BIGINT) AS total_weight_c,
      |  CAST(fin.dp[CAST(fin.n + 1 AS INT)] AS BIGINT) AS best_value_c,
      |  CAST(CASE WHEN fin.tot > 0
      |    THEN fin.dp[CAST(fin.n + 1 AS INT)] * 1000000 // fin.tot
      |    ELSE 0 END AS BIGINT) AS kept_frac_e6
      |FROM fin CROSS JOIN ts""".stripMargin

  // ------ q527: Kelly criterion from the daily revenue tape

  /** Order revenue per day `x` (cents) next to the previous order day's
    * `px`, keeping only days that moved (q527, q530). The day-over-day
    * lag is the two-level day-bucket device: the day spine funnels >1k
    * rows through a single-task window otherwise.
    */
  private def dailyRevenueMoves(s: SparkSession, dir: String): DataFrame =
    Prefix.lagOver(
      Tables.orders(s, dir)
        .select(col("o_orderdate").as("d"), cents(col("o_totalprice")).as("c"))
        .groupBy(col("d")).agg(sum(col("c")).as("x"))
        .withColumn("dd", expr("datediff(d, DATE '1970-01-01')")),
      "dd", Nil, "x", "px")
      .filter(col("px").isNotNull && col("x") =!= col("px"))

  /** q527: the Kelly fraction — from the measured win rate and payoff
    * ratio of day-over-day revenue moves (ties excluded), how much of
    * a bankroll would the growth-optimal bettor stake on "tomorrow is
    * an up day"? f* = p − q/b with b = mean win / mean loss, and the
    * expected log-growth g = p·ln(1+f·b) + q·ln(1−f) rides the log2
    * LUT — fully RELATIONAL (one lag window + aggregates + scalar
    * arithmetic), no driver fold. A negative edge clamps to f = 0
    * with the flag set, never a fabricated stake.
    *
    * Plan: one orders pass → day series → lag-window deltas → 1-row
    * scalar ladder.
    */
  val q527Kelly: Q = (s, dir) => {
    val bd = dailyRevenueMoves(s, dir)
    val agg = bd.agg(
      sum((col("x") > col("px")).cast("long")).as("up"),
      sum((col("x") < col("px")).cast("long")).as("down"),
      sum(when(col("x") > col("px"), col("x") - col("px")).otherwise(0L))
        .as("sumwin"),
      sum(when(col("x") < col("px"), col("px") - col("x")).otherwise(0L))
        .as("sumloss"))
    agg
      // degenerate tapes (all-up / all-down) surface as NULLs, never a
      // divide-by-zero; b is staged division-first (avg win, avg loss)
      // so no product crosses int64 at any realistic revenue scale
      .withColumn("p_e6",
        expr("CASE WHEN up + down = 0 THEN NULL" +
          " ELSE up * 1000000 div (up + down) END"))
      .withColumn("b_e6",
        expr("""CASE WHEN up = 0 OR down = 0 THEN NULL
          | ELSE (sumwin div up) * 1000000 div (sumloss div down) END"""
          .stripMargin.replace("\n", " ")))
      .withColumn("f_raw_e6", expr(
        "p_e6 - ((1000000 - p_e6) * 1000000) div b_e6"))
      .withColumn("f_e6", greatest(col("f_raw_e6"), lit(0L)))
      .withColumn("has_edge", (col("f_raw_e6") > 0L).cast("long"))
      .withColumn("fb_e6", expr("f_e6 * b_e6 div 1000000"))
      .withColumn("g_e6", expr(
        sdivDiv(s"""p_e6 * (((${l2("1000000 + fb_e6")}) - (${l2("1000000")}))
          | * 693147 div 1000000)
          | + (1000000 - p_e6) * (((${l2("1000000 - f_e6")})
          | - (${l2("1000000")})) * 693147 div 1000000)"""
          .stripMargin.replace("\n", " "), "1000000")))
      .select(col("up").as("up_days"), col("down").as("down_days"),
        col("p_e6"), col("b_e6"), col("f_e6"), col("has_edge"),
        col("g_e6"))
  }

  val q527Sql: String = {
    s"""WITH bd AS (
      |  SELECT d, x, LAG(x) OVER (ORDER BY d) AS px FROM (
      |    SELECT o_orderdate AS d,
      |      SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS x
      |    FROM orders GROUP BY 1)),
      |agg AS (
      |  SELECT
      |    SUM(CASE WHEN x > px THEN 1 ELSE 0 END) AS up,
      |    SUM(CASE WHEN x < px THEN 1 ELSE 0 END) AS down,
      |    SUM(CASE WHEN x > px THEN x - px ELSE 0 END) AS sumwin,
      |    SUM(CASE WHEN x < px THEN px - x ELSE 0 END) AS sumloss
      |  FROM bd WHERE px IS NOT NULL AND x <> px),
      |st AS (
      |  SELECT up, down,
      |    CASE WHEN up + down = 0 THEN NULL
      |      ELSE up * 1000000 // (up + down) END AS p_e6,
      |    CASE WHEN up = 0 OR down = 0 THEN NULL
      |      ELSE (sumwin // up) * 1000000 // (sumloss // down) END AS b_e6
      |  FROM agg),
      |st2 AS (
      |  SELECT st.*,
      |    GREATEST(p_e6 - ((1000000 - p_e6) * 1000000) // b_e6, 0) AS f_e6,
      |    CASE WHEN p_e6 - ((1000000 - p_e6) * 1000000) // b_e6 > 0
      |      THEN 1 ELSE 0 END AS has_edge
      |  FROM st),
      |st3 AS (
      |  SELECT st2.*, f_e6 * b_e6 // 1000000 AS fb_e6 FROM st2),
      |st4 AS (
      |  SELECT st3.*,
      |    p_e6 * (((${duckL2("1000000 + fb_e6")}) - (${duckL2("1000000")}))
      |      * 693147 // 1000000)
      |    + (1000000 - p_e6) * (((${duckL2("1000000 - f_e6")})
      |      - (${duckL2("1000000")})) * 693147 // 1000000) AS gnum
      |  FROM st3)
      |SELECT CAST(up AS BIGINT) AS up_days, CAST(down AS BIGINT) AS down_days,
      |  CAST(p_e6 AS BIGINT) AS p_e6, CAST(b_e6 AS BIGINT) AS b_e6,
      |  CAST(f_e6 AS BIGINT) AS f_e6, CAST(has_edge AS BIGINT) AS has_edge,
      |  CAST(CASE WHEN gnum >= 0 THEN 1 ELSE -1 END
      |    * (ABS(gnum) // 1000000) AS BIGINT) AS g_e6
      |FROM st4""".stripMargin
  }

  // ------ q528: German-tank keyspace estimate from a hash sample

  /** q528: the German-tank (serial-number) estimator — how big is a
    * table whose keys you only SAMPLE? From a deterministic 1%
    * portable-hash sample of order keys, the frequentist MVUE
    * N̂ = m(1 + 1/k) − 1 estimates the keyspace ceiling, audited
    * in-output against the true maximum the full pass knows — the
    * "estimate the catalog from the crawl" primitive, with the
    * relative error carried as the certificate.
    *
    * Plan: one orders pass (sample predicate pushes to the scan) →
    * scalar moments; the truth branch is the same pass unfiltered.
    */
  val q528GermanTank: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"))
    val samp = o.filter(
        graft.functions.Text.portableHash(col("o_orderkey").cast("string"))
          % 100 === 0)
      .agg(max(col("o_orderkey")).as("m"), count(lit(1)).as("k"))
    val truth = o.agg(max(col("o_orderkey")).as("true_max"),
      count(lit(1)).as("n_total"))
    samp.crossJoin(broadcast(truth))
      .withColumn("n_hat", expr("m + m div k - 1"))
      .select(col("k").as("sample_k"), col("m").as("sample_max"),
        col("n_hat"), col("true_max"), col("n_total"),
        expr("""CAST(CASE WHEN n_hat - true_max >= 0 THEN 1 ELSE -1 END *
          | (abs(n_hat - true_max) * 1000000 div true_max) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("rel_err_e6"))
  }

  val q528Sql: String =
    """WITH o AS (SELECT o_orderkey FROM orders),
      |samp AS (
      |  SELECT MAX(o_orderkey) AS m, COUNT(*) AS k FROM o
      |  WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
      |    1, 15)) AS BIGINT) % 100 = 0),
      |truth AS (
      |  SELECT MAX(o_orderkey) AS true_max, COUNT(*) AS n_total FROM o)
      |SELECT CAST(k AS BIGINT) AS sample_k, CAST(m AS BIGINT) AS sample_max,
      |  CAST(m + m // k - 1 AS BIGINT) AS n_hat,
      |  CAST(true_max AS BIGINT) AS true_max,
      |  CAST(n_total AS BIGINT) AS n_total,
      |  CAST(CASE WHEN (m + m // k - 1) - true_max >= 0 THEN 1 ELSE -1 END
      |    * (ABS((m + m // k - 1) - true_max) * 1000000 // true_max)
      |    AS BIGINT) AS rel_err_e6
      |FROM samp CROSS JOIN truth""".stripMargin

  // ------ q529: coupon-collector audit over customer nations

  /** q529: coupon collecting the nations — how many orders did it
    * ACTUALLY take to hear from all 25 customer nations, against the
    * classical expectation n·H_n? The expectation is an exact integer
    * fold (Σ n·10⁶ div i over the observed nation count, each term
    * one floor), the actual is one window pass (first-occurrence rank
    * per nation, then the max) — the "time to full coverage" audit a
    * crawl scheduler runs against source discovery.
    *
    * Plan: one orders⋈broadcast-customer pass → per-nation first
    * ranks (25 rows) → metadata fold.
    */
  val q529CouponCollector: Q = (s, dir) => {
    val seqd = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .localCheckpoint()
    // the global row_number was only read as MIN(rn) per nation, and rn is
    // monotone in the unique orderkey — so fr(nation) = #orders with
    // orderkey <= the nation's first orderkey: a ≤25-row broadcast and one
    // counting pass replace the |orders| single-task sort
    val mins = seqd.groupBy(col("c_nationkey"))
      .agg(min(col("o_orderkey")).as("mk"))
    val firsts = seqd.select(col("o_orderkey").as("k"))
      .join(broadcast(mins), col("k") <= col("mk"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("fr"))
    val base = firsts.agg(count(lit(1)).as("n_seen"),
        max(col("fr")).as("actual_draws"))
    val expected = base.select(col("n_seen"),
        explode(expr("sequence(1, CAST(n_seen AS INT))")).as("i"))
      .groupBy(col("n_seen"))
      .agg(sum(expr("n_seen * 1000000 div i")).as("expected_draws_e6"))
    base.join(expected, "n_seen")
      .select(col("n_seen"), col("actual_draws").cast("long").as("actual_draws"),
        col("expected_draws_e6"),
        expr("actual_draws * 1000000000000 div expected_draws_e6")
          .as("ratio_e6"))
  }

  val q529Sql: String =
    """WITH seqd AS (
      |  SELECT c_nationkey,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |firsts AS (
      |  SELECT c_nationkey, MIN(rn) AS fr FROM seqd GROUP BY 1),
      |base AS (
      |  SELECT COUNT(*) AS n_seen, MAX(fr) AS actual_draws FROM firsts),
      |expected AS (
      |  SELECT base.n_seen,
      |    SUM(base.n_seen * 1000000 // i.i) AS expected_draws_e6
      |  FROM base CROSS JOIN
      |    (SELECT UNNEST(range(1, 26)) AS i) i
      |  WHERE i.i <= base.n_seen
      |  GROUP BY base.n_seen)
      |SELECT CAST(base.n_seen AS BIGINT) AS n_seen,
      |  CAST(base.actual_draws AS BIGINT) AS actual_draws,
      |  CAST(expected.expected_draws_e6 AS BIGINT) AS expected_draws_e6,
      |  CAST(base.actual_draws * 1000000000000
      |    // expected.expected_draws_e6 AS BIGINT) AS ratio_e6
      |FROM base JOIN expected ON base.n_seen = expected.n_seen""".stripMargin

  // ------ q530: gambler's-ruin absorption from the daily tape

  /** Ruin-model levels: start z = 10 units, absorb at 0 or N = 20. */
  val RuinZ = 10
  val RuinN = 20

  /** q530: gambler's ruin — with the up/down odds MEASURED from the
    * daily revenue tape (ties excluded), what is the probability a
    * ±1 random walk from z = 10 reaches 20 before 0? The classical
    * closed form P = (1 − r^z)/(1 − r^N) with r = q/p is computed as
    * an e6-floored SQUARING CHAIN (r² , r⁴, r⁸, r¹⁰, r²⁰ — five
    * multiplies, each floored once, identical in both engines), with
    * the symmetric p = ½ case handled by its exact limit z/N. The
    * ratio clamps to [0.25, 4] so the chain stays in int64 by
    * construction — the clamp is part of the model, documented, and
    * inert on any realistically balanced tape.
    *
    * Plan: one orders pass → lag-window deltas → 1-row scalar chain.
    */
  val q530GamblersRuin: Q = (s, dir) => {
    val bd = dailyRevenueMoves(s, dir)
    bd.agg(sum((col("x") > col("px")).cast("long")).as("up"),
        sum((col("x") < col("px")).cast("long")).as("down"))
      .withColumn("p_e6", expr("up * 1000000 div (up + down)"))
      .withColumn("r_e6", expr(
        "GREATEST(LEAST(down * 1000000 div up, 4000000), 250000)"))
      .withColumn("r2", expr("r_e6 * r_e6 div 1000000"))
      .withColumn("r4", expr("r2 * r2 div 1000000"))
      .withColumn("r8", expr("r4 * r4 div 1000000"))
      .withColumn("r10", expr("r8 * r2 div 1000000"))
      .withColumn("r20", expr("r10 * r10 div 1000000"))
      .withColumn("pwin_e6", expr(
        """CASE WHEN r_e6 = 1000000 THEN 500000
          | ELSE CAST(CASE WHEN (1000000 - r10) >= 0 THEN 1 ELSE -1 END *
          |   CASE WHEN (1000000 - r20) >= 0 THEN 1 ELSE -1 END *
          |   (abs(1000000 - r10) * 1000000 div abs(1000000 - r20))
          |   AS BIGINT) END""".stripMargin.replace("\n", " ")))
      .select(col("up").as("up_days"), col("down").as("down_days"),
        col("p_e6"), col("r_e6"), col("r10"), col("r20"),
        col("pwin_e6"), (lit(1000000L) - col("pwin_e6")).as("pruin_e6"))
  }

  val q530Sql: String =
    """WITH bd AS (
      |  SELECT d, x, LAG(x) OVER (ORDER BY d) AS px FROM (
      |    SELECT o_orderdate AS d,
      |      SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS x
      |    FROM orders GROUP BY 1)),
      |agg AS (
      |  SELECT SUM(CASE WHEN x > px THEN 1 ELSE 0 END) AS up,
      |    SUM(CASE WHEN x < px THEN 1 ELSE 0 END) AS down
      |  FROM bd WHERE px IS NOT NULL AND x <> px),
      |st AS (
      |  SELECT up, down, up * 1000000 // (up + down) AS p_e6,
      |    GREATEST(LEAST(down * 1000000 // up, 4000000), 250000) AS r_e6
      |  FROM agg),
      |ch AS (
      |  SELECT s2.*, s2.r8 * s2.r2 // 1000000 AS r10,
      |    (s2.r8 * s2.r2 // 1000000) * (s2.r8 * s2.r2 // 1000000)
      |      // 1000000 AS r20
      |  FROM (
      |    SELECT st.*,
      |      r_e6 * r_e6 // 1000000 AS r2,
      |      (r_e6 * r_e6 // 1000000) * (r_e6 * r_e6 // 1000000)
      |        // 1000000 AS r4,
      |      ((r_e6 * r_e6 // 1000000) * (r_e6 * r_e6 // 1000000)
      |        // 1000000) * ((r_e6 * r_e6 // 1000000)
      |        * (r_e6 * r_e6 // 1000000) // 1000000) // 1000000 AS r8
      |    FROM st) s2)
      |SELECT CAST(up AS BIGINT) AS up_days, CAST(down AS BIGINT) AS down_days,
      |  CAST(p_e6 AS BIGINT) AS p_e6, CAST(r_e6 AS BIGINT) AS r_e6,
      |  CAST(r10 AS BIGINT) AS r10, CAST(r20 AS BIGINT) AS r20,
      |  CAST(CASE WHEN r_e6 = 1000000 THEN 500000
      |    ELSE CAST(CASE WHEN (1000000 - r10) >= 0 THEN 1 ELSE -1 END *
      |      CASE WHEN (1000000 - r20) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(1000000 - r10) * 1000000 // ABS(1000000 - r20))
      |      AS BIGINT) END AS BIGINT) AS pwin_e6,
      |  CAST(1000000 - CASE WHEN r_e6 = 1000000 THEN 500000
      |    ELSE CAST(CASE WHEN (1000000 - r10) >= 0 THEN 1 ELSE -1 END *
      |      CASE WHEN (1000000 - r20) >= 0 THEN 1 ELSE -1 END *
      |      (ABS(1000000 - r10) * 1000000 // ABS(1000000 - r20))
      |      AS BIGINT) END AS BIGINT) AS pruin_e6
      |FROM ch""".stripMargin

  // ------ q531: bullwhip effect (order-vs-fulfillment variability)

  /** q531: the bullwhip ratio — does variability AMPLIFY moving up
    * the chain? The same shipped quantities are laid on two clocks:
    * the day the order was PLACED (upstream signal) and the day the
    * line actually SHIPPED (downstream fulfillment), both on the
    * union calendar with explicit zeros so the variances are honest.
    * Bullwhip = CV²(placed) / CV²(shipped), the classic Lee et al.
    * measure, staged in two exact divisions (mean² rescale first, so
    * no product leaves int64). A ratio above 10⁶ says order batching
    * amplifies demand noise before it ever reaches the dock.
    *
    * Plan: one lineitem⋈orders pass → two (day) rollups on the shared
    * spine → 1-row moment arithmetic.
    */
  val q531Bullwhip: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderdate").as("pd"), col("l_shipdate").as("sd2"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("q"))
      .localCheckpoint()
    val placed = li.groupBy(col("pd").as("d")).agg(sum(col("q")).as("qp"))
    val shipped = li.groupBy(col("sd2").as("d")).agg(sum(col("q")).as("qs"))
    val spine = placed.select(col("d")).unionAll(shipped.select(col("d")))
      .distinct()
    val grid = spine.join(placed, Seq("d"), "left")
      .join(shipped, Seq("d"), "left")
      .select(coalesce(col("qp"), lit(0L)).as("qp"),
        coalesce(col("qs"), lit(0L)).as("qs"))
    grid.agg(count(lit(1)).as("n"),
        sum(col("qp")).as("sp"), sum(col("qp") * col("qp")).as("spp"),
        sum(col("qs")).as("ss"), sum(col("qs") * col("qs")).as("sss"))
      .select(col("n").as("n_days"),
        expr("sp * 1000000 div n").as("mean_placed_e6"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * spp
          | - CAST(sp AS DECIMAL(38,0)) * sp) * 1000000
          | div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("var_placed_e6"),
        expr("ss * 1000000 div n").as("mean_shipped_e6"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * sss
          | - CAST(ss AS DECIMAL(38,0)) * ss) * 1000000
          | div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("var_shipped_e6"))
      .withColumn("cv2_placed_e6", expr(
        """CAST(CAST(var_placed_e6 AS DECIMAL(38,0)) * 1000000 div
          | (CAST(mean_placed_e6 AS DECIMAL(38,0)) * mean_placed_e6
          |  div 1000000) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("cv2_shipped_e6", expr(
        """CAST(CAST(var_shipped_e6 AS DECIMAL(38,0)) * 1000000 div
          | (CAST(mean_shipped_e6 AS DECIMAL(38,0)) * mean_shipped_e6
          |  div 1000000) AS BIGINT)"""
          .stripMargin.replace("\n", " ")))
      .withColumn("bullwhip_e6",
        expr("cv2_placed_e6 * 1000000 div cv2_shipped_e6"))
  }

  val q531Sql: String =
    """WITH li AS (
      |  SELECT o_orderdate AS pd, l_shipdate AS sd2,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS q
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |placed AS (SELECT pd AS d, SUM(q) AS qp FROM li GROUP BY 1),
      |shipped AS (SELECT sd2 AS d, SUM(q) AS qs FROM li GROUP BY 1),
      |spine AS (
      |  SELECT d FROM placed UNION SELECT d FROM shipped),
      |grid AS (
      |  SELECT COALESCE(placed.qp, 0) AS qp, COALESCE(shipped.qs, 0) AS qs
      |  FROM spine LEFT JOIN placed USING (d) LEFT JOIN shipped USING (d)),
      |mom AS (
      |  SELECT COUNT(*) AS n, SUM(qp) AS sp, SUM(qp * qp) AS spp,
      |    SUM(qs) AS ss, SUM(qs * qs) AS sss
      |  FROM grid),
      |st AS (
      |  SELECT n,
      |    sp * 1000000 // n AS mean_placed_e6,
      |    (CAST(n AS HUGEINT) * spp - CAST(sp AS HUGEINT) * sp) * 1000000
      |      // (CAST(n AS HUGEINT) * (n - 1)) AS var_placed_e6,
      |    ss * 1000000 // n AS mean_shipped_e6,
      |    (CAST(n AS HUGEINT) * sss - CAST(ss AS HUGEINT) * ss) * 1000000
      |      // (CAST(n AS HUGEINT) * (n - 1)) AS var_shipped_e6
      |  FROM mom),
      |cv AS (
      |  SELECT st.*,
      |    CAST(var_placed_e6 AS HUGEINT) * 1000000
      |      // (CAST(mean_placed_e6 AS HUGEINT) * mean_placed_e6
      |          // 1000000) AS cv2_placed_e6,
      |    CAST(var_shipped_e6 AS HUGEINT) * 1000000
      |      // (CAST(mean_shipped_e6 AS HUGEINT) * mean_shipped_e6
      |          // 1000000) AS cv2_shipped_e6
      |  FROM st)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(mean_placed_e6 AS BIGINT) AS mean_placed_e6,
      |  CAST(var_placed_e6 AS BIGINT) AS var_placed_e6,
      |  CAST(mean_shipped_e6 AS BIGINT) AS mean_shipped_e6,
      |  CAST(var_shipped_e6 AS BIGINT) AS var_shipped_e6,
      |  CAST(cv2_placed_e6 AS BIGINT) AS cv2_placed_e6,
      |  CAST(cv2_shipped_e6 AS BIGINT) AS cv2_shipped_e6,
      |  CAST(cv2_placed_e6 * 1000000 // cv2_shipped_e6 AS BIGINT)
      |    AS bullwhip_e6
      |FROM cv""".stripMargin

  // ------ q536: hierarchical forecast reconciliation (region ⊃ nation)

  /** q536: coherent forecasting — nation forecasts must SUM to their
    * region's, or planners double-count. The last day is held out;
    * drift forecasts (last + mean daily increment, the textbook
    * baseline) are fit per nation and per region on the training
    * days; bottom-up reconciles by summation (coherent by
    * construction), top-down re-apportions the region forecast by
    * training-mass shares through the largest-remainder device
    * (q485), so the nation-level TD splits rebuild the region number
    * EXACTLY — both coherence certificates ship in-output, along with
    * each method's absolute error against the held-out actual.
    *
    * Plan: one orders⋈broadcast-dims pass → (region, nation, day)
    * rollup (checkpointed) → metadata drift fits + apportionment →
    * 5-row report.
    */
  val q536ForecastReconcile: Q = (s, dir) => {
    val geo = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey").as("nk"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_regionkey").as("rk2"))),
        col("nk") === col("n_nationkey"))
      .select(col("c_custkey"), col("nk"), col("rk2"))
    val nd = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate").as("d"),
        cents(col("o_totalprice")).as("c"))
      .join(broadcast(geo), col("o_custkey") === col("c_custkey"))
      .groupBy(col("rk2"), col("nk"), col("d")).agg(sum(col("c")).as("x"))
      .localCheckpoint()
    val ldDf = nd.agg(max(col("d")).as("ld"))
    val train = nd.crossJoin(broadcast(ldDf))
      .filter(col("d") < col("ld")).drop("ld")
    val actual = nd.crossJoin(broadcast(ldDf))
      .filter(col("d") === col("ld"))
      .groupBy(col("rk2")).agg(sum(col("x")).as("actual_c"))
    // drift fit per nation: last + (last - first) div (spanDays)
    def drift(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("d"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("nn", count(lit(1)).over(
          Window.partitionBy(keys.map(col): _*)))
        .filter(col("rn") === 1 || col("rn") === col("nn"))
        .groupBy(keys.map(col): _*)
        .agg(max(when(col("rn") === col("nn"), col("x"))).as("lastv"),
          max(when(col("rn") === 1, col("x"))).as("firstv"),
          max(col("nn")).as("nn"))
        .withColumn("fc", when(col("nn") === 1, col("lastv"))
          .otherwise(col("lastv") + expr(
            sdivDiv("lastv - firstv", "nn - 1"))))
        .withColumn("fc", greatest(col("fc"), lit(0L)))
    }
    val natTrainDay = train.groupBy(col("rk2"), col("nk"), col("d"))
      .agg(sum(col("x")).as("x"))
    val regTrainDay = train.groupBy(col("rk2"), col("d"))
      .agg(sum(col("x")).as("x"))
    // the two drift fits are independent legs over the checkpointed day
    // rollup — materialize them concurrently (Tuning.checkpointAll, r9)
    val Seq(natFc, regFc) = graft.Tuning.checkpointAll(
      drift(natTrainDay, Seq("rk2", "nk"))
        .select(col("rk2"), col("nk"), col("fc").as("nat_fc")),
      drift(regTrainDay, Seq("rk2"))
        .select(col("rk2"), col("fc").as("reg_fc")))
    val bu = natFc.groupBy(col("rk2")).agg(sum(col("nat_fc")).as("bu_c"))
    // top-down: largest-remainder apportionment of reg_fc by train mass
    val mass = train.groupBy(col("rk2"), col("nk")).agg(sum(col("x")).as("t"))
    val massTot = mass.groupBy(col("rk2")).agg(sum(col("t")).as("tt"))
    val tdBase = mass.join(broadcast(massTot), "rk2")
      .join(broadcast(regFc), "rk2")
      .withColumn("base", expr(
        "CAST((CAST(reg_fc AS DECIMAL(38,0)) * t) div tt AS BIGINT)"))
      .withColumn("rem", expr(
        "CAST((CAST(reg_fc AS DECIMAL(38,0)) * t) % tt AS BIGINT)"))
    val tdLeft = tdBase.groupBy(col("rk2"))
      .agg((max(col("reg_fc")) - sum(col("base"))).as("lv"))
    val td = tdBase.join(broadcast(tdLeft), "rk2")
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("rk2"))
          .orderBy(col("rem").desc, col("nk"))))
      .withColumn("td_i", col("base") + (col("rr") <= col("lv")).cast("long"))
      .groupBy(col("rk2")).agg(sum(col("td_i")).as("td_sum_c"))
    actual.join(bu, "rk2").join(broadcast(regFc), "rk2").join(td, "rk2")
      .select(col("rk2").cast("long").as("region"),
        col("actual_c"), col("bu_c"),
        col("reg_fc").as("td_region_c"), col("td_sum_c"),
        abs(col("bu_c") - col("actual_c")).as("err_bu_c"),
        abs(col("reg_fc") - col("actual_c")).as("err_td_c"),
        (col("td_sum_c") === col("reg_fc")).cast("long").as("td_coherent"))
      .orderBy(col("region"))
  }

  val q536Sql: String =
    """WITH geo AS (
      |  SELECT c_custkey, c_nationkey AS nk, n_regionkey AS rk2
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
      |nd AS (
      |  SELECT rk2, nk, o_orderdate AS d,
      |    SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS x
      |  FROM orders JOIN geo ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3),
      |ld AS (SELECT MAX(d) AS ld FROM nd),
      |train AS (SELECT nd.* FROM nd CROSS JOIN ld WHERE nd.d < ld.ld),
      |actual AS (
      |  SELECT rk2, SUM(x) AS actual_c
      |  FROM nd CROSS JOIN ld WHERE nd.d = ld.ld GROUP BY rk2),
      |ntd AS (
      |  SELECT rk2, nk, d, SUM(x) AS x FROM train GROUP BY 1, 2, 3),
      |nat_ends AS (
      |  SELECT rk2, nk,
      |    MAX(CASE WHEN rn = nn THEN x END) AS lastv,
      |    MAX(CASE WHEN rn = 1 THEN x END) AS firstv,
      |    MAX(nn) AS nn
      |  FROM (SELECT rk2, nk, x,
      |          ROW_NUMBER() OVER (PARTITION BY rk2, nk ORDER BY d) AS rn,
      |          COUNT(*) OVER (PARTITION BY rk2, nk) AS nn
      |        FROM ntd)
      |  WHERE rn = 1 OR rn = nn
      |  GROUP BY 1, 2),
      |nat_fc AS (
      |  SELECT rk2, nk,
      |    GREATEST(CASE WHEN nn = 1 THEN lastv
      |      ELSE lastv + CASE WHEN lastv - firstv >= 0 THEN 1 ELSE -1 END
      |        * (ABS(lastv - firstv) // (nn - 1)) END, 0) AS nat_fc
      |  FROM nat_ends),
      |rtd AS (SELECT rk2, d, SUM(x) AS x FROM train GROUP BY 1, 2),
      |reg_ends AS (
      |  SELECT rk2,
      |    MAX(CASE WHEN rn = nn THEN x END) AS lastv,
      |    MAX(CASE WHEN rn = 1 THEN x END) AS firstv,
      |    MAX(nn) AS nn
      |  FROM (SELECT rk2, x,
      |          ROW_NUMBER() OVER (PARTITION BY rk2 ORDER BY d) AS rn,
      |          COUNT(*) OVER (PARTITION BY rk2) AS nn
      |        FROM rtd)
      |  WHERE rn = 1 OR rn = nn
      |  GROUP BY 1),
      |reg_fc AS (
      |  SELECT rk2,
      |    GREATEST(CASE WHEN nn = 1 THEN lastv
      |      ELSE lastv + CASE WHEN lastv - firstv >= 0 THEN 1 ELSE -1 END
      |        * (ABS(lastv - firstv) // (nn - 1)) END, 0) AS reg_fc
      |  FROM reg_ends),
      |bu AS (SELECT rk2, SUM(nat_fc) AS bu_c FROM nat_fc GROUP BY rk2),
      |mass AS (SELECT rk2, nk, SUM(x) AS t FROM train GROUP BY 1, 2),
      |mtot AS (SELECT rk2, SUM(t) AS tt FROM mass GROUP BY rk2),
      |td_base AS (
      |  SELECT mass.rk2, mass.nk, reg_fc.reg_fc,
      |    reg_fc.reg_fc * mass.t // mtot.tt AS base,
      |    (reg_fc.reg_fc * mass.t) % mtot.tt AS rem
      |  FROM mass JOIN mtot USING (rk2) JOIN reg_fc USING (rk2)),
      |td_left AS (
      |  SELECT rk2, MAX(reg_fc) - SUM(base) AS lv FROM td_base GROUP BY rk2),
      |td AS (
      |  SELECT rk2, SUM(base + CASE WHEN rr <= lv THEN 1 ELSE 0 END)
      |    AS td_sum_c
      |  FROM (
      |    SELECT td_base.*, td_left.lv,
      |      ROW_NUMBER() OVER (PARTITION BY td_base.rk2
      |        ORDER BY rem DESC, nk) AS rr
      |    FROM td_base JOIN td_left USING (rk2))
      |  GROUP BY rk2)
      |SELECT CAST(actual.rk2 AS BIGINT) AS region,
      |  CAST(actual.actual_c AS BIGINT) AS actual_c,
      |  CAST(bu.bu_c AS BIGINT) AS bu_c,
      |  CAST(reg_fc.reg_fc AS BIGINT) AS td_region_c,
      |  CAST(td.td_sum_c AS BIGINT) AS td_sum_c,
      |  CAST(ABS(bu.bu_c - actual.actual_c) AS BIGINT) AS err_bu_c,
      |  CAST(ABS(reg_fc.reg_fc - actual.actual_c) AS BIGINT) AS err_td_c,
      |  CAST(CASE WHEN td.td_sum_c = reg_fc.reg_fc THEN 1 ELSE 0 END
      |    AS BIGINT) AS td_coherent
      |FROM actual JOIN bu USING (rk2) JOIN reg_fc USING (rk2)
      |JOIN td USING (rk2)
      |ORDER BY region""".stripMargin

  // ------ q532: p-chart (attribute control) on the daily return rate

  /** q532: the p-chart — SPC for ATTRIBUTE data, completing the
    * engine's control-chart suite (XmR q316 for individuals, CUSUM
    * q124 for level shifts, Cp/Cpk q472 for capability): per ship-day
    * the returned-line fraction against 3σ binomial limits around the
    * grand rate, with the out-of-control decision made in EXACT
    * integer arithmetic — (x_d·N − n_d·X)² > 9·X·(N−X)·n_d is the
    * ±3σ test cleared of every division and square root, so the chart
    * never touches a float. The worst day ships with its violation
    * margin as the certificate.
    *
    * Plan: one lineitem pass → per-day (n, x) rollup → exact
    * integer flagging → 1-row summary.
    */
  val q532PChart: Q = (s, dir) => {
    val day = Tables.lineitem(s, dir)
      .select(col("l_shipdate").as("d"),
        (col("l_returnflag") === "R").cast("long").as("r"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("nd"), sum(col("r")).as("xd"))
      .localCheckpoint()
    val tot = day.agg(sum(col("nd")).as("nn"), sum(col("xd")).as("xx"))
    val flagged = day.crossJoin(broadcast(tot))
      .withColumn("lhs", expr(
        "(xd * nn - nd * xx) * (xd * nn - nd * xx)"))
      .withColumn("rhs", expr("9 * xx * (nn - xx) * nd"))
      .withColumn("viol", (col("lhs") > col("rhs")).cast("long"))
      .withColumn("high", (col("xd") * col("nn") > col("nd") * col("xx"))
        .cast("long"))
    val worst = flagged.orderBy((col("lhs") - col("rhs")).desc, col("d"))
      .limit(1).select(col("d").as("worst_day"),
        col("lhs").as("worst_lhs"), col("rhs").as("worst_rhs"))
    flagged.agg(count(lit(1)).as("n_days"),
        sum(col("viol") * col("high")).as("n_out_high"),
        sum(col("viol") * (lit(1L) - col("high"))).as("n_out_low"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(worst))
      .select(col("n_days"), col("nn").as("total_lines"),
        col("xx").as("total_returned"),
        expr("xx * 1000000 div nn").as("pbar_e6"),
        col("n_out_high"), col("n_out_low"),
        col("worst_day"), col("worst_lhs"), col("worst_rhs"))
  }

  val q532Sql: String =
    """WITH day AS (
      |  SELECT l_shipdate AS d, COUNT(*) AS nd,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS xd
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT SUM(nd) AS nn, SUM(xd) AS xx FROM day),
      |fl AS (
      |  SELECT d, nd, xd, nn, xx,
      |    (xd * nn - nd * xx) * (xd * nn - nd * xx) AS lhs,
      |    9 * xx * (nn - xx) * nd AS rhs
      |  FROM day CROSS JOIN tot),
      |worst AS (
      |  SELECT d AS worst_day, lhs AS worst_lhs, rhs AS worst_rhs
      |  FROM fl ORDER BY lhs - rhs DESC, d LIMIT 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(MAX(nn) AS BIGINT) AS total_lines,
      |  CAST(MAX(xx) AS BIGINT) AS total_returned,
      |  CAST(MAX(xx) * 1000000 // MAX(nn) AS BIGINT) AS pbar_e6,
      |  CAST(SUM(CASE WHEN lhs > rhs AND xd * nn > nd * xx
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_high,
      |  CAST(SUM(CASE WHEN lhs > rhs AND xd * nn <= nd * xx
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_low,
      |  MAX(worst.worst_day) AS worst_day,
      |  CAST(MAX(worst.worst_lhs) AS BIGINT) AS worst_lhs,
      |  CAST(MAX(worst.worst_rhs) AS BIGINT) AS worst_rhs
      |FROM fl CROSS JOIN worst""".stripMargin

  // ------ q534: record statistics of the daily revenue series

  /** q534: how many RECORD days does the tape hold, against theory?
    * For an exchangeable series the count of running maxima has mean
    * H_n and variance H_n − H_n⁽²⁾ (the harmonic numbers) — one of
    * the cleanest distribution-free laws there is, so the gap between
    * the observed record count and H_n is a direct exchangeability /
    * trend probe (a trending tape mints records far above H_n ≈ 8.4
    * at n ≈ 2,400). Exact: records via one window pass, harmonic
    * sums as per-term integer floors, z as a single IEEE expression.
    *
    * Plan: one orders pass → day series window → harmonic fold
    * (sequence explode, calendar-bounded) → 1-row report.
    */
  val q534RecordStats: Q = (s, dir) => {
    // running record max via the two-level day-bucket device (exclusive
    // prefix, NULL on day one — identical to the global window's frame)
    val bd = Prefix.runningMax(
        Tables.orders(s, dir)
          .select(col("o_orderdate").as("d"), cents(col("o_totalprice")).as("c"))
          .groupBy(col("d")).agg(sum(col("c")).as("x"))
          .withColumn("dd", expr("datediff(d, DATE '1970-01-01')")),
        "dd", Nil, "x", "pm")
      .withColumn("rec", (col("pm").isNull || col("x") > col("pm"))
        .cast("long"))
    val base = bd.agg(count(lit(1)).as("n"), sum(col("rec")).as("n_records"),
      max(when(col("rec") === 1L, col("d"))).as("last_record_day"))
    val harm = base.select(col("n"),
        explode(expr("sequence(1, CAST(n AS INT))")).as("i"))
      .groupBy(col("n"))
      .agg(sum(expr("1000000 div i")).as("h1_e6"),
        sum(expr("1000000 div (i * i)")).as("h2_e6"))
    base.join(harm, "n")
      .select(col("n").as("n_days"), col("n_records"),
        col("last_record_day"), col("h1_e6"), col("h2_e6"),
        expr("""CAST(n_records * 1000000 - h1_e6 AS DOUBLE)
          | / SQRT(CAST(h1_e6 - h2_e6 AS DOUBLE) * 1e6)"""
          .stripMargin.replace("\n", " ")).as("z_d"))
  }

  val q534Sql: String =
    """WITH bd AS (
      |  SELECT d, x,
      |    MAX(x) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM (SELECT o_orderdate AS d,
      |          SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS x
      |        FROM orders GROUP BY 1)),
      |marked AS (
      |  SELECT d, CASE WHEN pm IS NULL OR x > pm THEN 1 ELSE 0 END AS rec
      |  FROM bd),
      |base AS (
      |  SELECT COUNT(*) AS n, SUM(rec) AS n_records,
      |    MAX(CASE WHEN rec = 1 THEN d END) AS last_record_day
      |  FROM marked),
      |harm AS (
      |  SELECT base.n, SUM(1000000 // i.i) AS h1_e6,
      |    SUM(1000000 // (i.i * i.i)) AS h2_e6
      |  FROM base CROSS JOIN (SELECT UNNEST(range(1, 3000)) AS i) i
      |  WHERE i.i <= base.n
      |  GROUP BY base.n)
      |SELECT CAST(base.n AS BIGINT) AS n_days,
      |  CAST(base.n_records AS BIGINT) AS n_records,
      |  base.last_record_day,
      |  CAST(harm.h1_e6 AS BIGINT) AS h1_e6,
      |  CAST(harm.h2_e6 AS BIGINT) AS h2_e6,
      |  CAST(base.n_records * 1000000 - harm.h1_e6 AS DOUBLE)
      |    / SQRT(CAST(harm.h1_e6 - harm.h2_e6 AS DOUBLE) * 1e6) AS z_d
      |FROM base JOIN harm ON base.n = harm.n""".stripMargin

  // ------ q535: Allan variance ladder of the daily revenue

  /** Averaging times for the q535 stability ladder. */
  val AllanTaus: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** q535: Allan variance — the time-domain STABILITY ladder borrowed
    * from clock metrology: block the daily revenue into τ-day
    * averages and take half the mean squared successive difference,
    * for τ = 1, 2, 4, 8, 16. White noise decays as 1/τ; drift keeps
    * the ladder flat or growing — the diagnostic that separates the
    * two without any spectral machinery (and the τ-domain complement
    * of q319's periodogram). Block means floor to whole dollars so
    * every squared difference is exact int64 at any realistic scale;
    * incomplete tail blocks are dropped, textbook-style. One grid
    * pass computes all five rungs: days × τ-literals, (τ, block)
    * rollup, lag window per τ.
    *
    * Plan: one orders pass → day series (checkpointed) → 5×
    * (τ, block) rollup in one grid → 5-row ladder.
    */
  val q535AllanVariance: Q = (s, dir) => {
    import s.implicits._
    // day rank via the two-level device; the τ-partitioned lag below was
    // never a funnel (partitionSpec non-empty)
    val bd = Prefix.rowNumber(
        Tables.orders(s, dir)
          .select(col("o_orderdate").as("d"), cents(col("o_totalprice")).as("c"))
          .groupBy(col("d")).agg(expr("SUM(c) div 100").as("x"))
          .withColumn("dd", expr("datediff(d, DATE '1970-01-01')")),
        "dd", Nil, "rn")
      .drop("dd")
      .localCheckpoint()
    val taus = AllanTaus.toDF("tau")
    val blocks = bd.crossJoin(broadcast(taus))
      .withColumn("bid", expr("(rn - 1) div tau"))
      .groupBy(col("tau"), col("bid"))
      .agg(count(lit(1)).as("cnt"), expr("SUM(x) div COUNT(*)").as("bm"))
      .filter(col("cnt") === col("tau"))
    val diffs = blocks
      .withColumn("pbm", lag(col("bm"), 1).over(
        Window.partitionBy(col("tau")).orderBy(col("bid"))))
      .filter(col("pbm").isNotNull)
    diffs.groupBy(col("tau"))
      .agg(count(lit(1)).as("n_diffs"),
        sum(expr("(bm - pbm) * (bm - pbm)")).as("ss"))
      .select(col("tau").cast("long").as("tau"),
        (col("n_diffs") + 1L).as("m_blocks"),
        expr("ss div (2 * n_diffs)").as("avar_dollars2"))
      .orderBy(col("tau"))
  }

  val q535Sql: String = {
    val tauList = AllanTaus.mkString(", ")
    s"""WITH bd AS (
      |  SELECT SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) // 100 AS x,
      |    ROW_NUMBER() OVER (ORDER BY o_orderdate) AS rn
      |  FROM orders GROUP BY o_orderdate),
      |blocks AS (
      |  SELECT t.tau, (rn - 1) // t.tau AS bid, COUNT(*) AS cnt,
      |    SUM(x) // COUNT(*) AS bm
      |  FROM bd CROSS JOIN (SELECT UNNEST([$tauList]) AS tau) t
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) = t.tau),
      |diffs AS (
      |  SELECT tau, bm,
      |    LAG(bm) OVER (PARTITION BY tau ORDER BY bid) AS pbm
      |  FROM blocks)
      |SELECT CAST(tau AS BIGINT) AS tau,
      |  CAST(COUNT(*) + 1 AS BIGINT) AS m_blocks,
      |  CAST(SUM((bm - pbm) * (bm - pbm)) // (2 * COUNT(*)) AS BIGINT)
      |    AS avar_dollars2
      |FROM diffs WHERE pbm IS NOT NULL
      |GROUP BY tau ORDER BY tau""".stripMargin
  }

  // ------ q572: synthetic control on the national revenue panel

  /** q572: the synthetic-control gap — the panel-data causal device for a
    * single treated unit: the top-revenue nation's daily series is matched
    * in the PRE period (first 70% of the observed span) by the best convex
    * blend of the two next-largest donor nations, the weight swept over an
    * exact integer percent grid (101 candidates, min SSE, tie to the
    * smaller weight), and the POST-period mean gap between treated and
    * synthetic series is the effect readout. Everything is exact integer
    * cents: residuals are 100·t − w·a − (100−w)·b (so the grid needs no
    * fractions), SSE accumulates in DECIMAL(38,0)/HUGEINT, the one
    * fractional output (pre-RMSE) is sqrt of an IEEE division of exact
    * integers through the VARCHAR bridge, and the effect is a sign-factored
    * floor division.
    *
    * Plan: one orders pass into the (nation, day) rollup; the 3-series
    * panel and 101-weight sweep are calendar-bounded metadata.
    */
  val q572SyntheticControl: Q = (s, dir) => {
    val nd = ordersWithNation(s, dir)
      .groupBy(col("c_nationkey").cast("long").as("nat"),
        col("o_orderdate").as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
      .localCheckpoint()
    val top3 = nd.groupBy(col("nat")).agg(sum(col("rev")).as("tot"))
      .orderBy(col("tot").desc, col("nat")).limit(3)
      .select(col("nat")).collect().map(_.getLong(0))
    // degenerate-input guard: a filtered panel with <3 nations must fail
    // with a diagnosis, not a MatchError (r7 advice)
    require(top3.length == 3,
      s"q572 needs >=3 nations in orders⋈customer, found ${top3.length}")
    val Array(tn, da, db) = top3
    val days = nd.filter(col("nat").isin(top3.map(Long.box): _*))
      .select(col("day")).distinct()
    def series(n: Long, cn: String) =
      days.join(nd.filter(col("nat") === n)
        .select(col("day"), col("rev")), Seq("day"), "left")
        .select(col("day"), coalesce(col("rev"), lit(0L)).as(cn))
    val tri = series(tn, "t").join(series(da, "a"), "day")
      .join(series(db, "b"), "day")
    val ext = tri.agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
    val wd = tri.crossJoin(broadcast(ext))
      .withColumn("d", expr("datediff(day, mnd)"))
      .withColumn("cut", expr("datediff(mxd, mnd) * 7 div 10"))
      .localCheckpoint()
    val ws = s.range(0L, 101L).toDF("w")
    def resid = (col("t") * 100L - col("w") * col("a") -
      (lit(100L) - col("w")) * col("b")).cast(dec)
    val sse = wd.filter(col("d") < col("cut")).crossJoin(broadcast(ws))
      .select(col("w"), resid.as("r"))
      .groupBy(col("w"))
      .agg(sum(col("r") * col("r")).as("sse"), count(lit(1)).as("n_pre"))
    val bw = sse.orderBy(col("sse"), col("w")).limit(1)
    wd.filter(col("d") >= col("cut")).crossJoin(broadcast(bw))
      .select(col("w"), col("sse"), col("n_pre"), resid.as("g"))
      .groupBy(col("w"), col("sse"), col("n_pre"))
      .agg(count(lit(1)).as("n_post"), sum(col("g")).as("gap"))
      .select(lit(tn).as("treated_nation"), lit(da).as("donor_a"),
        lit(db).as("donor_b"), col("w").as("best_w_pct"),
        col("n_pre"), col("n_post"),
        expr("sqrt(CAST(CAST(sse AS STRING) AS DOUBLE) / (n_pre * 10000.0D))")
          .as("pre_rmse_c"),
        expr("""CAST(CASE WHEN gap >= 0 THEN
          |   CAST((gap - gap % (100 * n_post)) / (100 * n_post)
          |     AS DECIMAL(38,0))
          | ELSE -CAST(((-gap) - (-gap) % (100 * n_post)) / (100 * n_post)
          |     AS DECIMAL(38,0)) END AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("post_effect_c"))
  }

  val q572Sql: String =
    """WITH nd AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nat, o_orderdate AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |top3 AS (
      |  SELECT nat, rk FROM (
      |    SELECT nat, ROW_NUMBER() OVER (ORDER BY SUM(rev) DESC, nat)
      |      AS rk
      |    FROM nd GROUP BY nat) t WHERE rk <= 3),
      |days AS (SELECT DISTINCT day FROM nd JOIN top3 USING (nat)),
      |tri AS (
      |  SELECT days.day, COALESCE(t.rev, 0) AS t, COALESCE(a.rev, 0) AS a,
      |    COALESCE(b.rev, 0) AS b
      |  FROM days
      |  LEFT JOIN (SELECT day, rev FROM nd JOIN top3 USING (nat)
      |    WHERE rk = 1) t USING (day)
      |  LEFT JOIN (SELECT day, rev FROM nd JOIN top3 USING (nat)
      |    WHERE rk = 2) a USING (day)
      |  LEFT JOIN (SELECT day, rev FROM nd JOIN top3 USING (nat)
      |    WHERE rk = 3) b USING (day)),
      |ext AS (SELECT MIN(day) AS mnd, MAX(day) AS mxd FROM tri),
      |wd AS (
      |  SELECT tri.*, datediff('day', mnd, day) AS d,
      |    datediff('day', mnd, mxd) * 7 // 10 AS cut
      |  FROM tri CROSS JOIN ext),
      |sse AS (
      |  SELECT w.w,
      |    SUM(CAST(t*100 - w.w*a - (100 - w.w)*b AS HUGEINT)
      |      * (t*100 - w.w*a - (100 - w.w)*b)) AS sse,
      |    COUNT(*) AS n_pre
      |  FROM wd CROSS JOIN (SELECT UNNEST(range(0, 101)) AS w) w
      |  WHERE d < cut GROUP BY 1),
      |bw AS (SELECT w, sse, n_pre FROM sse ORDER BY sse, w LIMIT 1),
      |post AS (
      |  SELECT bw.w, bw.sse, bw.n_pre, COUNT(*) AS n_post,
      |    SUM(CAST(t*100 - bw.w*a - (100 - bw.w)*b AS HUGEINT)) AS gap
      |  FROM wd CROSS JOIN bw WHERE d >= cut GROUP BY 1, 2, 3),
      |tn AS (
      |  SELECT MAX(CASE WHEN rk = 1 THEN nat END) AS tnat,
      |    MAX(CASE WHEN rk = 2 THEN nat END) AS anat,
      |    MAX(CASE WHEN rk = 3 THEN nat END) AS bnat
      |  FROM top3)
      |SELECT CAST(tnat AS BIGINT) AS treated_nation,
      |  CAST(anat AS BIGINT) AS donor_a, CAST(bnat AS BIGINT) AS donor_b,
      |  CAST(w AS BIGINT) AS best_w_pct, CAST(n_pre AS BIGINT) AS n_pre,
      |  CAST(n_post AS BIGINT) AS n_post,
      |  sqrt(CAST(CAST(sse AS VARCHAR) AS DOUBLE) / (n_pre * 10000.0))
      |    AS pre_rmse_c,
      |  CAST(CASE WHEN gap >= 0 THEN gap // (100 * n_post)
      |    ELSE -((-gap) // (100 * n_post)) END AS BIGINT) AS post_effect_c
      |FROM post CROSS JOIN tn""".stripMargin

  // ------ q573: doubly-robust ATE on the priority treatment

  /** Orders joined to a broadcast of their customer's c_mktsegment. */
  private def ordersWithSegment(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))

  /** q573: the doubly-robust (AIPW) average treatment effect — the
    * estimator that stays consistent if EITHER the propensity model OR the
    * outcome model is right, here both fit exactly per market-segment
    * stratum: e(x) = n₁/n and m₁/m₀ = floored stratum outcome means. With
    * those plug-ins the stratum IPW correction collapses to an exact
    * integer form — Σ t(y−m₁)/e = (S₁ mod n₁)·n div n₁ (the floor
    * remainder scaled by the inverse propensity) — so the whole estimator
    * is closed-form integer per stratum, next to the naive m₁−m₀ gap it
    * corrects. Strata missing a treatment arm report NULL and drop from
    * the pooled estimate (their weight is excluded from the denominator).
    *
    * Treatment: order priority 1-URGENT/2-HIGH. Outcome: order value in
    * cents. Plan: one orders⋈customer pass into the 5-row stratum rollup;
    * everything after is metadata.
    */
  val q573DoublyRobust: Q = (s, dir) => {
    val base = ordersWithSegment(s, dir)
      .select(col("c_mktsegment").as("seg"),
        when(expr("CAST(substring(o_orderpriority, 1, 1) AS INT)") <= 2, 1L)
          .otherwise(0L).as("t"),
        cents(col("o_totalprice")).as("y"))
    val g = base.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("n1"),
        sum((col("t") * col("y")).cast(dec)).as("s1"),
        sum(((lit(1L) - col("t")) * col("y")).cast(dec)).as("s0"))
      .withColumn("n0", col("n") - col("n1"))
      .withColumn("m1", expr("CAST(CASE WHEN n1 = 0 THEN NULL ELSE " +
        "(s1 - s1 % n1) / n1 END AS DECIMAL(38,0))"))
      .withColumn("m0", expr("CAST(CASE WHEN n0 = 0 THEN NULL ELSE " +
        "(s0 - s0 % n0) / n0 END AS DECIMAL(38,0))"))
      .withColumn("dr_num", expr(
        """CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
          |  CAST(((s1 % n1) * n - ((s1 % n1) * n) % n1) / n1
          |    AS DECIMAL(38,0))
          |  - CAST(((s0 % n0) * n - ((s0 % n0) * n) % n0) / n0
          |    AS DECIMAL(38,0))
          |  + n * (m1 - m0) END""".stripMargin.replace("\n", " ")))
      .localCheckpoint()
    val pooled = g.agg(
      sum(when(col("dr_num").isNotNull, col("n")).otherwise(0L))
        .cast(dec).as("nw"),
      sum(col("dr_num")).as("drs"))
      .select(expr("""CAST(CASE WHEN nw = 0 OR drs IS NULL THEN NULL
        | WHEN drs >= 0 THEN CAST((drs - drs % nw) / nw AS DECIMAL(38,0))
        | ELSE -CAST(((-drs) - (-drs) % nw) / nw AS DECIMAL(38,0))
        | END AS BIGINT)""".stripMargin.replace("\n", " ")).as("ate_c"))
    g.crossJoin(broadcast(pooled))
      .select(col("seg"), col("n"), col("n1"),
        expr("n1 * 1000000 div n").as("e_e6"),
        col("m1").cast("long").as("m1_c"),
        col("m0").cast("long").as("m0_c"),
        (col("m1") - col("m0")).cast("long").as("naive_gap_c"),
        expr("""CAST(CASE WHEN dr_num IS NULL THEN NULL
          | WHEN dr_num >= 0 THEN
          |   CAST((dr_num - dr_num % n) / n AS DECIMAL(38,0))
          | ELSE -CAST(((-dr_num) - (-dr_num) % n) / n AS DECIMAL(38,0))
          | END AS BIGINT)""".stripMargin.replace("\n", " ")).as("dr_c"),
        col("ate_c"))
      .orderBy(col("seg"))
  }

  val q573Sql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS seg,
      |    CASE WHEN CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2
      |      THEN 1 ELSE 0 END AS t,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (
      |  SELECT seg, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(t) AS HUGEINT) AS n1,
      |    CAST(SUM(t * y) AS HUGEINT) AS s1,
      |    CAST(SUM((1 - t) * y) AS HUGEINT) AS s0
      |  FROM base GROUP BY seg),
      |gm AS (
      |  SELECT seg, n, n1, n - n1 AS n0, s1, s0,
      |    CASE WHEN n1 = 0 THEN NULL ELSE s1 // n1 END AS m1,
      |    CASE WHEN n - n1 = 0 THEN NULL ELSE s0 // (n - n1) END AS m0
      |  FROM g),
      |gd AS (
      |  SELECT gm.*,
      |    CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
      |      ((s1 % n1) * n) // n1 - ((s0 % n0) * n) // n0
      |      + n * (m1 - m0) END AS dr_num
      |  FROM gm),
      |pooled AS (
      |  SELECT CAST(CASE
      |    WHEN SUM(CASE WHEN dr_num IS NOT NULL THEN n ELSE 0 END) = 0
      |      OR SUM(dr_num) IS NULL THEN NULL
      |    WHEN SUM(dr_num) >= 0 THEN SUM(dr_num)
      |      // SUM(CASE WHEN dr_num IS NOT NULL THEN n ELSE 0 END)
      |    ELSE -((-SUM(dr_num))
      |      // SUM(CASE WHEN dr_num IS NOT NULL THEN n ELSE 0 END))
      |    END AS BIGINT) AS ate_c
      |  FROM gd)
      |SELECT seg, CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n1,
      |  CAST(n1 * 1000000 // n AS BIGINT) AS e_e6,
      |  CAST(m1 AS BIGINT) AS m1_c, CAST(m0 AS BIGINT) AS m0_c,
      |  CAST(m1 - m0 AS BIGINT) AS naive_gap_c,
      |  CAST(CASE WHEN dr_num IS NULL THEN NULL
      |    WHEN dr_num >= 0 THEN dr_num // n
      |    ELSE -((-dr_num) // n) END AS BIGINT) AS dr_c,
      |  ate_c
      |FROM gd CROSS JOIN pooled
      |ORDER BY seg""".stripMargin

  // ------ q575: pinball-loss quantile forecaster backtest

  /** q575: quantile model selection under the pinball (quantile) loss —
    * the proper scoring rule for a τ-quantile forecast: per market
    * segment, three constant forecasters of order value are FIT on the
    * odd-orderkey half (mean, median, p90 — the location ladder) and
    * SCORED on the even-orderkey half under τ = 0.9, where
    * pin(y,q)·10 = 9(y−q) for y ≥ q else (q−y). The p90 candidate should
    * win by construction (the τ-quantile minimizes expected pinball
    * loss); a segment where it loses flags train/test drift. Medians and
    * p90s come from the two-level rank-target device (no per-group value
    * buffering), means are exact floor divisions, losses exact integer
    * sums in DECIMAL(38,0).
    *
    * Plan: one orders⋈customer pass split in two; a (segment, value)
    * rollup for the rank targets; the 5-row candidate table broadcasts
    * back onto the test half.
    */
  val q575PinballBacktest: Q = (s, dir) => {
    val base = ordersWithSegment(s, dir)
      .select(col("c_mktsegment").as("seg"),
        (col("o_orderkey") % 2).as("split"),
        cents(col("o_totalprice")).as("y"))
    val train = base.filter(col("split") === 1)
    val test = base.filter(col("split") === 0)
    val mn = train.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_train"),
        expr("sum(y) div count(1)").as("mean_c"))
    val byV = train.groupBy(col("seg"), col("y")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val ranked = doubledRankBelow(byV, Seq("seg"), "y", 100000L)
    val nt = byV.groupBy(col("seg")).agg(sum(col("cnt")).as("ng"))
    val qs = ranked.join(broadcast(nt), "seg")
      .withColumn("t50", expr("(ng + 1) div 2"))
      .withColumn("t90", expr("(9 * ng + 9) div 10"))
      .groupBy(col("seg"))
      .agg(min(when(col("below") < col("t50") &&
          col("t50") <= col("below") + col("cnt"), col("y"))).as("median_c"),
        min(when(col("below") < col("t90") &&
          col("t90") <= col("below") + col("cnt"), col("y"))).as("p90_c"))
    val cands = mn.join(qs, "seg")
    def pin(q: String) =
      expr(s"""sum(CAST(CASE WHEN y >= $q THEN 9 * (y - $q)
        | ELSE $q - y END AS DECIMAL(38,0)))"""
        .stripMargin.replace("\n", " "))
    test.join(broadcast(cands), "seg")
      .groupBy(col("seg"), col("n_train"), col("mean_c"), col("median_c"),
        col("p90_c"))
      .agg(count(lit(1)).as("n_test"),
        pin("mean_c").as("lm"), pin("median_c").as("lmed"),
        pin("p90_c").as("lp"))
      .select(col("seg"), col("n_train"), col("n_test"), col("mean_c"),
        col("median_c"), col("p90_c"),
        col("lm").cast("long").as("loss_mean_e1"),
        col("lmed").cast("long").as("loss_median_e1"),
        col("lp").cast("long").as("loss_p90_e1"),
        expr("""CASE WHEN lm <= lmed AND lm <= lp THEN 'mean'
          | WHEN lmed <= lp THEN 'median' ELSE 'p90' END"""
          .stripMargin.replace("\n", " ")).as("winner"))
      .orderBy(col("seg"))
  }

  val q575Sql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS seg, o_orderkey % 2 AS split,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |train AS (SELECT * FROM base WHERE split = 1),
      |test AS (SELECT * FROM base WHERE split = 0),
      |mn AS (
      |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_train,
      |    CAST(SUM(y) // COUNT(*) AS BIGINT) AS mean_c
      |  FROM train GROUP BY 1),
      |byv AS (SELECT seg, y, COUNT(*) AS cnt FROM train GROUP BY 1, 2),
      |rk AS (
      |  SELECT seg, y, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY seg ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM byv),
      |nt AS (SELECT seg, SUM(cnt) AS ng FROM byv GROUP BY 1),
      |qs AS (
      |  SELECT seg,
      |    MIN(CASE WHEN below < (ng + 1) // 2
      |      AND (ng + 1) // 2 <= below + cnt THEN y END) AS median_c,
      |    MIN(CASE WHEN below < (9 * ng + 9) // 10
      |      AND (9 * ng + 9) // 10 <= below + cnt THEN y END) AS p90_c
      |  FROM rk JOIN nt USING (seg) GROUP BY seg),
      |cands AS (SELECT * FROM mn JOIN qs USING (seg)),
      |sc AS (
      |  SELECT t.seg, c.n_train, c.mean_c, c.median_c, c.p90_c,
      |    COUNT(*) AS n_test,
      |    SUM(CAST(CASE WHEN y >= mean_c THEN 9 * (y - mean_c)
      |      ELSE mean_c - y END AS HUGEINT)) AS lm,
      |    SUM(CAST(CASE WHEN y >= median_c THEN 9 * (y - median_c)
      |      ELSE median_c - y END AS HUGEINT)) AS lmed,
      |    SUM(CAST(CASE WHEN y >= p90_c THEN 9 * (y - p90_c)
      |      ELSE p90_c - y END AS HUGEINT)) AS lp
      |  FROM test t JOIN cands c USING (seg)
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT seg, n_train, CAST(n_test AS BIGINT) AS n_test, mean_c,
      |  median_c, p90_c,
      |  CAST(lm AS BIGINT) AS loss_mean_e1,
      |  CAST(lmed AS BIGINT) AS loss_median_e1,
      |  CAST(lp AS BIGINT) AS loss_p90_e1,
      |  CASE WHEN lm <= lmed AND lm <= lp THEN 'mean'
      |    WHEN lmed <= lp THEN 'median' ELSE 'p90' END AS winner
      |FROM sc ORDER BY seg""".stripMargin

  val queries: Map[String, Q] = Map(
    "q575_pinball_backtest" -> q575PinballBacktest,
    "q572_synthetic_control" -> q572SyntheticControl,
    "q573_doubly_robust" -> q573DoublyRobust,
    "q531_bullwhip" -> q531Bullwhip,
    "q536_forecast_reconcile" -> q536ForecastReconcile,
    "q532_p_chart" -> q532PChart,
    "q534_record_stats" -> q534RecordStats,
    "q535_allan_variance" -> q535AllanVariance,
    "q526_weighted_schedule" -> q526WeightedSchedule,
    "q527_kelly" -> q527Kelly,
    "q528_german_tank" -> q528GermanTank,
    "q529_coupon_collector" -> q529CouponCollector,
    "q530_gamblers_ruin" -> q530GamblersRuin,
    "q523_page_trend" -> q523PageTrend,
    "q524_regression_discontinuity" -> q524RegressionDiscontinuity,
    "q525_nn_matching" -> q525NnMatching,
    "q518_secretary" -> q518Secretary,
    "q519_skyline" -> q519Skyline,
    "q520_interval_schedule" -> q520IntervalSchedule,
    "q517_lis_lds" -> q517LisLds,
    "q516_tsp_circuit" -> q516TspCircuit,
    "q509_elo_replay" -> q509EloReplay,
    "q510_min_cut" -> q510MinCut,
    "q511_dp_ledger" -> q511DpLedger,
    "q513_neg_binomial" -> q513NegBinomial,
    "q507_cluster_robust" -> q507ClusterRobust,
    "q505_alias_table" -> q505AliasTable,
    "q503_meta_analysis" -> q503MetaAnalysis,
    "q504_inventory_policy" -> q504InventoryPolicy,
    "q501_mmd_test" -> q501MmdTest,
    "q502_energy_distance" -> q502EnergyDistance,
    "q496_adstock_selection" -> q496AdstockSelection,
    "q497_ucb_replay" -> q497UcbReplay,
    "q494_johnson_rule" -> q494JohnsonRule,
    "q495_oc_curve" -> q495OcCurve,
    "q492_gravity_model" -> q492GravityModel,
    "q493_kemeny_ranking" -> q493KemenyRanking,
    "q491_win_ratio" -> q491WinRatio,
    "q489_sample_size" -> q489SampleSize,
    "q490_brown_forsythe" -> q490BrownForsythe,
    "q487_woe_iv" -> q487WoeIv,
    "q488_overdispersion" -> q488Overdispersion,
    "q485_neyman_allocation" -> q485NeymanAllocation,
    "q486_breslow_day" -> q486BreslowDay,
    "q396_hoeffdings_d" -> q396HoeffdingsD,
    "q403_mahalanobis" -> q403Mahalanobis,
    "q404_grubbs" -> q404Grubbs,
    "q406_eoq_newsvendor" -> q406EoqNewsvendor,
    "q409_anderson_darling" -> q409AndersonDarling,
    "q413_price_indices" -> q413PriceIndices,
    "q414_hill_tail" -> q414HillTail,
    "q418_chain_ladder" -> q418ChainLadder,
    "q422_influence" -> q422Influence,
    "q423_segmented" -> q423Segmented,
    "q427_tail_dependence" -> q427TailDependence,
    "q429_fixed_effects" -> q429FixedEffects,
    "q433_shift_share" -> q433ShiftShare,
    "q434_bray_curtis" -> q434BrayCurtis,
    "q435_mantel_test" -> q435MantelTest,
    "q436_ordinal_assoc" -> q436OrdinalAssoc,
    "q437_bradley_terry" -> q437BradleyTerry,
    "q438_chow_test" -> q438ChowTest,
    "q440_stable_matching" -> q440StableMatching,
    "q441_jonckheere" -> q441Jonckheere,
    "q444_cucconi" -> q444Cucconi,
    "q445_cochrane_orcutt" -> q445CochraneOrcutt,
    "q446_oaxaca_blinder" -> q446OaxacaBlinder,
    "q447_knapsack" -> q447Knapsack,
    "q449_fisher_exact" -> q449FisherExact,
    "q452_wagner_whitin" -> q452WagnerWhitin,
    "q456_bland_altman" -> q456BlandAltman,
    "q459_buhlmann" -> q459Buhlmann,
    "q462_bornhuetter_ferguson" -> q462BornhuetterFerguson,
    "q465_fgt_sen" -> q465FgtSen,
    "q466_wolfson" -> q466Wolfson,
    "q471_circular_panel" -> q471CircularPanel,
    "q475_directional_skill" -> q475DirectionalSkill,
    "q479_permanova" -> q479Permanova,
    "q480_hodges_lehmann" -> q480HodgesLehmann,
    "q481_rosner_esd" -> q481RosnerEsd,
    "q482_siegel_slope" -> q482SiegelSlope,
    "q483_yuen_test" -> q483YuenTest,
    "q476_ansari_bradley" -> q476AnsariBradley,
    "q477_quade" -> q477Quade,
    "q478_distance_correlation" -> q478DistanceCorrelation,
    "q472_process_capability" -> q472ProcessCapability,
    "q473_diebold_mariano" -> q473DieboldMariano,
    "q474_mincer_zarnowitz" -> q474MincerZarnowitz,
    "q469_bass_diffusion" -> q469BassDiffusion,
    "q470_tukey_nonadditivity" -> q470TukeyNonadditivity,
    "q467_page_l" -> q467PageL,
    "q468_poly_contrasts" -> q468PolyContrasts,
    "q463_social_choice" -> q463SocialChoice,
    "q464_concentration_index" -> q464ConcentrationIndex,
    "q460_rayleigh" -> q460Rayleigh,
    "q461_power_indices" -> q461PowerIndices,
    "q457_deming" -> q457Deming,
    "q458_theta_method" -> q458ThetaMethod,
    "q453_holt_winters" -> q453HoltWinters,
    "q454_dunn_test" -> q454DunnTest,
    "q450_wald_iv" -> q450WaldIv,
    "q451_regression_discontinuity" -> q451RegressionDiscontinuity,
    "q442_kendall_w" -> q442KendallW,
    "q443_cliffs_delta" -> q443CliffsDelta,
    "q448_lin_ccc" -> q448LinCcc,
    "q391_taylors_law" -> q391TaylorsLaw,
    "q388_two_way_anova" -> q388TwoWayAnova,
    "q390_hash_birthday" -> q390HashBirthday,
    "q383_trending_parts" -> q383TrendingParts,
    "q384_rbo" -> q384Rbo,
    "q381_lmdi" -> q381Lmdi,
    "q382_pack_planner" -> q382PackPlanner,
    "q376_wasserstein" -> q376Wasserstein,
    "q377_cochran_armitage" -> q377CochranArmitage,
    "q374_hrw_placement" -> q374HrwPlacement,
    "q375_expectations" -> q375Expectations,
    "q371_price_elasticity" -> q371PriceElasticity,
    "q372_last_digit_audit" -> q372LastDigitAudit,
    "q368_tukey_pairs" -> q368TukeyPairs,
    "q354_eb_shrinkage" -> q354EbShrinkage,
    "q352_cramer_von_mises" -> q352CramerVonMises,
    "q346_partial_corr" -> q346PartialCorr,
    "q347_mood_median" -> q347MoodMedian,
    "q338_friedman" -> q338Friedman,
    "q333_median_ci" -> q333MedianCi,
    "q327_kendall_tau" -> q327KendallTau,
    "q307_pettitt_changepoint" -> q307Pettitt,
    "q294_powerlaw_fit" -> q294PowerlawFit,
    "q295_mann_whitney" -> q295MannWhitney,
    "q283_welch_test" -> q283WelchTest,
    "q290_hist_quantiles" -> q290HistQuantiles,
    "q277_brown_forsythe" -> q277BrownForsythe,
    "q271_spearman" -> q271Spearman,
    "q272_kruskal_wallis" -> q272KruskalWallis,
    "q268_anova" -> q268Anova,
    "q266_bh_fdr" -> q266BhFdr,
    "q265_holm_multitest" -> q265HolmMultitest,
    "q264_best_split" -> q264BestSplit,
    "q238_impurity_profile" -> q238ImpurityProfile,
    "q224_quantile_map" -> q224QuantileMap,
    "q139_quality_audit" -> q139QualityAudit,
    "q140_stats_histogram" -> q140Histogram,
    "q193_join_card_audit" -> q193JoinCardAudit,
    "q153_chi_square" -> q153ChiSquare,
    "q157_ks_test" -> q157KsTest,
    "q218_fd_audit" -> q218FdAudit,
    "q219_ind_scan" -> q219IndScan)

  val oracles: Map[String, String] = Map(
    "q575_pinball_backtest" -> q575Sql,
    "q572_synthetic_control" -> q572Sql,
    "q573_doubly_robust" -> q573Sql,
    "q531_bullwhip" -> q531Sql,
    "q536_forecast_reconcile" -> q536Sql,
    "q532_p_chart" -> q532Sql,
    "q534_record_stats" -> q534Sql,
    "q535_allan_variance" -> q535Sql,
    "q526_weighted_schedule" -> q526Sql,
    "q527_kelly" -> q527Sql,
    "q528_german_tank" -> q528Sql,
    "q529_coupon_collector" -> q529Sql,
    "q530_gamblers_ruin" -> q530Sql,
    "q523_page_trend" -> q523Sql,
    "q524_regression_discontinuity" -> q524Sql,
    "q525_nn_matching" -> q525Sql,
    "q518_secretary" -> q518Sql,
    "q519_skyline" -> q519Sql,
    "q520_interval_schedule" -> q520Sql,
    "q517_lis_lds" -> q517Sql,
    "q516_tsp_circuit" -> q516Sql,
    "q509_elo_replay" -> q509Sql,
    "q510_min_cut" -> q510Sql,
    "q511_dp_ledger" -> q511Sql,
    "q513_neg_binomial" -> q513Sql,
    "q485_neyman_allocation" -> q485Sql,
    "q486_breslow_day" -> q486Sql,
    "q487_woe_iv" -> q487Sql,
    "q488_overdispersion" -> q488Sql,
    "q489_sample_size" -> q489Sql,
    "q490_brown_forsythe" -> q490Sql,
    "q491_win_ratio" -> q491Sql,
    "q492_gravity_model" -> q492Sql,
    "q493_kemeny_ranking" -> q493Sql,
    "q494_johnson_rule" -> q494Sql,
    "q495_oc_curve" -> q495Sql,
    "q496_adstock_selection" -> q496Sql,
    "q497_ucb_replay" -> q497Sql,
    "q501_mmd_test" -> q501Sql,
    "q502_energy_distance" -> q502Sql,
    "q503_meta_analysis" -> q503Sql,
    "q504_inventory_policy" -> q504Sql,
    "q505_alias_table" -> q505Sql,
    "q507_cluster_robust" -> q507Sql,
    "q396_hoeffdings_d" -> q396Sql,
    "q403_mahalanobis" -> q403Sql,
    "q404_grubbs" -> q404Sql,
    "q406_eoq_newsvendor" -> q406Sql,
    "q409_anderson_darling" -> q409Sql,
    "q413_price_indices" -> q413Sql,
    "q414_hill_tail" -> q414Sql,
    "q418_chain_ladder" -> q418Sql,
    "q422_influence" -> q422Sql,
    "q423_segmented" -> q423Sql,
    "q427_tail_dependence" -> q427Sql,
    "q429_fixed_effects" -> q429Sql,
    "q433_shift_share" -> q433Sql,
    "q434_bray_curtis" -> q434Sql,
    "q435_mantel_test" -> q435Sql,
    "q436_ordinal_assoc" -> q436Sql,
    "q437_bradley_terry" -> q437Sql,
    "q438_chow_test" -> q438Sql,
    "q440_stable_matching" -> q440Sql,
    "q441_jonckheere" -> q441Sql,
    "q444_cucconi" -> q444Sql,
    "q445_cochrane_orcutt" -> q445Sql,
    "q446_oaxaca_blinder" -> q446Sql,
    "q447_knapsack" -> q447Sql,
    "q449_fisher_exact" -> q449Sql,
    "q452_wagner_whitin" -> q452Sql,
    "q456_bland_altman" -> q456Sql,
    "q459_buhlmann" -> q459Sql,
    "q462_bornhuetter_ferguson" -> q462Sql,
    "q465_fgt_sen" -> q465Sql,
    "q466_wolfson" -> q466Sql,
    "q471_circular_panel" -> q471Sql,
    "q475_directional_skill" -> q475Sql,
    "q479_permanova" -> q479Sql,
    "q480_hodges_lehmann" -> q480Sql,
    "q481_rosner_esd" -> q481Sql,
    "q482_siegel_slope" -> q482Sql,
    "q483_yuen_test" -> q483Sql,
    "q476_ansari_bradley" -> q476Sql,
    "q477_quade" -> q477Sql,
    "q478_distance_correlation" -> q478Sql,
    "q472_process_capability" -> q472Sql,
    "q473_diebold_mariano" -> q473Sql,
    "q474_mincer_zarnowitz" -> q474Sql,
    "q469_bass_diffusion" -> q469Sql,
    "q470_tukey_nonadditivity" -> q470Sql,
    "q467_page_l" -> q467Sql,
    "q468_poly_contrasts" -> q468Sql,
    "q463_social_choice" -> q463Sql,
    "q464_concentration_index" -> q464Sql,
    "q460_rayleigh" -> q460Sql,
    "q461_power_indices" -> q461Sql,
    "q457_deming" -> q457Sql,
    "q458_theta_method" -> q458Sql,
    "q453_holt_winters" -> q453Sql,
    "q454_dunn_test" -> q454Sql,
    "q450_wald_iv" -> q450Sql,
    "q451_regression_discontinuity" -> q451Sql,
    "q442_kendall_w" -> q442Sql,
    "q443_cliffs_delta" -> q443Sql,
    "q448_lin_ccc" -> q448Sql,
    "q391_taylors_law" -> q391Sql,
    "q388_two_way_anova" -> q388Sql,
    "q390_hash_birthday" -> q390Sql,
    "q383_trending_parts" -> q383Sql,
    "q384_rbo" -> q384Sql,
    "q381_lmdi" -> q381Sql,
    "q382_pack_planner" -> q382Sql,
    "q376_wasserstein" -> q376Sql,
    "q377_cochran_armitage" -> q377Sql,
    "q374_hrw_placement" -> q374Sql,
    "q375_expectations" -> q375Sql,
    "q371_price_elasticity" -> q371Sql,
    "q372_last_digit_audit" -> q372Sql,
    "q368_tukey_pairs" -> q368Sql,
    "q354_eb_shrinkage" -> q354Sql,
    "q352_cramer_von_mises" -> q352Sql,
    "q346_partial_corr" -> q346Sql,
    "q347_mood_median" -> q347Sql,
    "q338_friedman" -> q338Sql,
    "q333_median_ci" -> q333Sql,
    "q327_kendall_tau" -> q327Sql,
    "q307_pettitt_changepoint" -> q307Sql,
    "q294_powerlaw_fit" -> q294Sql,
    "q295_mann_whitney" -> q295Sql,
    "q283_welch_test" -> q283Sql,
    "q290_hist_quantiles" -> q290Sql,
    "q277_brown_forsythe" -> q277Sql,
    "q271_spearman" -> q271Sql,
    "q272_kruskal_wallis" -> q272Sql,
    "q268_anova" -> q268Sql,
    "q266_bh_fdr" -> q266Sql,
    "q265_holm_multitest" -> q265Sql,
    "q264_best_split" -> q264Sql,
    "q238_impurity_profile" -> q238Sql,
    "q224_quantile_map" -> q224Sql,
    "q139_quality_audit" -> q139Sql,
    "q140_stats_histogram" -> q140Sql,
    "q193_join_card_audit" -> q193Sql,
    "q153_chi_square" -> q153Sql,
    "q157_ks_test" -> q157Sql,
    "q218_fd_audit" -> q218Sql,
    "q219_ind_scan" -> q219Sql)
}
