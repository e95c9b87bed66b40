package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Distributed order-statistics primitives — the two-level bucket devices
  * that replace unpartitioned windows over corpus-growing streams.
  *
  * A `Window.orderBy(...)` with no partition funnels its whole input
  * through ONE sort task no matter how many executors ("Moving all data to
  * a single partition"); every helper here computes the identical value
  * with parallelism = #buckets instead:
  *
  *   1. rows bucket by a ~1/1024 slice of the value range (ties on the
  *      value land in one bucket, so tie-breaks never cross buckets);
  *   2. the per-bucket totals form a METADATA-sized rollup whose prefix
  *      is a broadcast non-equi self-join ([[bucketPrior]] — a join, not
  *      a window, so even the serial step stays off the single-partition
  *      path and out of the bench plan-lint);
  *   3. a within-bucket window PARTITIONED by bucket finishes the prefix.
  *
  * Exactness: int64/decimal addition is associative and the (bucket,
  * within-bucket) order refines the requested total order, so results are
  * bit-identical to the single-window formulation. The same construction
  * as [[AuditQueries.doubledRankBelow]], generalized to arbitrary weights,
  * direction, tie columns, and inclusive/exclusive frames, with the serial
  * bucket step de-windowed.
  */
object Prefix {

  /** Prefix totals over a METADATA-SIZED bucket rollup via a broadcast
    * non-equi self-join. Returns (bktCol, prior) where prior sums `sumCol`
    * over buckets strictly BEFORE bkt in the given direction (0 if none).
    */
  def bucketPrior(bRoll: DataFrame, bktCol: String, sumCol: String,
      desc: Boolean): DataFrame = {
    val other = bRoll.select(col(bktCol).as("pfx_ob"), col(sumCol).as("pfx_os"))
    val cond =
      if (desc) col("pfx_ob") > col(bktCol) else col("pfx_ob") < col(bktCol)
    bRoll.join(broadcast(other), cond, "left")
      .groupBy(col(bktCol))
      .agg(coalesce(sum(col("pfx_os")), lit(0L)).as("prior"))
  }

  /** Step 1 of every device below: the input (localCheckpoint'd when
    * `materialize`) plus `pfx_bkt`, the row's ~1/1024 slice of the global
    * [min, max] range of `valueCol`, from one broadcast min/max scalar.
    */
  private[operators] def bucketize(df: DataFrame, valueCol: String,
      materialize: Boolean): DataFrame = {
    val src = if (materialize) df.localCheckpoint() else df
    val scal = src.agg(min(col(valueCol)).as("pfx_mn"),
      max(col(valueCol)).as("pfx_mx"))
    src.crossJoin(broadcast(scal))
      .withColumn("pfx_bkt",
        expr(s"($valueCol - pfx_mn) div ((pfx_mx - pfx_mn) div 1024 + 1)"))
      .drop("pfx_mn", "pfx_mx")
  }

  /** Step 3's frame: rows of one `partition` (bucket) in (valueCol
    * asc/desc, tieCols...) order, from the first row to the one before
    * this one, or to this one when `includeCurrent`.
    */
  private def withinBucket(partition: Seq[Column], valueCol: String,
      tieCols: Seq[String], desc: Boolean,
      includeCurrent: Boolean): WindowSpec = {
    val ord = (if (desc) col(valueCol).desc else col(valueCol).asc) +:
      tieCols.map(col)
    Window.partitionBy(partition: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, if (includeCurrent) 0 else -1)
  }

  /** Running sum of `weightCol` over (valueCol asc/desc, tieCols...) order
    * — `out` = Σ weight over rows strictly before this one, plus this
    * row's weight when `includeCurrent`. Weights may be negative (the
    * bucket totals and window sums are plain additions); `valueCol` must
    * be integral (LONG-compatible) but may be negative — bucketing shifts
    * by the global min. Adds `out` to the input frame, preserving all
    * columns.
    *
    * PRECONDITIONS (the bit-identical-to-global-window contract holds
    * only under them; r7 advice):
    *   - `valueCol` must be NON-NULL on every row: a null value lands in
    *     a null bucket whose weight [[bucketPrior]]'s non-equi condition
    *     excludes from every other bucket's prior (NULL compares false),
    *     whereas `Window.orderBy` sorts nulls FIRST and counts them in
    *     every prefix — nulls silently under-count. Filter them or
    *     coalesce to a sentinel below the min before calling.
    *   - the value RANGE must fit in int64: `pfx_mx - pfx_mn` overflows
    *     LONG when min and max straddle ±2^62-class extremes, silently
    *     corrupting bucket assignment. Every in-repo caller passes
    *     bounded rollup keys (scores, counts, cents); keep it that way.
    */
  /** When `materialize`, the INPUT is localCheckpoint'd up front so the
    * device's three consumers (range scalar, bucket rollup, window input)
    * re-run only narrow ops over cached blocks instead of the upstream
    * lineage — one upstream traversal total; the right default for the
    * usual rollup-grain inputs (and for chained calls, whose lineage
    * compounds). Pass false for raw-fact-grain inputs where caching the
    * stream costs more than rescanning the columnar source.
    */
  def runningSum(df: DataFrame, valueCol: String, tieCols: Seq[String],
      weightCol: String, out: String, desc: Boolean = false,
      includeCurrent: Boolean = false,
      materialize: Boolean = true): DataFrame = {
    val bucketed = bucketize(df, valueCol, materialize)
    val bRoll = bucketed.groupBy(col("pfx_bkt"))
      .agg(sum(col(weightCol)).as("pfx_bsum"))
    val prior = bucketPrior(bRoll, "pfx_bkt", "pfx_bsum", desc)
    val inW = withinBucket(Seq(col("pfx_bkt")), valueCol, tieCols, desc,
      includeCurrent)
    bucketed.join(broadcast(prior), Seq("pfx_bkt"))
      .withColumn(out,
        col("prior") + coalesce(sum(col(weightCol)).over(inW), lit(0L)))
      .drop("pfx_bkt", "prior")
  }

  /** Exact distributed row number (1-based) over (valueCol asc/desc,
    * tieCols...) — [[runningSum]] with unit weights, inclusive frame.
    * The order must be total (tieCols unique within a value) for the
    * result to be deterministic.
    */
  def rowNumber(df: DataFrame, valueCol: String, tieCols: Seq[String],
      out: String, desc: Boolean = false,
      materialize: Boolean = true): DataFrame =
    runningSum(df.withColumn("pfx_one", lit(1L)), valueCol, tieCols,
      "pfx_one", out, desc, includeCurrent = true, materialize)
      .drop("pfx_one")

  /** GROUPED running sum: [[runningSum]] computed independently per
    * `groupCols` key — the replacement for `Window.partitionBy(groups)
    * .orderBy(...)` when single groups grow with the corpus (a language
    * can be half the documents), so even the per-group stream must not
    * funnel through one task. Buckets come from the GLOBAL value range
    * (per-group ranges would need a per-group scalar join; global
    * boundaries partition each group's order just as well since the
    * within-bucket window also partitions by group), the bucket rollup is
    * |groups|×1024 metadata, and its per-group prefix is a key-equi +
    * non-equi broadcast self-join. Same preconditions as [[runningSum]],
    * plus `groupCols` must be NON-NULL on every row: the prior join is
    * key-equi, and a null group key never matches itself, so null-group
    * rows would silently lose their prior (a global `Window.partitionBy`
    * groups nulls together instead).
    */
  def runningSumBy(df: DataFrame, groupCols: Seq[String], valueCol: String,
      tieCols: Seq[String], weightCol: String, out: String,
      desc: Boolean = false, includeCurrent: Boolean = false,
      materialize: Boolean = true): DataFrame = {
    val gCols = groupCols.map(col)
    val bucketed = bucketize(df, valueCol, materialize)
    val bRoll = bucketed.groupBy((gCols :+ col("pfx_bkt")): _*)
      .agg(sum(col(weightCol)).as("pfx_bsum"))
    val other = bRoll.select((groupCols.map(g => col(g).as(s"pfx_g_$g")) :+
      col("pfx_bkt").as("pfx_ob") :+ col("pfx_bsum").as("pfx_os")): _*)
    val bktCond =
      if (desc) col("pfx_ob") > col("pfx_bkt") else col("pfx_ob") < col("pfx_bkt")
    val cond = groupCols.map(g => col(s"pfx_g_$g") === col(g))
      .foldLeft(bktCond)(_ && _)
    val prior = bRoll.join(broadcast(other), cond, "left")
      .groupBy((gCols :+ col("pfx_bkt")): _*)
      .agg(coalesce(sum(col("pfx_os")), lit(0L)).as("pfx_prior"))
    val inW = withinBucket(gCols :+ col("pfx_bkt"), valueCol, tieCols, desc,
      includeCurrent)
    bucketed.join(broadcast(prior), groupCols :+ "pfx_bkt")
      .withColumn(out,
        col("pfx_prior") + coalesce(sum(col(weightCol)).over(inW), lit(0L)))
      .drop("pfx_bkt", "pfx_prior")
  }

  /** Prefix MAX of `aggCol` over (valueCol asc/desc, tieCols...) order —
    * `out` = max of aggCol over rows strictly before this one (plus this
    * row when `includeCurrent`), NULL when the prefix is empty — the
    * two-level replacement for `max(...).over(Window.orderBy(...)
    * .rowsBetween(unboundedPreceding, -1))` (running records, skyline
    * thresholds). Same preconditions as [[runningSum]]: non-null
    * integral `valueCol`, int64-bounded range; `aggCol` must also be
    * non-null. Exact: max is associative and the (bucket, within-bucket)
    * order refines the requested order; `greatest` skips nulls, so the
    * empty-prefix NULL survives both levels.
    */
  def runningMax(df: DataFrame, valueCol: String, tieCols: Seq[String],
      aggCol: String, out: String, desc: Boolean = false,
      includeCurrent: Boolean = false,
      materialize: Boolean = true): DataFrame = {
    val bucketed = bucketize(df, valueCol, materialize)
    val bRoll = bucketed.groupBy(col("pfx_bkt"))
      .agg(max(col(aggCol)).as("pfx_bmax"))
    val other = bRoll.select(col("pfx_bkt").as("pfx_ob"),
      col("pfx_bmax").as("pfx_om"))
    val cond =
      if (desc) col("pfx_ob") > col("pfx_bkt") else col("pfx_ob") < col("pfx_bkt")
    // max over an all-null (no earlier bucket) group is NULL — preserved
    val prior = bRoll.join(broadcast(other), cond, "left")
      .groupBy(col("pfx_bkt")).agg(max(col("pfx_om")).as("pfx_prior"))
    val inW = withinBucket(Seq(col("pfx_bkt")), valueCol, tieCols, desc,
      includeCurrent)
    bucketed.join(broadcast(prior), Seq("pfx_bkt"))
      .withColumn(out, greatest(col("pfx_prior"), max(col(aggCol)).over(inW)))
      .drop("pfx_bkt", "pfx_prior")
  }

  /** LAG(srcCol, 1) over (valueCol asc, tieCols...) order, NULL on the
    * first row — two-level: a lag window PARTITIONED by value bucket
    * covers every row but each bucket's first, which takes the nearest
    * earlier non-empty bucket's LAST value (per-bucket `max_by` on the
    * metadata rollup + a broadcast non-equi join). Preconditions as
    * [[runningSum]], plus `srcCol` must be non-null (a null srcCol value
    * is indistinguishable from a bucket boundary to the coalesce).
    */
  def lagOver(df: DataFrame, valueCol: String, tieCols: Seq[String],
      srcCol: String, out: String, materialize: Boolean = true): DataFrame = {
    val bucketed = bucketize(df, valueCol, materialize)
    val ordCols = col(valueCol) +: tieCols.map(col)
    val bLast = bucketed.groupBy(col("pfx_bkt"))
      .agg(max_by(col(srcCol), struct(ordCols: _*)).as("pfx_bval"))
    val other = bLast.select(col("pfx_bkt").as("pfx_ob"),
      col("pfx_bval").as("pfx_ov"))
    // nearest earlier non-empty bucket's last value; buckets with no
    // earlier bucket drop out of the inner join and rejoin as NULL
    val prior = bLast.join(broadcast(other),
        col("pfx_ob") < col("pfx_bkt"), "inner")
      .groupBy(col("pfx_bkt"))
      .agg(max_by(col("pfx_ov"), col("pfx_ob")).as("pfx_prev"))
    val inW = Window.partitionBy(col("pfx_bkt")).orderBy(ordCols: _*)
    bucketed.join(broadcast(prior), Seq("pfx_bkt"), "left")
      .withColumn(out,
        coalesce(lag(col(srcCol), 1).over(inW), col("pfx_prev")))
      .drop("pfx_bkt", "pfx_prev")
  }

  /** LEAD(srcCol, 1) over (valueCol asc, tieCols...) order, NULL on the
    * last row — the mirror of [[lagOver]] (per-bucket FIRST via `min_by`,
    * nearest LATER non-empty bucket). Same preconditions.
    */
  def leadOver(df: DataFrame, valueCol: String, tieCols: Seq[String],
      srcCol: String, out: String, materialize: Boolean = true): DataFrame = {
    val bucketed = bucketize(df, valueCol, materialize)
    val ordCols = col(valueCol) +: tieCols.map(col)
    val bFirst = bucketed.groupBy(col("pfx_bkt"))
      .agg(min_by(col(srcCol), struct(ordCols: _*)).as("pfx_bval"))
    val other = bFirst.select(col("pfx_bkt").as("pfx_ob"),
      col("pfx_bval").as("pfx_ov"))
    val nxt = bFirst.join(broadcast(other),
        col("pfx_ob") > col("pfx_bkt"), "inner")
      .groupBy(col("pfx_bkt"))
      .agg(min_by(col("pfx_ov"), col("pfx_ob")).as("pfx_next"))
    val inW = Window.partitionBy(col("pfx_bkt")).orderBy(ordCols: _*)
    bucketed.join(broadcast(nxt), Seq("pfx_bkt"), "left")
      .withColumn(out,
        coalesce(lead(col(srcCol), 1).over(inW), col("pfx_next")))
      .drop("pfx_bkt", "pfx_next")
  }

  /** Exact NTILE(k) bucket from a 1-based row number `rn` and the total
    * row count `n` — closed form: the first n%k tiles take n/k+1 rows,
    * the rest n/k (what `ntile(k)` computes after its own global sort).
    * Returns a LONG column expression over columns `rn` and `n`.
    */
  def ntileExpr(rnCol: String, nCol: String, k: Int): org.apache.spark.sql.Column =
    when(col(rnCol) <= (col(nCol) % k) * (expr(s"$nCol div $k") + 1L),
      expr(s"($rnCol - 1) div ($nCol div $k + 1) + 1"))
      .otherwise(expr(
        s"$nCol % $k + ($rnCol - $nCol % $k * ($nCol div $k + 1) - 1)" +
          s" div greatest($nCol div $k, 1) + 1"))
}
