package graft.operators

import graft.{Q, Tables}
import graft.functions.TSql._
import graft.functions.Text
import graft.functions.Exact._
import graft.functions.Text.{log2e6DuckSql => duckL2, log2e6SparkSql => l2}
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream analytics over the `events` table — the batch expression of
  * the engine's streaming extensions (SURVEY.md §2.10: the reference is pure
  * batch MPP, so tumbling/session windows are our extension; the identical
  * logic runs under Structured Streaming in graft.streaming.EventStream).
  */
object EventQueries {

  /** Purchases in integer cents `v`, grouped by UTC day (`unix_millis(ts)
    * div 86400000`): the one event pass most daily statistics start from;
    * callers pick the aggregate (docs/SCALE.md §3).
    */
  def purchaseCentsByDay(s: SparkSession, dir: String): RelationalGroupedDataset =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        cents(col("value")).as("v"))
      .groupBy(col("day"))

  /** Tumbling-window aggregate: epoch-aligned 1-hour windows via the same
    * `window()` operator the streaming path uses.
    */
  val q70Tumbling: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("total_value_c"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("total_value_c"), col("n_users"))
  }

  val q70Sql: String =
    """SELECT DATE_TRUNC('hour', ts) AS bucket, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_value_c,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Session windows (30-minute inactivity gap) per user via Spark's
    * session_window; the oracle reproduces the identical semantics with the
    * gaps-and-islands pattern (session end = last event + gap, end-exclusive
    * boundary ⇒ a new session starts when the gap is ≥ 30 min).
    */
  val q71Sessions: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("session_value_c"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value_c"))
  }

  val q71Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id,
      |  MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS session_value_c
      |FROM numbered GROUP BY user_id, session_id""".stripMargin

  /** Sliding-window aggregate (1-hour windows every 30 minutes): each event
    * lands in duration/slide = 2 overlapping windows — the third window
    * shape of §2.10 next to tumbling and session. The oracle enumerates the
    * same two epoch-aligned window starts per event (the 30-minute floor and
    * its predecessor) via UNNEST.
    */
  val q75Sliding: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("total_value_c"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("total_value_c"), col("n_users"))
  }

  val q75Sql: String =
    """WITH b AS (
      |  SELECT *,
      |    DATE_TRUNC('hour', ts) + CASE WHEN EXTRACT(minute FROM ts) >= 30
      |      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 SECOND END AS ws0
      |  FROM events)
      |SELECT ws AS bucket, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_value_c,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM b, UNNEST([ws0, ws0 - INTERVAL 30 MINUTE]) AS u(ws)
      |GROUP BY 1, 2""".stripMargin

  /** Semi-structured JSON extraction from the `props` column (the engine's
    * answer to schema-on-read attributes).
    */
  val q72Json: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      (get_json_object(col("props"), "$.k").cast("int") % 10).as("k_mod"))
  }

  val q72Sql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
      |FROM events""".stripMargin

  /** Per-user activity profile: conditional-agg pivot over event_type plus
    * first/last activity timestamps.
    */
  val q73UserProfile: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).cast("long").as("n_clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("n_purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("n_errors"),
        min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"),
        sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(lit(0L))).as("purchase_value_c"))
  }

  val q73Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
      |  MIN(ts) AS first_seen, MAX(ts) AS last_seen,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS purchase_value_c
      |FROM events GROUP BY user_id""".stripMargin

  /** Typed JSON parsing: from_json into a struct column, then typed field
    * access — the schema-declared twin of q72's path extraction.
    */
  val q74TypedJson: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    e.select(col("event_id"), from_json(col("props"), schema).as("p"))
      .select(col("event_id"), col("p.k").as("k"),
        (col("p.k") >= 50).cast("int").as("k_high"))
  }

  val q74Sql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  CAST(CAST(json_extract_string(props, '$.k') AS INT) >= 50 AS INT) AS k_high
      |FROM events""".stripMargin

  /** As-of join: every click event annotated with the user's most recent
    * prior purchase (value + timestamp) — the point-in-time feature lookup,
    * via [[AsOfJoin.latestPrior]]'s single-shuffle union+window plan. The
    * oracle states the same semantics declaratively with a LATERAL TOP-1.
    */
  val q76AsOfJoin: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    AsOfJoin.latestPrior(clicks, purchases,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("value"), tieBreak = Seq("event_id"))
      .withColumnRenamed("prior_ts", "prior_purchase_ts")
      .withColumnRenamed("prior_value", "prior_purchase_value")
  }

  val q76Sql: String =
    """WITH l AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |r AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'purchase')
      |SELECT l.event_id, l.user_id, l.ts,
      |  p.prior_purchase_value, p.prior_purchase_ts
      |FROM l LEFT JOIN LATERAL (
      |  SELECT r.value AS prior_purchase_value, r.ts AS prior_purchase_ts
      |  FROM r WHERE r.user_id = l.user_id AND r.ts <= l.ts
      |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) p ON TRUE""".stripMargin

  /** q231: the q76 as-of join executed through the WHOLE-OPERATOR custom
    * plan ([[graft.plans.AsOfMergeJoin]]: logical node → planner strategy →
    * AsOfMergeJoinExec with declared distribution/ordering and a
    * per-partition streaming merge) instead of the union+window
    * composition. Same semantics, same oracle — the two formulations are
    * equivalence-tested row-for-row in AsOfMergeJoinSpec, so q76's oracle
    * applies verbatim; what this entry gates is that the custom physical
    * operator ALSO survives the bit-exact DuckDB compare end to end.
    */
  val q231AsOfMerge: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.plans.AsOfMergeJoin.latestPrior(clicks, purchases,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("value"), tieBreak = Seq("event_id"))
      .withColumnRenamed("prior_ts", "prior_purchase_ts")
      .withColumnRenamed("prior_value", "prior_purchase_value")
  }

  /** Idempotent-ingest accounting under at-least-once delivery: the source
    * redelivers every third event (a deterministic stand-in for the
    * retry-duplicates a streaming ingest sees), and the report counts
    * delivered vs unique rows per event type — exactly what a
    * dedup-on-ingest stage (streaming: EventStream.dedup's
    * dropDuplicatesWithinWatermark; batch: distinct on the idempotency key)
    * must reconcile. One union, one aggregate: COUNT(DISTINCT) carries the
    * dedup; at 100 TB the same accounting runs on the post-dedup stream
    * with the sketch NDV (q08) when exactness isn't required.
    */
  val q90DedupIngest: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val delivered = e.unionByName(e.filter(col("event_id") % 3 === 0))
    delivered.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_delivered"),
        countDistinct(col("event_id")).as("n_unique"))
      .select(col("event_type"), col("n_delivered"), col("n_unique"),
        (col("n_delivered") - col("n_unique")).as("n_dups"))
  }

  val q90Sql: String =
    """WITH delivered AS (
      |  SELECT event_id, event_type FROM events
      |  UNION ALL
      |  SELECT event_id, event_type FROM events WHERE event_id % 3 = 0)
      |SELECT event_type, COUNT(*) AS n_delivered,
      |  COUNT(DISTINCT event_id) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT event_id) AS n_dups
      |FROM delivered GROUP BY event_type""".stripMargin

  /** Sample size for the sketch-quantile operators. */
  val SketchK = 64

  /** Approximate quantiles from a deterministic bottom-k-by-hash sample
    * (KMV-style: the k smallest md5 hashes are a uniform random sample, and
    * the same k rows in every engine) — the sketch-quantile pattern that
    * the exact gate can still verify bit-for-bit, like q09's portable HLL.
    * percentile_disc over the sample returns an actual sample member, so
    * the output is exact int64 cents.
    *
    * This gate formulation selects the sample with a per-group window rank
    * (oracle-portable). The 100 TB path is [[q91SketchQuantilesProd]]: the
    * same sample via the BottomKAgg partial aggregate — O(k) state per
    * group, no per-group sort — asserted result-identical in QueriesSpec.
    */
  val q91SketchQuantiles: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val h = graft.functions.Text.portableHash(col("event_id").cast("string"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"), col("event_id"))
    e.select(col("event_type"), col("event_id"), h.as("h"),
        cents(col("value")).as("v_c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SketchK)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("v_c"))).as("vals"),
        count(lit(1)).as("n_sample"))
      .select(col("event_type"), col("n_sample"),
        element_at(col("vals"), ceil(col("n_sample") * 0.5).cast("int")).as("median_c"),
        element_at(col("vals"), ceil(col("n_sample") * 0.9).cast("int")).as("p90_c"))
  }

  /** The production twin: identical output via the bottom-k partial
    * aggregate instead of the window sort.
    */
  val q91SketchQuantilesProd: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val h = graft.functions.Text.portableHash(col("event_id").cast("string"))
    e.select(col("event_type"), h.as("h"), cents(col("value")).as("v_c"))
      .groupBy(col("event_type"))
      .agg(graft.functions.Sampling.bottomK(col("h"), col("v_c"), SketchK)
        .as("sample"))
      .select(col("event_type"),
        size(col("sample")).cast("long").as("n_sample"),
        sort_array(transform(col("sample"), p => p.getField("v"))).as("vals"))
      .select(col("event_type"), col("n_sample"),
        element_at(col("vals"), ceil(col("n_sample") * 0.5).cast("int")).as("median_c"),
        element_at(col("vals"), ceil(col("n_sample") * 0.9).cast("int")).as("p90_c"))
  }

  val q91Sql: String =
    s"""WITH h AS (
      |  SELECT event_type, event_id, CAST(ROUND(value*100) AS BIGINT) AS v_c,
      |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      |  FROM events),
      |s AS (
      |  SELECT event_type, v_c FROM (
      |    SELECT event_type, v_c,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv, event_id) AS rk
      |    FROM h) t
      |  WHERE rk <= $SketchK),
      |g AS (
      |  SELECT event_type, LIST_SORT(LIST(v_c)) AS vals, COUNT(*) AS n_sample
      |  FROM s GROUP BY event_type)
      |SELECT event_type, n_sample,
      |  vals[CAST(CEIL(n_sample * 0.5) AS INT)] AS median_c,
      |  vals[CAST(CEIL(n_sample * 0.9) AS INT)] AS p90_c
      |FROM g""".stripMargin

  // -------------------------------------------------- q103: ordered funnel

  /** Ordered-step conversion funnel — the product-analytics sequence query
    * (MATCH_RECOGNIZE-lite): per user, the first `view`, the first `click`
    * STRICTLY AFTER that view, and the first `purchase` strictly after that
    * click; the funnel reports survivors and the total conversion lag in
    * whole seconds at each step. Order matters: a purchase before the click
    * does not count — this is exactly what a bare groupBy-by-type cannot
    * express.
    *
    * Plan: each step is a per-user MIN aggregate joined to the previous
    * step's frame — three keyed shuffles of per-user rows (already
    * aggregated, so step frames are |users|-sized, not |events|-sized).
    */
  val q103EventFunnel: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val step1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val step2 = e.filter(col("event_type") === "click")
      .join(step1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
    val step3 = e.filter(col("event_type") === "purchase")
      .join(step2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id"), col("t2")).agg(min(col("ts")).as("t3"))
    def row(stage: String, df: org.apache.spark.sql.DataFrame, lag: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_users"),
        coalesce(sum(lag), lit(0L)).as("total_lag_sec"))
        .select(lit(stage).as("stage"), col("n_users"), col("total_lag_sec"))
    row("1_view", step1, lit(0L))
      .union(row("2_click", step2,
        unix_timestamp(col("t2")) - unix_timestamp(col("t1"))))
      .union(row("3_purchase", step3,
        unix_timestamp(col("t3")) - unix_timestamp(col("t2"))))
  }

  val q103Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, t1, MIN(e.ts) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1 GROUP BY e.user_id, t1),
      |s3 AS (
      |  SELECT e.user_id, t2, MIN(e.ts) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2 GROUP BY e.user_id, t2)
      |SELECT '1_view' AS stage, COUNT(*) AS n_users,
      |  CAST(0 AS BIGINT) AS total_lag_sec FROM s1
      |UNION ALL
      |SELECT '2_click', COUNT(*),
      |  COALESCE(CAST(SUM(CAST(FLOOR(epoch(t2)) AS BIGINT)
      |    - CAST(FLOOR(epoch(t1)) AS BIGINT)) AS BIGINT), 0) FROM s2
      |UNION ALL
      |SELECT '3_purchase', COUNT(*),
      |  COALESCE(CAST(SUM(CAST(FLOOR(epoch(t3)) AS BIGINT)
      |    - CAST(FLOOR(epoch(t2)) AS BIGINT)) AS BIGINT), 0) FROM s3""".stripMargin

  // ---------------------------------------------- q104: retention cohorts

  /** Weekly retention cohorts: users grouped by their first-activity week
    * (integer epoch-week — days DIV 7, no calendar-truncation portability
    * risk), each later active week counted as (cohort, offset, n_users)
    * with the retained fraction against the cohort size in e6 — the
    * engagement-analytics staple. Distinct (user, week) activity first, so
    * the cohort join moves |users × active-weeks| rows, never raw events.
    */
  val q104RetentionCohorts: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val weeks = e.select(col("user_id"),
        expr("(unix_timestamp(ts) DIV 86400) DIV 7").as("w"))
      .distinct()
    val cohort = weeks.groupBy(col("user_id")).agg(min(col("w")).as("c"))
    val sizes = cohort.groupBy(col("c")).agg(count(lit(1)).as("cohort_size"))
    weeks.join(cohort, "user_id")
      .groupBy(col("c").as("cohort_week"), (col("w") - col("c")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(sizes.withColumnRenamed("c", "cohort_week"), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        floor(col("n_users") * 1000000.0 / col("cohort_size")).as("retained_e6"))
  }

  val q104Sql: String =
    """WITH weeks AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 // 7 AS w
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(w) AS c FROM weeks GROUP BY user_id),
      |sizes AS (SELECT c, COUNT(*) AS cohort_size FROM cohort GROUP BY c)
      |SELECT c AS cohort_week, w - c AS week_offset, COUNT(*) AS n_users,
      |  cohort_size,
      |  CAST(FLOOR(COUNT(*) * 1000000.0 / cohort_size) AS BIGINT) AS retained_e6
      |FROM weeks JOIN cohort USING (user_id) JOIN sizes USING (c)
      |GROUP BY c, w - c, cohort_size""".stripMargin

  // ---------------------------------------------- q108: Markov transitions

  /** First-order Markov transition matrix over each user's event sequence:
    * P(next = b | current = a) estimated from adjacent event pairs, the
    * behavioural-model staple (next-action prediction, anomaly scoring of
    * improbable transitions). One window pass (lead over user_id ordered by
    * ts with event_id as the deterministic tie-break) then a count
    * aggregation over at most |event_types|² cells — the output is tiny
    * regardless of input scale, and the window shuffles each user's events
    * to one partition exactly once.
    */
  val q108MarkovTransitions: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = e.select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    // row totals as a whole-partition window sum over the |types|²-row
    // matrix — a self-join on the rollup would duplicate the heavy window
    // subtree in the plan; this keeps the event pass single
    val totals = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    trans
      .select(col("from_type"), col("to_type"), col("n_trans"),
        sum(col("n_trans")).over(totals).as("n_from"))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
        (col("n_trans").cast("double") / col("n_from")).as("prob"))
  }

  val q108Sql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |trans AS (
      |  SELECT from_type, to_type, COUNT(*) AS n_trans FROM seq
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |totals AS (
      |  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
      |  FROM trans GROUP BY from_type)
      |SELECT from_type, to_type, n_trans, n_from,
      |  CAST(n_trans AS DOUBLE) / n_from AS prob
      |FROM trans JOIN totals USING (from_type)""".stripMargin

  // ---------------------------------------------- q109: OHLC bars

  /** Hourly OHLC resampling of the purchase stream — the time-series bar
    * aggregation (finance candles, telemetry downsampling). Open/close are
    * SELECTED values (first/last by a deterministic (ts, event_id) order via
    * two row_number passes over the same sort — Spark reuses the single
    * sort+shuffle for both directions' windows on the same partition key),
    * high/low are min/max, and volume sums exact integer cents — every
    * output is either a selection or integer arithmetic, never an
    * order-dependent float sum.
    */
  val q109OhlcBars: Q = (s, dir) => {
    val e = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(expr("unix_timestamp(ts) DIV 3600").as("hour_bucket"),
        col("ts"), col("event_id"), col("value"))
    val asc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_bucket")).orderBy(col("ts"), col("event_id"))
    val desc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_bucket")).orderBy(col("ts").desc, col("event_id").desc)
    e.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("hour_bucket"))
      .agg(count(lit(1)).as("n_trades"),
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        sum(cents(col("value"))).as("volume_c"))
  }

  val q109Sql: String =
    """WITH p AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hour_bucket,
      |    ts, event_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY hour_bucket
      |      ORDER BY ts, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY hour_bucket
      |      ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM p)
      |SELECT hour_bucket, COUNT(*) AS n_trades,
      |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS volume_c
      |FROM r GROUP BY hour_bucket""".stripMargin

  // ---------------------------------------------- q110: growth accounting

  /** Daily growth accounting: active users split into new (first-ever day)
    * vs returning, plus the cumulative user base — the product-growth
    * staple next to q104's cohort view. Distinct (user, day) activity
    * first so the heavy pass is one distinct + one min-aggregation over
    * |users × active-days|; the running total's single-partition window is
    * over the per-day rollup (row count = #days), never event-scale.
    */
  val q110GrowthAccounting: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val days = e.select(col("user_id"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
      .distinct()
    val firstDay = days.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val running = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    days.join(firstDay, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"))
      .select(col("day"), col("active_users"), col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"),
        sum(col("new_users")).over(running).as("cumulative_users"))
  }

  val q110Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |fd AS (SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id),
      |daily AS (
      |  SELECT day, COUNT(*) AS active_users,
      |    CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users
      |  FROM days JOIN fd USING (user_id) GROUP BY day)
      |SELECT day, active_users, new_users,
      |  active_users - new_users AS returning_users,
      |  CAST(SUM(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cumulative_users
      |FROM daily""".stripMargin

  // ---------------------------------------------- q111: path n-grams

  /** Top event-path trigrams: the most common three-step journeys across
    * user sessions — behavioural path analysis (where q108 models one-step
    * transitions, this surfaces whole flows). Two leads over ONE window
    * sort produce each user's consecutive triples in a single pass; the
    * count aggregation is bounded by |event_types|³ cells and top-20
    * plans as TakeOrderedAndProject with a full deterministic tie-break.
    */
  val q111PathTrigrams: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.select(col("event_type").as("step_1"),
        lead(col("event_type"), 1).over(w).as("step_2"),
        lead(col("event_type"), 2).over(w).as("step_3"))
      .filter(col("step_2").isNotNull && col("step_3").isNotNull)
      .groupBy(col("step_1"), col("step_2"), col("step_3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step_1"), col("step_2"), col("step_3"))
      .limit(20)
  }

  val q111Sql: String =
    """WITH seq AS (
      |  SELECT event_type AS step_1,
      |    LEAD(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS step_2,
      |    LEAD(event_type, 2) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS step_3
      |  FROM events)
      |SELECT step_1, step_2, step_3, COUNT(*) AS n_paths
      |FROM seq WHERE step_2 IS NOT NULL AND step_3 IS NOT NULL
      |GROUP BY step_1, step_2, step_3
      |ORDER BY n_paths DESC, step_1, step_2, step_3
      |LIMIT 20""".stripMargin

  // ---------------------------------------------- q119: duplicate charges

  /** Suspected duplicate submissions: consecutive purchases by the same
    * user within an hour of each other — the double-billing / idempotency
    * audit (a production rule would also match the amount; this corpus's
    * amounts are continuous doubles, so the time rule carries the test
    * load). ONE window pass per user ordered by time: the gap to the
    * previous purchase decides the flag, so no self-join and no pair
    * blowup — a user hammering purchases produces n flagged rows, not
    * n²/2 pairs. Deterministic event_id tie-break as everywhere.
    */
  val q119DuplicateCharges: Q = (s, dir) => {
    val e = Tables.events(s, dir).filter(col("event_type") === "purchase")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    e.select(col("user_id"), col("event_id"), col("ts"),
        cents(col("value")).as("amount_c"),
        (expr("unix_timestamp(ts)") -
          lag(expr("unix_timestamp(ts)"), 1).over(w)).as("gap_sec"))
      .filter(col("gap_sec").isNotNull && col("gap_sec") <= 3600)
  }

  val q119Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(ROUND(value*100) AS BIGINT) AS amount_c
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (
      |  SELECT user_id, event_id, ts, amount_c,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) -
      |      LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER (
      |        PARTITION BY user_id
      |        ORDER BY ts, event_id) AS gap_sec
      |  FROM p)
      |SELECT user_id, event_id, ts, amount_c, gap_sec
      |FROM g WHERE gap_sec IS NOT NULL AND gap_sec <= 3600""".stripMargin

  // ---------------------------------------------- q120: anomalous days

  /** Anomalous-day detection: days whose per-type revenue total sits more
    * than 2 population standard deviations from that type's daily mean.
    * The 2σ test runs ENTIRELY in exact integer arithmetic — no float
    * mean/stddev anywhere:
    *
    *   (n·x − Σx)² > 4 · (n·Σx² − (Σx)²)
    *
    * is (x − μ)² > 4σ² scaled by n², with every term an exact integer
    * (DECIMAL(38,0) / HUGEINT), so the flag is bit-reproducible on any
    * engine and any partitioning — the property a monitoring rule that
    * pages people should have. The reported z² is the one ratio, scaled
    * e6 and floored. Two aggregations (day rollup, then moment rollup
    * broadcast back); the day rollup is the only event-scale pass.
    */
  val q120AnomalousDays: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val daily = e.groupBy(col("event_type"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(cents(col("value"))).as("total_c"))
    // sums and squares run IN decimal — a long square of a day total wraps
    // silently above ~$30M/day, precisely the rows this rule must catch
    val moments = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("total_c").cast(dec)).as("sx"),
        sum(col("total_c").cast(dec) * col("total_c").cast(dec)).as("sxx"))
    daily.join(broadcast(moments), "event_type")
      .select(col("event_type"), col("day"), col("total_c"),
        (col("n") * col("total_c") - col("sx")).as("dev_n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("var_nn"),
        col("n"))
      .filter(col("dev_n") * col("dev_n") > lit(4) * col("var_nn"))
      .select(col("event_type"), col("day"), col("total_c"),
        floor((col("dev_n") * col("dev_n")).cast("double") * 1000000.0 /
          col("var_nn").cast("double")).cast("long").as("z2_e6"))
      // z2_e6 doubles go through Spark's correctly-rounded decimal cast; the
      // oracle routes its HUGEINTs through VARCHAR for the same rounding
  }

  val q120Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_c
      |  FROM events GROUP BY event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(total_c) AS sx,
      |    SUM(CAST(total_c AS HUGEINT) * total_c) AS sxx
      |  FROM daily GROUP BY event_type),
      |j AS (
      |  SELECT daily.event_type, day, total_c,
      |    n * total_c - sx AS dev_n,
      |    n * sxx - sx * sx AS var_nn
      |  FROM daily JOIN m ON daily.event_type = m.event_type)
      |SELECT event_type, day, total_c,
      |  CAST(FLOOR(CAST(CAST(dev_n * dev_n AS VARCHAR) AS DOUBLE) * 1000000.0 /
      |    CAST(CAST(var_nn AS VARCHAR) AS DOUBLE)) AS BIGINT) AS z2_e6
      |FROM j WHERE dev_n * dev_n > 4 * var_nn""".stripMargin

  // ---------------------------------------------- q121: seasonality index

  /** Day-of-week seasonality of purchase revenue: each weekday's average
    * daily total as a ratio of the overall daily average, e6-scaled. The
    * weekday comes from pure epoch-day arithmetic — (epoch_day + 4) % 7
    * maps 0→Sunday … 6→Saturday (1970-01-01 was a Thursday) — so no
    * engine calendar/locale function is involved, and the index is ONE
    * integer division of exact integer products:
    *
    *   index_e6 = (Σ_dow · n_days · 1e6) div (n_dow · Σ_all)
    *
    * Two tiny rollups after the one event-scale pass; the grand totals
    * broadcast.
    */
  val q121Seasonality: Q = (s, dir) => {
    val e = Tables.events(s, dir).filter(col("event_type") === "purchase")
    val daily = e.groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(cents(col("value"))).as("total_c"))
    // weekday sums accumulate IN decimal (long sums wrap silently first at
    // scale); the BIGINT output column is a final, loud-on-overflow cast
    val byDow = daily.groupBy(((col("day") + 4) % 7).as("day_of_week"))
      .agg(count(lit(1)).as("n_days"), sum(col("total_c").cast(dec)).as("sum_h"))
    val overall = daily.agg(count(lit(1)).as("n_all"),
      sum(col("total_c").cast(dec)).as("sum_all"))
    byDow.crossJoin(broadcast(overall))
      .select(col("day_of_week"), col("n_days"),
        col("sum_h").cast("long").as("sum_c"),
        expr(s"""CAST((sum_h * n_all * 1000000)
                | DIV (CAST(n_days AS $dec) * sum_all) AS BIGINT)""".stripMargin)
          .as("index_e6"))
  }

  val q121Sql: String =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_c
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400),
      |dw AS (
      |  SELECT (day + 4) % 7 AS day_of_week, COUNT(*) AS n_days,
      |    SUM(total_c) AS sum_h
      |  FROM daily GROUP BY (day + 4) % 7),
      |o AS (SELECT COUNT(*) AS n_all, SUM(total_c) AS sum_all FROM daily)
      |SELECT day_of_week, n_days, CAST(sum_h AS BIGINT) AS sum_c,
      |  CAST((sum_h * n_all * 1000000) // (n_days * sum_all) AS BIGINT)
      |    AS index_e6
      |FROM dw CROSS JOIN o""".stripMargin

  // ---------------------------------------------- q124: CUSUM level shift

  /** CUSUM level-shift series over daily purchase revenue — the sustained-
    * change companion to q120's single-day 2σ outlier flag (a slow drift
    * never trips a per-day z-test; the cumulative sum accumulates it). The
    * clamped CUSUM recursion S_t = max(0, S_{t-1} + d_t) is not a window
    * function, but its closed form is:
    *
    *   S⁺_t = RS_t − min(0, min_{j≤t} RS_j)   (upward shifts)
    *   S⁻_t = max(0, max_{j≤t} RS_j) − RS_t   (downward shifts)
    *
    * where RS is the running sum of the n-scaled deviations d_t = n·x_t −
    * Σx (exact integers — no float mean anywhere). So the whole detector is
    * one event-scale day rollup, a broadcast of the two grand totals, and
    * two chained windows over the tiny daily frame (a single sort that both
    * window passes share; single-partition is fine BECAUSE the frame is
    * already collapsed to days). Deviations accumulate in DECIMAL(38,0) —
    * n·x products wrap int64 exactly on the high-revenue days a shift
    * detector exists to catch — and the outputs cross to double through
    * correctly-rounded casts on both engines.
    */
  val q124CusumShift: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).filter(col("event_type") === "purchase")
    val daily = e.groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(cents(col("value"))).as("total_c"))
    val totals = daily.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("total_c").cast(dec)).as("s_all"))
    val dev = daily.crossJoin(broadcast(totals))
      .select(col("day"), col("total_c"),
        (col("n") * col("total_c").cast(dec) - col("s_all")).as("dev_n"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dev
      .withColumn("rs", sum(col("dev_n")).over(w))
      .withColumn("mn", min(col("rs")).over(w))
      .withColumn("mx", max(col("rs")).over(w))
      .select(col("day"), col("total_c"),
        (col("rs") - least(lit(0).cast(dec), col("mn")))
          .cast("double").as("cusum_up"),
        (greatest(lit(0).cast(dec), col("mx")) - col("rs"))
          .cast("double").as("cusum_dn"))
  }

  val q124Sql: String =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_c
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400),
      |t AS (SELECT COUNT(*) AS n, SUM(CAST(total_c AS HUGEINT)) AS s_all
      |      FROM daily),
      |d AS (SELECT day, total_c,
      |        CAST(n AS HUGEINT) * total_c - s_all AS dev_n
      |      FROM daily CROSS JOIN t),
      |r AS (SELECT day, total_c, SUM(dev_n) OVER (ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
      |      FROM d),
      |m AS (SELECT day, total_c, rs,
      |        MIN(rs) OVER (ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn,
      |        MAX(rs) OVER (ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
      |      FROM r)
      |SELECT day, total_c,
      |  CAST(CAST(rs - LEAST(CAST(0 AS HUGEINT), mn) AS VARCHAR) AS DOUBLE)
      |    AS cusum_up,
      |  CAST(CAST(GREATEST(CAST(0 AS HUGEINT), mx) - rs AS VARCHAR) AS DOUBLE)
      |    AS cusum_dn
      |FROM m""".stripMargin

  // ---------------------------------------------- q243: sample-ratio mismatch

  /** q243: sample-ratio-mismatch (SRM) audit — the experimentation-ops
    * health check that must PASS before any q127/q203 readout is trusted:
    * does the realized arm split match the planned allocation? Evaluated
    * for two designs over the same portable-hash assignment (50/50 via
    * hash%2, 90/10 via hash%10), each reporting the one-df chi-square
    * against its planned split in EXACT integers: with D = n_treat·td −
    * N·tn (td/tn the design ratio), χ² = D²/(N·tn·(td−tn)) — e6-quantized
    * by integer division, and the α=0.05 flag is the cross-multiplied
    * comparison 100·D² > 384·N·tn·(td−tn), no floats anywhere. A flagged
    * SRM means assignment or logging is broken — the readout is invalid
    * regardless of its p-value.
    *
    * Plan: one user rollup (the q127 shuffle), then 1-row conditional
    * aggregates per design — metadata-scale after the first pass.
    */
  val q243SrmAudit: Q = (s, dir) => {
    val users = Tables.events(s, dir).select(col("user_id")).distinct()
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val marked = users.select(
      when(hv % 2 === 0, 1L).otherwise(0L).as("t50"),
      when(hv % 10 === 0, 1L).otherwise(0L).as("t10"))
    def design(name: String, treatCol: String, tn: Long, td: Long) =
      marked.agg(count(lit(1)).as("n_exposed"),
        sum(col(treatCol)).as("n_treat"))
        .select(lit(name).as("design"), col("n_exposed"), col("n_treat"),
          (col("n_exposed") - col("n_treat")).as("n_control"),
          lit(tn * 1000 / td).as("planned_treat_permille"),
          // D² · 10⁶ overflows int64 once N passes ~10⁵ (the PropertySpec
          // counterexample) — square and scale in DECIMAL(38,0)
          expr(s"""CAST(CAST(n_treat * $td - n_exposed * $tn
                  |  AS DECIMAL(38,0)) *
                  |(n_treat * $td - n_exposed * $tn) * 1000000
                  |DIV (n_exposed * $tn * ${td - tn}) AS BIGINT)"""
            .stripMargin).as("chi2_e6"),
          expr(s"""CAST(n_treat * $td - n_exposed * $tn AS DECIMAL(38,0)) *
                  |(n_treat * $td - n_exposed * $tn) * 100 >
                  |CAST(384 AS DECIMAL(38,0)) * n_exposed * $tn * ${td - tn}"""
            .stripMargin).as("srm_flag"))
    design("50_50", "t50", 1L, 2L)
      .unionByName(design("90_10", "t10", 1L, 10L))
      .orderBy(col("design"))
  }

  val q243Sql: String = {
    def design(name: String, modClause: String, tn: Long, td: Long) =
      s"""SELECT '$name' AS design, COUNT(*) AS n_exposed,
         |  CAST(SUM(CASE WHEN $modClause THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_treat,
         |  COUNT(*) - CAST(SUM(CASE WHEN $modClause THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_control,
         |  CAST(${tn * 1000 / td} AS BIGINT) AS planned_treat_permille,
         |  CAST(CAST(SUM(CASE WHEN $modClause THEN 1 ELSE 0 END) * $td
         |        - COUNT(*) * $tn AS HUGEINT) *
         |       (SUM(CASE WHEN $modClause THEN 1 ELSE 0 END) * $td
         |        - COUNT(*) * $tn) * 1000000
         |    // (COUNT(*) * $tn * ${td - tn}) AS BIGINT) AS chi2_e6,
         |  CAST(SUM(CASE WHEN $modClause THEN 1 ELSE 0 END) * $td
         |       - COUNT(*) * $tn AS HUGEINT) *
         |      (SUM(CASE WHEN $modClause THEN 1 ELSE 0 END) * $td
         |       - COUNT(*) * $tn) * 100 >
         |    CAST(384 AS HUGEINT) * COUNT(*) * $tn * ${td - tn} AS srm_flag
         |FROM (SELECT DISTINCT user_id FROM events) u""".stripMargin
    val h = "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    Seq(design("50_50", s"$h % 2 = 0", 1L, 2L),
      design("90_10", s"$h % 10 = 0", 1L, 10L))
      .mkString("", "\nUNION ALL\n", "\nORDER BY design")
  }

  // ---------------------------------------------- q127: A/B two-proportion z

  /** Conversion threshold for the experiment readout: a user "converts" when
    * their purchase total reaches $700 — chosen so both arms sit strictly
    * between 0% and 100% at every SF (an all-convert metric degenerates the
    * pooled variance to zero).
    */
  val ConvThresholdC = 70000L

  /** A/B experiment readout: users split into two arms by the portable hash
    * of their id (the q67 hash-range primitive at coarser grain — assignment
    * is a pure function of the id, stable across runs and engines), arm
    * conversion rates compared with the pooled two-proportion z statistic.
    * All counts are exact integers from one user-keyed rollup; the z value
    * is a fixed tree of IEEE divisions, products and one sqrt evaluated
    * identically by both engines, so even the float output is bit-exact.
    * Shape: one event-scale shuffle on user_id, then a 2-row rollup.
    */
  val q127AbZtest: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val perUser = e.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L)).as("purch_c"))
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val one = perUser
      .select(when(hv % 2 === 0, "A").otherwise("B").as("variant"),
        when(col("purch_c") >= ConvThresholdC, 1L).otherwise(0L).as("conv"))
      .agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("conv")).otherwise(0L)).as("conv_b"))
    val rateA = col("conv_a").cast("double") / col("n_a")
    val rateB = col("conv_b").cast("double") / col("n_b")
    val pPool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    one.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      rateA.as("rate_a"), rateB.as("rate_b"),
      ((rateA - rateB) / se).as("z"))
  }

  val q127Sql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS purch_c
      |  FROM events GROUP BY user_id),
      |arms AS (
      |  SELECT CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 'A' ELSE 'B' END AS variant,
      |    CASE WHEN purch_c >= $ConvThresholdC THEN 1 ELSE 0 END AS conv
      |  FROM u),
      |c AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM arms)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CAST(conv_a AS DOUBLE) / n_a AS rate_a,
      |  CAST(conv_b AS DOUBLE) / n_b AS rate_b,
      |  (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) /
      |    sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
      |      (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
      |      (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS z
      |FROM c""".stripMargin

  // ---------------------------------------------- q128: last-touch attribution

  /** Attribution lookback: a purchase more than 7 days after the last
    * click/view is credited to no channel.
    */
  val AttrWindowMs = 7L * 86400000L

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent PRIOR click or view (the marketing-attribution staple), rolled
    * up to channel totals. The "most recent eligible prior event" is not a
    * lag — arbitrary ineligible events sit between — so it is encoded as a
    * running MAX over an integer key, epoch_ms·4 + channel_code, NULL for
    * ineligible rows: max of the key IS the latest eligible event (ms
    * order), the low bits recover its channel, and millisecond ties break
    * to the higher code identically in both engines — no struct-ordered
    * aggregates, no self-join. One shuffle on user_id; the window frame
    * (rows to 1 preceding, ordered by ts then event_id) never scans more
    * than the user's own history.
    */
  val q128Attribution: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val tkey = when(col("event_type") === "click", unix_millis(col("ts")) * 4 + 1)
      .when(col("event_type") === "view", unix_millis(col("ts")) * 4 + 2)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attr = e.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"), tkey.as("tkey"))
      .withColumn("attr_key", max(col("tkey")).over(w))
    val channel = when(col("attr_key").isNull, "none")
      .when(unix_millis(col("ts")) - expr("attr_key div 4") > AttrWindowMs,
        "stale")
      .when(col("attr_key") % 4 === 1, "click")
      .otherwise("view")
    attr.filter(col("event_type") === "purchase")
      .select(channel.as("channel"), cents(col("value")).as("v_c"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("v_c")).as("revenue_c"))
  }

  val q128Sql: String =
    s"""WITH keyed AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type = 'click' THEN epoch_ms(ts) * 4 + 1
      |         WHEN event_type = 'view'  THEN epoch_ms(ts) * 4 + 2 END AS tkey
      |  FROM events),
      |attr AS (
      |  SELECT *, MAX(tkey) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_key
      |  FROM keyed)
      |SELECT CASE WHEN attr_key IS NULL THEN 'none'
      |            WHEN epoch_ms(ts) - attr_key // 4 > $AttrWindowMs THEN 'stale'
      |            WHEN attr_key % 4 = 1 THEN 'click'
      |            ELSE 'view' END AS channel,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS revenue_c
      |FROM attr WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  // ------------------------------------------- q129: time-to-convert

  /** Conversion-latency distribution: for every purchase attributed by
    * q128's running-max key mechanism (last prior click/view within the
    * 7-day lookback), the latency from touch to purchase in milliseconds,
    * rolled up per channel as count, median/p90 (percentile_disc over exact
    * integer latencies — picks actual members, so bit-portable) and max.
    * The funnel question q103 counts ("how many convert") answered in TIME
    * ("how fast"). Same single user-keyed shuffle as q128; the percentile
    * aggregation touches only purchase rows.
    */
  val q129TimeToConvert: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val tkey = when(col("event_type") === "click", unix_millis(col("ts")) * 4 + 1)
      .when(col("event_type") === "view", unix_millis(col("ts")) * 4 + 2)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        tkey.as("tkey"))
      .withColumn("attr_key", max(col("tkey")).over(w))
      .filter(col("event_type") === "purchase" && col("attr_key").isNotNull)
      .select(
        when(col("attr_key") % 4 === 1, "click").otherwise("view").as("channel"),
        (unix_millis(col("ts")) - expr("attr_key div 4")).as("latency_ms"))
      .filter(col("latency_ms") <= AttrWindowMs)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_ms)")
          .cast("long").as("median_ms"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_ms)")
          .cast("long").as("p90_ms"),
        max(col("latency_ms")).as("max_ms"))
  }

  val q129Sql: String =
    s"""WITH keyed AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN event_type = 'click' THEN epoch_ms(ts) * 4 + 1
      |         WHEN event_type = 'view'  THEN epoch_ms(ts) * 4 + 2 END AS tkey
      |  FROM events),
      |attr AS (
      |  SELECT *, MAX(tkey) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_key
      |  FROM keyed),
      |conv AS (
      |  SELECT CASE WHEN attr_key % 4 = 1 THEN 'click' ELSE 'view' END AS channel,
      |    epoch_ms(ts) - attr_key // 4 AS latency_ms
      |  FROM attr
      |  WHERE event_type = 'purchase' AND attr_key IS NOT NULL
      |    AND epoch_ms(ts) - attr_key // 4 <= $AttrWindowMs)
      |SELECT channel, COUNT(*) AS n_conversions,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY latency_ms) AS median_ms,
      |  percentile_disc(0.9) WITHIN GROUP (ORDER BY latency_ms) AS p90_ms,
      |  MAX(latency_ms) AS max_ms
      |FROM conv GROUP BY channel""".stripMargin

  // ------------------------------------------- q130: seasonal backtest

  /** Walk-forward backtest of the naive seasonal forecast — predict each
    * day's purchase revenue as the floor-average of all PRIOR same-weekday
    * days, score with per-weekday MAE. The evaluation harness every
    * forecasting pipeline needs, and q121's seasonality claim actually
    * TESTED out-of-sample. Strictly causal by construction: the prediction
    * window frames rows to 1 preceding, so no day ever sees itself or the
    * future. Prior-day sums accumulate in DECIMAL(38,0) (the q121 rule);
    * predictions and errors are exact integer cents via DIV. One
    * event-scale day rollup; windows and rollups run on the daily frame.
    */
  val q130SeasonalBacktest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).filter(col("event_type") === "purchase")
    val daily = e.groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(cents(col("value"))).as("total_c"))
      .withColumn("dow", (col("day") + 4) % 7)
    val w = Window.partitionBy(col("dow")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("psum", sum(col("total_c").cast(dec)).over(w))
      .withColumn("pcnt", count(lit(1)).over(w))
      .filter(col("pcnt") >= 1)
      .select(col("dow"),
        expr(s"CAST(psum DIV CAST(pcnt AS $dec) AS BIGINT)").as("pred_c"),
        col("total_c"))
      .groupBy(col("dow").as("day_of_week"))
      .agg(count(lit(1)).as("n_evals"),
        expr(s"""CAST(sum(CAST(abs(total_c - pred_c) AS $dec))
                | DIV CAST(count(1) AS $dec) AS BIGINT)""".stripMargin)
          .as("mae_c"),
        max(abs(col("total_c") - col("pred_c"))).as("max_err_c"))
  }

  val q130Sql: String =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_c
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400),
      |pred AS (
      |  SELECT (day + 4) % 7 AS dow, total_c,
      |    SUM(CAST(total_c AS HUGEINT)) OVER (PARTITION BY (day + 4) % 7
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS psum,
      |    COUNT(*) OVER (PARTITION BY (day + 4) % 7
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pcnt
      |  FROM daily),
      |evals AS (
      |  SELECT dow, total_c, CAST(psum // pcnt AS BIGINT) AS pred_c
      |  FROM pred WHERE pcnt >= 1)
      |SELECT dow AS day_of_week, COUNT(*) AS n_evals,
      |  CAST(SUM(CAST(ABS(total_c - pred_c) AS HUGEINT)) // COUNT(*) AS BIGINT)
      |    AS mae_c,
      |  MAX(ABS(total_c - pred_c)) AS max_err_c
      |FROM evals GROUP BY dow""".stripMargin

  // ------------------------------------------- q182: forecast scorecard

  /** q182: the forecast-accuracy scorecard q130's backtest feeds — one row
    * with the metrics a forecasting review actually reads: WAPE (weighted
    * absolute percentage error), signed bias, and the SKILL ratio against
    * the naive same-weekday carry-forward (beat-the-naive is the
    * walk-forward literature's MASE test: a model with skill < 1e6 loses
    * to "same as last week" and should not ship). Both the expanding-mean
    * model and the naive baseline evaluate on the SAME eval rows (every
    * day with at least one prior same-weekday observation — lag-1 exists
    * exactly where the expanding window is non-empty).
    *
    * All error sums accumulate in DECIMAL(38,0); every ratio is one
    * truncating e6 division (the signed bias through the sign-factored
    * form); zero model error yields NULL skill rather than a division
    * blow-up. One event pass to the |days| rollup; windows and the final
    * single-row aggregate run over that rollup.
    */
  val q182ForecastScorecard: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(cents(col("value"))).as("total_c"))
      .withColumn("dow", (col("day") + 4) % 7)
    val w = Window.partitionBy(col("dow")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lagW = Window.partitionBy(col("dow")).orderBy(col("day"))
    val evals = daily
      .withColumn("psum", sum(col("total_c").cast(dec)).over(w))
      .withColumn("pcnt", count(lit(1)).over(w))
      .withColumn("pred_naive", lag(col("total_c"), 1).over(lagW))
      .filter(col("pcnt") >= 1)
      .select(col("total_c"),
        expr(s"CAST(psum DIV CAST(pcnt AS $dec) AS BIGINT)").as("pred_m"),
        col("pred_naive"))
    evals.agg(
        count(lit(1)).as("n_evals"),
        sum(col("total_c").cast(dec)).as("sum_act"),
        sum(abs(col("total_c") - col("pred_m")).cast(dec)).as("err_m"),
        sum(abs(col("total_c") - col("pred_naive")).cast(dec)).as("err_n"),
        sum((col("total_c") - col("pred_m")).cast(dec)).as("bias_num"))
      .select(col("n_evals"),
        expr("CAST(err_m * 1000000 div sum_act AS BIGINT)")
          .as("wape_model_e6"),
        expr("CAST(err_n * 1000000 div sum_act AS BIGINT)")
          .as("wape_naive_e6"),
        expr("""CASE WHEN bias_num < 0
               |  THEN -CAST((-bias_num) * 1000000 div sum_act AS BIGINT)
               |  ELSE CAST(bias_num * 1000000 div sum_act AS BIGINT)
               |END""".stripMargin).as("bias_e6"),
        expr("""CASE WHEN err_m > 0
               |  THEN CAST(err_n * 1000000 div err_m AS BIGINT)
               |END""".stripMargin).as("skill_e6"))
  }

  val q182Sql: String =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS total_c
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1),
      |pred AS (
      |  SELECT (day + 4) % 7 AS dow, total_c,
      |    SUM(CAST(total_c AS HUGEINT)) OVER (PARTITION BY (day + 4) % 7
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS psum,
      |    COUNT(*) OVER (PARTITION BY (day + 4) % 7
      |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS pcnt,
      |    LAG(total_c) OVER (PARTITION BY (day + 4) % 7 ORDER BY day)
      |      AS pred_naive
      |  FROM daily),
      |evals AS (
      |  SELECT total_c, CAST(psum // pcnt AS BIGINT) AS pred_m, pred_naive
      |  FROM pred WHERE pcnt >= 1),
      |agg AS (
      |  SELECT COUNT(*) AS n_evals,
      |    SUM(CAST(total_c AS HUGEINT)) AS sum_act,
      |    SUM(CAST(ABS(total_c - pred_m) AS HUGEINT)) AS err_m,
      |    SUM(CAST(ABS(total_c - pred_naive) AS HUGEINT)) AS err_n,
      |    SUM(CAST(total_c - pred_m AS HUGEINT)) AS bias_num
      |  FROM evals)
      |SELECT n_evals,
      |  CAST((err_m * 1000000) // sum_act AS BIGINT) AS wape_model_e6,
      |  CAST((err_n * 1000000) // sum_act AS BIGINT) AS wape_naive_e6,
      |  CASE WHEN bias_num < 0
      |    THEN -CAST(((-bias_num) * 1000000) // sum_act AS BIGINT)
      |    ELSE CAST((bias_num * 1000000) // sum_act AS BIGINT) END
      |    AS bias_e6,
      |  CASE WHEN err_m > 0
      |    THEN CAST((err_n * 1000000) // err_m AS BIGINT) END AS skill_e6
      |FROM agg""".stripMargin

  // ------------------------------------------- q131: churn-label generation

  /** Supervised-label generation for churn modelling: one training example
    * per (user, active epoch-week) with behavioural features (events,
    * active days, spend) and the LABEL — did the user go silent the
    * following week? Label leakage is structurally impossible: the label
    * for week w reads only the NEXT element of the user's ordered active-
    * week list (lead), never features, and the final week is emitted with
    * a NULL label (its outcome window hasn't closed — exactly what a
    * production labeller must do, not silently call it churned). One
    * shuffle keyed by user for both the weekly rollup and the window.
    */
  val q131ChurnLabels: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val weekly = e.groupBy(col("user_id"),
        expr("unix_timestamp(ts) DIV 86400 DIV 7").as("week"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(expr("unix_timestamp(ts) DIV 86400")).as("active_days"),
        sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L)).as("spend_c"))
    val nextWeek = lead(col("week"), 1)
      .over(Window.partitionBy(col("user_id")).orderBy(col("week")))
    weekly.select(col("user_id"), col("week"), col("n_events"),
      col("active_days"), col("spend_c"),
      when(nextWeek.isNull, lit(null).cast("long"))
        .when(nextWeek > col("week") + 1, 1L).otherwise(0L).as("churned"))
  }

  val q131Sql: String =
    """WITH weekly AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 // 7 AS week,
      |    COUNT(*) AS n_events,
      |    COUNT(DISTINCT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS active_days,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS spend_c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, week, n_events, active_days, spend_c,
      |  CAST(CASE
      |    WHEN LEAD(week) OVER (PARTITION BY user_id ORDER BY week) IS NULL
      |      THEN NULL
      |    WHEN LEAD(week) OVER (PARTITION BY user_id ORDER BY week) > week + 1
      |      THEN 1 ELSE 0 END AS BIGINT) AS churned
      |FROM weekly""".stripMargin

  // ------------------------------------------- q137: rolling 7-day actives

  /** Rolling-window length in days: windows are [w-6, w] inclusive. */
  val RollingDays = 7

  /** Rolling 7-day distinct active users per day WITHOUT any distinct
    * aggregation — the exact-DAU/WAU staple that naive plans compute as a
    * per-day COUNT(DISTINCT) over a 7-day self-join (7× the events,
    * distinct state per window). Instead: a user counts toward window-end
    * day w iff their EARLIEST active day in [w-6, w] — i.e. a user-day
    * whose previous active day is < w-6 — so each user-day with previous
    * active day p contributes exactly to w ∈ [max(day, p+7), day+6], a
    * closed integer interval. One user-keyed window pass finds p (the lag
    * over day-ordered events; the first event of each day is the one whose
    * lag-day differs), a ≤7-row bounded explode emits the interval, and a
    * plain SUM per day replaces every distinct aggregate. Fan-out ≤ 7× the
    * DEDUPLICATED user-days; no distinct state anywhere.
    *
    * Windows are truncated at the corpus' last day so the output domain
    * matches the calendar spine [min day, max day]. The oracle is the
    * independent naive formulation (spine join + COUNT(DISTINCT)) — the
    * gate proves the interval algebra equals textbook semantics.
    */
  val q137RollingActives: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))
    // lag over day-ordered events: within a day the order is ambiguous but
    // immaterial — exactly one row per user-day sees a lag-day < its own
    // (the rest see their own day), and its lag IS the previous active day.
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val firsts = e.withColumn("pday", lag(col("day"), 1).over(w))
      .filter(col("pday").isNull || col("pday") < col("day"))
    val mx = Tables.events(s, dir)
      .agg(max(expr("unix_timestamp(ts) DIV 86400")).as("maxday"))
    firsts
      .select(
        greatest(col("day"),
          coalesce(col("pday") + RollingDays, col("day"))).as("lo"),
        (col("day") + (RollingDays - 1)).as("hi"))
      .join(broadcast(mx))
      .select(col("lo"), least(col("hi"), col("maxday")).as("hi"))
      .filter(col("lo") <= col("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_7d"))
  }

  val q137Sql: String =
    s"""WITH act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |spine AS (
      |  SELECT UNNEST(generate_series((SELECT MIN(day) FROM act),
      |                                (SELECT MAX(day) FROM act))) AS day)
      |SELECT s.day AS day, COUNT(DISTINCT a.user_id) AS active_7d
      |FROM spine s JOIN act a
      |  ON a.day BETWEEN s.day - ${RollingDays - 1} AND s.day
      |GROUP BY s.day""".stripMargin

  // ------------------------------------------- q183: DAU/MAU stickiness

  /** 28-day window for the stickiness denominator. */
  val MauDays = 28L

  /** q183: DAU/MAU stickiness — the growth metric: distinct daily actives
    * over distinct 28-day actives per day, EXACT (no sketch), using q137's
    * interval-coverage trick at both granularities: the per-user active-day
    * stream (one row per user-day via the day-ordered lag filter) feeds
    * DAU as a plain day rollup, and MAU as per-user NEW-coverage intervals
    * ([max(day, prev+28), day+27] — the days this activity newly covers)
    * exploded onto the day axis. No |days|×|users| join, no 28-wide
    * self-join: the MAU explode emits at most 28 rows per user-day and
    * collapses immediately. The user-day stream localCheckpoints because
    * both metrics branch from it.
    */
  val q183Stickiness: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val userDays = e.withColumn("pday", lag(col("day"), 1).over(w))
      .filter(col("pday").isNull || col("pday") < col("day"))
      .localCheckpoint()
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val mx = Tables.events(s, dir)
      .agg(max(expr("unix_timestamp(ts) DIV 86400")).as("maxday"))
    val mau = userDays
      .select(greatest(col("day"),
          coalesce(col("pday") + MauDays, col("day"))).as("lo"),
        (col("day") + (MauDays - 1)).as("hi"))
      .join(broadcast(mx))
      .select(col("lo"), least(col("hi"), col("maxday")).as("hi"))
      .filter(col("lo") <= col("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau"),
        expr("""CAST(CAST(dau AS DECIMAL(38,0)) * 1000000
                | div mau AS BIGINT)""".stripMargin).as("stickiness_e6"))
  }

  val q183Sql: String =
    s"""WITH act AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |spine AS (
      |  SELECT UNNEST(generate_series((SELECT MIN(day) FROM act),
      |                                (SELECT MAX(day) FROM act))) AS day),
      |m AS (
      |  SELECT s.day AS day, COUNT(DISTINCT a.user_id) AS mau
      |  FROM spine s JOIN act a
      |    ON a.day BETWEEN s.day - ${MauDays - 1} AND s.day
      |  GROUP BY s.day),
      |d AS (SELECT day, COUNT(*) AS dau FROM act GROUP BY day)
      |SELECT day, dau, mau,
      |  CAST((CAST(dau AS HUGEINT) * 1000000) // mau AS BIGINT)
      |    AS stickiness_e6
      |FROM d JOIN m USING (day)""".stripMargin

  // ------------------------------------------- q184: new vs repeat revenue

  /** q184: new-vs-repeat revenue split per week — the e-commerce health
    * panel: of each week's purchase revenue, how much came from customers
    * making their FIRST-EVER purchase that week? A falling new share with
    * flat revenue means the business is living off its base. "First" is
    * the user's first purchase week over all history (min over the
    * per-user purchase stream — one user-keyed rollup), so a user is
    * "new" in exactly one week. Shares are exact e6 divisions.
    */
  val q184NewVsRepeat: Q = (s, dir) => {
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v_c"),
        expr("unix_timestamp(ts) DIV 604800").as("week"))
    val firsts = p.groupBy(col("user_id"))
      .agg(min(col("week")).as("first_week"))
    p.join(firsts, "user_id")
      .withColumn("is_new", (col("week") === col("first_week")).cast("long"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("v_c")).as("revenue_c"),
        sum(col("is_new") * col("v_c")).as("new_revenue_c"),
        sum(col("is_new")).as("n_new_purchases"))
      .withColumn("new_share_e6",
        expr("""CAST(CAST(new_revenue_c AS DECIMAL(38,0)) * 1000000
                | div revenue_c AS BIGINT)""".stripMargin))
  }

  val q184Sql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v_c,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 AS week
      |  FROM events WHERE event_type = 'purchase'),
      |firsts AS (
      |  SELECT user_id, MIN(week) AS first_week FROM p GROUP BY user_id)
      |SELECT week, COUNT(*) AS n_purchases,
      |  CAST(SUM(v_c) AS BIGINT) AS revenue_c,
      |  CAST(SUM(CASE WHEN week = first_week THEN v_c ELSE 0 END) AS BIGINT)
      |    AS new_revenue_c,
      |  CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new_purchases,
      |  CAST((CAST(SUM(CASE WHEN week = first_week THEN v_c ELSE 0 END)
      |    AS HUGEINT) * 1000000) // SUM(v_c) AS BIGINT) AS new_share_e6
      |FROM p JOIN firsts USING (user_id)
      |GROUP BY week""".stripMargin

  // ------------------------------------------- q185: peak concurrency

  /** q185: peak concurrent activity per day — the capacity-planning
    * number: each event opens a [[CoverageWindowMs]] attention window
    * (q156's semantics), and the day's peak is the maximum number of
    * windows simultaneously open. Event differencing again (+1 at open,
    * −1 at close), with the running sum maximized per start-of-window
    * day: the concurrency level changes only at a delta, so the maximum
    * over the day is the maximum over its deltas. The delta stream is 2
    * rows per event collapsing to per-ms-timestamp nets before the one
    * ordered window.
    *
    * The running sum orders globally over the distinct delta-timestamp
    * rollup — bounded by distinct event times, the same single-series
    * posture as q171's backlog (and partitionable by day at 100 TB
    * because windows never cross more than one boundary: add a per-day
    * carry-in from the previous day's closing level).
    */
  val q185PeakConcurrency: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(unix_millis(col("ts")).as("open_ms"))
      .withColumn("close_ms", col("open_ms") + CoverageWindowMs)
    val deltas = e.select(explode(array(
        struct(col("open_ms").as("ms"), lit(1L).as("delta")),
        struct(col("close_ms").as("ms"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.ms").as("ms"), col("x.delta").as("delta"))
      .groupBy(col("ms")).agg(sum(col("delta")).as("net"))
    // signed running sum via the two-level Prefix device: the boundary
    // stream is 2×|events| and a global window would funnel it through
    // one task (the device's bucket sums carry negative deltas fine)
    Prefix.runningSum(deltas, "ms", Seq.empty, "net", "level",
        includeCurrent = true, materialize = false)
      .groupBy(expr("ms DIV 86400000").as("day"))
      .agg(max(col("level")).as("peak_concurrency"),
        count(lit(1)).as("n_changes"))
  }

  // lazy: interpolates CoverageWindowMs, which declares later in the file —
  // an eager val would capture the pre-init 0 (it did; the gate caught it)
  lazy val q185Sql: String =
    s"""WITH e AS (
      |  SELECT epoch_ms(ts) AS open_ms,
      |    epoch_ms(ts) + $CoverageWindowMs AS close_ms
      |  FROM events),
      |deltas AS (
      |  SELECT ms, CAST(SUM(delta) AS BIGINT) AS net FROM (
      |    SELECT open_ms AS ms, 1 AS delta FROM e
      |    UNION ALL
      |    SELECT close_ms, -1 FROM e)
      |  GROUP BY ms),
      |lv AS (
      |  SELECT ms, CAST(SUM(net) OVER (ORDER BY ms) AS BIGINT) AS level
      |  FROM deltas)
      |SELECT ms // 86400000 AS day,
      |  MAX(level) AS peak_concurrency, COUNT(*) AS n_changes
      |FROM lv GROUP BY ms // 86400000""".stripMargin

  // ------------------------------------------- q186: session quality

  /** q186: daily session-quality panel — the engagement health metrics over
    * the q71 sessionization: per day (of session start), session count,
    * bounce rate (single-event sessions), events-per-session, and the total
    * and maximum in-session span. Sessions come from the SAME
    * `session_window` operator as q71 (streaming-portable semantics); the
    * in-session span subtracts the 30-minute gap padding session_window
    * appends to the last event, recovering max(ts) − min(ts) exactly.
    * Shares and means are exact integer e6/e3 divisions on nonnegative
    * operands (Spark DIV ≡ DuckDB // there). One user-keyed session
    * shuffle + one day rollup — the q71 scale posture.
    */
  val q186SessionQuality: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val sess = e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        expr("unix_millis(session_window.start) DIV 86400000").as("day"),
        (unix_millis(col("session_window.end")) - lit(1800000L) -
          unix_millis(col("session_window.start"))).as("span_ms"),
        col("n_events"))
    sess.groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum((col("n_events") === 1).cast("long")).as("n_bounces"),
        sum(col("n_events")).as("n_events"),
        sum(col("span_ms")).as("total_span_ms"),
        max(col("span_ms")).as("max_span_ms"))
      .withColumn("bounce_share_e6",
        expr("n_bounces * 1000000 DIV n_sessions"))
      .withColumn("events_per_session_e3",
        expr("n_events * 1000 DIV n_sessions"))
  }

  val q186Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |sess AS (
      |  SELECT epoch_ms(MIN(ts)) // 86400000 AS day,
      |    epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS span_ms,
      |    COUNT(*) AS n_events
      |  FROM numbered GROUP BY user_id, session_id)
      |SELECT day, COUNT(*) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  CAST(SUM(span_ms) AS BIGINT) AS total_span_ms,
      |  MAX(span_ms) AS max_span_ms,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
      |    AS BIGINT) AS bounce_share_e6,
      |  CAST(SUM(n_events) * 1000 // COUNT(*) AS BIGINT) AS events_per_session_e3
      |FROM sess GROUP BY day""".stripMargin

  // ------------------------------------------- q187: time to repeat purchase

  /** q187: time-to-repeat-purchase — the loyalty-loop metric: among users
    * whose first purchase falls in each epoch-week cohort, how many ever
    * purchase again, and how fast? One user-keyed window pass ranks each
    * user's purchases (ts then event_id for determinism); rows 1 and 2
    * pivot to first/second timestamps via a conditional aggregate (no
    * self-join), and the gap quartiles are percentile_disc over exact
    * whole-day integers — actual sample members, bit-portable. Scale: the
    * window partitions by user_id (millions of independent partitions) and
    * the final rollup is |cohorts| rows.
    */
  val q187TimeToRepeat: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val firstTwo = p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("user_id"))
      .agg(min(when(col("rn") === 1, col("ms"))).as("ms1"),
        min(when(col("rn") === 2, col("ms"))).as("ms2"))
      .select(expr("ms1 DIV 604800000").as("cohort_week"),
        expr("(ms2 - ms1) DIV 86400000").as("gap_days"))
    firstTwo.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_buyers"),
        sum(col("gap_days").isNotNull.cast("long")).as("n_repeat"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY gap_days)")
          .cast("long").as("gap_q1_days"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days)")
          .cast("long").as("gap_median_days"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY gap_days)")
          .cast("long").as("gap_q3_days"))
      .withColumn("repeat_share_e6", expr("n_repeat * 1000000 DIV n_buyers"))
  }

  val q187Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events WHERE event_type = 'purchase'),
      |ft AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN rn = 1 THEN ms END) AS ms1,
      |    MIN(CASE WHEN rn = 2 THEN ms END) AS ms2
      |  FROM p WHERE rn <= 2 GROUP BY user_id),
      |gaps AS (
      |  SELECT ms1 // 604800000 AS cohort_week,
      |    (ms2 - ms1) // 86400000 AS gap_days
      |  FROM ft)
      |SELECT cohort_week, COUNT(*) AS n_buyers,
      |  CAST(SUM(CASE WHEN gap_days IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repeat,
      |  percentile_disc(0.25) WITHIN GROUP (ORDER BY gap_days) AS gap_q1_days,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days) AS gap_median_days,
      |  percentile_disc(0.75) WITHIN GROUP (ORDER BY gap_days) AS gap_q3_days,
      |  CAST(SUM(CASE WHEN gap_days IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS repeat_share_e6
      |FROM gaps GROUP BY cohort_week""".stripMargin

  // ------------------------------------------- q195: discrete hazard curve

  /** Inactivity horizon that classifies a user as churned: no events in the
    * final [[ChurnHorizonWeeks]] weeks of the corpus ⇒ their last event was
    * their exit; later-active users are right-censored, not churned.
    */
  val ChurnHorizonWeeks = 4L

  /** q195: discrete survival analysis — the churn hazard by tenure week
    * (the life-table / Kaplan-Meier denominator machinery, kept in exact
    * rationals instead of the non-portable cumulative float product):
    * each user contributes an observation window from first to last event;
    * users silent through the corpus-final [[ChurnHorizonWeeks]] churned
    * AT their last-event tenure week, the rest are right-censored there.
    * hazard(w) = churns(w) / at-risk(w), where at-risk(w) is the suffix
    * count of users whose observation reaches week w — one descending
    * running sum over the |weeks|-sized rollup, after ONE user-keyed
    * aggregation over the event stream. The week spine rides a sequence
    * explode off the scalar max so quiet weeks still report their at-risk
    * denominator. Exact integers end to end.
    */
  val q195HazardCurve: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wk = 604800000L
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
    val users = e.groupBy(col("user_id"))
      .agg(min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"))
    val endSc = e.agg(max(col("ms")).as("corpus_end"))
    val classified = users.crossJoin(broadcast(endSc))
      .select(expr(s"(last_ms - first_ms) DIV $wk").as("end_week"),
        (col("last_ms") + lit(ChurnHorizonWeeks * wk) <= col("corpus_end"))
          .cast("long").as("churned"))
    val ends = classified.groupBy(col("end_week"))
      .agg(count(lit(1)).as("n_end"), sum(col("churned")).as("n_churned"))
    val spine = ends.agg(max(col("end_week")).as("mx"))
      .select(explode(sequence(lit(0L), col("mx"))).as("week"))
    val suffix = Window.orderBy(col("week").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(ends, spine("week") === ends("end_week"), "left")
      .select(col("week"),
        coalesce(col("n_end"), lit(0L)).as("n_end"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("n_at_risk", sum(col("n_end")).over(suffix))
      .withColumn("hazard_e6", expr("n_churned * 1000000 DIV n_at_risk"))
      .select(col("week"), col("n_at_risk"), col("n_churned"), col("hazard_e6"))
  }

  val q195Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |users AS (
      |  SELECT user_id, MIN(ms) AS first_ms, MAX(ms) AS last_ms
      |  FROM e GROUP BY user_id),
      |sc AS (SELECT MAX(ms) AS corpus_end FROM e),
      |classified AS (
      |  SELECT (last_ms - first_ms) // 604800000 AS end_week,
      |    CASE WHEN last_ms + ${ChurnHorizonWeeks * 604800000L} <= corpus_end
      |         THEN 1 ELSE 0 END AS churned
      |  FROM users, sc),
      |ends AS (
      |  SELECT end_week, COUNT(*) AS n_end,
      |    CAST(SUM(churned) AS BIGINT) AS n_churned
      |  FROM classified GROUP BY end_week),
      |spine AS (
      |  SELECT UNNEST(GENERATE_SERIES(0, (SELECT MAX(end_week) FROM ends)))
      |    AS week),
      |filled AS (
      |  SELECT week, COALESCE(n_end, 0) AS n_end,
      |    COALESCE(n_churned, 0) AS n_churned
      |  FROM spine LEFT JOIN ends ON week = end_week)
      |SELECT week, CAST(SUM(n_end) OVER (ORDER BY week DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_at_risk,
      |  CAST(n_churned AS BIGINT) AS n_churned,
      |  CAST(n_churned * 1000000 // (SUM(n_end) OVER (ORDER BY week DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
      |    AS hazard_e6
      |FROM filled""".stripMargin

  // ------------------------------------------- q196: transition dwell times

  /** q196: dwell-time distribution per event-type transition — the
    * time-in-state decoration of the q108 Markov matrix: for every
    * (from, to) transition, how long does the user sit in `from` before
    * moving? Same single lead-window pass as q108 (ts then event_id
    * tie-break), dwell in exact whole seconds, and the distribution
    * reported as count, median and p90 via percentile_disc over exact
    * integers — actual sample members, bit-portable. One user-keyed
    * window shuffle plus one (from, to) rollup.
    */
  val q196DwellTimes: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("to_ms", lead(col("ms"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"),
        expr("(to_ms - ms) DIV 1000").as("dwell_s"))
    e.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("dwell_s")).as("total_dwell_s"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_s)")
          .cast("long").as("median_dwell_s"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_s)")
          .cast("long").as("p90_dwell_s"))
  }

  val q196Sql: String =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER w AS to_type,
      |    (LEAD(epoch_ms(ts)) OVER w - epoch_ms(ts)) // 1000 AS dwell_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT from_type, to_type, COUNT(*) AS n_transitions,
      |  CAST(SUM(dwell_s) AS BIGINT) AS total_dwell_s,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY dwell_s) AS median_dwell_s,
      |  percentile_disc(0.9) WITHIN GROUP (ORDER BY dwell_s) AS p90_dwell_s
      |FROM t WHERE to_type IS NOT NULL
      |GROUP BY from_type, to_type""".stripMargin

  /** Gaps-and-islands session ids (q71 semantics: 30-minute gap,
    * (ts, event_id) order) appended as `sid` — the ONE definition of "a
    * session" shared by every operator that cannot use session_window
    * directly (q200's per-type extremes, q210's flow edges). Input must
    * carry user_id, ts, event_id and a millisecond `ms` column.
    */
  private def withSessionIds(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    df.withColumn("new_session",
        when(col("ms") - lag(col("ms"), 1).over(wOrd) >= 1800000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_session")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("new_session")
  }

  // ------------------------------------------- q210: session flow edges

  /** q210: session-flow (Sankey) edge list — every user journey rendered
    * as a weighted graph: virtual START → first event, each adjacent
    * in-session transition, and last event → virtual END, with flow
    * counts per edge. This is q108's transition matrix extended with the
    * entry/exit masses a flow diagram needs (where journeys begin,
    * where they die). Sessionization is q71's gaps-and-islands; ONE
    * ordered window pass yields both the lead edge and (via rn = 1) the
    * START edge, so the event stream is scanned once. Flow conservation
    * — in-flow = out-flow at every interior node — is the QueriesSpec
    * invariant.
    */
  val q210SessionFlows: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val sess = withSessionIds(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        unix_millis(col("ts")).as("ms")))
    val wSess = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val edged = sess
      .withColumn("nxt", lead(col("event_type"), 1).over(wSess))
      .withColumn("rn", row_number().over(wSess))
    val transitions = edged.select(col("event_type").as("from_node"),
      coalesce(col("nxt"), lit("END")).as("to_node"))
    val starts = edged.filter(col("rn") === 1)
      .select(lit("START").as("from_node"), col("event_type").as("to_node"))
    transitions.unionByName(starts)
      .groupBy(col("from_node"), col("to_node"))
      .agg(count(lit(1)).as("n_flows"))
  }

  val q210Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_type, event_id,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts, event_type, event_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |edged AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER w AS nxt,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM numbered
      |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)),
      |flows AS (
      |  SELECT event_type AS from_node, COALESCE(nxt, 'END') AS to_node
      |  FROM edged
      |  UNION ALL
      |  SELECT 'START', event_type FROM edged WHERE rn = 1)
      |SELECT from_node, to_node, COUNT(*) AS n_flows
      |FROM flows GROUP BY from_node, to_node""".stripMargin

  // ------------------------- q204: attribution-window sensitivity

  /** q204: attribution-window sensitivity — the robustness check every
    * attribution report needs before anyone trusts q128's single-window
    * number: the SAME last-touch derivation (q128's packed
    * timestamp·4+channel key, one user-keyed window pass), but each
    * purchase is scored against three lookback windows at once (1 h, 6 h,
    * 24 h) via conditional aggregation — one event scan total, not one
    * per window. Output per touch channel: attributed purchases and
    * revenue under each window; a channel whose numbers swing hard across
    * windows is riding stale touches.
    */
  val q204AttributionSensitivity: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val tkey = when(col("event_type") === "click", unix_millis(col("ts")) * 4 + 1)
      .when(col("event_type") === "view", unix_millis(col("ts")) * 4 + 2)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attr = e.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"), tkey.as("tkey"))
      .withColumn("attr_key", max(col("tkey")).over(w))
      .filter(col("event_type") === "purchase" && col("attr_key").isNotNull)
      .select(
        when(col("attr_key") % 4 === 1, "click").otherwise("view").as("channel"),
        (unix_millis(col("ts")) - expr("attr_key div 4")).as("lat_ms"),
        cents(col("value")).as("v_c"))
    def win(ms: Long, tag: String) = Seq(
      sum((col("lat_ms") <= ms).cast("long")).as(s"n_$tag"),
      sum(when(col("lat_ms") <= ms, col("v_c")).otherwise(0L)).as(s"rev_${tag}_c"))
    attr.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touched"),
        (win(3600000L, "1h") ++ win(21600000L, "6h") ++
          win(86400000L, "24h")): _*)
  }

  val q204Sql: String =
    """WITH keyed AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type = 'click' THEN epoch_ms(ts) * 4 + 1
      |         WHEN event_type = 'view'  THEN epoch_ms(ts) * 4 + 2 END AS tkey
      |  FROM events),
      |attr AS (
      |  SELECT *, MAX(tkey) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_key
      |  FROM keyed),
      |p AS (
      |  SELECT CASE WHEN attr_key % 4 = 1 THEN 'click' ELSE 'view' END AS channel,
      |    epoch_ms(ts) - attr_key // 4 AS lat_ms,
      |    CAST(ROUND(value*100) AS BIGINT) AS v_c
      |  FROM attr WHERE event_type = 'purchase' AND attr_key IS NOT NULL)
      |SELECT channel, COUNT(*) AS n_touched,
      |  CAST(SUM(CASE WHEN lat_ms <= 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
      |  CAST(SUM(CASE WHEN lat_ms <= 3600000 THEN v_c ELSE 0 END) AS BIGINT) AS rev_1h_c,
      |  CAST(SUM(CASE WHEN lat_ms <= 21600000 THEN 1 ELSE 0 END) AS BIGINT) AS n_6h,
      |  CAST(SUM(CASE WHEN lat_ms <= 21600000 THEN v_c ELSE 0 END) AS BIGINT) AS rev_6h_c,
      |  CAST(SUM(CASE WHEN lat_ms <= 86400000 THEN 1 ELSE 0 END) AS BIGINT) AS n_24h,
      |  CAST(SUM(CASE WHEN lat_ms <= 86400000 THEN v_c ELSE 0 END) AS BIGINT) AS rev_24h_c
      |FROM p GROUP BY channel""".stripMargin

  // ------------------------------------------- q203: CUPED adjustment

  /** Pre-period length in days for the q203 covariate window. */
  val CupedPreDays = 14L

  /** q203: CUPED variance reduction for the A/B readout — the standard
    * experimentation upgrade over q127's raw comparison: each user's
    * PRE-period revenue (first [[CupedPreDays]] observed days) is the
    * covariate x, their post-period revenue the metric y, and the
    * adjusted metric y − θ·(x − x̄) with θ = cov(x,y)/var(x) removes the
    * variance x explains. θ and the correlation come from EXACT integer
    * co-moments in DECIMAL(38,0) (the q117 machinery — never streaming
    * float covariances), pooled across variants as the method requires
    * (assignment ⊥ x, so pooling biases nothing); every reported double
    * is a fixed IEEE expression over those sums, mirrored operation for
    * operation in the oracle. One user rollup, one 2-row variant rollup,
    * one broadcast scalar stitch. Also reports var_reduction = ρ²(x,y) —
    * the fraction of metric variance CUPED removes.
    */
  val q203Cuped: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val d0 = e.agg(min(col("day")).as("d0"))
    val isPurch = col("event_type") === "purchase"
    val users = e.crossJoin(broadcast(d0))
      .groupBy(col("user_id"))
      .agg(sum(when(isPurch && col("day") < col("d0") + CupedPreDays,
          cents(col("value"))).otherwise(0L)).as("x_c"),
        sum(when(isPurch && col("day") >= col("d0") + CupedPreDays,
          cents(col("value"))).otherwise(0L)).as("y_c"))
      .withColumn("variant",
        when(graft.functions.Text.portableHash(
          col("user_id").cast("string")) % 2 === 0, "A").otherwise("B"))
    // cast BEFORE multiplying: x_c/y_c are per-USER sums, so Long×Long
    // products wrap at scale while the oracle multiplies in HUGEINT
    val mo = users.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x_c").cast(dec)).as("sx"),
      sum(col("y_c").cast(dec)).as("sy"),
      sum(col("x_c").cast(dec) * col("y_c").cast(dec)).as("sxy"),
      sum(col("x_c").cast(dec) * col("x_c").cast(dec)).as("sxx"),
      sum(col("y_c").cast(dec) * col("y_c").cast(dec)).as("syy"))
    val a = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val b = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val c = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val scalars = mo.select(
      (a / b).as("theta"),
      (col("sx").cast("double") / col("n").cast("double")).as("mean_x_glob"),
      ((a / b) * (a / c)).as("var_reduction"))
    users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x_c")).as("sx_v"), sum(col("y_c")).as("sy_v"))
      .crossJoin(broadcast(scalars))
      .select(col("variant"), col("n_users"),
        (col("sy_v").cast("double") / col("n_users")).as("mean_y_c"),
        ((col("sy_v").cast("double") / col("n_users")) -
          col("theta") * ((col("sx_v").cast("double") / col("n_users")) -
            col("mean_x_glob"))).as("mean_y_adj_c"),
        col("theta"), col("var_reduction"))
  }

  val q203Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type, value,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |d0 AS (SELECT MIN(day) AS d0 FROM e),
      |users AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase' AND day < d0 + $CupedPreDays
      |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS x_c,
      |    SUM(CASE WHEN event_type = 'purchase' AND day >= d0 + $CupedPreDays
      |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS y_c,
      |    CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      |  FROM e, d0 GROUP BY user_id, variant),
      |mo AS (
      |  SELECT COUNT(*) AS n, SUM(x_c) AS sx, SUM(y_c) AS sy,
      |    SUM(CAST(x_c AS HUGEINT) * y_c) AS sxy,
      |    SUM(CAST(x_c AS HUGEINT) * x_c) AS sxx,
      |    SUM(CAST(y_c AS HUGEINT) * y_c) AS syy
      |  FROM users),
      |sc AS (
      |  SELECT
      |    CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS theta,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(n AS VARCHAR) AS DOUBLE) AS mean_x_glob,
      |    (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)) *
      |    (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
      |      CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS var_reduction
      |  FROM mo)
      |SELECT variant, COUNT(*) AS n_users,
      |  CAST(CAST(SUM(y_c) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_y_c,
      |  (CAST(CAST(SUM(y_c) AS VARCHAR) AS DOUBLE) / COUNT(*)) -
      |    theta * ((CAST(CAST(SUM(x_c) AS VARCHAR) AS DOUBLE) / COUNT(*)) -
      |      mean_x_glob) AS mean_y_adj_c,
      |  theta, var_reduction
      |FROM users, sc GROUP BY variant, theta, mean_x_glob, var_reduction""".stripMargin

  // --------------------------------------- q201: resurrection accounting

  /** Absence horizon (days) past which a returning user counts as
    * RESURRECTED rather than retained.
    */
  val ResurrectDays = 28L

  /** q201: growth accounting with resurrection — q110's new/returning
    * split refined into the full active-side state machine: on each
    * active day a user is NEW (first day ever), RETAINED (previous
    * active day within [[ResurrectDays]]), or RESURRECTED (returned
    * after a longer absence) — the standard growth-accounting states.
    * One lag window over the deduplicated user-day rollup (the q110/q137
    * posture: windows never see raw events), classification by exact
    * day arithmetic, and a day rollup whose three states tile
    * active_users exactly.
    */
  val q201Resurrection: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("prev_day", lag(col("day"), 1).over(w))
      .select(col("day"),
        when(col("prev_day").isNull, "new")
          .when(col("day") - col("prev_day") > ResurrectDays, "resurrected")
          .otherwise("retained").as("state"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        sum((col("state") === "new").cast("long")).as("new_users"),
        sum((col("state") === "retained").cast("long")).as("retained_users"),
        sum((col("state") === "resurrected").cast("long"))
          .as("resurrected_users"))
  }

  val q201Sql: String =
    s"""WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |st AS (
      |  SELECT day,
      |    CASE WHEN prev_day IS NULL THEN 'new'
      |         WHEN day - prev_day > $ResurrectDays THEN 'resurrected'
      |         ELSE 'retained' END AS state
      |  FROM (SELECT day,
      |          LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
      |        FROM days) t)
      |SELECT day, COUNT(*) AS active_users,
      |  CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS new_users,
      |  CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS retained_users,
      |  CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS resurrected_users
      |FROM st GROUP BY day""".stripMargin

  // ------------------------------------------- q200: sequential patterns

  /** q200: sequential pattern mining over sessions — for every ordered
    * event-type pair (a → b), in how many sessions does SOME a-occurrence
    * precede SOME b-occurrence (the "eventually follows" relation of
    * classic sequence mining — not adjacency, which is q111's trigram
    * view)? Sessions are the q71 gaps-and-islands; the eventually-follows
    * test per session reduces to first(a) < last(b) over the per-type
    * (ms, event_id) extremes — so a session contributes ONE row per type,
    * not per event, and the pair enumeration is the grouped in-place
    * generator over the ≤|event-types| per-session type list (fan-out
    * bounded by the type alphabet squared, both orders kept since the
    * relation is asymmetric). support = sessions containing a→b;
    * confidence = support / sessions containing a, an exact e6 division.
    */
  val q200SequencePatterns: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"), col("event_id"), col("ts"))
    // q71-identical sessionization, but as explicit gaps-and-islands: a
    // session_window grouped WITH event_type would sessionize per type
    val sess = withSessionIds(e)
      .groupBy(col("user_id"), col("sid"), col("event_type"))
      .agg(min(struct(col("ms"), col("event_id"))).as("first_occ"),
        max(struct(col("ms"), col("event_id"))).as("last_occ"))
      .localCheckpoint() // feeds the pair stream AND the per-type counts
    val perSession = sess.groupBy(col("user_id"), col("sid"))
      .agg(sort_array(collect_list(struct(col("event_type").as("t"),
        col("first_occ"), col("last_occ")))).as("types"))
    // both orders of every type pair: the relation is asymmetric
    val pairs = perSession.select(
        graft.functions.Pairs.inPlace(col("types"), (x, y) =>
          array(
            struct(x.getField("t").as("a"), y.getField("t").as("b"),
              (x.getField("first_occ") < y.getField("last_occ")).as("holds")),
            struct(y.getField("t").as("a"), x.getField("t").as("b"),
              (y.getField("first_occ") < x.getField("last_occ")).as("holds"))))
          .as("pp"))
      .select(explode(col("pp")).as("p"))
      .select(col("p.a"), col("p.b"), col("p.holds").cast("long").as("holds"))
    val typeSessions = sess.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sessions_with"))
    val nSessions = perSession.select(count(lit(1)).as("n_sessions"))
    pairs.groupBy(col("a"), col("b"))
      .agg(sum(col("holds")).as("support"))
      .filter(col("support") > 0)
      .join(typeSessions.select(col("event_type").as("a"),
        col("n_sessions_with").as("n_with_a")), "a")
      .crossJoin(broadcast(nSessions))
      .select(col("a"), col("b"), col("support"), col("n_with_a"),
        col("n_sessions"),
        expr("support * 1000000 DIV n_with_a").as("confidence_e6"),
        expr("support * 1000000 DIV n_sessions").as("support_share_e6"))
  }

  val q200Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_type, event_id, epoch_ms(ts) AS ms,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, event_type, ms, event_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |per_type AS (
      |  SELECT user_id, sid, event_type,
      |    MIN(ROW(ms, event_id)) AS first_occ,
      |    MAX(ROW(ms, event_id)) AS last_occ
      |  FROM numbered GROUP BY user_id, sid, event_type),
      |pairs AS (
      |  SELECT x.event_type AS a, y.event_type AS b,
      |    CASE WHEN x.first_occ < y.last_occ THEN 1 ELSE 0 END AS holds
      |  FROM per_type x JOIN per_type y
      |    ON x.user_id = y.user_id AND x.sid = y.sid
      |   AND x.event_type <> y.event_type),
      |sup AS (
      |  SELECT a, b, CAST(SUM(holds) AS BIGINT) AS support
      |  FROM pairs GROUP BY a, b HAVING SUM(holds) > 0),
      |with_a AS (
      |  SELECT event_type AS a, COUNT(*) AS n_with_a FROM per_type GROUP BY 1),
      |sc AS (
      |  SELECT COUNT(*) AS n_sessions
      |  FROM (SELECT DISTINCT user_id, sid FROM numbered) t)
      |SELECT a, b, support, n_with_a, n_sessions,
      |  CAST(support * 1000000 // n_with_a AS BIGINT) AS confidence_e6,
      |  CAST(support * 1000000 // n_sessions AS BIGINT) AS support_share_e6
      |FROM sup JOIN with_a USING (a), sc""".stripMargin

  // ------------------------------------------- q138: exact heavy hitters

  /** Misra-Gries summary size; guarantees candidates ⊇ items above
    * 1/(HeavyK+1) frequency, so any threshold 1/HeavyFrac with
    * HeavyFrac < HeavyK+1 is exact after the recount.
    */
  val HeavyK = 256
  /** Heavy-hitter threshold denominator: report items with ≥ N/HeavyFrac
    * occurrences.
    */
  val HeavyFrac = 128

  /** Exact φ-heavy hitters (φ = 1/128) in two bounded passes — the only
    * shape that survives a key column with billions of distinct values,
    * where the naive GROUP BY key HAVING count ≥ φN shuffles one row per
    * distinct key. Pass 1: a Misra-Gries candidate summary
    * ([[graft.plans.FrequentItemsAgg]]) — O(k) state per map partition,
    * map-side combinable, shuffles ≤ k rows per partition, provably a
    * superset of every φ-heavy hitter for φ > 1/(k+1); the grand total
    * rides the same aggregate. Pass 2: exact recount of candidate keys
    * only, behind a broadcast semi-join, so the second shuffle carries just
    * the ≤ k surviving keys. The result is EXACT — the DuckDB oracle is the
    * naive full GROUP BY — because the superset guarantee means no
    * qualifying key can be missing and the recount removes false positives.
    */
  val q138HeavyHitters: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val cands = e.agg(
      graft.functions.Sampling.frequentCandidates(col("user_id"), HeavyK)
        .as("cand"),
      count(lit(1)).as("total"))
    val candKeys = cands.select(explode(col("cand")).as("user_id"),
      col("total"))
    e.join(broadcast(candKeys), Seq("user_id"))
      .groupBy(col("user_id"), col("total"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") * HeavyFrac >= col("total"))
      .select(col("user_id"), col("n_events"))
  }

  val q138Sql: String =
    s"""WITH c AS (
      |  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
      |t AS (SELECT COUNT(*) AS total FROM events)
      |SELECT user_id, n_events FROM c, t
      |WHERE n_events * $HeavyFrac >= total""".stripMargin

  // ------------------------------------------- q144: time-decayed value

  /** Decay floor: purchases older than this many weeks all carry the
    * minimum weight 1/2^DecayCapWeeks (never zero — the standard
    * exponential-recency floor).
    */
  val DecayCapWeeks = 8

  /** Recency-weighted customer value — exponential decay with a one-week
    * half-life, computed EXACTLY: the weight for age a weeks is the dyadic
    * rational 2^-min(a,8), so the numerator Σ value_c · 2^(8−min(a,8)) is
    * an exact int64 (weights are integer 1..256) and the final /256.0 is
    * one exact IEEE scale by a power of two — both engines produce the
    * bit-identical double with no libm exp() anywhere. The generic e^−λt
    * formulation is NOT reproducible across engines (libm transcendentals
    * differ); restricting half-lives to week granularity turns decay into
    * shifts. One groupBy shuffle keyed by user; the reference "now" rides a
    * broadcast scalar.
    */
  val q144DecayedValue: Q = (s, dir) => {
    val e = Tables.events(s, dir).filter(col("event_type") === "purchase")
    val mx = e.agg(max(expr("unix_timestamp(ts) DIV 86400")).as("maxday"))
    e.select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"),
        cents(col("value")).as("v_c"))
      .join(broadcast(mx))
      .withColumn("wt", expr(
        s"""shiftleft(cast(1 as bigint), cast($DecayCapWeeks -
           | least((maxday - day) DIV 7, $DecayCapWeeks) as int))""".stripMargin))
      .groupBy(col("user_id"))
      .agg(sum(col("v_c") * col("wt")).as("decayed_256ths"),
        sum(col("v_c")).as("total_c"))
      .select(col("user_id"), col("decayed_256ths"),
        (col("decayed_256ths").cast("double") / (1L << DecayCapWeeks))
          .as("decayed_c"),
        col("total_c"))
  }

  val q144Sql: String =
    s"""WITH mx AS (
      |  SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS maxday
      |  FROM events WHERE event_type = 'purchase'),
      |p AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v_c,
      |    (CAST(1 AS BIGINT) << CAST($DecayCapWeeks - LEAST(
      |      (maxday - CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) // 7,
      |      $DecayCapWeeks) AS INT)) AS wt
      |  FROM events, mx WHERE event_type = 'purchase')
      |SELECT user_id,
      |  CAST(SUM(v_c * wt) AS BIGINT) AS decayed_256ths,
      |  CAST(CAST(SUM(v_c * wt) AS BIGINT) AS DOUBLE) / ${1L << DecayCapWeeks}
      |    AS decayed_c,
      |  CAST(SUM(v_c) AS BIGINT) AS total_c
      |FROM p GROUP BY user_id""".stripMargin

  // ------------------------------------------- q147: time-weighted average

  /** Time-weighted average purchase value per user — the step-function
    * integral (TWAP) that a plain AVG gets wrong whenever observations are
    * irregularly spaced: each observation holds until the next one, so its
    * weight is its segment DURATION. One lead-window pass builds the
    * segments (ts ties broken by event_id, zero-duration segments weigh
    * zero), the numerator Σ value_c · dur_ms accumulates in DECIMAL(38,0)
    * (cents × a month of milliseconds overflows int64 only past ~10⁵
    * segments/user — the q117 accumulation rule), and the final statistic
    * is ONE IEEE division of two exactly-converted int64s, so the double
    * is bit-portable. Users whose observations all share one timestamp
    * have no integrable span and are excluded (dur_total = 0).
    */
  val q147Twap: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        cents(col("value")).as("v_c"))
      .withColumn("next_ms", lead(unix_millis(col("ts")), 1).over(w))
      .filter(col("next_ms").isNotNull)
      .select(col("user_id"), col("v_c"),
        (col("next_ms") - unix_millis(col("ts"))).as("dur_ms"))
      .groupBy(col("user_id"))
      .agg(sum(col("v_c").cast("decimal(38,0)") * col("dur_ms")).as("numd"),
        sum(col("dur_ms")).as("dur_total_ms"))
      .filter(col("dur_total_ms") > 0)
      .select(col("user_id"),
        col("numd").cast("long").as("twap_num"),
        col("dur_total_ms"),
        (col("numd").cast("long").cast("double") /
          col("dur_total_ms").cast("double")).as("twap_c"))
  }

  val q147Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    CAST(ROUND(value*100) AS BIGINT) AS v_c,
      |    LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next_ms
      |  FROM events WHERE event_type = 'purchase'),
      |seg AS (
      |  SELECT user_id, v_c, next_ms - ms AS dur_ms
      |  FROM p WHERE next_ms IS NOT NULL)
      |SELECT user_id,
      |  CAST(SUM(CAST(v_c AS HUGEINT) * dur_ms) AS BIGINT) AS twap_num,
      |  CAST(SUM(dur_ms) AS BIGINT) AS dur_total_ms,
      |  CAST(CAST(SUM(CAST(v_c AS HUGEINT) * dur_ms) AS BIGINT) AS DOUBLE) /
      |    CAST(CAST(SUM(dur_ms) AS BIGINT) AS DOUBLE) AS twap_c
      |FROM seg GROUP BY user_id
      |HAVING SUM(dur_ms) > 0""".stripMargin

  // ------------------------------------------- q148: MAD robust outliers

  /** Robust outlier screen per event type: median and MAD (median absolute
    * deviation) instead of mean/stddev — the estimators a heavy-tailed or
    * corrupted column cannot drag (q120's 2σ rule breaks down exactly when
    * outliers inflate σ itself; MAD has a 50% breakdown point). Both
    * medians are percentile_disc over exact integer cents — actual members
    * of the data, bit-portable — and the outlier test |x−med| > 3·1.4826·MAD
    * cross-multiplies to the exact integer comparison
    * 10000·|x−med| > 44478·MAD (3·1.4826 = 4.4478 exactly, as rationals),
    * so the flagged count is exact in both engines. Two grouped percentile passes plus one conditional count —
    * three scans of the (tiny) per-type groups' deviations, all shuffles
    * keyed by event_type.
    */
  val q148MadOutliers: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("event_type"), cents(col("value")).as("v_c"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v_c)")
        .cast("long").as("median_c"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("v_c") - col("median_c")))
    val mad = dev.groupBy(col("event_type"), col("median_c"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .cast("long").as("mad_c"))
    // outlier iff |x − med| > 3 · 1.4826 · MAD ⇔ 10000·|x−med| > 44478·MAD
    dev.select(col("event_type"), col("v_c"))
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("median_c"), col("mad_c"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("v_c") - col("median_c")) * 10000L >
          col("mad_c") * 44478L, 1L).otherwise(0L)).as("n_outliers"))
  }

  val q148Sql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v_c
      |  FROM events),
      |med AS (
      |  SELECT event_type,
      |    percentile_disc(0.5) WITHIN GROUP (ORDER BY v_c) AS median_c
      |  FROM v GROUP BY event_type),
      |dev AS (
      |  SELECT v.event_type, v_c, median_c, ABS(v_c - median_c) AS adev
      |  FROM v JOIN med ON v.event_type = med.event_type),
      |mad AS (
      |  SELECT event_type, median_c,
      |    percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad_c
      |  FROM dev GROUP BY event_type, median_c)
      |SELECT d.event_type, d.median_c, m.mad_c, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN ABS(v_c - d.median_c) * 10000 > m.mad_c * 44478
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m ON d.event_type = m.event_type
      |GROUP BY d.event_type, d.median_c, m.mad_c""".stripMargin

  // ------------------------------------------- q151: SCD-2 rebuild from log

  /** q151: rebuild an SCD-2 validity history from the raw event log — the
    * set-based complement to [[graft.operators.Scd2.applyUpdates]] (which
    * merges one incremental batch): collapse each user's event stream into
    * maximal runs of constant state (event_type as the tracked attribute)
    * and emit one versioned row per run with end-exclusive
    * [valid_from, valid_to) bounds, the open run closed by the end-of-time
    * sentinel. The gaps-and-islands pattern: a lag-change flag, a running
    * change count as the version number, a per-(user, version) rollup, and
    * a lead for the closing bound — two window passes and one aggregation,
    * all partitioned by user (ONE shuffle on user_id; at 100 TB each user's
    * history is small, so no per-partition memory hazard, and a skewed
    * power-user key degrades one window task, not the plan).
    *
    * The open run's valid_to is NULL, not the reference's '9999-12-31'
    * sentinel ([[graft.operators.Scd2.EndOfTime]]): year 9999 is outside
    * the int64 nanosecond timestamp range (max 2262-04-11), so any
    * ns-precision consumer would silently wrap it; NULL is the portable
    * open-interval encoding (and the other common SCD-2 convention).
    */
  val q151ScdRebuild: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Tables.events(s, dir)
      .withColumn("prev", lag(col("event_type"), 1).over(byTs))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = e.groupBy(col("user_id"), col("version"))
      .agg(first(col("event_type")).as("state"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs.select(col("user_id"), col("version"), col("state"),
      col("valid_from"),
      lead(col("valid_from"), 1).over(byVer).as("valid_to"),
      col("n_events"))
  }

  val q151Sql: String =
    s"""WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN LAG(event_type) OVER w IS NULL
      |           OR LAG(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |versioned AS (
      |  SELECT user_id, ts, event_type,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS version
      |  FROM flagged),
      |runs AS (
      |  SELECT user_id, version, MIN(event_type) AS state,
      |    MIN(ts) AS valid_from, COUNT(*) AS n_events
      |  FROM versioned GROUP BY user_id, version)
      |SELECT user_id, CAST(version AS BIGINT) AS version, state, valid_from,
      |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |    AS valid_to,
      |  n_events
      |FROM runs""".stripMargin

  // ------------------------------------------- q156: interval-union coverage

  /** Attention window each event opens, ms (15 minutes). */
  val CoverageWindowMs = 900000L

  /** q156: interval-union coverage — total attention time per user when
    * every event opens a fixed 15-minute window, with overlapping windows
    * counted ONCE (the interval-union / "merge overlapping intervals"
    * problem: billed machine-uptime, on-call coverage, dwell time). The
    * sweep is the gaps-and-islands shape: per user in event order, a
    * window MAX of all PRIOR interval ends detects whether the current
    * interval extends the running union or opens a new island, the island
    * id is a running flag sum, and each island's contribution is
    * max(end) − min(start) — exact because within an island every interval
    * starts at or before the running max end, so the union is contiguous
    * by construction. Integer-ms arithmetic throughout; one shuffle on
    * user_id, two window passes, one rollup.
    */
  val q156IntervalUnion: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prior = byTs.rowsBetween(Window.unboundedPreceding, -1)
    val run = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_millis(col("ts")).as("s_ms"),
        (unix_millis(col("ts")) + CoverageWindowMs).as("e_ms"))
      .withColumn("prev_max_e", max(col("e_ms")).over(prior))
      .withColumn("new_island",
        when(col("prev_max_e").isNull ||
          col("s_ms") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(run))
    e.groupBy(col("user_id"), col("island"))
      .agg(min(col("s_ms")).as("i_start"), max(col("e_ms")).as("i_end"),
        count(lit(1)).as("n_ev"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_ms"),
        sum(col("n_ev")).as("n_events"))
  }

  val q156Sql: String =
    s"""WITH iv AS (
      |  SELECT user_id, ts, event_id, epoch_ms(ts) AS s_ms,
      |    epoch_ms(ts) + $CoverageWindowMs AS e_ms
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |    MAX(e_ms) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      |  FROM iv),
      |islands AS (
      |  SELECT *,
      |    CAST(SUM(CASE WHEN prev_max_e IS NULL OR s_ms > prev_max_e
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS island
      |  FROM flagged),
      |per_island AS (
      |  SELECT user_id, island, MIN(s_ms) AS i_start, MAX(e_ms) AS i_end,
      |    COUNT(*) AS n_ev
      |  FROM islands GROUP BY user_id, island)
      |SELECT user_id, COUNT(*) AS n_islands,
      |  CAST(SUM(i_end - i_start) AS BIGINT) AS covered_ms,
      |  CAST(SUM(n_ev) AS BIGINT) AS n_events
      |FROM per_island GROUP BY user_id""".stripMargin

  // ------------------------------------------- q158: CDC snapshot apply

  /** q158: CDC last-writer-wins snapshot apply — collapse a change-data
    * stream into the current row set, the bread-and-butter warehouse
    * ingestion merge (the reference loads via CTAS + re-insert; the
    * engine-side equivalent of its incremental loads is exactly this
    * collapse). Event types map to ops: signup = insert, click/view/
    * purchase = update, error = delete-marker. Per key, ONE window pass
    * picks the latest op by (ts, event_id) — no self-join, no sort beyond
    * the per-key order — and keys whose latest op is a delete vanish from
    * the snapshot. Emits the surviving current rows with their change
    * counts (the audit column every CDC landing table carries). One
    * shuffle on the key; at 100 TB this is the standard "compact the log
    * into current state" job, and the plan is the one you'd want: shuffle
    * once, window once, filter.
    */
  val q158CdcApply: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        cents(col("value")).as("v_c"))
      .withColumn("rn", row_number().over(byKey))
      .withColumn("n_changes", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        col("ts").as("last_ts"), col("v_c").as("last_value_c"),
        col("n_changes"))
  }

  val q158Sql: String =
    """WITH log AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_type = 'signup' THEN 'I'
      |         WHEN event_type = 'error' THEN 'D'
      |         ELSE 'U' END AS op,
      |    CAST(ROUND(value*100) AS BIGINT) AS v_c,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      |  FROM events)
      |SELECT user_id, op AS last_op, ts AS last_ts, v_c AS last_value_c,
      |  CAST(n_changes AS BIGINT) AS n_changes
      |FROM log WHERE rn = 1 AND op <> 'D'""".stripMargin

  // ------------------------------------------- q161: distribution drift

  /** q161: total-variation distribution drift — does the event-type mix
    * differ between weekday and weekend traffic? The train/serve-skew and
    * corpus-drift monitor every ML pipeline wants, computed without one
    * intermediate float: per-category counts are exact, each category's
    * deviation |cᵢ·M − dᵢ·N| is an exact integer cross-product in
    * DECIMAL(38,0)/HUGEINT, their sum stays exact (no float-summation
    * order anywhere), and TV = Σ|·| / (2·N·M) becomes IEEE only in the
    * final division. Weekday comes from pure epoch-day arithmetic
    * ((day+4) % 7, locale-free, as q121). One scan, one tiny rollup;
    * every per-category row carries the shared exact total so the
    * statistic and its decomposition ship together.
    */
  val q161DriftTv: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val tagged = Tables.events(s, dir)
      .select(col("event_type"),
        when(((expr("unix_timestamp(ts) DIV 86400") + 4) % 7) < 5, 1L)
          .otherwise(0L).as("is_wd"))
    val cells = tagged.groupBy(col("event_type"))
      .agg(sum(col("is_wd")).as("n_wd"),
        sum(lit(1L) - col("is_wd")).as("n_we"))
    val all = Window.partitionBy()
    val t = cells
      .withColumn("tot_wd", sum(col("n_wd")).over(all))
      .withColumn("tot_we", sum(col("n_we")).over(all))
      .withColumn("dev",
        abs(col("n_wd").cast(dec) * col("tot_we").cast(dec) -
          col("n_we").cast(dec) * col("tot_wd").cast(dec)))
      .withColumn("dev_sum", sum(col("dev")).over(all))
    t.select(col("event_type"), col("n_wd"), col("n_we"),
      (col("dev").cast("double") /
        (col("tot_wd").cast(dec) * col("tot_we").cast(dec)).cast("double"))
        .as("contrib"),
      (col("dev_sum").cast("double") /
        (lit(2).cast(dec) * col("tot_wd").cast(dec) * col("tot_we").cast(dec))
          .cast("double")).as("tv_total"))
  }

  val q161Sql: String =
    """WITH tagged AS (
      |  SELECT event_type,
      |    CASE WHEN ((CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 + 4) % 7) < 5
      |      THEN 1 ELSE 0 END AS is_wd
      |  FROM events),
      |cells AS (
      |  SELECT event_type, CAST(SUM(is_wd) AS BIGINT) AS n_wd,
      |    CAST(SUM(1 - is_wd) AS BIGINT) AS n_we
      |  FROM tagged GROUP BY event_type),
      |t AS (
      |  SELECT *,
      |    CAST(SUM(n_wd) OVER () AS BIGINT) AS tot_wd,
      |    CAST(SUM(n_we) OVER () AS BIGINT) AS tot_we,
      |    ABS(CAST(n_wd AS HUGEINT) * CAST(SUM(n_we) OVER () AS HUGEINT) -
      |        CAST(n_we AS HUGEINT) * CAST(SUM(n_wd) OVER () AS HUGEINT))
      |      AS dev
      |  FROM cells),
      |d AS (SELECT *, SUM(dev) OVER () AS dev_sum FROM t)
      |SELECT event_type, n_wd, n_we,
      |  CAST(CAST(dev AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(CAST(tot_wd AS HUGEINT) * CAST(tot_we AS HUGEINT)
      |      AS VARCHAR) AS DOUBLE) AS contrib,
      |  CAST(CAST(dev_sum AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(2 * CAST(tot_wd AS HUGEINT) * CAST(tot_we AS HUGEINT)
      |      AS VARCHAR) AS DOUBLE) AS tv_total
      |FROM d""".stripMargin

  // ------------------------------------------- q162: activity streaks

  /** q162: longest consecutive-day activity streak per user — the
    * engagement metric behind retention dashboards, exact and
    * engine-portable: distinct active epoch-days per user, then the
    * classic "day − row_number() = streak anchor" gaps-and-islands
    * identity (consecutive days share an anchor; any gap shifts it),
    * one rollup per (user, anchor), and a max per user. Pure integer
    * day arithmetic; one shuffle on user_id. The per-user day lists are
    * bounded by the calendar, not the event volume — the distinct step
    * collapses 100 TB of events into at most (users × days) rows.
    */
  val q162Streaks: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))
      .distinct()
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val anchored = days
      .withColumn("anchor", col("day") - row_number().over(byDay))
    anchored.groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  val q162Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |anchored AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS anchor
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, anchor, COUNT(*) AS len
      |  FROM anchored GROUP BY user_id, anchor)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  COUNT(*) AS n_streaks, MAX(len) AS longest_streak
      |FROM streaks GROUP BY user_id""".stripMargin

  // ---------------------------------- q165: Markov next-event prediction

  /** Train/test split boundary for q165 (events span 2024-01: the last
    * third of the month is held out). */
  val MarkovSplit = "2024-01-21"

  /** q165: walk-forward evaluation of the q108 Markov model as a next-event
    * predictor — the "is the transition matrix actually predictive?"
    * question every path-analysis dashboard should answer. Consecutive
    * (prev → next) pairs split leak-free on [[MarkovSplit]]: a pair trains
    * the model only if its NEXT event lands before the boundary (nothing
    * after the boundary influences training), is evaluated only if its
    * PREV event lands on/after it (every prediction uses a model frozen
    * before the input was seen), and boundary-straddling pairs drop from
    * both. The predicted next event per from_type is the train-count argmax
    * (ties break to the lexicographically first to_type).
    *
    * One event pass: the per-user lead window feeds ONE (from, to) rollup
    * carrying both n_train and n_test, the model argmax is a row_number
    * over that |types|²-bounded matrix, and — the trick that avoids a
    * second corpus scan — per-from hits equal the n_test of the argmax
    * cell itself, so accuracy falls out of the same matrix. Exact integer
    * counts; accuracies are single IEEE divisions; overall accuracy rides
    * a whole-frame window over the per-from rollup.
    */
  val q165MarkovEval: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val split = lit(MarkovSplit).cast("timestamp")
    val pairs = Tables.events(s, dir)
      .select(col("event_type").as("from_type"), col("ts"),
        lead(col("event_type"), 1).over(w).as("to_type"),
        lead(col("ts"), 1).over(w).as("to_ts"))
      .filter(col("to_type").isNotNull)
    val matrix = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(sum(when(col("to_ts") < split, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("ts") >= split, 1L).otherwise(0L)).as("n_test"))
    val byFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
      .orderBy(col("n_train").desc, col("to_type"))
    val ranked = matrix.withColumn("rk", row_number().over(byFrom))
    val perFrom = ranked.groupBy(col("from_type"))
      .agg(max(when(col("rk") === 1 && col("n_train") > 0, col("to_type")))
          .as("predicted"),
        sum(col("n_train")).as("n_train"),
        sum(col("n_test")).as("n_test"),
        sum(when(col("rk") === 1 && col("n_train") > 0, col("n_test"))
          .otherwise(0L)).as("n_hit"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    perFrom
      .withColumn("acc", when(col("n_test") > 0,
        col("n_hit").cast("double") / col("n_test")))
      .withColumn("acc_overall",
        sum(col("n_hit")).over(all).cast("double") /
          sum(col("n_test")).over(all))
  }

  val q165Sql: String =
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type, ts,
       |    LEAD(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
       |    LEAD(ts) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS to_ts
       |  FROM events),
       |matrix AS (
       |  SELECT from_type, to_type,
       |    CAST(SUM(CASE WHEN to_ts < TIMESTAMP '$MarkovSplit' THEN 1
       |      ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '$MarkovSplit' THEN 1
       |      ELSE 0 END) AS BIGINT) AS n_test
       |  FROM pairs WHERE to_type IS NOT NULL
       |  GROUP BY from_type, to_type),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY from_type
       |    ORDER BY n_train DESC, to_type) AS rk
       |  FROM matrix),
       |per_from AS (
       |  SELECT from_type,
       |    MAX(CASE WHEN rk = 1 AND n_train > 0 THEN to_type END)
       |      AS predicted,
       |    CAST(SUM(n_train) AS BIGINT) AS n_train,
       |    CAST(SUM(n_test) AS BIGINT) AS n_test,
       |    CAST(SUM(CASE WHEN rk = 1 AND n_train > 0 THEN n_test
       |      ELSE 0 END) AS BIGINT) AS n_hit
       |  FROM ranked GROUP BY from_type)
       |SELECT from_type, predicted, n_train, n_test, n_hit,
       |  CASE WHEN n_test > 0
       |    THEN CAST(n_hit AS DOUBLE) / n_test END AS acc,
       |  CAST(SUM(n_hit) OVER () AS DOUBLE) / SUM(n_test) OVER ()
       |    AS acc_overall
       |FROM per_from""".stripMargin

  // ------------------------------- q167: additive seasonal decomposition

  /** q167: classical additive decomposition of daily purchase revenue —
    * series = trend + seasonal + remainder, the moving-average/
    * seasonal-index construction behind every "is this dip weather or
    * weekday?" dashboard (and the deseasonalized input q130's backtest
    * wants). Trend is the centered 7-day moving average (defined only
    * where all 7 consecutive days exist — a gap or series edge yields
    * NULL, never a silently shorter average); the seasonal index is the
    * per-weekday mean of the detrended series; the remainder is what's
    * left.
    *
    * Exactness: every component is integer micro-cents (e6) derived by
    * truncating division whose operands are kept NON-NEGATIVE by
    * sign-factoring — Spark's `div` truncates toward zero while DuckDB's
    * `//` floors, and they agree only on non-negative operands, so the
    * detrended values (which go negative on below-trend days) never meet
    * a raw engine division. Numerators scale through DECIMAL(38,0):
    * daily_cents × 7 × 1e6 would overflow int64 at ~$13B/day.
    *
    * Plan: the event pass collapses to a |days|-row rollup; the ±3-day
    * window, the 7-row weekday index, and the broadcast join back all run
    * over that rollup — the window's single global order is over days,
    * never events.
    */
  val q167SeasonalDecomp: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(cents(col("value"))).as("v_c"))
    val w7 = W.orderBy(col("day")).rowsBetween(-3, 3)
    // the |days|-row windowed frame feeds both the weekday index and the
    // final join — localCheckpoint so the event pass runs once, not per
    // reference (q100 precedent; at scale: persist the rollup)
    val t = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("span6",
        max(col("day")).over(w7) - min(col("day")).over(w7))
      .withColumn("t7", when(col("n7") === 7L && col("span6") === 6L,
        sum(col("v_c")).over(w7)))
      .withColumn("detr7", lit(7L) * col("v_c") - col("t7"))
      .withColumn("dow", (col("day") + 4) % 7)
      .localCheckpoint()
    val seasonal = t.groupBy(col("dow"))
      .agg(sum(col("detr7").cast(dec)).as("s_sum"),
        count(col("detr7")).as("s_n"))
    t.join(broadcast(seasonal), "dow")
      .withColumn("t7e", col("t7").cast(dec) * lit(1000000L))
      .withColumn("de", col("detr7").cast(dec) * lit(1000000L))
      .withColumn("se", col("s_sum") * lit(1000000L))
      .withColumn("sden", (lit(7L) * col("s_n")).cast(dec))
      .withColumn("trend_e6", expr(sdivDivCasesCast("t7e", "7")))
      .withColumn("seasonal_e6", when(col("s_n") > 0L,
        expr(sdivDivCasesCast("se", "sden"))))
      .withColumn("remainder_e6",
        expr(sdivDivCasesCast("de", "7")) - col("seasonal_e6"))
      .select(col("day"), col("dow"), col("v_c"), col("trend_e6"),
        col("seasonal_e6"), col("remainder_e6"))
  }

  val q167Sql: String =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS v_c
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1),
      |t AS (
      |  SELECT *,
      |    COUNT(*) OVER w7 AS n7,
      |    MAX(day) OVER w7 - MIN(day) OVER w7 AS span6,
      |    CASE WHEN COUNT(*) OVER w7 = 7
      |           AND MAX(day) OVER w7 - MIN(day) OVER w7 = 6
      |      THEN CAST(SUM(v_c) OVER w7 AS BIGINT) END AS t7,
      |    (day + 4) % 7 AS dow
      |  FROM daily
      |  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT *, 7 * v_c - t7 AS detr7 FROM t),
      |seasonal AS (
      |  SELECT dow, CAST(SUM(detr7) AS HUGEINT) AS s_sum,
      |    COUNT(detr7) AS s_n
      |  FROM t2 GROUP BY dow)
      |SELECT day, dow, v_c,
      |  CASE WHEN t7 < 0
      |    THEN -CAST((-(CAST(t7 AS HUGEINT) * 1000000)) // 7 AS BIGINT)
      |    ELSE CAST((CAST(t7 AS HUGEINT) * 1000000) // 7 AS BIGINT) END
      |    AS trend_e6,
      |  CASE WHEN s_n > 0 THEN
      |    CASE WHEN s_sum < 0
      |      THEN -CAST((-(s_sum * 1000000)) // (7 * s_n) AS BIGINT)
      |      ELSE CAST((s_sum * 1000000) // (7 * s_n) AS BIGINT) END
      |  END AS seasonal_e6,
      |  (CASE WHEN detr7 < 0
      |    THEN -CAST((-(CAST(detr7 AS HUGEINT) * 1000000)) // 7 AS BIGINT)
      |    ELSE CAST((CAST(detr7 AS HUGEINT) * 1000000) // 7 AS BIGINT) END)
      |  - (CASE WHEN s_n > 0 THEN
      |      CASE WHEN s_sum < 0
      |        THEN -CAST((-(s_sum * 1000000)) // (7 * s_n) AS BIGINT)
      |        ELSE CAST((s_sum * 1000000) // (7 * s_n) AS BIGINT) END
      |    END) AS remainder_e6
      |FROM t2 JOIN seasonal USING (dow)""".stripMargin

  // ------------------------------- q168: lead-lag cross-correlation

  /** q168: lead-lag cross-correlation — Pearson r between clicks on day
    * d−k and purchases on day d, for every lag k ∈ [0, 7]: the "does
    * engagement lead conversion, and by how many days?" question, answered
    * as a proper cross-correlogram instead of an eyeballed chart. Pairs
    * form by CALENDAR join (day − k must actually exist in the series) —
    * a row-order LAG would silently pair across gaps.
    *
    * All five co-moments per lag are exact integer sums in DECIMAL(38,0)/
    * HUGEINT (daily counts cross-multiply past int64 at ~10^9 events/day ×
    * a year), r is one IEEE expression over them (sqrt and divide only,
    * same operation order in both engines), and zero-variance lags yield
    * NULL rather than a 0/0 NaN. The event pass collapses to the |days|
    * rollup before the 8-way lag expansion, so the join and moments run
    * over ~8·|days| rows, never events.
    */
  val q168LeadLag: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c_cnt"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("p_cnt"))
      // referenced as both join sides — checkpoint the |days| rollup so
      // the event pass runs once
      .localCheckpoint()
    val expanded = daily.select(col("day"), col("p_cnt"))
      .withColumn("lag", explode(array((0 to 7).map(lit(_)): _*)))
    val joined = expanded.join(
      daily.select(col("day").as("c_day"), col("c_cnt")),
      col("c_day") === col("day") - col("lag"))
    val m = joined.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c_cnt").cast(dec)).as("sx"),
        sum(col("p_cnt").cast(dec)).as("sy"),
        sum((col("c_cnt") * col("p_cnt")).cast(dec)).as("sxy"),
        sum((col("c_cnt") * col("c_cnt")).cast(dec)).as("sxx"),
        sum((col("p_cnt") * col("p_cnt")).cast(dec)).as("syy"))
    m.select(col("lag"), col("n_days"),
        (col("n_days").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .as("cov_n"),
        (col("n_days").cast(dec) * col("sxx") - col("sx") * col("sx"))
          .as("vx_n"),
        (col("n_days").cast(dec) * col("syy") - col("sy") * col("sy"))
          .as("vy_n"))
      .select(col("lag"), col("n_days"),
        when(col("vx_n") > 0 && col("vy_n") > 0,
          col("cov_n").cast("double") /
            (sqrt(col("vx_n").cast("double")) *
              sqrt(col("vy_n").cast("double")))).as("r"))
  }

  val q168Sql: String =
    """WITH daily AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c_cnt,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS p_cnt
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |lags AS (SELECT UNNEST(generate_series(0, 7)) AS lag),
      |j AS (
      |  SELECT g.lag, c.c_cnt, p.p_cnt
      |  FROM daily p CROSS JOIN lags g
      |  JOIN daily c ON c.day = p.day - g.lag),
      |m AS (
      |  SELECT lag, COUNT(*) AS n_days,
      |    SUM(CAST(c_cnt AS HUGEINT)) AS sx,
      |    SUM(CAST(p_cnt AS HUGEINT)) AS sy,
      |    SUM(CAST(c_cnt AS HUGEINT) * p_cnt) AS sxy,
      |    SUM(CAST(c_cnt AS HUGEINT) * c_cnt) AS sxx,
      |    SUM(CAST(p_cnt AS HUGEINT) * p_cnt) AS syy
      |  FROM j GROUP BY lag),
      |v AS (
      |  SELECT lag, n_days,
      |    n_days * sxy - sx * sy AS cov_n,
      |    n_days * sxx - sx * sx AS vx_n,
      |    n_days * syy - sy * sy AS vy_n
      |  FROM m)
      |SELECT CAST(lag AS INT) AS lag, n_days,
      |  CASE WHEN vx_n > 0 AND vy_n > 0 THEN
      |    CAST(CAST(cov_n AS VARCHAR) AS DOUBLE) /
      |      (sqrt(CAST(CAST(vx_n AS VARCHAR) AS DOUBLE)) *
      |       sqrt(CAST(CAST(vy_n AS VARCHAR) AS DOUBLE)))
      |  END AS r
      |FROM v""".stripMargin

  // ------------------------------- q173: cohort lifetime-value curves

  /** q173: cumulative lifetime value by signup cohort — revenue per user
    * as a function of account age, the curve every growth team projects
    * forward: users cohort by the WEEK of their first event, purchases
    * roll up per (cohort_week, age_week), and a per-cohort running sum
    * turns the increments into the cumulative LTV curve, normalized per
    * cohort member (integer-e4 cents — an exact truncating division).
    *
    * Scale: the user-grain first-event rollup and the purchase pass are
    * the two event-scale aggregations (both partial+final on user_id);
    * everything after — the cohort×age matrix, the running window, the
    * broadcast join against the |weeks|-sized cohort-size rollup — is
    * calendar-bounded (weeks², not events).
    */
  val q173CohortLtv: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val firsts = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(expr("unix_timestamp(ts) DIV 604800")).as("cohort_week"))
      // feeds both the cohort-size rollup and the purchase join —
      // checkpoint so the first-event pass over events runs once
      .localCheckpoint()
    val cohortSize = firsts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val purchases = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v_c"),
        expr("unix_timestamp(ts) DIV 604800").as("week"))
    val cells = purchases.join(firsts, "user_id")
      .select(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_week"), col("v_c"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(sum(col("v_c")).as("rev_c"), count(lit(1)).as("n_purchases"))
    val byCohort = W.partitionBy(col("cohort_week")).orderBy(col("age_week"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    cells.join(broadcast(cohortSize), "cohort_week")
      .withColumn("cum_rev_c", sum(col("rev_c")).over(byCohort))
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        col("n_purchases"), col("rev_c"), col("cum_rev_c"),
        expr("""CAST(CAST(cum_rev_c AS DECIMAL(38,0)) * 10000
                | div n_users AS BIGINT)""".stripMargin)
          .as("cum_ltv_per_user_e4"))
  }

  val q173Sql: String =
    """WITH firsts AS (
      |  SELECT user_id,
      |    MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800) AS cohort_week
      |  FROM events GROUP BY user_id),
      |cohort_size AS (
      |  SELECT cohort_week, COUNT(*) AS n_users
      |  FROM firsts GROUP BY cohort_week),
      |cells AS (
      |  SELECT cohort_week,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 604800 - cohort_week
      |      AS age_week,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS rev_c,
      |    COUNT(*) AS n_purchases
      |  FROM events JOIN firsts USING (user_id)
      |  WHERE event_type = 'purchase'
      |  GROUP BY 1, 2),
      |c2 AS (
      |  SELECT *, CAST(SUM(rev_c) OVER (PARTITION BY cohort_week
      |    ORDER BY age_week) AS BIGINT) AS cum_rev_c
      |  FROM cells)
      |SELECT cohort_week, age_week, n_users, n_purchases, rev_c, cum_rev_c,
      |  CAST((CAST(cum_rev_c AS HUGEINT) * 10000) // n_users AS BIGINT)
      |    AS cum_ltv_per_user_e4
      |FROM c2 JOIN cohort_size USING (cohort_week)""".stripMargin

  // ------------------------------- q174: RFM segmentation

  /** q174: RFM (recency / frequency / monetary) quintile segmentation of
    * purchasers — the classic CRM cut. Each user's three metrics roll up
    * in one purchase pass; the FIVE quintile boundaries per metric come
    * from exact percentile_disc over the user rollup (actual member
    * values, bit-portable); and each user's 1–5 score per metric counts
    * how many boundaries its value strictly exceeds. Scoring via a
    * broadcast 1-row boundary frame + fixed comparisons is the 100 TB
    * path — a global ntile() would sort every user three times; the
    * boundary approach is one tiny aggregate plus a map-side band, at the
    * cost of quintiles that split ties deterministically to the lower
    * band (documented, mirrored exactly in the oracle). Output: one row
    * per populated (r, f, m) segment with its population and value.
    *
    * Recency scores band the last-purchase day directly (more recent =
    * higher score — banding the day is order-isomorphic to banding
    * days-since-max, with no wall clock anywhere).
    */
  val q174RfmSegments: Q = (s, dir) => {
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v_c"),
        expr("unix_timestamp(ts) DIV 86400").as("day"))
    val users = p.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("v_c")).as("monetary_c"))
      // scored AND reduced to boundaries — checkpoint so the purchase
      // rollup isn't recomputed per reference
      .localCheckpoint()
    val bounds = users.agg(
      expr("percentile_disc(0.2) WITHIN GROUP (ORDER BY last_day)").as("r1"),
      expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY last_day)").as("r2"),
      expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY last_day)").as("r3"),
      expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY last_day)").as("r4"),
      expr("percentile_disc(0.2) WITHIN GROUP (ORDER BY frequency)").as("f1"),
      expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY frequency)").as("f2"),
      expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY frequency)").as("f3"),
      expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY frequency)").as("f4"),
      expr("percentile_disc(0.2) WITHIN GROUP (ORDER BY monetary_c)").as("m1"),
      expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY monetary_c)").as("m2"),
      expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY monetary_c)").as("m3"),
      expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY monetary_c)").as("m4"))
    def score(v: org.apache.spark.sql.Column, b: Seq[String]) =
      lit(1L) + b.map(c => when(v > col(c), 1L).otherwise(0L)).reduce(_ + _)
    users.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("frequency"), col("monetary_c"),
        // recency score: MORE recent (higher last_day) = higher score
        score(col("last_day"), Seq("r1", "r2", "r3", "r4")).as("r_score"),
        score(col("frequency"), Seq("f1", "f2", "f3", "f4")).as("f_score"),
        score(col("monetary_c"), Seq("m1", "m2", "m3", "m4")).as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary_c")).as("segment_value_c"))
  }

  val q174Sql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v_c,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events WHERE event_type = 'purchase'),
      |users AS (
      |  SELECT user_id, MAX(day) AS last_day, COUNT(*) AS frequency,
      |    CAST(SUM(v_c) AS BIGINT) AS monetary_c
      |  FROM p GROUP BY user_id),
      |bounds AS (
      |  SELECT
      |    percentile_disc(0.2) WITHIN GROUP (ORDER BY last_day) AS r1,
      |    percentile_disc(0.4) WITHIN GROUP (ORDER BY last_day) AS r2,
      |    percentile_disc(0.6) WITHIN GROUP (ORDER BY last_day) AS r3,
      |    percentile_disc(0.8) WITHIN GROUP (ORDER BY last_day) AS r4,
      |    percentile_disc(0.2) WITHIN GROUP (ORDER BY frequency) AS f1,
      |    percentile_disc(0.4) WITHIN GROUP (ORDER BY frequency) AS f2,
      |    percentile_disc(0.6) WITHIN GROUP (ORDER BY frequency) AS f3,
      |    percentile_disc(0.8) WITHIN GROUP (ORDER BY frequency) AS f4,
      |    percentile_disc(0.2) WITHIN GROUP (ORDER BY monetary_c) AS m1,
      |    percentile_disc(0.4) WITHIN GROUP (ORDER BY monetary_c) AS m2,
      |    percentile_disc(0.6) WITHIN GROUP (ORDER BY monetary_c) AS m3,
      |    percentile_disc(0.8) WITHIN GROUP (ORDER BY monetary_c) AS m4
      |  FROM users),
      |scored AS (
      |  SELECT user_id, monetary_c,
      |    1 + (CASE WHEN last_day > r1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN last_day > r2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN last_day > r3 THEN 1 ELSE 0 END)
      |      + (CASE WHEN last_day > r4 THEN 1 ELSE 0 END) AS r_score,
      |    1 + (CASE WHEN frequency > f1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN frequency > f2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN frequency > f3 THEN 1 ELSE 0 END)
      |      + (CASE WHEN frequency > f4 THEN 1 ELSE 0 END) AS f_score,
      |    1 + (CASE WHEN monetary_c > m1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_c > m2 THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_c > m3 THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_c > m4 THEN 1 ELSE 0 END) AS m_score
      |  FROM users CROSS JOIN bounds)
      |SELECT CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  COUNT(*) AS n_users,
      |  CAST(SUM(monetary_c) AS BIGINT) AS segment_value_c
      |FROM scored GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------- q166: U-shaped multi-touch attribution

  /** q166: position-weighted (U-shaped) multi-touch attribution — the
    * complement of q128's last-touch rule: each purchase's credit spreads
    * over its WHOLE touch path (all clicks/views since the user's previous
    * purchase; conversion resets the path), 40% to the first touch, 40% to
    * the last, the middle 20% split evenly — the standard U curve. A
    * single-touch path takes 100%, a two-touch path splits 50/50, and a
    * purchase with no prior touches books as `direct`.
    *
    * Credit is conserved EXACTLY in integer cents: per-touch weights are
    * rationals over one shared denominator (1, 2, or 10·(m−2)), each touch
    * takes the floor of its share, and the leftover cents go to the largest
    * remainders (ties to earlier touches) — the same largest-remainder
    * scheme as q152, so Σ credit ≡ Σ purchase cents as an identity, not an
    * approximation. No floats exist anywhere in the query.
    *
    * Plan: one user-ordered window assigns each event its path id (count
    * of purchases strictly before it), then (user, path) windows derive
    * path length, purchase value, touch position, and the remainder ranks
    * — two event-scale shuffles (user, then user+path), no self-join, no
    * explode. The final rollup is |channels|×|bands|-sized.
    */
  val q166UShapeAttribution: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
    val byUser = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val isP = (col("event_type") === "purchase").cast("long")
    val grouped = e
      .withColumn("is_p", isP)
      .withColumn("grp", coalesce(sum(col("is_p")).over(
        byUser.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val whole = W.partitionBy(col("user_id"), col("grp"))
    val byGrp = whole.orderBy(col("ts"), col("event_id"))
    val t = grouped
      .withColumn("m", sum(lit(1L) - col("is_p")).over(whole))
      .withColumn("v_c",
        max(when(col("is_p") === 1L, cents(col("value")))).over(whole))
      .withColumn("rn", sum(lit(1L) - col("is_p")).over(
        byGrp.rowsBetween(W.unboundedPreceding, W.currentRow)))
    // ONE branch keeps both credited touches and direct (touchless)
    // purchases — a union of two filters over `t` would recompute the
    // whole two-window subtree and scan events twice. A direct purchase
    // is alone in its (user, grp) partition, so the remainder windows
    // below see it as a degenerate singleton whose touch-credit terms are
    // zeroed by `num = 0`; its credit overrides to its own cents.
    val keep = t.filter(
      (col("is_p") === 0L && col("v_c").isNotNull) ||
        (col("is_p") === 1L && col("m") === 0L))
      .withColumn("num",
        when(col("is_p") === 1L, 0L)
          .when(col("m") <= 2L, 1L)
          .when(col("rn") === 1L || col("rn") === col("m"),
            lit(4L) * (col("m") - 2L))
          .otherwise(lit(2L)))
      .withColumn("den",
        when(col("m") === 1L, 1L).when(col("m") === 2L, 2L)
          .otherwise(lit(10L) * (col("m") - 2L)))
      .withColumn("vn", col("v_c") * col("num"))
      .withColumn("base_c", expr("vn div den"))
      .withColumn("rem", col("vn") % col("den"))
    val fixed = keep
      .withColumn("deficit", col("v_c") - sum(col("base_c")).over(whole))
      .withColumn("rk", row_number().over(
        whole.orderBy(col("rem").desc, col("rn"))))
      .withColumn("credit_c",
        when(col("is_p") === 1L, col("v_c")).otherwise(
          col("base_c") + when(col("rk") <= col("deficit"), 1L).otherwise(0L)))
    val band = when(col("is_p") === 1L, "none")
      .when(col("m") === 1L, "only")
      .when(col("rn") === 1L, "first")
      .when(col("rn") === col("m"), "last")
      .otherwise("middle")
    val channel = when(col("is_p") === 1L, "direct").otherwise(col("event_type"))
    fixed.select(channel.as("channel"), band.as("band"), col("credit_c"))
      .groupBy(col("channel"), col("band"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_c")).as("credit_c"))
  }

  val q166Sql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
      |g AS (
      |  SELECT *, COALESCE(CAST(SUM(is_p) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      |    AS grp
      |  FROM e),
      |t AS (
      |  SELECT *,
      |    CAST(SUM(1 - is_p) OVER (PARTITION BY user_id, grp) AS BIGINT)
      |      AS m,
      |    CAST(MAX(CASE WHEN is_p = 1
      |        THEN CAST(ROUND(value*100) AS BIGINT) END)
      |      OVER (PARTITION BY user_id, grp) AS BIGINT) AS v_c,
      |    CAST(SUM(1 - is_p) OVER (PARTITION BY user_id, grp
      |      ORDER BY ts, event_id) AS BIGINT) AS rn
      |  FROM g),
      |touch AS (
      |  SELECT *,
      |    CASE WHEN m <= 2 THEN 1
      |         WHEN rn = 1 OR rn = m THEN 4*(m-2) ELSE 2 END AS num,
      |    CASE WHEN m = 1 THEN 1 WHEN m = 2 THEN 2
      |         ELSE 10*(m-2) END AS den
      |  FROM t WHERE is_p = 0 AND v_c IS NOT NULL),
      |b AS (
      |  SELECT *, (v_c*num) // den AS base_c, (v_c*num) % den AS rem
      |  FROM touch),
      |fx AS (
      |  SELECT *,
      |    v_c - CAST(SUM(base_c) OVER (PARTITION BY user_id, grp) AS BIGINT)
      |      AS deficit,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, grp
      |      ORDER BY rem DESC, rn) AS rk
      |  FROM b),
      |credits AS (
      |  SELECT event_type AS channel,
      |    CASE WHEN m = 1 THEN 'only' WHEN rn = 1 THEN 'first'
      |         WHEN rn = m THEN 'last' ELSE 'middle' END AS band,
      |    base_c + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS credit_c
      |  FROM fx
      |  UNION ALL
      |  SELECT 'direct', 'none', CAST(ROUND(value*100) AS BIGINT)
      |  FROM t WHERE is_p = 1 AND m = 0)
      |SELECT channel, band, COUNT(*) AS n_touches,
      |  CAST(SUM(credit_c) AS BIGINT) AS credit_c
      |FROM credits GROUP BY channel, band""".stripMargin

  /** Production-path twins benchmarked next to the gate formulations. */
  val productionQueries: Map[String, Q] = Map(
    "q91_sketch_quantiles_prod" -> q91SketchQuantilesProd)

  // ------------------------------------------- q232: SAX motif discovery

  /** q232: SAX motif discovery over the hourly event-rate series — the
    * time-series pattern-mining staple (Lin et al.'s Symbolic Aggregate
    * approXimation): the series is piecewise-aggregated into time-anchored
    * 4-hour means, discretized into a 4-letter alphabet at its own
    * quartile breakpoints, and every 4-symbol sliding word is counted —
    * recurring words are the series' motifs (daily load shapes, batch
    * spikes), and their counts feed anomaly screens (a word seen once is
    * a discord). Everything is exact: PAA means are fixed-denominator
    * integer DIV (missing hours count as zero — the buckets are
    * time-anchored, not row-anchored), breakpoints are percentile_disc
    * values (actual data points), and words are strings.
    *
    * Plan: one hourly rollup (the only corpus-scale pass), a 4× smaller
    * PAA rollup, quartiles + banding over |buckets| rows, and the sliding
    * word via three leads over that same metadata-scale rollup. The
    * global-order window runs on series-length rows — at 100 TB the
    * per-series version partitions by series key exactly like q214.
    */
  val q232SaxMotifs: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(expr("unix_timestamp(ts) DIV 3600").as("h"))
      .agg(count(lit(1)).as("cnt"))
    val paa = hourly.groupBy(expr("h DIV 4").as("p"))
      .agg(expr("sum(cnt) DIV 4").as("m"))
    val breaks = paa.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY m)").as("q1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY m)").as("q2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY m)").as("q3"))
    val sym = paa.crossJoin(broadcast(breaks))
      .select(col("p"),
        when(col("m") <= col("q1"), "a")
          .when(col("m") <= col("q2"), "b")
          .when(col("m") <= col("q3"), "c")
          .otherwise("d").as("sy"))
    val w = Window.orderBy(col("p"))
    val words = sym
      .select(col("p"), col("sy"),
        lead(col("sy"), 1).over(w).as("s1"),
        lead(col("sy"), 2).over(w).as("s2"),
        lead(col("sy"), 3).over(w).as("s3"),
        lead(col("p"), 3).over(w).as("p3"))
      // a word must span CONSECUTIVE buckets — gaps in the series break it
      .filter(col("p3") === col("p") + 3)
      .select(col("p"), concat(col("sy"), col("s1"), col("s2"), col("s3"))
        .as("word"))
    words.groupBy(col("word"))
      .agg(count(lit(1)).as("n_occ"), min(col("p")).as("first_p"))
      .orderBy(col("n_occ").desc, col("word"))
      .limit(10)
  }

  val q232Sql: String =
    """WITH hourly AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS h, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |paa AS (
      |  SELECT h // 4 AS p, CAST(SUM(cnt) // 4 AS BIGINT) AS m
      |  FROM hourly GROUP BY 1),
      |br AS (
      |  SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY m) AS q1,
      |         percentile_disc(0.5) WITHIN GROUP (ORDER BY m) AS q2,
      |         percentile_disc(0.75) WITHIN GROUP (ORDER BY m) AS q3
      |  FROM paa),
      |sym AS (
      |  SELECT p, CASE WHEN m <= q1 THEN 'a' WHEN m <= q2 THEN 'b'
      |                 WHEN m <= q3 THEN 'c' ELSE 'd' END AS sy
      |  FROM paa CROSS JOIN br),
      |words AS (
      |  SELECT p, sy || s1 || s2 || s3 AS word FROM (
      |    SELECT p, sy,
      |      LEAD(sy, 1) OVER (ORDER BY p) AS s1,
      |      LEAD(sy, 2) OVER (ORDER BY p) AS s2,
      |      LEAD(sy, 3) OVER (ORDER BY p) AS s3,
      |      LEAD(p, 3) OVER (ORDER BY p) AS p3
      |    FROM sym) t
      |  WHERE p3 = p + 3)
      |SELECT word, COUNT(*) AS n_occ, MIN(p) AS first_p
      |FROM words GROUP BY word
      |ORDER BY n_occ DESC, word
      |LIMIT 10""".stripMargin

  // ------------------------------------------- q230: bitmap-index distinct

  /** q230: bitmap-rollup distinct counting — the roaring-bitmap-style
    * MERGEABLE exact-distinct mechanism, shown on daily/weekly active
    * users: level 1 ORs each user's bit into a (day, 64-id block) word,
    * the daily grain pops bits per day, and the WEEKLY grain re-ORs the
    * SAME level-1 words — two exact grains from ONE corpus pass, which a
    * plain COUNT(DISTINCT) rollup cannot do (distinct counts don't merge;
    * bitmaps do, this is the exact-arithmetic sibling of the q101 HLL
    * merge). Per-block words bound memory by construction: a block key
    * never holds more than one int64 regardless of user-id skew, and the
    * level-1 cardinality is |days| × |id-space|/64 — at 100 TB the block
    * axis shards the bitmap exactly like a roaring container index.
    * Level 1 localCheckpoints because both grains consume it.
    */
  val q230BitmapDistinct: Q = (s, dir) => {
    val l1 = Tables.events(s, dir)
      .select(expr("unix_timestamp(ts) DIV 86400").as("day"),
        expr("user_id DIV 64").as("blk"),
        expr("shiftleft(1L, CAST(user_id % 64 AS INT))").as("b"))
      .groupBy(col("day"), col("blk"))
      .agg(expr("bit_or(b)").as("w"))
      .localCheckpoint()
    val daily = l1.groupBy(col("day"))
      .agg(sum(expr("bit_count(w)")).cast("long").as("day_users"))
    val weekly = l1
      .groupBy(expr("day DIV 7").as("wk"), col("blk"))
      .agg(expr("bit_or(w)").as("ww"))
      .groupBy(col("wk"))
      .agg(sum(expr("bit_count(ww)")).cast("long").as("week_users"))
    daily.withColumn("wk", expr("day DIV 7"))
      .join(weekly, Seq("wk"))
      .select(col("day"), col("day_users"), col("wk"), col("week_users"))
      .orderBy(col("day"))
  }

  val q230Sql: String =
    """WITH d AS (
      |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day, user_id
      |  FROM events),
      |daily AS (
      |  SELECT day, COUNT(DISTINCT user_id) AS day_users FROM d GROUP BY day),
      |weekly AS (
      |  SELECT day // 7 AS wk, COUNT(DISTINCT user_id) AS week_users
      |  FROM d GROUP BY 1)
      |SELECT day, day_users, wk, week_users
      |FROM daily JOIN weekly ON day // 7 = wk
      |ORDER BY day""".stripMargin

  // ------------------------- q253: Markov removal-effect attribution

  /** Fixed DP iteration count — identical on both engines, so the e6
    * integer fixed-point is bit-equal regardless of convergence rate.
    */
  private val DpIters = 24

  /** q253: Markov removal-effect attribution (Anderl et al., "Mapping the
    * Customer Journey", 2016) — the data-driven sibling of q128's
    * positional and q166's U-shape rules. User journeys (events up to and
    * including the FIRST purchase; whole history for non-converters) feed a
    * first-order Markov chain over channel states with absorbing `conv` /
    * `null`; a channel's removal effect is how much the chain's start→conv
    * absorption probability drops when that channel is short-circuited to
    * `null`, and attribution shares normalize the removal effects.
    *
    * Absorption probabilities are an exact e6 integer dynamic program:
    * x_{k+1}(s) = Σ_t cnt(s,t)·v_k(t) DIV n(s) over [[DpIters]] fixed
    * iterations (all operands nonnegative, so truncation = floor on both
    * engines); the oracle unrolls the identical iteration as chained CTEs.
    * Removal monotonicity (p_removed ≤ p_full, elementwise induction over
    * the monotone truncated map) keeps every division nonnegative.
    *
    * Plan shape: the corpus-scale work is ONE windowed pass over events
    * (journey cut + lead) into a ≤(|states|+1)² transition matrix; like the
    * IVF centroids, that matrix is control-plane metadata — collected to
    * the driver, solved there in exact Long arithmetic, and returned as a
    * literal frame. At 100 TB the event pass is the only distributed stage.
    */
  val q253RemovalEffect: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val rn = e.select(col("user_id"),
      when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")).as("st"),
      row_number().over(w).as("rn"))
    val fp = rn.filter(col("st") === "conv")
      .groupBy(col("user_id")).agg(min(col("rn")).as("fp_rn"))
    val kept = rn.join(fp, Seq("user_id"), "left")
      .filter(col("fp_rn").isNull || col("rn") <= col("fp_rn"))
    val kw = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val steps = kept.withColumn("nxt", lead(col("st"), 1).over(kw))
      .filter(col("st") =!= "conv")
      .select(col("st").as("from_s"), coalesce(col("nxt"), lit("null")).as("to_s"))
    val starts = kept.filter(col("rn") === 1)
      .select(lit("start").as("from_s"), col("st").as("to_s"))
    val trans = starts.union(steps).groupBy(col("from_s"), col("to_s"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    val nTot = trans.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val states = nTot.keys.toSeq.sorted
    val channels = states.filter(_ != "start")
    def absorb(removed: Option[String]): Long = {
      var x = states.map(_ -> 0L).toMap
      for (_ <- 1 to DpIters) {
        x = states.map { st =>
          if (removed.contains(st)) st -> 0L
          else {
            // BigInt accumulation: cnt·1e6 products at corpus-scale counts
            // exceed int64 (the oracle's HUGEINT does the same widening)
            val num = trans.collect { case ((f, t), n) if f == st =>
              val v = t match {
                case "conv" => 1000000L
                case "null" => 0L
                case tt if removed.contains(tt) => 0L
                case tt => x.getOrElse(tt, 0L)
              }
              BigInt(n) * v
            }.sum
            st -> (num / nTot(st)).toLong
          }
        }.toMap
      }
      x("start")
    }
    val pFull = absorb(None)
    val rows = channels.map { c =>
      val pRm = absorb(Some(c))
      (c, pFull, pRm, 1000000L - pRm * 1000000L / pFull)
    }
    val reTotal = rows.map(_._4).sum
    val out = rows.map { case (c, pf, pr, re) =>
      (c, pf, pr, re,
        if (reTotal > 0) Some(re * 1000000L / reTotal) else None)
    }
    import s.implicits._
    out.toDF("channel", "p_full_e6", "p_removed_e6", "removal_effect_e6",
        "attr_share_e6")
      .orderBy(col("channel"))
  }

  /** The oracle unrolls the identical e6 DP as [[DpIters]] chained CTEs —
    * pure SQL, no data-dependent constants. Each iteration is MATERIALIZED:
    * without the hint DuckDB re-inlines the 24-deep CTE chain during
    * optimization and planning time explodes.
    */
  val q253Sql: String = {
    val iters = (1 to DpIters).map { k =>
      s"""x$k AS MATERIALIZED (
         |  SELECT r.rm, t.from_s AS s,
         |    CASE WHEN t.from_s = r.rm THEN CAST(0 AS BIGINT) ELSE
         |      CAST(SUM(t.cnt * (CASE WHEN t.to_s = 'conv' THEN 1000000
         |        WHEN t.to_s = 'null' OR t.to_s = r.rm THEN 0
         |        ELSE COALESCE(p.x, 0) END)) // MAX(tn.n) AS BIGINT) END AS x
         |  FROM rmv r
         |  CROSS JOIN tc t
         |  JOIN tn ON tn.from_s = t.from_s
         |  LEFT JOIN x${k - 1} p ON p.rm = r.rm AND p.s = t.to_s
         |  GROUP BY r.rm, t.from_s)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id,
       |    CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END AS st,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, MIN(rn) AS fp_rn FROM ev WHERE st = 'conv'
       |  GROUP BY user_id),
       |kept AS (
       |  SELECT ev.user_id, ev.st, ev.rn FROM ev LEFT JOIN fp USING (user_id)
       |  WHERE fp.fp_rn IS NULL OR ev.rn <= fp.fp_rn),
       |step AS (
       |  SELECT user_id, st, rn,
       |    LEAD(st) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
       |  FROM kept),
       |trans AS (
       |  SELECT 'start' AS from_s, st AS to_s FROM kept WHERE rn = 1
       |  UNION ALL
       |  SELECT st, COALESCE(nxt, 'null') FROM step WHERE st <> 'conv'),
       |tc AS MATERIALIZED (
       |  SELECT from_s, to_s, COUNT(*) AS cnt FROM trans GROUP BY 1, 2),
       |tn AS MATERIALIZED (SELECT from_s, SUM(cnt) AS n FROM tc GROUP BY 1),
       |rmv AS MATERIALIZED (SELECT '<none>' AS rm UNION ALL
       |  SELECT DISTINCT from_s FROM tc WHERE from_s <> 'start'),
       |x0 AS MATERIALIZED (SELECT rm, from_s AS s, CAST(0 AS BIGINT) AS x
       |  FROM rmv CROSS JOIN (SELECT DISTINCT from_s FROM tc) st),
       |$iters,
       |pf AS (SELECT x AS p_full FROM x$DpIters
       |  WHERE rm = '<none>' AND s = 'start'),
       |re AS (
       |  SELECT rm AS channel, p_full, x AS p_removed,
       |    1000000 - CAST(CAST(x AS HUGEINT) * 1000000 // p_full AS BIGINT)
       |      AS re_e6
       |  FROM x$DpIters CROSS JOIN pf
       |  WHERE rm <> '<none>' AND s = 'start'),
       |tot AS (SELECT SUM(re_e6) AS t FROM re)
       |SELECT channel, p_full AS p_full_e6, p_removed AS p_removed_e6,
       |  re_e6 AS removal_effect_e6,
       |  CAST(CAST(re_e6 AS HUGEINT) * 1000000 // NULLIF(t, 0) AS BIGINT)
       |    AS attr_share_e6
       |FROM re CROSS JOIN tot
       |ORDER BY channel""".stripMargin
  }

  // ------------------------- q254: Qini uplift curve

  /** 50/50 split boundary over the 60-bit portable-hash space. */
  private val HalfHash = (1L << 60) / 2

  /** q254: Qini curve — the uplift-measurement harness (Radcliffe, "Using
    * Control Groups to Target on Predicted Lift", 2007) that closes the
    * A/B family (q127 z-test, q203 CUPED, q243 SRM): users split 50/50 by
    * deterministic hash (q67's reproducible-assignment principle), ranked
    * by a targeting score (pre-conversion engagement — stand-in for a
    * frozen model score), cut into score deciles, and each cumulative
    * prefix reports incremental conversions vs the control baseline
    * Qini(k) = cumT_conv − cumC_conv·cumT/cumC, plus the rate-difference
    * uplift. All counts are exact integers; the two e6 divisions are
    * truncating on nonnegatives before an exact subtraction (the
    * sign-factored rule), so the curve is bit-identical across engines.
    *
    * Plan: one event pass to user grain, one |users| rollup to deciles
    * (NTILE over the user rollup — at 100 TB the decile assignment runs
    * from q91-style sketch quantile boundaries exactly like q174's RFM
    * bands), and the cumulative window runs over 10 rows.
    */
  val q254QiniUplift: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val users = e.groupBy(col("user_id")).agg(
      sum(when(col("event_type").isin("view", "click"), 1L).otherwise(0L))
        .as("score"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
    // checkpointed once: the ntile device and the row-count scalar share
    // the user rollup instead of re-running the corpus-scale groupBy
    val armed = users.withColumn("treated",
      when(Text.portableHash(col("user_id").cast("string")) < HalfHash, 1L)
        .otherwise(0L))
      .localCheckpoint()
    // user-grain ntile via the two-level device + closed form (the q114
    // construction) — users are a corpus-growing axis, no global sort
    val dec = Prefix.rowNumber(armed, "score", Seq("user_id"), "pfx_rn",
        desc = true, materialize = false)
      .crossJoin(broadcast(armed.agg(count(lit(1)).as("pfx_n"))))
      .withColumn("decile",
        Prefix.ntileExpr("pfx_rn", "pfx_n", 10).cast("int"))
    val byDec = dec.groupBy(col("decile")).agg(
      sum(col("treated")).as("n_t"),
      sum(lit(1L) - col("treated")).as("n_c"),
      sum(col("treated") * col("conv")).as("conv_t"),
      sum((lit(1L) - col("treated")) * col("conv")).as("conv_c"))
    val cw = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec
      .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        sum(col("n_t")).over(cw).as("cum_nt"),
        sum(col("n_c")).over(cw).as("cum_nc"),
        sum(col("conv_t")).over(cw).as("cum_ct"),
        sum(col("conv_c")).over(cw).as("cum_cc"))
      .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        col("cum_nt"), col("cum_nc"), col("cum_ct"), col("cum_cc"),
        // cum_cc·1e6·cum_nt squares corpus-scale counts — DECIMAL(38,0)
        // per the q01 convention (DuckDB's window SUM is HUGEINT already)
        expr("""CAST(CAST(cum_ct AS DECIMAL(38,0)) * 1000000
               | - CAST(cum_cc AS DECIMAL(38,0)) * 1000000 * cum_nt
               |   DIV NULLIF(cum_nc, 0) AS BIGINT)""".stripMargin)
          .as("qini_e6"),
        (expr("CAST(CAST(cum_ct AS DECIMAL(38,0)) * 1000000 DIV NULLIF(cum_nt, 0) AS BIGINT)") -
          expr("CAST(CAST(cum_cc AS DECIMAL(38,0)) * 1000000 DIV NULLIF(cum_nc, 0) AS BIGINT)"))
          .as("uplift_rate_e6"))
      .orderBy(col("decile"))
  }

  val q254Sql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type IN ('view','click') THEN 1 ELSE 0 END)
       |      AS score,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |armed AS (
       |  SELECT *, CASE WHEN CAST(concat('0x',
       |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      < $HalfHash THEN 1 ELSE 0 END AS treated,
       |    NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile
       |  FROM u),
       |d AS (
       |  SELECT decile, SUM(treated) AS n_t, SUM(1 - treated) AS n_c,
       |    SUM(treated * conv) AS conv_t, SUM((1 - treated) * conv) AS conv_c
       |  FROM armed GROUP BY decile),
       |c AS (
       |  SELECT *,
       |    SUM(n_t) OVER w AS cum_nt, SUM(n_c) OVER w AS cum_nc,
       |    SUM(conv_t) OVER w AS cum_ct, SUM(conv_c) OVER w AS cum_cc
       |  FROM d WINDOW w AS (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT decile, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
       |  CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c,
       |  CAST(cum_nt AS BIGINT) AS cum_nt, CAST(cum_nc AS BIGINT) AS cum_nc,
       |  CAST(cum_ct AS BIGINT) AS cum_ct, CAST(cum_cc AS BIGINT) AS cum_cc,
       |  CAST(cum_ct * 1000000 - cum_cc * 1000000 * cum_nt
       |    // NULLIF(cum_nc, 0) AS BIGINT) AS qini_e6,
       |  CAST(cum_ct * 1000000 // NULLIF(cum_nt, 0)
       |    - cum_cc * 1000000 // NULLIF(cum_nc, 0) AS BIGINT)
       |    AS uplift_rate_e6
       |FROM c ORDER BY decile""".stripMargin

  // ------------------------- q259: Kaplan-Meier survival curve

  /** q259: Kaplan-Meier product-limit estimator (Kaplan & Meier 1958) for
    * time-to-first-purchase with right censoring — the survival CURVE whose
    * per-interval rates q195's hazard panel reports. Duration is exact
    * day-bucket arithmetic; non-converters censor at their last observed
    * day. Each step multiplies S by (n_at_risk − events)/n_at_risk in e6
    * truncating integer arithmetic (BigInt-widened products), so the curve
    * is monotone nonincreasing and bit-identical across engines; the DuckDB
    * oracle replays the identical sequential product as a recursive CTE
    * over the ranked duration table.
    *
    * Plan: the corpus-scale work is one user-grain rollup + one |durations|
    * rollup; the duration table is bounded by the observation window in
    * DAYS, so — like q253's transition matrix — it is control-plane
    * metadata: collected, folded on the driver, returned as a literal frame.
    */
  val q259SurvivalKm: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val day = expr("unix_timestamp(ts) DIV 86400")
    val byUser = e.groupBy(col("user_id")).agg(
      min(day).as("d0"),
      min(when(col("event_type") === "purchase", day)).as("dconv"),
      max(day).as("dlast"))
    val durs = byUser.select(
      when(col("dconv").isNotNull, col("dconv") - col("d0"))
        .otherwise(col("dlast") - col("d0")).as("dur"),
      when(col("dconv").isNotNull, 1L).otherwise(0L).as("ev"))
    val roll = durs.groupBy(col("dur"))
      .agg(sum(col("ev")).as("d_ev"), sum(lit(1L) - col("ev")).as("c_cens"))
      .orderBy(col("dur")).collect()
    var atRisk = roll.map(r => r.getAs[Long]("d_ev") + r.getAs[Long]("c_cens")).sum
    var sE6 = 1000000L
    val out = roll.map { r =>
      val (dur, dEv, cCens) = (r.getAs[Long]("dur"), r.getAs[Long]("d_ev"),
        r.getAs[Long]("c_cens"))
      val n = atRisk
      sE6 = (BigInt(sE6) * (n - dEv) / n).toLong
      atRisk -= (dEv + cCens)
      (dur, n, dEv, cCens, sE6)
    }
    import s.implicits._
    out.toSeq.toDF("dur_days", "n_risk", "d_ev", "c_cens", "s_e6")
      .orderBy(col("dur_days"))
  }

  val q259Sql: String =
    """WITH RECURSIVE u AS (
      |  SELECT user_id,
      |    MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 END) AS dconv,
      |    MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS dlast
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT CASE WHEN dconv IS NOT NULL THEN dconv - d0
      |    ELSE dlast - d0 END AS dur,
      |    CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM u),
      |r AS (SELECT dur, SUM(ev) AS d_ev, SUM(1 - ev) AS c_cens
      |  FROM d GROUP BY dur),
      |t AS (
      |  SELECT dur, d_ev, c_cens,
      |    ROW_NUMBER() OVER (ORDER BY dur) AS rk,
      |    tot.n - COALESCE(SUM(d_ev + c_cens) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM r CROSS JOIN (SELECT SUM(d_ev + c_cens) AS n FROM r) tot),
      |km AS (
      |  SELECT rk, dur, n_risk, d_ev, c_cens,
      |    CAST((n_risk - d_ev) * 1000000 // n_risk AS BIGINT) AS s_e6
      |  FROM t WHERE rk = 1
      |  UNION ALL
      |  SELECT t.rk, t.dur, t.n_risk, t.d_ev, t.c_cens,
      |    CAST(CAST(km.s_e6 AS HUGEINT) * (t.n_risk - t.d_ev)
      |      // t.n_risk AS BIGINT)
      |  FROM km JOIN t ON t.rk = km.rk + 1)
      |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d_ev AS BIGINT) AS d_ev, CAST(c_cens AS BIGINT) AS c_cens,
      |  s_e6
      |FROM km ORDER BY dur_days""".stripMargin

  // ------------------------- q260: error-budget burn rate

  /** SLO error budget: 22% of requests may error (the corpus runs ~20%, so
    * healthy hours burn just under 1×).
    */
  private val SloE6 = 220000L

  /** Multi-window burn composition over an HOURLY (hour, n_total, n_err)
    * rollup — factored out so the streaming path composes the identical
    * report from its landed rollup (StreamingSpec parity; docs/SCALE.md
    * pattern #8: downstream grains compose from the landed output).
    *
    * The rollup joins a complete hour spine (empty hours carry zero traffic
    * — a ROWS frame over present hours only would silently stretch the 6 h
    * lookback across gaps), the trailing window runs over the spine rows,
    * and every burn rate is an exact e6 integer: err·10¹² DIV (total·SLO).
    * Alerting is the SRE multi-window rule: page when the 1 h burn ≥ 2×
    * AND the trailing 6 h burn ≥ 1× (fast + sustained).
    */
  def burnFromHourly(hourly: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = hourly.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(expr("sequence(h0, h1)")).as("hour"))
    val filled = spine.join(hourly, Seq("hour"), "left")
      .select(col("hour"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        coalesce(col("n_err"), lit(0L)).as("n_err"))
    val w6 = Window.orderBy(col("hour")).rowsBetween(-5, 0)
    def burn(err: Column, tot: Column): Column =
      expr(s"""CAST(CAST(${err.toString} AS DECIMAL(38,0)) * 1000000000000
              | DIV NULLIF(${tot.toString} * $SloE6, 0) AS BIGINT)"""
        .stripMargin)
    filled
      .withColumn("tot_6h", sum(col("n_total")).over(w6))
      .withColumn("err_6h", sum(col("n_err")).over(w6))
      .select(col("hour"), col("n_total"), col("n_err"),
        burn(col("n_err"), col("n_total")).as("burn_1h_e6"),
        col("tot_6h"), col("err_6h"),
        burn(col("err_6h"), col("tot_6h")).as("burn_6h_e6"))
      .withColumn("alert",
        when(col("burn_1h_e6") >= 2000000L && col("burn_6h_e6") >= 1000000L,
          1L).otherwise(0L))
      .orderBy(col("hour"))
  }

  /** q260: SRE error-budget burn-rate panel (the multi-window multi-burn
    * alerting rule, Google SRE Workbook ch.5) over the event stream's
    * error/total hourly rates — the alerting layer above q170's SLA
    * latencies. One corpus pass lands the hourly rollup; the spine,
    * trailing windows and alert rule are metadata-scale composition
    * ([[burnFromHourly]], shared verbatim with the streaming twin).
    */
  val q260BurnRate: Q = (s, dir) => {
    val hourly = Tables.events(s, dir)
      .groupBy(expr("unix_timestamp(ts) DIV 3600").as("hour"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
    burnFromHourly(hourly)
  }

  val q260Sql: String =
    s"""WITH hourly AS (
       |  SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hour,
       |    COUNT(*) AS n_total,
       |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
       |  FROM events GROUP BY 1),
       |spine AS (
       |  SELECT unnest(generate_series((SELECT MIN(hour) FROM hourly),
       |    (SELECT MAX(hour) FROM hourly))) AS hour),
       |filled AS (
       |  SELECT spine.hour, COALESCE(n_total, 0) AS n_total,
       |    COALESCE(n_err, 0) AS n_err
       |  FROM spine LEFT JOIN hourly ON spine.hour = hourly.hour),
       |rolled AS (
       |  SELECT hour, n_total, n_err,
       |    SUM(n_total) OVER w AS tot_6h, SUM(n_err) OVER w AS err_6h
       |  FROM filled WINDOW w AS (ORDER BY hour
       |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
       |b AS (
       |  SELECT hour, CAST(n_total AS BIGINT) AS n_total,
       |    CAST(n_err AS BIGINT) AS n_err,
       |    CAST(CAST(n_err AS HUGEINT) * 1000000000000
       |      // NULLIF(n_total * $SloE6, 0) AS BIGINT) AS burn_1h_e6,
       |    CAST(tot_6h AS BIGINT) AS tot_6h, CAST(err_6h AS BIGINT) AS err_6h,
       |    CAST(CAST(err_6h AS HUGEINT) * 1000000000000
       |      // NULLIF(tot_6h * $SloE6, 0) AS BIGINT) AS burn_6h_e6
       |  FROM rolled)
       |SELECT *, CASE WHEN burn_1h_e6 >= 2000000 AND burn_6h_e6 >= 1000000
       |  THEN 1 ELSE 0 END AS alert
       |FROM b ORDER BY hour""".stripMargin

  // --------------------------- q284: group-sequential A/B monitoring

  /** Number of interim looks. */
  private val SeqLooks = 5

  /** O'Brien–Fleming boundary constant for K=5 looks at two-sided α=0.05
    * (published group-sequential tables), squared ONCE at plan-build time
    * and inlined into both engines (oracle side through the CAST-VARCHAR
    * double rule): the look-k critical value is c·√(K/k), so the squared
    * boundary is c²·K/k — two IEEE ops on the shared constant.
    */
  private val ObfC2: Double = 2.0403 * 2.0403

  /** q284: group-sequential A/B monitoring — q127's conversion z-test
    * evaluated at 5 cumulative interim looks under O'Brien–Fleming
    * spending boundaries, the "peek without p-hacking" discipline every
    * experimentation platform enforces (naive repeated z>1.96 peeking
    * inflates false positives ~3×; OBF spends almost no α early). Looks
    * cut the event span into fifths by epoch day; a user enters at their
    * first event and converts once cumulative purchases pass the q127
    * threshold. z² per look is the identity
    *
    *   z² = (c₁n₂ − c₂n₁)²·N / (n₁·n₂·C·(N−C)),  N = n₁+n₂, C = c₁+c₂,
    *
    * evaluated as a fixed IEEE expression over exactly-represented
    * integers (the q117 discipline — an e6 integer staging would truncate
    * to zero whenever (c₁n₂−c₂n₁)² < n₁n₂), and the boundary test
    * compares it against c²·K/k built from the inlined constant — both
    * sides deterministic doubles. Degenerate looks (no entrants or no
    * conversions) report z² = 0 rather than dividing by zero.
    *
    * Plan: one event pass to a per-user rollup (the 5 cumulative sums are
    * conditional aggregates in ONE pass — adding a look adds a column);
    * one 20-column scalar fold; the look panel unstacks via posexplode of
    * a 5-element struct array. Span bounds ride a broadcast cross join.
    */
  val q284SequentialTest: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val bounds = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    def cut(k: Int) = s"d0 + (d1 - d0) * $k div $SeqLooks"
    val perUserAggs =
      Seq(min(col("day")).as("first_day"), max(col("d0")).as("d0"),
        max(col("d1")).as("d1")) ++
      (1 to SeqLooks).map(k =>
        sum(when(col("event_type") === "purchase" &&
            col("day") <= expr(cut(k)), cents(col("value"))).otherwise(0L))
          .as(s"pc_$k"))
    val perUser = e.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(perUserAggs.head, perUserAggs.tail: _*)
      .withColumn("variant",
        when(graft.functions.Text.portableHash(col("user_id").cast("string"))
          % 2 === 0, "A").otherwise("B"))
    val wideAggs = (1 to SeqLooks).flatMap { k =>
      val entered = col("first_day") <= expr(cut(k))
      Seq(
        sum(when(col("variant") === "A" && entered, 1L).otherwise(0L))
          .as(s"na_$k"),
        sum(when(col("variant") === "A" && entered &&
          col(s"pc_$k") >= ConvThresholdC, 1L).otherwise(0L)).as(s"ca_$k"),
        sum(when(col("variant") === "B" && entered, 1L).otherwise(0L))
          .as(s"nb_$k"),
        sum(when(col("variant") === "B" && entered &&
          col(s"pc_$k") >= ConvThresholdC, 1L).otherwise(0L)).as(s"cb_$k"))
    }
    val wide = perUser.agg(wideAggs.head, wideAggs.tail: _*)
    val looks = (1 to SeqLooks).map { k =>
      struct(lit(k).as("look"), col(s"na_$k").as("n_a"),
        col(s"ca_$k").as("conv_a"), col(s"nb_$k").as("n_b"),
        col(s"cb_$k").as("conv_b"))
    }
    wide.select(explode(array(looks: _*)).as("l"))
      .select(col("l.look").as("look"), col("l.n_a").as("n_a"),
        col("l.conv_a").as("conv_a"), col("l.n_b").as("n_b"),
        col("l.conv_b").as("conv_b"))
      .withColumn("dnum",
        col("conv_a").cast("decimal(38,0)") * col("n_b") -
          col("conv_b").cast("decimal(38,0)") * col("n_a"))
      .withColumn("z2", when(
        col("n_a") * col("n_b") === 0L ||
          col("conv_a") + col("conv_b") === 0L ||
          col("conv_a") + col("conv_b") === col("n_a") + col("n_b"), lit(0.0))
        .otherwise(
          col("dnum").cast("double") * col("dnum").cast("double") *
            (col("n_a") + col("n_b")).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double") *
              (col("conv_a") + col("conv_b")).cast("double") *
              (col("n_a") + col("n_b") - col("conv_a") - col("conv_b"))
                .cast("double"))))
      .withColumn("crit2",
        lit(ObfC2) * lit(SeqLooks.toDouble) / col("look").cast("double"))
      .withColumn("reject", (col("z2") > col("crit2")).cast("int"))
      .drop("dnum")
      .orderBy(col("look"))
  }

  val q284Sql: String = {
    def cut(k: Int) = s"d0 + (d1 - d0) * $k // $SeqLooks"
    val pcCols = (1 to SeqLooks).map(k =>
      s"""SUM(CASE WHEN event_type = 'purchase' AND day <= ${cut(k)}
         |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS pc_$k"""
        .stripMargin).mkString(",\n    ")
    val wideCols = (1 to SeqLooks).flatMap { k =>
      Seq(
        s"SUM(CASE WHEN variant = 'A' AND first_day <= ${cut(k)} THEN 1 ELSE 0 END) AS na_$k",
        s"SUM(CASE WHEN variant = 'A' AND first_day <= ${cut(k)} AND pc_$k >= $ConvThresholdC THEN 1 ELSE 0 END) AS ca_$k",
        s"SUM(CASE WHEN variant = 'B' AND first_day <= ${cut(k)} THEN 1 ELSE 0 END) AS nb_$k",
        s"SUM(CASE WHEN variant = 'B' AND first_day <= ${cut(k)} AND pc_$k >= $ConvThresholdC THEN 1 ELSE 0 END) AS cb_$k")
    }.mkString(",\n    ")
    val lookRows = (1 to SeqLooks).map(k =>
      s"SELECT $k AS look, na_$k AS n_a, ca_$k AS conv_a, nb_$k AS n_b, cb_$k AS conv_b FROM wide")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT user_id, event_type, value,
       |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
       |  FROM events),
       |bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
       |per_user AS (
       |  SELECT user_id, MIN(day) AS first_day, MAX(d0) AS d0, MAX(d1) AS d1,
       |    $pcCols
       |  FROM e CROSS JOIN bounds GROUP BY user_id),
       |pu AS (
       |  SELECT *, CASE WHEN CAST(concat('0x',
       |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
       |    THEN 'A' ELSE 'B' END AS variant
       |  FROM per_user),
       |wide AS (
       |  SELECT MAX(d0) AS d0, MAX(d1) AS d1,
       |    $wideCols
       |  FROM pu),
       |looks AS (
       |  $lookRows),
       |wz AS (
       |  SELECT look, CAST(n_a AS BIGINT) AS n_a,
       |    CAST(conv_a AS BIGINT) AS conv_a,
       |    CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       |    CAST(conv_a AS HUGEINT) * n_b - CAST(conv_b AS HUGEINT) * n_a
       |      AS dnum
       |  FROM looks),
       |scored AS (
       |  SELECT look, n_a, conv_a, n_b, conv_b,
       |    CASE WHEN n_a * n_b = 0 OR conv_a + conv_b = 0
       |           OR conv_a + conv_b = n_a + n_b THEN 0.0
       |      ELSE CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
       |        * CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
       |        * CAST(n_a + n_b AS DOUBLE)
       |        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
       |           * CAST(conv_a + conv_b AS DOUBLE)
       |           * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE)) END AS z2,
       |    CAST('$ObfC2' AS DOUBLE) * $SeqLooks / CAST(look AS DOUBLE)
       |      AS crit2
       |  FROM wz)
       |SELECT look, n_a, conv_a, n_b, conv_b, z2, crit2,
       |  CAST(CASE WHEN z2 > crit2 THEN 1 ELSE 0 END AS INT) AS reject
       |FROM scored ORDER BY look""".stripMargin
  }

  // ------------------------- q288: funnel conversions with Wilson CIs

  /** z² for the 95% Wilson interval, inlined at plan-build time. */
  private val WilsonZ2: Double = 1.959963985 * 1.959963985

  /** q288: funnel-step conversion rates WITH uncertainty — each step of
    * the view→click→purchase funnel reports its conversion as a 95%
    * Wilson score interval, the binomial CI that behaves at small n and
    * extreme rates where the naive ±1.96·√(p̂q̂/n) (Wald) collapses. The
    * interval is a fixed IEEE expression over exact integer (conv, n)
    * pairs with the z² constant inlined — bit-portable like every q117-
    * family statistic.
    *
    * Step semantics are ORDERED first-touch: a click counts only after
    * the user's first view, a purchase only after that click (one
    * conditional min-rollup per user — no joins, no window).
    */
  val q288FunnelWilson: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
    val perUser = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ms"))).as("fv"),
        min(when(col("event_type") === "click", col("ms"))).as("fc0"),
        min(when(col("event_type") === "purchase", col("ms"))).as("fp0"))
      .select(col("fv"),
        when(col("fc0") > col("fv"), col("fc0")).as("fc"),
        col("fp0"))
      .select(col("fv"), col("fc"),
        when(col("fp0") > col("fc"), col("fp0")).as("fp"))
    val wide = perUser.agg(
      sum(when(col("fv").isNotNull, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("fc").isNotNull, 1L).otherwise(0L)).as("n_click"),
      sum(when(col("fp").isNotNull, 1L).otherwise(0L)).as("n_purchase"))
    val steps = Seq(("view_to_click", "n_view", "n_click"),
      ("click_to_purchase", "n_click", "n_purchase"),
      ("view_to_purchase", "n_view", "n_purchase"))
    val rows = steps.map { case (name, nCol, cCol) =>
      struct(lit(name).as("step"), col(nCol).as("n"), col(cCol).as("conv"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.step").as("step"), col("r.n").as("n"),
        col("r.conv").as("conv"))
      .withColumn("p_hat", col("conv").cast("double") / col("n"))
      .withColumn("wilson_lo", wilson(col("conv"), col("n"), lower = true))
      .withColumn("wilson_hi", wilson(col("conv"), col("n"), lower = false))
      .orderBy(col("step"))
  }

  /** Wilson score bound as one fixed IEEE expression over exact (conv, n). */
  private def wilson(conv: Column, n: Column, lower: Boolean): Column = {
    val z2 = lit(WilsonZ2)
    val p = conv.cast("double") / n.cast("double")
    val nd = n.cast("double")
    val centre = p + z2 / (lit(2.0) * nd)
    val half = sqrt(z2) *
      sqrt(p * (lit(1.0) - p) / nd + z2 / (lit(4.0) * nd * nd))
    val num = if (lower) centre - half else centre + half
    num / (lit(1.0) + z2 / nd)
  }

  val q288Sql: String = {
    val z2 = WilsonZ2
    def wilsonSql(sign: String) =
      s"""((CAST(conv AS DOUBLE) / n + CAST('$z2' AS DOUBLE) / (2.0 * n))
         |  $sign sqrt(CAST('$z2' AS DOUBLE)) *
         |    sqrt((CAST(conv AS DOUBLE) / n) * (1.0 - CAST(conv AS DOUBLE) / n) / n
         |         + CAST('$z2' AS DOUBLE) / (4.0 * CAST(n AS DOUBLE) * n)))
         | / (1.0 + CAST('$z2' AS DOUBLE) / n)""".stripMargin.replace("\n", " ")
    s"""WITH e AS (
       |  SELECT user_id, event_type, CAST(epoch_ms(ts) AS BIGINT) AS ms
       |  FROM events),
       |pu0 AS (
       |  SELECT user_id,
       |    MIN(CASE WHEN event_type = 'view' THEN ms END) AS fv,
       |    MIN(CASE WHEN event_type = 'click' THEN ms END) AS fc0,
       |    MIN(CASE WHEN event_type = 'purchase' THEN ms END) AS fp0
       |  FROM e GROUP BY user_id),
       |pu1 AS (
       |  SELECT fv, CASE WHEN fc0 > fv THEN fc0 END AS fc, fp0 FROM pu0),
       |pu AS (
       |  SELECT fv, fc, CASE WHEN fp0 > fc THEN fp0 END AS fp FROM pu1),
       |wide AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       |    CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       |    CAST(SUM(CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
       |  FROM pu),
       |steps AS (
       |  SELECT 'view_to_click' AS step, n_view AS n, n_click AS conv FROM wide
       |  UNION ALL
       |  SELECT 'click_to_purchase', n_click, n_purchase FROM wide
       |  UNION ALL
       |  SELECT 'view_to_purchase', n_view, n_purchase FROM wide)
       |SELECT step, n, conv,
       |  CAST(conv AS DOUBLE) / n AS p_hat,
       |  ${wilsonSql("-")} AS wilson_lo,
       |  ${wilsonSql("+")} AS wilson_hi
       |FROM steps ORDER BY step""".stripMargin
  }

  // ----------------------------- q292: two-arm log-rank survival test

  /** q292: log-rank test — do the A/B arms differ in TIME-TO-FIRST-
    * PURCHASE, not just in whether they purchase? The censoring-correct
    * companion to q259's Kaplan-Meier curve and the survival leg of the
    * experimentation suite (a conversion-rate z ignores that half the
    * users are still mid-journey). Subjects enter at their first event,
    * convert at their first purchase, censor at the corpus horizon. At
    * each distinct conversion day t:
    *
    *   E₁t = dt·n₁t/nt,   Vt = dt·n₁t·n₂t·(nt−dt) / (nt²·(nt−1))
    *
    * with the at-risk counts n from suffix sums over the day rollup, and
    * z² = (Σd₁t − ΣE₁t)² / ΣVt. Everything is e6-floor-quantized exact
    * integer arithmetic staged under 10²⁵ at any corpus scale (V divides
    * by nt² BEFORE multiplying by dt·(nt−dt)); the only IEEE op is none —
    * the statistic lands as an integer, sign-factored since U can go
    * either way.
    *
    * Plan: one event pass → per-user (arm, T, converted) rollup → per-day
    * rollup (|days| rows) → windows over that rollup — corpus rows never
    * re-shuffle after the user rollup.
    */
  val q292LogRank: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val horizon = e.agg(max(col("day")).as("maxday"))
    val perUser = e.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"),
        max(col("maxday")).as("maxday"))
      .select(col("user_id"),
        when(col("dp").isNotNull, col("dp") - col("d0"))
          .otherwise(col("maxday") - col("d0")).as("t"),
        when(col("dp").isNotNull, 1L).otherwise(0L).as("evt"))
      .withColumn("arm",
        when(graft.functions.Text.portableHash(col("user_id").cast("string"))
          % 2 === 0, "A").otherwise("B"))
    val byDay = perUser.groupBy(col("t"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("out1"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("out2"),
        sum(when(col("arm") === "A", col("evt")).otherwise(0L)).as("d1"),
        sum(when(col("arm") === "B", col("evt")).otherwise(0L)).as("d2"))
    val W = org.apache.spark.sql.expressions.Window
    val asc = W.orderBy(col("t"))
    val below = asc.rowsBetween(W.unboundedPreceding, -1)
    val whole = asc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    // at-risk at t = arm total − subjects whose T ended strictly before t
    val risk = byDay
      .withColumn("n1", sum(col("out1")).over(whole) -
        coalesce(sum(col("out1")).over(below), lit(0L)))
      .withColumn("n2", sum(col("out2")).over(whole) -
        coalesce(sum(col("out2")).over(below), lit(0L)))
      .filter(col("d1") + col("d2") > 0L)
      .withColumn("dt", col("d1") + col("d2"))
      .withColumn("nt", col("n1") + col("n2"))
      .filter(col("nt") > 1L)
    val terms = risk
      .withColumn("e1_e6",
        expr(fdiv("CAST(dt AS DECIMAL(38,0)) * n1 * 1000000", "nt")))
      .withColumn("v1_e6",
        expr(fdiv("CAST(n1 AS DECIMAL(38,0)) * n2 * 1000000", "nt * nt")))
      .withColumn("v_e6",
        expr(fdiv("CAST(dt AS DECIMAL(38,0)) * (nt - dt) * v1_e6", "nt - 1")))
    // arm totals come from the UNFILTERED day rollup — the terms frame
    // keeps only conversion days
    val totals = byDay.agg(sum(col("out1")).cast("long").as("n_a"),
      sum(col("out2")).cast("long").as("n_b"))
    terms.agg(
        sum(col("d1")).cast("long").as("events_a"),
        sum(col("d2")).cast("long").as("events_b"),
        (sum(col("d1").cast(dec) * 1000000L) - sum(col("e1_e6"))).as("u_e6"),
        sum(col("v_e6")).as("v_sum_e6"))
      .crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"), col("events_a"), col("events_b"),
        col("u_e6").cast("long").as("u_e6"),
        col("v_sum_e6").cast("long").as("v_e6"),
        // U² is nonnegative, so the floor division needs no sign factoring
        expr("""CAST(CAST((u_e6 * u_e6 - (u_e6 * u_e6) % v_sum_e6)
                |   / v_sum_e6 AS DECIMAL(38,0)) AS BIGINT)"""
          .stripMargin).as("logrank_z2_e6"))
  }

  val q292Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events),
      |h AS (SELECT MAX(day) AS maxday FROM e),
      |pu0 AS (
      |  SELECT user_id, MIN(day) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN day END) AS dp,
      |    MAX(maxday) AS maxday
      |  FROM e CROSS JOIN h GROUP BY user_id),
      |pu AS (
      |  SELECT user_id,
      |    CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE maxday - d0 END AS t,
      |    CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS evt,
      |    CASE WHEN CAST(concat('0x',
      |        substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 'A' ELSE 'B' END AS arm
      |  FROM pu0),
      |by_day AS (
      |  SELECT t,
      |    SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS out1,
      |    SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS out2,
      |    SUM(CASE WHEN arm = 'A' THEN evt ELSE 0 END) AS d1,
      |    SUM(CASE WHEN arm = 'B' THEN evt ELSE 0 END) AS d2
      |  FROM pu GROUP BY t),
      |risk AS (
      |  SELECT t, d1, d2, out1, out2,
      |    CAST(SUM(out1) OVER () -
      |      COALESCE(SUM(out1) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n1,
      |    CAST(SUM(out2) OVER () -
      |      COALESCE(SUM(out2) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n2
      |  FROM by_day),
      |terms AS (
      |  SELECT *, d1 + d2 AS dt, n1 + n2 AS nt,
      |    CAST(d1 + d2 AS HUGEINT) * n1 * 1000000 // (n1 + n2) AS e1_e6,
      |    CAST(d1 + d2 AS HUGEINT) * ((n1 + n2) - (d1 + d2))
      |      * (CAST(n1 AS HUGEINT) * n2 * 1000000
      |         // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2)))
      |      // (n1 + n2 - 1) AS v_e6
      |  FROM risk
      |  WHERE d1 + d2 > 0 AND n1 + n2 > 1),
      |tot AS (
      |  SELECT CAST(SUM(out1) AS BIGINT) AS n_a,
      |    CAST(SUM(out2) AS BIGINT) AS n_b
      |  FROM by_day)
      |SELECT n_a, n_b,
      |  CAST(SUM(d1) AS BIGINT) AS events_a,
      |  CAST(SUM(d2) AS BIGINT) AS events_b,
      |  CAST(SUM(CAST(d1 AS HUGEINT) * 1000000) - SUM(e1_e6) AS BIGINT)
      |    AS u_e6,
      |  CAST(SUM(v_e6) AS BIGINT) AS v_e6,
      |  CAST((SUM(CAST(d1 AS HUGEINT) * 1000000) - SUM(e1_e6))
      |    * (SUM(CAST(d1 AS HUGEINT) * 1000000) - SUM(e1_e6))
      |    // SUM(v_e6) AS BIGINT) AS logrank_z2_e6
      |FROM terms CROSS JOIN tot GROUP BY n_a, n_b""".stripMargin

  /** q291: A/B readout for a RATIO metric — revenue per active day — via
    * the delta-method linearization. Ratio metrics are where naive
    * per-user averaging silently lies (users contribute different
    * denominators), and where the variance needs the linearized residuals
    * x_i − R·y_i: with R = Σx/Σy their mean is exactly zero, so
    *
    *   s² = (Sxx − 2R·Sxy + R²·Syy) / (n−1),   SE(R)² = s² / (n·ȳ²)
    *
    * Co-moments are exact DECIMAL(38,0) sums over integer (cents, days);
    * R, s², SE, and z are fixed IEEE expressions over them (q117
    * discipline), so the oracle matches bit-for-bit.
    *
    * Plan: one event pass → per-user (revenue, active days) rollup →
    * 2-row arm fold → scalar algebra. Nothing wider than the user rollup
    * shuffles.
    */
  val q291RatioMetric: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val perUser = e.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L)).as("x"),
        countDistinct(expr("unix_millis(ts) div 86400000")).as("y"))
      .withColumn("variant",
        when(graft.functions.Text.portableHash(col("user_id").cast("string"))
          % 2 === 0, "A").otherwise("B"))
    val arms = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"))
    def armCols(v: String, suffix: String) = Seq(
      max(when(col("variant") === v, col("n"))).as(s"n$suffix"),
      max(when(col("variant") === v, col("sx"))).as(s"sx$suffix"),
      max(when(col("variant") === v, col("sy"))).as(s"sy$suffix"),
      max(when(col("variant") === v, col("sxx"))).as(s"sxx$suffix"),
      max(when(col("variant") === v, col("syy"))).as(s"syy$suffix"),
      max(when(col("variant") === v, col("sxy"))).as(s"sxy$suffix"))
    val aggs = armCols("A", "_a") ++ armCols("B", "_b")
    def ratio(sf: String) =
      col(s"sx$sf").cast("double") / col(s"sy$sf").cast("double")
    def se2(sf: String) = {
      val r = ratio(sf)
      val nD = col(s"n$sf").cast("double")
      val s2 = (col(s"sxx$sf").cast("double") -
        lit(2.0) * r * col(s"sxy$sf").cast("double") +
        r * r * col(s"syy$sf").cast("double")) / (nD - lit(1.0))
      val yBar = col(s"sy$sf").cast("double") / nD
      s2 / (nD * yBar * yBar)
    }
    arms.agg(aggs.head, aggs.tail: _*)
      .select(col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        ratio("_a").as("rpd_a"), ratio("_b").as("rpd_b"),
        sqrt(se2("_a")).as("se_a"), sqrt(se2("_b")).as("se_b"),
        (ratio("_a") - ratio("_b")).as("diff"),
        ((ratio("_a") - ratio("_b")) / sqrt(se2("_a") + se2("_b"))).as("z"))
  }

  val q291Sql: String = {
    def r(sf: String) =
      s"CAST(CAST(sx$sf AS VARCHAR) AS DOUBLE) / CAST(CAST(sy$sf AS VARCHAR) AS DOUBLE)"
    def se2(sf: String) =
      s"""((CAST(CAST(sxx$sf AS VARCHAR) AS DOUBLE)
         |  - 2.0 * (${r(sf)}) * CAST(CAST(sxy$sf AS VARCHAR) AS DOUBLE)
         |  + (${r(sf)}) * (${r(sf)}) * CAST(CAST(syy$sf AS VARCHAR) AS DOUBLE))
         | / (CAST(n$sf AS DOUBLE) - 1.0))
         | / (CAST(n$sf AS DOUBLE)
         |    * (CAST(CAST(sy$sf AS VARCHAR) AS DOUBLE) / CAST(n$sf AS DOUBLE))
         |    * (CAST(CAST(sy$sf AS VARCHAR) AS DOUBLE) / CAST(n$sf AS DOUBLE)))"""
        .stripMargin.replace("\n", " ")
    s"""WITH pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'purchase'
       |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS x,
       |    COUNT(DISTINCT CAST(epoch_ms(ts) AS BIGINT) // 86400000) AS y,
       |    CASE WHEN CAST(concat('0x',
       |        substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
       |      THEN 'A' ELSE 'B' END AS variant
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT variant, COUNT(*) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy
       |  FROM pu GROUP BY variant),
       |wide AS (
       |  SELECT
       |    MAX(CASE WHEN variant = 'A' THEN n END) AS n_a,
       |    MAX(CASE WHEN variant = 'A' THEN sx END) AS sx_a,
       |    MAX(CASE WHEN variant = 'A' THEN sy END) AS sy_a,
       |    MAX(CASE WHEN variant = 'A' THEN sxx END) AS sxx_a,
       |    MAX(CASE WHEN variant = 'A' THEN syy END) AS syy_a,
       |    MAX(CASE WHEN variant = 'A' THEN sxy END) AS sxy_a,
       |    MAX(CASE WHEN variant = 'B' THEN n END) AS n_b,
       |    MAX(CASE WHEN variant = 'B' THEN sx END) AS sx_b,
       |    MAX(CASE WHEN variant = 'B' THEN sy END) AS sy_b,
       |    MAX(CASE WHEN variant = 'B' THEN sxx END) AS sxx_b,
       |    MAX(CASE WHEN variant = 'B' THEN syy END) AS syy_b,
       |    MAX(CASE WHEN variant = 'B' THEN sxy END) AS sxy_b
       |  FROM arms)
       |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |  ${r("_a")} AS rpd_a, ${r("_b")} AS rpd_b,
       |  sqrt(${se2("_a")}) AS se_a, sqrt(${se2("_b")}) AS se_b,
       |  ${r("_a")} - ${r("_b")} AS diff,
       |  (${r("_a")} - ${r("_b")}) / sqrt(${se2("_a")} + ${se2("_b")}) AS z
       |FROM wide""".stripMargin
  }

  // ------------------------- q289: minimum detectable effect panel

  /** Inlined normal quantiles: z(0.975) for α=0.05 two-sided and z(0.80)
    * for 80% power (published tables, plan-build constants).
    */
  private val Z975 = 1.959963985
  private val Z80 = 0.841621234

  /** q289: experiment sizing panel — given the q127 A/B arms as they
    * stand, the minimum detectable effect at 80% power / α=0.05 and the
    * sample size each arm would need to detect a 10% relative lift:
    *
    *   MDE  = (z_{0.975} + z_{0.80})·√(p̂(1−p̂)·(1/n_a + 1/n_b))
    *   n/arm = (z_{0.975} + z_{0.80})²·2·p̂(1−p̂) / (0.1·p̂)²
    *
    * — the "is this experiment even worth running" readout every
    * platform shows beside the live z; fixed IEEE expressions over the
    * exact integer arm counts with inlined quantiles.
    */
  val q289MdePanel: Q = (s, dir) => {
    val arms = q127AbZtest(s, dir)
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"))
    val zsum = lit(Z975 + Z80)
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val varTerm = p * (lit(1.0) - p)
    arms
      .withColumn("p_pool", p)
      .withColumn("mde_abs", zsum * sqrt(varTerm *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double"))))
      .withColumn("mde_rel", col("mde_abs") / col("p_pool"))
      .withColumn("n_per_arm_10pct",
        ceil(zsum * zsum * lit(2.0) * varTerm /
          (lit(0.1) * col("p_pool") * lit(0.1) * col("p_pool")))
          .cast("long"))
  }

  val q289Sql: String = {
    val zsum = Z975 + Z80
    s"""WITH u AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN event_type = 'purchase'
       |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS purch_c
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT CASE WHEN CAST(concat('0x',
       |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
       |      THEN 'A' ELSE 'B' END AS variant,
       |    CASE WHEN purch_c >= $ConvThresholdC THEN 1 ELSE 0 END AS conv
       |  FROM u),
       |c AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
       |  FROM arms),
       |panel AS (
       |  SELECT n_a, conv_a, n_b, conv_b,
       |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
       |      AS p_pool
       |  FROM c)
       |SELECT n_a, conv_a, n_b, conv_b, p_pool,
       |  CAST('$zsum' AS DOUBLE) * sqrt(p_pool * (1.0 - p_pool)
       |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       |    AS mde_abs,
       |  CAST('$zsum' AS DOUBLE) * sqrt(p_pool * (1.0 - p_pool)
       |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       |    / p_pool AS mde_rel,
       |  CAST(ceil(CAST('$zsum' AS DOUBLE) * CAST('$zsum' AS DOUBLE) * 2.0
       |    * p_pool * (1.0 - p_pool)
       |    / (0.1 * p_pool * 0.1 * p_pool)) AS BIGINT) AS n_per_arm_10pct
       |FROM panel""".stripMargin
  }

  // ------------------------------------ q280: Markov entropy rate

  /** q280: per-state conditional entropy and the chain's entropy rate over
    * the q108 transition matrix — "how predictable is the next event?", the
    * sequence-predictability score that separates deterministic funnels
    * (H≈0: always view→click) from noise states, and the information-
    * theoretic ceiling for any next-event predictor (q165's accuracy can
    * be judged against it). In e6-bit integers via the portable log2:
    *
    *   H(next | cur=c) = Σ_t n_ct·(log2 n_c − log2 n_ct) / n_c
    *   rate = Σ_ct n_ct·(log2 n_c − log2 n_ct) / N   (the '__ALL__' row)
    *
    * Terms are nonnegative by construction (n_ct ≤ n_c and log2e6 is
    * monotone over integers), so no sign factoring is needed.
    *
    * Plan: ONE event lead pass (q108's window) to the |types|² rollup;
    * per-state totals ride a whole-partition window over that rollup;
    * both report grains fold from the same term column.
    */
  val q280EntropyRate: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = e.select(col("event_type").as("cur"),
        lead(col("event_type"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n_ct"))
    val totals = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cur"))
    // both report grains read the term rollup — checkpoint it so the union
    // does not replay the corpus lead pass per branch
    val terms = trans
      .withColumn("n_c", sum(col("n_ct")).over(totals))
      .withColumn("term",
        col("n_ct").cast(dec) * (expr(l2("n_c")) - expr(l2("n_ct"))))
      .localCheckpoint()
    val perState = terms.groupBy(col("cur"))
      .agg(max(col("n_c")).as("n_trans"), sum(col("term")).as("num"))
      .select(col("cur").as("state"), col("n_trans"),
        expr("""CAST(CAST((num - num % n_trans) / n_trans
                | AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("h_bits_e6"))
    val overall = terms
      .agg(sum(col("n_ct")).as("n_trans"), sum(col("term")).as("num"))
      .select(lit("__ALL__").as("state"), col("n_trans"),
        expr("""CAST(CAST((num - num % n_trans) / n_trans
                | AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("h_bits_e6"))
    perState.unionAll(overall).orderBy(col("state"))
  }

  val q280Sql: String = {
    s"""WITH seq AS (
       |  SELECT event_type AS cur,
       |    LEAD(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events),
       |trans AS (
       |  SELECT cur, nxt, COUNT(*) AS n_ct FROM seq
       |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
       |totals AS (
       |  SELECT cur, CAST(SUM(n_ct) AS BIGINT) AS n_c
       |  FROM trans GROUP BY cur),
       |terms AS (
       |  SELECT cur, n_ct, n_c,
       |    CAST(n_ct AS HUGEINT) * (${duckL2("n_c")} - ${duckL2("n_ct")}) AS term
       |  FROM trans JOIN totals USING (cur)),
       |per_state AS (
       |  SELECT cur AS state, MAX(n_c) AS n_trans,
       |    SUM(term) // MAX(n_c) AS h
       |  FROM terms GROUP BY cur),
       |overall AS (
       |  SELECT '__ALL__' AS state, SUM(n_ct) AS n_trans,
       |    SUM(term) // SUM(n_ct) AS h
       |  FROM terms)
       |SELECT state, CAST(n_trans AS BIGINT) AS n_trans,
       |  CAST(h AS BIGINT) AS h_bits_e6
       |FROM (SELECT * FROM per_state UNION ALL SELECT * FROM overall)
       |ORDER BY state""".stripMargin
  }

  // ---------------------------- q296: forecast-error panel (seasonal naive)

  /** Seasonal period (days) of q296's naive forecast. */
  val ForecastSeason = 7L

  /** q296: the forecast-accuracy panel every demand/capacity pipeline runs
    * after q261's Croston and the smoothing family: score the SEASONAL
    * NAIVE forecast (predict day d with day d−7) on daily event volume,
    * reporting MAE, MAPE, sMAPE and MASE in one row. Each metric is exact
    * integer arithmetic with ONE e6 floor division per day-term and one
    * per ratio-of-sums (MASE cross-multiplies the two sums — never a
    * double divided by a double):
    *
    *   MASE = (Σ|a−f| / n_f) / (Σ|a_d−a_{d−1}| / n_n)
    *        → ⌊Σ|a−f|·n_n·10⁶ / (Σ|a_d−a_{d−1}|·n_f)⌋
    *
    * The day spine is generated (sequence min..max) so gap days count as
    * zero volume — a lag over observed-only rows would silently compare
    * across gaps.
    *
    * Plan: one event pass → |days| rollup; the spine join broadcasts the
    * (min, max) scalar; lags and sums run over the metadata-sized spine.
    * Corpus rows are touched exactly once.
    */
  val q296ForecastEval: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
    // metadata rollup consumed by bounds AND the spine join — checkpoint
    // so neither branch replays the corpus pass
    val byDay = e.groupBy(col("day")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bounds = byDay.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(byDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("a"))
    val W = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    val lagged = spine
      .withColumn("f", lag(col("a"), ForecastSeason.toInt).over(W))
      .withColumn("prev", lag(col("a"), 1).over(W))
    val terms = lagged.select(col("a"), col("f"), col("prev"),
      when(col("f").isNotNull, abs(col("a") - col("f"))).as("ae"),
      when(col("f").isNotNull && col("a") > 0,
        expr(fdiv("ABS(a - f) * 1000000", "a"))).as("ape_e6"),
      when(col("f").isNotNull && (col("a") + col("f")) > 0,
        expr(fdiv("2000000 * ABS(a - f)", "a + f"))).as("sape_e6"),
      when(col("prev").isNotNull, abs(col("a") - col("prev"))).as("nae"))
    terms.agg(
        count(col("ae")).cast(dec).as("n_f"),
        sum(col("ae")).cast(dec).as("s_ae"),
        count(col("ape_e6")).cast(dec).as("n_p"),
        sum(col("ape_e6")).cast(dec).as("s_ape"),
        count(col("sape_e6")).cast(dec).as("n_s"),
        sum(col("sape_e6")).cast(dec).as("s_sape"),
        count(col("nae")).cast(dec).as("n_n"),
        sum(col("nae")).cast(dec).as("s_nae"))
      .select(col("n_f").cast("long").as("n_forecast"),
        expr(fdiv("s_ae * 1000000", "n_f")).cast("long").as("mae_e6"),
        expr(fdiv("s_ape", "n_p")).cast("long").as("mape_e6"),
        expr(fdiv("s_sape", "n_s")).cast("long").as("smape_e6"),
        // a constant series has zero naive error — MASE is undefined
        // there, and an unguarded division would raise under ANSI mode
        when(col("s_nae") > 0,
          expr(fdiv("s_ae * n_n * 1000000", "s_nae * n_f"))).cast("long")
          .as("mase_e6"))
  }

  val q296Sql: String =
    s"""WITH e AS (
       |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day FROM events),
       |by_day AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY day),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM by_day),
       |spine AS (
       |  SELECT gs.day, COALESCE(cnt, 0) AS a
       |  FROM (SELECT UNNEST(GENERATE_SERIES(d0, d1)) AS day FROM b) gs
       |  LEFT JOIN by_day ON gs.day = by_day.day),
       |lagged AS (
       |  SELECT a,
       |    LAG(a, ${ForecastSeason.toInt}) OVER (ORDER BY day) AS f,
       |    LAG(a, 1) OVER (ORDER BY day) AS prev
       |  FROM spine),
       |terms AS (
       |  SELECT a, f, prev,
       |    CASE WHEN f IS NOT NULL THEN ABS(a - f) END AS ae,
       |    CASE WHEN f IS NOT NULL AND a > 0
       |      THEN ABS(a - f) * 1000000 // a END AS ape_e6,
       |    CASE WHEN f IS NOT NULL AND a + f > 0
       |      THEN 2000000 * ABS(a - f) // (a + f) END AS sape_e6,
       |    CASE WHEN prev IS NOT NULL THEN ABS(a - prev) END AS nae
       |  FROM lagged),
       |agg AS (
       |  SELECT CAST(COUNT(ae) AS HUGEINT) AS n_f, SUM(ae) AS s_ae,
       |    CAST(COUNT(ape_e6) AS HUGEINT) AS n_p, SUM(ape_e6) AS s_ape,
       |    CAST(COUNT(sape_e6) AS HUGEINT) AS n_s, SUM(sape_e6) AS s_sape,
       |    CAST(COUNT(nae) AS HUGEINT) AS n_n, SUM(nae) AS s_nae
       |  FROM terms)
       |SELECT CAST(n_f AS BIGINT) AS n_forecast,
       |  CAST(s_ae * 1000000 // n_f AS BIGINT) AS mae_e6,
       |  CAST(s_ape // n_p AS BIGINT) AS mape_e6,
       |  CAST(s_sape // n_s AS BIGINT) AS smape_e6,
       |  CAST(CASE WHEN s_nae > 0
       |    THEN s_ae * n_n * 1000000 // (s_nae * n_f) END AS BIGINT) AS mase_e6
       |FROM agg""".stripMargin

  // ------------------------- q297: precision-recall evaluation (AP + F1)

  /** q297: the precision-recall leg of the evaluation stack — q164's exact
    * ROC-AUC is the wrong lens for an imbalanced label (ROC rewards
    * true-negative mass the application never sees), so this computes
    * AVERAGE PRECISION and the best-F1 operating point for a behavioral
    * score (click+view engagement) predicting q127's conversion label.
    * Both metrics come off the DESC-cumulative score rollup in exact
    * integers:
    *
    *   AP = Σ_s (pos_s/n₊)·prec(s),   F1(s) = 2·cp(s) / (cp(s)+cn(s)+n₊)
    *
    * — the F1 identity folds precision AND recall into one exact integer
    * ratio (2pr/(p+r) algebraically cancels), so the operating-point scan
    * needs no float comparison; precision floors once at e6 per distinct
    * score, AP once more over n₊. The reported threshold is the highest
    * score attaining the max F1 (deterministic tiebreak).
    *
    * Plan: one event pass → user rollup (the only corpus-scale shuffle) →
    * score-value rollup (bounded by the max per-user event count — grows
    * with per-user ACTIVITY, not user count, but at 100 TB the most
    * active user can carry millions of events, so the rollup is not
    * metadata-sized by construction) → cumulative sums via
    * [[Prefix.runningSum]] (two-level score-bucket device, bit-identical
    * to the desc windows it replaces; grand totals broadcast) — the same
    * near-unique-rollup migration as q164 (r7 verdict item 6).
    */
  val q297PrCurve: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    // label = q127's conversion (purchase total ≥ ConvThresholdC) — chosen
    // there so both classes are non-empty at every SF; bare "ever
    // purchased" is degenerate (n_neg = 0)
    val perUser = e.groupBy(col("user_id")).agg(
      sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L))
        .as("score"),
      when(sum(when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L)) >= ConvThresholdC, 1L).otherwise(0L).as("label"))
    // rollup checkpointed once, shared by the grand-total scalar and both
    // prefix devices (scores are unique post-groupBy, so the order is
    // total and the device is bit-identical to the desc windows)
    val byScore = perUser.groupBy(col("score")).agg(
      sum(col("label")).as("pos"),
      sum(lit(1L) - col("label")).as("neg"))
      .localCheckpoint()
    val tot = byScore.agg(sum(col("pos")).as("n_pos"),
      sum(col("neg")).as("n_neg"))
    val cum = Prefix.runningSum(
        Prefix.runningSum(byScore, "score", Nil, "pos", "cp",
          desc = true, includeCurrent = true, materialize = false),
        "score", Nil, "neg", "cn", desc = true, includeCurrent = true)
      .crossJoin(broadcast(tot))
      .withColumn("prec_e6", expr(fdiv("cp * 1000000", "cp + cn")))
      .withColumn("f1_e6", expr(fdiv("2 * cp * 1000000", "cp + cn + n_pos")))
    cum.agg(max(col("n_pos")).cast(dec).as("np"),
        max(col("n_neg")).as("n_neg"),
        sum(col("pos").cast(dec) * col("prec_e6")).as("ap_num"),
        max(struct(col("f1_e6").as("f1"), col("score").as("sc"))).as("best"))
      .select(col("np").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"),
        expr(fdiv("ap_num", "np")).cast("long").as("ap_e6"),
        col("best.f1").cast("long").as("best_f1_e6"),
        col("best.sc").cast("long").as("best_f1_at_score"))
  }

  val q297Sql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
      |      AS score,
      |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) >= $ConvThresholdC
      |      THEN 1 ELSE 0 END AS label
      |  FROM events GROUP BY user_id),
      |by_score AS (
      |  SELECT score, SUM(label) AS pos, SUM(1 - label) AS neg
      |  FROM u GROUP BY score),
      |cum AS (
      |  SELECT score, pos, neg,
      |    SUM(pos) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
      |    SUM(neg) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
      |    SUM(pos) OVER () AS n_pos, SUM(neg) OVER () AS n_neg
      |  FROM by_score),
      |scored AS (
      |  SELECT score, pos, n_pos, n_neg,
      |    cp * 1000000 // (cp + cn) AS prec_e6,
      |    2 * cp * 1000000 // (cp + cn + n_pos) AS f1_e6
      |  FROM cum)
      |SELECT CAST(MAX(n_pos) AS BIGINT) AS n_pos,
      |  CAST(MAX(n_neg) AS BIGINT) AS n_neg,
      |  CAST(SUM(CAST(pos AS HUGEINT) * prec_e6) // MAX(n_pos) AS BIGINT)
      |    AS ap_e6,
      |  CAST(MAX(f1_e6) AS BIGINT) AS best_f1_e6,
      |  CAST((SELECT MAX(score) FROM scored
      |    WHERE f1_e6 = (SELECT MAX(f1_e6) FROM scored)) AS BIGINT)
      |    AS best_f1_at_score
      |FROM scored""".stripMargin

  // --------------------------------- q298: difference-in-differences

  /** q298: difference-in-differences — the workhorse quasi-experimental
    * readout when assignment isn't randomized per-unit: treated arm (the
    * q127 hash split standing in for a rollout cohort) vs control, before
    * vs after a cutover at the corpus midpoint day. The estimate is the
    * classic 2×2:
    *
    *   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)
    *
    * over per-purchase value cents. Each cell mean is one e6 floor
    * division of exact integer (sum, count); the DiD combines the four
    * already-quantized means so both engines difference identical
    * integers. Parallel-trends diagnostics ride along: the pre-period gap
    * (T−C) the design assumes would have persisted.
    *
    * Plan: one event pass with the (midpoint) scalar broadcast → a 4-row
    * conditional rollup. No window, no join beyond the scalar.
    */
  val q298DiffInDiff: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val cells = e.crossJoin(broadcast(mid))
      .select(when(hv % 2 === 0, lit(1L)).otherwise(0L).as("treated"),
        when(col("day") >= col("midday"), lit(1L)).otherwise(0L).as("post"),
        col("v"))
      .groupBy(col("treated"), col("post"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("v")).cast(dec).as("sv"))
      .select(col("treated"), col("post"), col("n"),
        expr(fdiv("sv * 1000000", "n")).as("m_e6"))
    cells.agg(
        sum(when(col("treated") === 1 && col("post") === 0, col("n"))).cast("long").as("n_t_pre"),
        sum(when(col("treated") === 1 && col("post") === 1, col("n"))).cast("long").as("n_t_post"),
        sum(when(col("treated") === 0 && col("post") === 0, col("n"))).cast("long").as("n_c_pre"),
        sum(when(col("treated") === 0 && col("post") === 1, col("n"))).cast("long").as("n_c_post"),
        sum(when(col("treated") === 1 && col("post") === 0, col("m_e6"))).cast("long").as("m_t_pre_e6"),
        sum(when(col("treated") === 1 && col("post") === 1, col("m_e6"))).cast("long").as("m_t_post_e6"),
        sum(when(col("treated") === 0 && col("post") === 0, col("m_e6"))).cast("long").as("m_c_pre_e6"),
        sum(when(col("treated") === 0 && col("post") === 1, col("m_e6"))).cast("long").as("m_c_post_e6"))
      .withColumn("pre_gap_e6", col("m_t_pre_e6") - col("m_c_pre_e6"))
      .withColumn("did_e6",
        (col("m_t_post_e6") - col("m_t_pre_e6")) -
          (col("m_c_post_e6") - col("m_c_pre_e6")))
  }

  val q298Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events WHERE event_type = 'purchase'),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
      |cells AS (
      |  SELECT
      |    CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END AS treated,
      |    CASE WHEN day >= midday THEN 1 ELSE 0 END AS post,
      |    v
      |  FROM e CROSS JOIN mid),
      |agg AS (
      |  SELECT treated, post, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(v) AS HUGEINT) * 1000000 // COUNT(*) AS m_e6
      |  FROM cells GROUP BY treated, post)
      |SELECT
      |  CAST(SUM(CASE WHEN treated = 1 AND post = 0 THEN n END) AS BIGINT) AS n_t_pre,
      |  CAST(SUM(CASE WHEN treated = 1 AND post = 1 THEN n END) AS BIGINT) AS n_t_post,
      |  CAST(SUM(CASE WHEN treated = 0 AND post = 0 THEN n END) AS BIGINT) AS n_c_pre,
      |  CAST(SUM(CASE WHEN treated = 0 AND post = 1 THEN n END) AS BIGINT) AS n_c_post,
      |  CAST(SUM(CASE WHEN treated = 1 AND post = 0 THEN m_e6 END) AS BIGINT) AS m_t_pre_e6,
      |  CAST(SUM(CASE WHEN treated = 1 AND post = 1 THEN m_e6 END) AS BIGINT) AS m_t_post_e6,
      |  CAST(SUM(CASE WHEN treated = 0 AND post = 0 THEN m_e6 END) AS BIGINT) AS m_c_pre_e6,
      |  CAST(SUM(CASE WHEN treated = 0 AND post = 1 THEN m_e6 END) AS BIGINT) AS m_c_post_e6,
      |  CAST(SUM(CASE WHEN treated = 1 AND post = 0 THEN m_e6 END)
      |    - SUM(CASE WHEN treated = 0 AND post = 0 THEN m_e6 END) AS BIGINT)
      |    AS pre_gap_e6,
      |  CAST((SUM(CASE WHEN treated = 1 AND post = 1 THEN m_e6 END)
      |    - SUM(CASE WHEN treated = 1 AND post = 0 THEN m_e6 END))
      |    - (SUM(CASE WHEN treated = 0 AND post = 1 THEN m_e6 END)
      |    - SUM(CASE WHEN treated = 0 AND post = 0 THEN m_e6 END)) AS BIGINT)
      |    AS did_e6
      |FROM agg""".stripMargin

  // ------------------------------------ q300: CUPED variance reduction

  /** q300: CUPED — the variance-reduction readout every mature
    * experimentation platform applies before quoting an A/B effect: regress
    * the experiment-period metric y (post-midpoint purchase cents per user)
    * on the pre-period covariate x (pre-midpoint purchase cents), compute
    * θ = cov(x,y)/var(x) POOLED across arms, and report the adjusted
    * arm difference (ȳ_T − θx̄_T) − (ȳ_C − θx̄_C) next to the raw one,
    * plus the achieved variance-reduction factor ρ² = cov²/(var_x·var_y).
    * All power sums are exact DECIMAL(38,0) integers off ONE user rollup;
    * θ, ρ² and the two differences are fixed IEEE expression trees over
    * those integers (the q294 normal-equations rule), so even the doubles
    * are bit-identical across engines.
    *
    * Plan: one event pass (midpoint scalar broadcast) → user rollup (the
    * only corpus shuffle) → a 2-row arm rollup + pooled scalars — no
    * second pass, no join back.
    */
  val q300Cuped: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val perUser = e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("midday"), col("v")).otherwise(0L))
          .cast(dec).as("x"),
        sum(when(col("day") >= col("midday"), col("v")).otherwise(0L))
          .cast(dec).as("y"))
      .select(when(hv % 2 === 0, 1L).otherwise(0L).as("treated"),
        col("x"), col("y"))
    val sums = perUser.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("treated")).cast(dec).as("n_t"),
      sum(col("treated") * col("x")).as("sx_t"),
      sum(col("treated") * col("y")).as("sy_t"))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varxN = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varyN = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val theta = covN / varxN
    val nT = col("n_t").cast("double")
    val nC = (col("n") - col("n_t")).cast("double")
    val mxT = col("sx_t").cast("double") / nT
    val myT = col("sy_t").cast("double") / nT
    val mxC = (col("sx") - col("sx_t")).cast("double") / nC
    val myC = (col("sy") - col("sy_t")).cast("double") / nC
    sums.select(col("n_t").cast("long").as("n_t"),
      (col("n") - col("n_t")).cast("long").as("n_c"),
      theta.as("theta"),
      (covN * covN / (varxN * varyN)).as("rho2"),
      (myT - myC).as("diff_raw"),
      ((myT - theta * mxT) - (myC - theta * mxC)).as("diff_cuped"))
  }

  val q300Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events WHERE event_type = 'purchase'),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
      |pu AS (
      |  SELECT user_id,
      |    CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END AS treated,
      |    CAST(SUM(CASE WHEN day < midday THEN v ELSE 0 END) AS HUGEINT) AS x,
      |    CAST(SUM(CASE WHEN day >= midday THEN v ELSE 0 END) AS HUGEINT) AS y
      |  FROM e CROSS JOIN mid GROUP BY user_id),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy,
      |    CAST(SUM(treated) AS HUGEINT) AS n_t,
      |    SUM(treated*x) AS sx_t, SUM(treated*y) AS sy_t
      |  FROM pu),
      |d AS (
      |  SELECT n, n_t,
      |    CAST(CAST(n*sxy - sx*sy AS VARCHAR) AS DOUBLE) AS cov_n,
      |    CAST(CAST(n*sxx - sx*sx AS VARCHAR) AS DOUBLE) AS varx_n,
      |    CAST(CAST(n*syy - sy*sy AS VARCHAR) AS DOUBLE) AS vary_n,
      |    CAST(CAST(n_t AS VARCHAR) AS DOUBLE) AS nt,
      |    CAST(CAST(n - n_t AS VARCHAR) AS DOUBLE) AS nc,
      |    CAST(CAST(sx_t AS VARCHAR) AS DOUBLE) AS sxt,
      |    CAST(CAST(sy_t AS VARCHAR) AS DOUBLE) AS syt,
      |    CAST(CAST(sx - sx_t AS VARCHAR) AS DOUBLE) AS sxc,
      |    CAST(CAST(sy - sy_t AS VARCHAR) AS DOUBLE) AS syc
      |  FROM sums)
      |SELECT CAST(n_t AS BIGINT) AS n_t, CAST(n - n_t AS BIGINT) AS n_c,
      |  cov_n / varx_n AS theta,
      |  cov_n * cov_n / (varx_n * vary_n) AS rho2,
      |  syt / nt - syc / nc AS diff_raw,
      |  (syt / nt - (cov_n / varx_n) * (sxt / nt))
      |    - (syc / nc - (cov_n / varx_n) * (sxc / nc)) AS diff_cuped
      |FROM d""".stripMargin

  // ------------------------------ q301: Nelson–Aalen cumulative hazard

  /** q301: Nelson–Aalen estimator — the cumulative-hazard companion to
    * q259's Kaplan–Meier survival curve and q292's log-rank test, over the
    * same subjects (entry at first event, conversion at first purchase,
    * censoring at the corpus horizon): Ĥ(t) = Σ_{s≤t} d_s/n_s with its
    * variance Σ d_s/n_s². Each increment floors once at e6 off exact
    * integer (d, n); the running sums then add already-quantized integers,
    * so both engines accumulate identical values.
    *
    * Plan: q292's — one event pass → user rollup → day rollup; at-risk
    * counts and the running sums are windows over the metadata-sized day
    * rollup.
    */
  val q301NelsonAalen: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val horizon = e.agg(max(col("day")).as("maxday"))
    val perUser = e.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"),
        max(col("maxday")).as("maxday"))
      .select(
        when(col("dp").isNotNull, col("dp") - col("d0"))
          .otherwise(col("maxday") - col("d0")).as("t"),
        when(col("dp").isNotNull, 1L).otherwise(0L).as("evt"))
    val byDay = perUser.groupBy(col("t"))
      .agg(count(lit(1)).as("out"), sum(col("evt")).as("d"))
    val W = org.apache.spark.sql.expressions.Window
    val asc = W.orderBy(col("t"))
    val below = asc.rowsBetween(W.unboundedPreceding, -1)
    val whole = asc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val run = asc.rowsBetween(W.unboundedPreceding, W.currentRow)
    byDay
      .withColumn("n", sum(col("out")).over(whole) -
        coalesce(sum(col("out")).over(below), lit(0L)))
      .filter(col("d") > 0L)
      .withColumn("h_inc_e6", expr(fdiv("d * 1000000", "n")))
      .withColumn("v_inc_e6", expr(fdiv("d * 1000000", "n * n")))
      .select(col("t"), col("d"), col("n"),
        sum(col("h_inc_e6")).over(run).cast("long").as("h_e6"),
        sum(col("v_inc_e6")).over(run).cast("long").as("var_e6"))
  }

  val q301Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events),
      |h AS (SELECT MAX(day) AS maxday FROM e),
      |pu AS (
      |  SELECT user_id, MIN(day) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN day END) AS dp,
      |    MAX(maxday) AS maxday
      |  FROM e CROSS JOIN h GROUP BY user_id),
      |subj AS (
      |  SELECT CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE maxday - d0 END AS t,
      |    CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS evt
      |  FROM pu),
      |by_day AS (
      |  SELECT t, COUNT(*) AS outc, SUM(evt) AS d FROM subj GROUP BY t),
      |risk AS (
      |  SELECT t, d,
      |    CAST(SUM(outc) OVER () -
      |      COALESCE(SUM(outc) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS n
      |  FROM by_day),
      |inc AS (
      |  SELECT t, d, n,
      |    d * 1000000 // n AS h_inc,
      |    d * 1000000 // (n * n) AS v_inc
      |  FROM risk WHERE d > 0)
      |SELECT t, CAST(d AS BIGINT) AS d, n,
      |  CAST(SUM(h_inc) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS h_e6,
      |  CAST(SUM(v_inc) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS var_e6
      |FROM inc""".stripMargin

  // --------------------------- q302: sequential precedence patterns

  /** Minimum user support for a reported precedence pattern. */
  val SeqMinSupport = 5L

  /** q302: frequent precedence patterns — for event-type pairs (a, b),
    * how many users saw their FIRST a strictly before their FIRST b, and
    * the confidence against users who saw both at all. The
    * PrefixSpan-style 2-sequence mine (order matters, arbitrary gaps),
    * complementary to q108's Markov matrix which only counts ADJACENT
    * transitions. The pair fan-out is |types|² per user — bounded by the
    * fixed event-type domain, never by corpus size — so the self-join
    * stays inside each user's ≤ |types|-row group.
    *
    * Plan: one event pass → (user, type, first-ms) rollup (the corpus
    * shuffle) → within-user pair join (both sides the same small rollup,
    * co-partitioned on user_id — AQE sees one shuffle) → pair rollup.
    * Exact integers; confidence floors once at e6.
    */
  val q302SeqPatterns: Q = (s, dir) => {
    val firsts = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ms")).as("first_ms"))
    val a = firsts.select(col("user_id"), col("event_type").as("a"),
      col("first_ms").as("ta"))
    val b = firsts.select(col("user_id"), col("event_type").as("b"),
      col("first_ms").as("tb"))
    a.join(b, Seq("user_id"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("ta") < col("tb"), 1L).otherwise(0L)).as("n_seq"))
      .filter(col("n_seq") >= SeqMinSupport)
      .select(col("a"), col("b"), col("n_seq"), col("n_both"),
        expr(fdiv("n_seq * 1000000", "n_both")).cast("long").as("conf_e6"))
      .orderBy(col("a"), col("b"))
  }

  val q302Sql: String =
    s"""WITH firsts AS (
       |  SELECT user_id, event_type, MIN(CAST(epoch_ms(ts) AS BIGINT)) AS first_ms
       |  FROM events GROUP BY user_id, event_type),
       |pairs AS (
       |  SELECT x.event_type AS a, y.event_type AS b,
       |    COUNT(*) AS n_both,
       |    SUM(CASE WHEN x.first_ms < y.first_ms THEN 1 ELSE 0 END) AS n_seq
       |  FROM firsts x JOIN firsts y ON x.user_id = y.user_id
       |    AND x.event_type <> y.event_type
       |  GROUP BY x.event_type, y.event_type)
       |SELECT a, b, CAST(n_seq AS BIGINT) AS n_seq,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_seq * 1000000 // n_both AS BIGINT) AS conf_e6
       |FROM pairs WHERE n_seq >= $SeqMinSupport
       |ORDER BY a, b""".stripMargin

  // -------------------- q304: coarsened-exact-matching treatment effect

  /** Activity-bucket width (events per user) for q304's matching strata. */
  val CemBucket = 10L

  /** Error-share threshold (ppm of a user's events) above which q304
    * counts the user as "treated" (heavy error exposure). 20% splits the
    * population near the median share at every SF — presence alone is
    * degenerate here (every user hits every event type).
    */
  val CemErrShareE6 = 200000L

  /** q304: coarsened exact matching — the observational companion to the
    * randomized readouts (q127/q298/q300): "treatment" here is an OBSERVED
    * exposure (error share ≥ [[CemErrShareE6]] ppm of the user's events —
    * "did a degraded experience depress spend?"), so naive treated-vs-
    * control comparison confounds with activity. CEM coarsens the
    * confounder (total event count → width-[[CemBucket]] strata), keeps
    * only strata containing
    * BOTH groups, and weights per-stratum treated−control gaps by the
    * treated count (the ATT estimand):
    *
    *   ATT = Σ_s n_Ts·(ȳ_Ts − ȳ_Cs) / Σ_s n_Ts
    *
    * Per-stratum means floor once at e6 (exact sums/counts); the weighted
    * fold cross-multiplies so the final division is the only further
    * floor. The naive unmatched gap rides along — the report IS the
    * confounding correction, visible as naive−ATT.
    *
    * Plan: one event pass → user rollup (the corpus shuffle) → stratum
    * rollup (≤ range/width rows) → 1-row fold. No join at all.
    */
  val q304CemAtt: Q = (s, dir) => {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        sum(when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L)).as("y"))
      .select(expr(s"n_ev div $CemBucket").as("stratum"),
        when(expr("n_err * 1000000 div n_ev") >= CemErrShareE6, 1L)
          .otherwise(0L).as("t"),
        col("y"))
    val strata = perUser.groupBy(col("stratum"))
      .agg(sum(col("t")).cast(dec).as("n_t"),
        sum(lit(1L) - col("t")).cast(dec).as("n_c"),
        sum(col("t") * col("y")).cast(dec).as("sy_t"),
        sum((lit(1L) - col("t")) * col("y")).cast(dec).as("sy_c"))
    val matched = strata.filter(col("n_t") > 0 && col("n_c") > 0)
      .select(col("n_t"), col("n_c"),
        (col("n_t") * (expr(fdiv("sy_t * 1000000", "n_t")) -
          expr(fdiv("sy_c * 1000000", "n_c")))).as("w_gap_e6"))
    val naive = strata.agg(sum(col("n_t")).as("nt_all"),
      sum(col("n_c")).as("nc_all"), sum(col("sy_t")).as("syt_all"),
      sum(col("sy_c")).as("syc_all"))
    matched.agg(count(lit(1)).as("n_strata"),
        sum(col("n_t")).cast(dec).as("n_t_matched"),
        sum(col("w_gap_e6")).as("gap_sum_e6"))
      .crossJoin(broadcast(naive))
      .select(col("n_strata"),
        col("n_t_matched").cast("long").as("n_t_matched"),
        // the weighted gap sum can be negative — sign-factor the floor
        // division so both engines floor the magnitude identically
        (when(col("gap_sum_e6") < 0,
          -expr(fdiv("-gap_sum_e6", "n_t_matched")))
          .otherwise(expr(fdiv("gap_sum_e6", "n_t_matched"))))
          .cast("long").as("att_e6"),
        (expr(fdiv("syt_all * 1000000", "nt_all")) -
          expr(fdiv("syc_all * 1000000", "nc_all"))).cast("long")
          .as("naive_gap_e6"))
  }

  val q304Sql: String =
    s"""WITH pu AS (
       |  SELECT user_id, COUNT(*) // $CemBucket AS stratum,
       |    CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |        * 1000000 // COUNT(*) >= $CemErrShareE6 THEN 1 ELSE 0 END AS t,
       |    SUM(CASE WHEN event_type = 'purchase'
       |        THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS y
       |  FROM events GROUP BY user_id),
       |strata AS (
       |  SELECT stratum, CAST(SUM(t) AS HUGEINT) AS n_t,
       |    CAST(SUM(1 - t) AS HUGEINT) AS n_c,
       |    CAST(SUM(t * y) AS HUGEINT) AS sy_t,
       |    CAST(SUM((1 - t) * y) AS HUGEINT) AS sy_c
       |  FROM pu GROUP BY stratum),
       |matched AS (
       |  SELECT n_t, n_c,
       |    n_t * (sy_t * 1000000 // n_t - sy_c * 1000000 // n_c) AS w_gap_e6
       |  FROM strata WHERE n_t > 0 AND n_c > 0),
       |naive AS (
       |  SELECT SUM(n_t) AS nt_all, SUM(n_c) AS nc_all,
       |    SUM(sy_t) AS syt_all, SUM(sy_c) AS syc_all
       |  FROM strata)
       |SELECT COUNT(*) AS n_strata,
       |  CAST(SUM(n_t) AS BIGINT) AS n_t_matched,
       |  CAST(CASE WHEN SUM(w_gap_e6) < 0
       |    THEN -((-SUM(w_gap_e6)) // SUM(n_t))
       |    ELSE SUM(w_gap_e6) // SUM(n_t) END AS BIGINT) AS att_e6,
       |  CAST((SELECT syt_all * 1000000 // nt_all - syc_all * 1000000 // nc_all
       |    FROM naive) AS BIGINT) AS naive_gap_e6
       |FROM matched""".stripMargin

  // ------------------------- q306: seasonal decomposition (STL-lite)

  /** q306: classical seasonal decomposition of daily event volume —
    * trend (centered 7-day moving average) + seasonal (day-of-week mean
    * of the detrended series) + residual, the additive decomposition
    * behind every capacity-planning dashboard and the diagnostic q296's
    * seasonal-naive forecast assumes. Exact integers: the trend floors
    * once at e6 over the 7-day sum, detrended = a·10⁶ − trend_e6 exactly,
    * and the seasonal day-of-week mean sign-factors its floor division
    * (detrended values go negative). The decomposition identity
    * a·10⁶ = trend + seasonal + residual holds exactly by construction
    * (residual is defined as the remainder).
    *
    * Plan: one event pass → |days| rollup; the spine, moving window and
    * day-of-week rollup all run over metadata-sized frames.
    */
  val q306SeasonalDecomp: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
    // metadata rollup consumed by bounds AND the spine join — checkpoint
    // so neither branch replays the corpus pass
    val byDay = e.groupBy(col("day")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bounds = byDay.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1)")).as("day"))
      .join(byDay, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0L)).as("a"))
    val W = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(-3, 3)
    val trended = spine
      .withColumn("n7", count(lit(1)).over(W))
      .withColumn("s7", sum(col("a")).over(W))
      .filter(col("n7") === 7)
      .withColumn("trend_e6", expr(fdiv("s7 * 1000000", "7")))
      .withColumn("detr_e6", col("a") * 1000000L - col("trend_e6"))
      .withColumn("dow", expr("day % 7"))
      .localCheckpoint() // consumed by the seasonal rollup AND the join
    val seasonal = trended.groupBy(col("dow"))
      .agg(sum(col("detr_e6")).as("sd"), count(lit(1)).as("nd"))
      .select(col("dow"), expr(sdivCases("sd", "nd")).as("seasonal_e6"))
    trended.join(broadcast(seasonal), Seq("dow"))
      .select(col("day"), col("a"),
        col("trend_e6").cast("long").as("trend_e6"),
        col("seasonal_e6").cast("long").as("seasonal_e6"),
        (col("detr_e6") - col("seasonal_e6")).cast("long").as("resid_e6"))
      .orderBy(col("day"))
  }

  val q306Sql: String =
    """WITH e AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day FROM events),
      |by_day AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY day),
      |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM by_day),
      |spine AS (
      |  SELECT gs.day, COALESCE(cnt, 0) AS a
      |  FROM (SELECT UNNEST(GENERATE_SERIES(d0, d1)) AS day FROM b) gs
      |  LEFT JOIN by_day ON gs.day = by_day.day),
      |tr AS (
      |  SELECT day, a,
      |    COUNT(*) OVER w AS n7, SUM(a) OVER w AS s7
      |  FROM spine
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |trended AS (
      |  SELECT day, a, s7 * 1000000 // 7 AS trend_e6,
      |    a * 1000000 - s7 * 1000000 // 7 AS detr_e6,
      |    day % 7 AS dow
      |  FROM tr WHERE n7 = 7),
      |seasonal AS (
      |  SELECT dow,
      |    CASE WHEN SUM(detr_e6) < 0
      |      THEN -((-SUM(detr_e6)) // COUNT(*))
      |      ELSE SUM(detr_e6) // COUNT(*) END AS seasonal_e6
      |  FROM trended GROUP BY dow)
      |SELECT day, a, CAST(trend_e6 AS BIGINT) AS trend_e6,
      |  CAST(seasonal_e6 AS BIGINT) AS seasonal_e6,
      |  CAST(detr_e6 - seasonal_e6 AS BIGINT) AS resid_e6
      |FROM trended JOIN seasonal USING (dow)
      |ORDER BY day""".stripMargin

  // ----------------------- q308: off-policy evaluation (IPS estimator)

  /** q308: inverse-propensity-scored off-policy evaluation — the
    * counterfactual question every recommendation/ranking pipeline asks of
    * its logs: "what conversion rate WOULD the greedy policy get?" without
    * an online test. Logged action = the event's type (click/view/signup/
    * error), reward = the user's very next event being a purchase, context
    * = the user's activity stratum (q304's coarsening). The behavior
    * propensity is the empirical action share per stratum, the target
    * policy is per-stratum greedy (argmax observed conversion, lowest-name
    * tiebreak), and the Horvitz–Thompson estimate
    *
    *   V̂ = (1/N) Σ 1{a = π(x)}·r / p̂(a|x)
    *
    * folds per (stratum, action) CELL — r-sums, counts and propensities
    * all come off one rollup, so there is no per-row division anywhere:
    * cell contribution = ⌊r_sum·n_x·10⁶ / n_ax⌋, V̂ floors once more over
    * N. The logging policy's raw conversion rate rides along as the
    * baseline the counterfactual is judged against.
    *
    * Plan: one event pass with a per-user ordered window (lead — the
    * corpus shuffle, partitioned by user), a user-stratum join, then
    * metadata-sized cell rollups; the policy argmax is a struct-min over
    * the cell frame.
    */
  val q308IpsOffPolicy: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val logged = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("next_type", lead(col("event_type"), 1).over(W))
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("a"),
        when(col("next_type") === "purchase", 1L).otherwise(0L).as("r"))
    val strata = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(expr(s"count(1) div $CemBucket").as("x"))
    val cells = logged.join(strata, Seq("user_id"))
      .groupBy(col("x"), col("a"))
      .agg(count(lit(1)).as("n_ax"), sum(col("r")).as("r_ax"))
    val perX = cells.groupBy(col("x")).agg(sum(col("n_ax")).as("n_x"))
    // greedy policy: argmax conversion rate per stratum — cross-multiplied
    // comparison via struct-min over (−r/n) would divide, so rank on the
    // exact e6-floored rate with action-name tiebreak
    val pol = cells
      .select(col("x"), col("a"),
        expr(fdiv("r_ax * 1000000", "n_ax")).cast("long").as("rate_e6"))
      .groupBy(col("x"))
      .agg(min(struct((-col("rate_e6")).as("nr"), col("a").as("a"))).as("best"))
      .select(col("x"), col("best.a").as("pi_a"))
    val contrib = cells.join(broadcast(pol), Seq("x"))
      .filter(col("a") === col("pi_a"))
      .join(broadcast(perX), Seq("x"))
      .select(expr(fdiv("r_ax * n_x * 1000000", "n_ax")).as("c_e6"))
    // totals fold from the cell rollup — recomputing them from `logged`
    // would replay the corpus lead pass a second time
    val totals = cells.agg(sum(col("n_ax")).cast(dec).as("n_all"),
      sum(col("r_ax")).cast(dec).as("r_all"))
    contrib.agg(sum(col("c_e6")).as("c_sum"))
      .crossJoin(broadcast(totals))
      .select(col("n_all").cast("long").as("n_logged"),
        expr(fdiv("r_all * 1000000", "n_all")).cast("long")
          .as("v_logging_e6"),
        expr(fdiv("c_sum", "n_all")).cast("long").as("v_ips_e6"))
  }

  val q308Sql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ms
       |  FROM events),
       |led AS (
       |  SELECT user_id, event_type AS a,
       |    CASE WHEN LEAD(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ms, event_id) = 'purchase' THEN 1 ELSE 0 END AS r,
       |    event_type AS et
       |  FROM ev),
       |logged AS (SELECT user_id, a, r FROM led WHERE et <> 'purchase'),
       |strata AS (
       |  SELECT user_id, COUNT(*) // $CemBucket AS x
       |  FROM events GROUP BY user_id),
       |cells AS (
       |  SELECT x, a, COUNT(*) AS n_ax, SUM(r) AS r_ax
       |  FROM logged JOIN strata USING (user_id)
       |  GROUP BY x, a),
       |per_x AS (SELECT x, SUM(n_ax) AS n_x FROM cells GROUP BY x),
       |pol AS (
       |  SELECT x, a AS pi_a FROM (
       |    SELECT x, a,
       |      ROW_NUMBER() OVER (PARTITION BY x
       |        ORDER BY r_ax * 1000000 // n_ax DESC, a) AS rk
       |    FROM cells) t
       |  WHERE rk = 1),
       |contrib AS (
       |  SELECT CAST(r_ax AS HUGEINT) * n_x * 1000000 // n_ax AS c_e6
       |  FROM cells
       |  JOIN pol ON cells.x = pol.x AND cells.a = pol.pi_a
       |  JOIN per_x ON cells.x = per_x.x),
       |tot AS (
       |  SELECT CAST(SUM(n_ax) AS HUGEINT) AS n_all,
       |    CAST(SUM(r_ax) AS HUGEINT) AS r_all
       |  FROM cells)
       |SELECT CAST(n_all AS BIGINT) AS n_logged,
       |  CAST(r_all * 1000000 // n_all AS BIGINT) AS v_logging_e6,
       |  CAST((SELECT SUM(c_e6) FROM contrib) // n_all AS BIGINT) AS v_ips_e6
       |FROM tot""".stripMargin

  // ------------------------------ q316: XmR (individuals) control chart

  /** Consecutive same-side days that trigger the run rule (Western
    * Electric rule 4's classic 8).
    */
  val XmrRunLen = 8

  /** q316: the XmR individuals control chart — Shewhart process control
    * over daily purchase revenue, the SPC complement to q120's 2σ scan
    * (which estimates σ from the data it polices — inflated by the very
    * shifts it should catch) and q124's CUSUM drift series: control
    * limits come from the MOVING RANGE, x̄ ± 2.66·M̄R (2.66 exactly as the
    * rational 266/100), which a level shift cannot inflate. Reports the
    * limits, the beyond-limit day count, and the run-rule count (days
    * ending [[XmrRunLen]] consecutive same-side-of-center observations).
    * Exact integers: the two means floor once at e6; limits and every
    * comparison are integer arithmetic on those.
    *
    * Plan: one event pass → |days| rollup; lags, the run window and the
    * one-row summary all run over the metadata-sized day frame.
    */
  val q316XmrChart: Q = (s, dir) => {
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
    xmrFromDays(byDay)
  }

  /** q316's composition over a landed (day, x) rollup — shared with the
    * streaming twin (the q260 burnFromHourly pattern): the sink lands the
    * watermark-finalized daily totals, and this same fold produces the
    * identical control-chart row from either source.
    */
  def xmrFromDays(byDay: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
    val mr = byDay.withColumn("prev", lag(col("x"), 1).over(W))
      .withColumn("mrng", abs(col("x") - col("prev")))
      .localCheckpoint() // consumed by the limits fold AND the flagging
    val scal = mr.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"),
        sum(col("mrng")).cast(dec).as("smr"))
      .select(col("n"),
        expr(fdiv("sx * 1000000", "n")).as("xbar_e6"),
        // a single-day series has no moving range (n−1 = 0 would raise)
        expr(s"CASE WHEN n > 1 THEN ${fdiv("smr * 1000000", "n - 1")} END")
          .as("mrbar_e6"))
      .select(col("n"), col("xbar_e6"), col("mrbar_e6"),
        (col("xbar_e6") + expr(fdiv("266 * mrbar_e6", "100"))).as("ucl_e6"),
        (col("xbar_e6") - expr(fdiv("266 * mrbar_e6", "100"))).as("lcl_e6"))
    val flagged = mr.crossJoin(broadcast(scal))
      .withColumn("side",
        when(col("x") * 1000000L > col("xbar_e6"), 1L)
          .when(col("x") * 1000000L < col("xbar_e6"), -1L).otherwise(0L))
      .withColumn("beyond",
        (col("x") * 1000000L > col("ucl_e6") ||
          col("x") * 1000000L < col("lcl_e6")).cast("long"))
      .withColumn("run_min", min(col("side")).over(
        W.rowsBetween(-(XmrRunLen - 1), 0)))
      .withColumn("run_max", max(col("side")).over(
        W.rowsBetween(-(XmrRunLen - 1), 0)))
      .withColumn("run_n", count(lit(1)).over(
        W.rowsBetween(-(XmrRunLen - 1), 0)))
      .withColumn("run_hit",
        (col("run_n") === XmrRunLen && col("run_min") === col("run_max") &&
          col("run_min") =!= 0L).cast("long"))
    flagged.groupBy(col("n"), col("xbar_e6"), col("mrbar_e6"),
        col("ucl_e6"), col("lcl_e6"))
      .agg(sum(col("beyond")).cast("long").as("n_beyond_limits"),
        sum(col("run_hit")).cast("long").as("n_run_signals"))
      .select(col("n").cast("long").as("n_days"),
        col("xbar_e6").cast("long").as("xbar_c_e6"),
        col("mrbar_e6").cast("long").as("mrbar_c_e6"),
        col("ucl_e6").cast("long").as("ucl_c_e6"),
        col("lcl_e6").cast("long").as("lcl_c_e6"),
        col("n_beyond_limits"), col("n_run_signals"))
  }

  val q316Sql: String =
    s"""WITH by_day AS (
       |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
       |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY day),
       |mr AS (
       |  SELECT day, x, ABS(x - LAG(x, 1) OVER (ORDER BY day)) AS mrng
       |  FROM by_day),
       |scal AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |    SUM(CAST(x AS HUGEINT)) * 1000000 // COUNT(*) AS xbar_e6,
       |    CASE WHEN COUNT(*) > 1 THEN
       |      SUM(CAST(mrng AS HUGEINT)) * 1000000 // (COUNT(*) - 1)
       |    END AS mrbar_e6
       |  FROM mr),
       |lim AS (
       |  SELECT n, xbar_e6, mrbar_e6,
       |    xbar_e6 + 266 * mrbar_e6 // 100 AS ucl_e6,
       |    xbar_e6 - 266 * mrbar_e6 // 100 AS lcl_e6
       |  FROM scal),
       |flagged AS (
       |  SELECT day, x, n, xbar_e6, mrbar_e6, ucl_e6, lcl_e6,
       |    CASE WHEN x * 1000000 > xbar_e6 THEN 1
       |         WHEN x * 1000000 < xbar_e6 THEN -1 ELSE 0 END AS side,
       |    CASE WHEN x * 1000000 > ucl_e6 OR x * 1000000 < lcl_e6
       |      THEN 1 ELSE 0 END AS beyond
       |  FROM mr CROSS JOIN lim),
       |runs AS (
       |  SELECT *,
       |    MIN(side) OVER w AS run_min, MAX(side) OVER w AS run_max,
       |    COUNT(*) OVER w AS run_n
       |  FROM flagged
       |  WINDOW w AS (ORDER BY day
       |    ROWS BETWEEN ${XmrRunLen - 1} PRECEDING AND CURRENT ROW))
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  CAST(xbar_e6 AS BIGINT) AS xbar_c_e6,
       |  CAST(mrbar_e6 AS BIGINT) AS mrbar_c_e6,
       |  CAST(ucl_e6 AS BIGINT) AS ucl_c_e6,
       |  CAST(lcl_e6 AS BIGINT) AS lcl_c_e6,
       |  CAST(SUM(beyond) AS BIGINT) AS n_beyond_limits,
       |  CAST(SUM(CASE WHEN run_n = $XmrRunLen AND run_min = run_max
       |    AND run_min <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_run_signals
       |FROM runs
       |GROUP BY n, xbar_e6, mrbar_e6, ucl_e6, lcl_e6""".stripMargin

  // ------------------------------------ q317: Wald SPRT sequential test

  /** q317's hypotheses and error rates: H0 p=1/4 vs H1 p=3/8 (bracketing
    * the corpus conversion base rate), α = β = 0.05. The per-observation
    * log-likelihood weights and the decision boundary are PLAN-BUILD
    * constants (the Benford/NDCG rule: libm at plan build, identical
    * inlined literals at runtime): w₁ = log2(p1/p0), w₀ =
    * log2((1−p1)/(1−p0)), A = log2((1−β)/α) = log2(19).
    */
  val SprtW1E6: Long = Math.round(Math.log(3.0 / 2.0) / Math.log(2.0) * 1e6)
  val SprtW0E6: Long = Math.round(Math.log(5.0 / 6.0) / Math.log(2.0) * 1e6)
  val SprtBoundE6: Long = Math.round(Math.log(19.0) / Math.log(2.0) * 1e6)

  /** q317: Wald's SPRT — the continuous-monitoring counterpart to q284's
    * group-sequential looks: instead of five pre-registered O'Brien-
    * Fleming boundaries, the cumulative log-likelihood ratio
    *
    *   LLR_t = k_t·log2(p1/p0) + (n_t−k_t)·log2((1−p1)/(1−p0))
    *
    * walks daily (users enter at their first event, convert by the
    * corpus horizon) and the test stops the first day LLR leaves
    * (−log2 19, +log2 19). Every term is k·const + n·const over exact
    * cumulative integers — the walk, the per-day state and the overall
    * first-crossing decision are bit-exact.
    *
    * Plan: one event pass → user rollup → |days| rollup; cumulative sums
    * and the first-crossing scalar run over the metadata-sized walk.
    */
  val q317Sprt: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"),
        cents(col("value")).as("v"))
    val perUser = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"),
        when(sum(when(col("event_type") === "purchase", col("v"))
          .otherwise(0L)) >= ConvThresholdC, 1L).otherwise(0L).as("conv"))
    val byDay = perUser.groupBy(col("d0").as("day"))
      .agg(count(lit(1)).as("n_d"), sum(col("conv")).as("k_d"))
    val W = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val walk = byDay
      .withColumn("n_t", sum(col("n_d")).over(W))
      .withColumn("k_t", sum(col("k_d")).over(W))
      .withColumn("llr_e6",
        col("k_t") * SprtW1E6 + (col("n_t") - col("k_t")) * SprtW0E6)
      .withColumn("state",
        when(col("llr_e6") >= SprtBoundE6, "accept_h1")
          .when(col("llr_e6") <= -SprtBoundE6, "accept_h0")
          .otherwise("continue"))
      .localCheckpoint() // consumed by the first-crossing scalar AND the walk
    val firstCross = walk.filter(col("state") =!= "continue")
      .agg(min(col("day")).as("cross_day"))
    walk.crossJoin(broadcast(firstCross))
      .select(col("day"), col("n_t"), col("k_t"), col("llr_e6"),
        col("state"),
        coalesce(col("day") >= col("cross_day"), lit(false)).cast("long")
          .as("decided"))
      .orderBy(col("day"))
  }

  val q317Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
       |    CAST(ROUND(value*100) AS BIGINT) AS v
       |  FROM events),
       |pu AS (
       |  SELECT user_id, MIN(day) AS d0,
       |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)
       |      >= $ConvThresholdC THEN 1 ELSE 0 END AS conv
       |  FROM e GROUP BY user_id),
       |by_day AS (
       |  SELECT d0 AS day, COUNT(*) AS n_d, SUM(conv) AS k_d
       |  FROM pu GROUP BY d0),
       |walk AS (
       |  SELECT day,
       |    SUM(n_d) OVER w AS n_t, SUM(k_d) OVER w AS k_t
       |  FROM by_day
       |  WINDOW w AS (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |scored AS (
       |  SELECT day, n_t, k_t,
       |    k_t * $SprtW1E6 + (n_t - k_t) * $SprtW0E6 AS llr_e6,
       |    CASE WHEN k_t * $SprtW1E6 + (n_t - k_t) * $SprtW0E6
       |           >= $SprtBoundE6 THEN 'accept_h1'
       |         WHEN k_t * $SprtW1E6 + (n_t - k_t) * $SprtW0E6
       |           <= -$SprtBoundE6 THEN 'accept_h0'
       |         ELSE 'continue' END AS state
       |  FROM walk),
       |fc AS (SELECT MIN(day) AS cross_day FROM scored
       |  WHERE state <> 'continue')
       |SELECT day, CAST(n_t AS BIGINT) AS n_t, CAST(k_t AS BIGINT) AS k_t,
       |  CAST(llr_e6 AS BIGINT) AS llr_e6, state,
       |  CAST(CASE WHEN cross_day IS NOT NULL AND day >= cross_day
       |    THEN 1 ELSE 0 END AS BIGINT) AS decided
       |FROM scored CROSS JOIN fc
       |ORDER BY day""".stripMargin

  // --------------------------- q318: rank-1 ALS step (implicit factors)

  /** q318: one rank-1 ALS iteration on the user × event-type count matrix
    * — matrix factorization executed as queries, the recommender-system
    * sibling of q282's relational Lloyd step: with item factors fixed at
    * v⁰ = 1 (e4), the user half-step u_i = Σ_j r_ij·v_j / Σ_j v_j² is a
    * closed-form per-user fold, and the item half-step v¹_j =
    * Σ_i r_ij·u_i / Σ_i u_i² a per-item fold over the user factors. The
    * report makes the alternating-minimization guarantee visible per
    * item: SSE(u¹, v⁰) vs SSE(u¹, v¹) folded from the SAME rollups via
    * the q282 identity Σ(r−uv)² = Σr² − 2vΣru + v²Σu² — the r = 0 cells
    * (most of the implicit matrix) enter through Σu² without ever being
    * materialized. Exact e4/e8/e16 integer staging throughout; the two
    * floor divisions (u, v¹) are the only quantizations, so v¹ sits
    * within 1 e4-ulp of the true minimizer.
    *
    * Plan: one event pass → (user, type) rollup → per-user fold (the
    * corpus shuffle) → |types|-row item rollup riding the broadcast Σu²
    * scalar. No iteration driver-side, no collect.
    */
  val q318AlsStep: Q = (s, dir) => {
    val r = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("r"))
      .localCheckpoint() // consumed by the user fold AND the item fold
    val nTypes = 5L
    // with v0 = 1 (real) on every type, u = Σr·v0/Σv0² = Σr/5; e4-scaled
    val u = r.groupBy(col("user_id"))
      .agg(expr(fdiv(s"SUM(r) * CAST(10000 AS DECIMAL(38,0))", s"$nTypes"))
        .as("u_e4"))
    val su2 = u.agg(sum((col("u_e4") * col("u_e4")).cast(dec)).as("su2"))
    val perItem = r.join(u, Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users_present"),
        sum((col("r").cast(dec) * 100000000L) *
          (col("r").cast(dec) * 100000000L)).as("sr8_2"),
        sum(col("r").cast(dec) * col("u_e4")).as("sru"))
    perItem.crossJoin(broadcast(su2))
      .withColumn("v1_e4", expr(fdiv("sru * 100000000", "su2")))
      .select(col("event_type"), col("n_users_present"),
        lit(10000L).as("v0_e4"), col("v1_e4").cast("long").as("v1_e4"),
        // constants pre-folded: 2·v0·1e8 = 2e12 (an INT literal product
        // would overflow before widening), v0² = 1e8
        expr(fdiv(
          "sr8_2 - CAST(2000000000000 AS DECIMAL(38,0)) * sru + 100000000 * su2",
          "100000000")).cast("long").as("sse_before_e8"),
        expr(fdiv(
          "sr8_2 - 2 * v1_e4 * CAST(100000000 AS DECIMAL(38,0)) * sru + v1_e4 * v1_e4 * su2",
          "100000000")).cast("long").as("sse_after_e8"))
      .orderBy(col("event_type"))
  }

  val q318Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, COUNT(*) AS r
      |  FROM events GROUP BY user_id, event_type),
      |u AS (
      |  SELECT user_id,
      |    CAST(SUM(r) AS HUGEINT) * 10000 // 5 AS u_e4
      |  FROM r GROUP BY user_id),
      |su2 AS (SELECT SUM(CAST(u_e4 AS HUGEINT) * u_e4) AS su2 FROM u),
      |per_item AS (
      |  SELECT event_type, COUNT(*) AS n_users_present,
      |    SUM((CAST(r.r AS HUGEINT) * 100000000)
      |      * (CAST(r.r AS HUGEINT) * 100000000)) AS sr8_2,
      |    SUM(CAST(r.r AS HUGEINT) * u_e4) AS sru
      |  FROM r JOIN u USING (user_id)
      |  GROUP BY event_type)
      |SELECT event_type, n_users_present,
      |  CAST(10000 AS BIGINT) AS v0_e4,
      |  CAST(sru * 100000000 // su2 AS BIGINT) AS v1_e4,
      |  CAST((sr8_2 - CAST(2000000000000 AS HUGEINT) * sru
      |      + 100000000 * su2)
      |    // 100000000 AS BIGINT) AS sse_before_e8,
      |  CAST((sr8_2
      |    - 2 * (sru * 100000000 // su2) * CAST(100000000 AS HUGEINT) * sru
      |    + (sru * 100000000 // su2) * (sru * 100000000 // su2) * su2)
      |    // 100000000 AS BIGINT) AS sse_after_e8
      |FROM per_item CROSS JOIN su2
      |ORDER BY event_type""".stripMargin

  // --------------------- q319: single-frequency periodogram (Goertzel)

  /** q319: how much of the daily-volume variance is the WEEKLY cycle? The
    * single-frequency periodogram share at period 7 (with period 5 as the
    * non-harmonic control) — the frequency-domain answer to q121's
    * weekday-means table and the test q296's seasonal-naive forecaster
    * implicitly assumes. For period p:
    *
    *   share(p) = 2·(S_c² + S_s²) / (n·10¹²·Σx̃²),
    *   S_c = Σ x̃_t·cos(2πt/p)·10⁶  (x̃ = n·x − Σx, the n-scaled centering
    *                                 that stays integer)
    *
    * The 2p trig values are PLAN-BUILD constants inlined as identical e6
    * literals into both engines (the Benford/NDCG rule) and keyed by t mod
    * p, so the whole spectrum probe is exact integer arithmetic with ONE
    * floor division per period; share ≈ 10⁶ for a pure p-cycle, ≈ 0 for
    * none (Parseval).
    *
    * Plan: one event pass → |days| spine; the trig fold is a
    * map-side-combinable aggregate over the spine.
    */
  val q319Periodogram: Q = (s, dir) => {
    def trigCase(p: Int, fn: Double => Double): String =
      (0 until p).map(k =>
        s"WHEN ${k}L THEN ${Math.round(fn(2 * Math.PI * k / p) * 1e6)}L")
        .mkString(s"CASE t % $p ", " ", " END")
    val e = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
    // metadata rollup consumed by bounds AND the spine join — checkpoint
    // so neither branch replays the corpus pass
    val byDay = e.groupBy(col("day")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bounds = byDay.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1)")).as("day"), col("d0"))
      .join(byDay, Seq("day"), "left")
      .select((col("day") - col("d0")).as("t"),
        coalesce(col("cnt"), lit(0L)).as("x"))
      .localCheckpoint() // consumed by the (n, sx) scalar AND the trig fold
    val scal = spine.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"))
    def shares(p: Int) = {
      val c = trigCase(p, Math.cos)
      val sn = trigCase(p, Math.sin)
      (sum(expr(s"(n * x - sx) * ($c)").cast(dec)).as(s"sc$p"),
        sum(expr(s"(n * x - sx) * ($sn)").cast(dec)).as(s"ss$p"))
    }
    val (sc7, ss7) = shares(7)
    val (sc5, ss5) = shares(5)
    spine.crossJoin(broadcast(scal))
      .agg(max(col("n")).as("n"), sc7, ss7, sc5, ss5,
        sum(((col("n") * col("x") - col("sx")) *
          (col("n") * col("x") - col("sx"))).cast(dec)).as("sxx"))
      .select(col("n").cast("long").as("n_days"),
        // a constant series has zero variance — the spectrum share is
        // undefined, not zero; NULL in both engines
        when(col("sxx") > 0, expr(fdiv("(sc7 * sc7 + ss7 * ss7) * 2000000",
          "n * 1000000000000 * sxx"))).cast("long").as("share_p7_e6"),
        when(col("sxx") > 0, expr(fdiv("(sc5 * sc5 + ss5 * ss5) * 2000000",
          "n * 1000000000000 * sxx"))).cast("long").as("share_p5_e6"))
  }

  val q319Sql: String = {
    def trigCase(p: Int, fn: Double => Double): String =
      (0 until p).map(k =>
        s"WHEN $k THEN ${Math.round(fn(2 * Math.PI * k / p) * 1e6)}")
        .mkString(s"CASE t % $p ", " ", " END")
    val c7 = trigCase(7, Math.cos); val s7 = trigCase(7, Math.sin)
    val c5 = trigCase(5, Math.cos); val s5 = trigCase(5, Math.sin)
    s"""WITH e AS (
       |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day FROM events),
       |by_day AS (SELECT day, COUNT(*) AS cnt FROM e GROUP BY day),
       |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM by_day),
       |spine AS (
       |  SELECT gs.day - d0 AS t, COALESCE(cnt, 0) AS x
       |  FROM (SELECT UNNEST(GENERATE_SERIES(d0, d1)) AS day, d0 FROM b) gs
       |  LEFT JOIN by_day ON gs.day = by_day.day),
       |scal AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |    CAST(SUM(x) AS HUGEINT) AS sx
       |  FROM spine),
       |folds AS (
       |  SELECT MAX(n) AS n,
       |    SUM((n * x - sx) * ($c7)) AS sc7,
       |    SUM((n * x - sx) * ($s7)) AS ss7,
       |    SUM((n * x - sx) * ($c5)) AS sc5,
       |    SUM((n * x - sx) * ($s5)) AS ss5,
       |    SUM((n * x - sx) * (n * x - sx)) AS sxx
       |  FROM spine CROSS JOIN scal)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  CAST(CASE WHEN sxx > 0 THEN (sc7 * sc7 + ss7 * ss7) * 2000000
       |    // (n * 1000000000000 * sxx) END AS BIGINT) AS share_p7_e6,
       |  CAST(CASE WHEN sxx > 0 THEN (sc5 * sc5 + ss5 * ss5) * 2000000
       |    // (n * 1000000000000 * sxx) END AS BIGINT) AS share_p5_e6
       |FROM folds""".stripMargin
  }

  // --------------------- q325: population stability index (PSI) drift

  /** q325: PSI — the binned drift metric production scoring pipelines
    * actually alert on (q161's total variation weighs all mass moves
    * equally; PSI's log weight punishes moves into near-empty bins, which
    * is what breaks models): purchase values binned by the PRE-period
    * deciles (two-level rank-target cutpoints, mirrored in the oracle), then per bin
    *
    *   PSI₂_bin = (s_post − s_pre) · log2(s_post / s_pre)
    *
    * in e6 fixed point over the portable log2 — base-2 throughout and
    * named so (ln-based PSI is this × ln2). Shares clamp at 1 ppm so an
    * emptied bin contributes large-but-finite evidence; the two factors
    * always share a sign, so the product needs no sign-factoring. The
    * summary row rides along as bin = −1.
    *
    * Plan: one pre-period pass for the cutpoints (broadcast), one full
    * pass binning via 9 integer comparisons, a 10-row rollup.
    */
  val q325Psi: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val staged = e.crossJoin(broadcast(mid))
      .select(col("v"), (col("day") >= col("midday")).cast("long").as("post"))
    // decile cutpoints via the two-level rank-target selection (the q327
    // fix): nine ungrouped percentile_disc aggregates over a corpus-scale
    // column would buffer it in one task
    val byV = staged.filter(col("post") === 0L)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = AuditQueries.doubledRankBelow(byV, Seq.empty, "v", 100000L)
    val nAll = byV.agg(sum(col("cnt")).as("n_all"))
    val cuts = ranked.crossJoin(broadcast(nAll))
      .select(col("v"), col("below"), col("cnt"),
        explode(expr("sequence(1, 9)")).as("i"))
      .filter(col("below") < expr("(n_all * i + 9) div 10") &&
        expr("(n_all * i + 9) div 10") <= col("below") + col("cnt"))
      .groupBy().pivot("i", 1 to 9).agg(first(col("v")))
      .select((1 to 9).map(i => col(i.toString).as(s"c$i")): _*)
    val binExpr = (1 to 9).map(i => s"CAST(v > c$i AS INT)").mkString(" + ")
    val bins = staged.crossJoin(broadcast(cuts))
      .select(expr(binExpr).cast("long").as("bin"), col("post"))
      .groupBy(col("bin"))
      .agg(sum(lit(1L) - col("post")).as("n_pre"),
        sum(col("post")).as("n_post"))
      .localCheckpoint() // consumed by the totals scalar AND the scoring
    val totals = bins.agg(sum(col("n_pre")).cast(dec).as("t_pre"),
      sum(col("n_post")).cast(dec).as("t_post"))
    val scored = bins.crossJoin(broadcast(totals))
      .withColumn("s_pre_e6", greatest(lit(1L).cast(dec),
        expr(fdiv("n_pre * 1000000", "t_pre"))))
      .withColumn("s_post_e6", greatest(lit(1L).cast(dec),
        expr(fdiv("n_post * 1000000", "t_post"))))
      .withColumn("psi2_bin_e6", expr(fdiv(
        s"ABS(s_post_e6 - s_pre_e6) * ABS(" +
          Text.log2e6SparkSql("CAST(s_post_e6 AS BIGINT)") + " - " +
          Text.log2e6SparkSql("CAST(s_pre_e6 AS BIGINT)") + ")",
        "1000000")))
    scored.select(col("bin"), col("n_pre"), col("n_post"),
        col("s_pre_e6").cast("long").as("s_pre_e6"),
        col("s_post_e6").cast("long").as("s_post_e6"),
        col("psi2_bin_e6").cast("long").as("psi2_bin_e6"))
      .unionByName(scored.agg(sum(col("n_pre")).as("n_pre"),
        sum(col("n_post")).as("n_post"),
        sum(col("psi2_bin_e6")).cast("long").as("psi2_bin_e6"))
        .select(lit(-1L).as("bin"), col("n_pre"), col("n_post"),
          lit(1000000L).as("s_pre_e6"), lit(1000000L).as("s_post_e6"),
          col("psi2_bin_e6")))
      .orderBy(col("bin"))
  }

  val q325Sql: String = {
    val binExpr = (1 to 9).map(i => s"CAST(v > c$i AS INT)").mkString(" + ")
    s"""WITH e AS (
       |  SELECT CAST(ROUND(value*100) AS BIGINT) AS v,
       |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
       |  FROM events WHERE event_type = 'purchase'),
       |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
       |staged AS (
       |  SELECT v, CASE WHEN day >= midday THEN 1 ELSE 0 END AS post
       |  FROM e CROSS JOIN mid),
       |by_v AS (
       |  SELECT v, COUNT(*) AS cnt FROM staged WHERE post = 0 GROUP BY v),
       |ranked AS (
       |  SELECT v, cnt,
       |    COALESCE(SUM(cnt) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
       |    SUM(cnt) OVER () AS n_all
       |  FROM by_v),
       |cutrows AS (
       |  SELECT i, v FROM ranked,
       |    (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS i) gi
       |  WHERE below < (n_all * i + 9) // 10
       |    AND (n_all * i + 9) // 10 <= below + cnt),
       |cuts AS (
       |  SELECT ${(1 to 9).map(i =>
            s"MAX(CASE WHEN i = $i THEN v END) AS c$i").mkString(", ")}
       |  FROM cutrows),
       |bins AS (
       |  SELECT $binExpr AS bin,
       |    CAST(SUM(1 - post) AS BIGINT) AS n_pre,
       |    CAST(SUM(post) AS BIGINT) AS n_post
       |  FROM staged CROSS JOIN cuts
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(n_pre) AS HUGEINT) AS t_pre,
       |    CAST(SUM(n_post) AS HUGEINT) AS t_post
       |  FROM bins),
       |scored AS (
       |  SELECT bin, n_pre, n_post,
       |    GREATEST(1, CAST(n_pre AS HUGEINT) * 1000000 // t_pre) AS s_pre_e6,
       |    GREATEST(1, CAST(n_post AS HUGEINT) * 1000000 // t_post) AS s_post_e6
       |  FROM bins CROSS JOIN tot),
       |psi AS (
       |  SELECT bin, n_pre, n_post, s_pre_e6, s_post_e6,
       |    ABS(s_post_e6 - s_pre_e6) * ABS(
       |      ${Text.log2e6DuckSql("CAST(s_post_e6 AS BIGINT)")} -
       |      ${Text.log2e6DuckSql("CAST(s_pre_e6 AS BIGINT)")})
       |      // 1000000 AS psi2_bin_e6
       |  FROM scored)
       |SELECT CAST(bin AS BIGINT) AS bin, n_pre, n_post,
       |  CAST(s_pre_e6 AS BIGINT) AS s_pre_e6,
       |  CAST(s_post_e6 AS BIGINT) AS s_post_e6,
       |  CAST(psi2_bin_e6 AS BIGINT) AS psi2_bin_e6
       |FROM psi
       |UNION ALL
       |SELECT -1, CAST(SUM(n_pre) AS BIGINT), CAST(SUM(n_post) AS BIGINT),
       |  1000000, 1000000, CAST(SUM(psi2_bin_e6) AS BIGINT)
       |FROM psi
       |ORDER BY bin""".stripMargin
  }

  // ----------------- q329: quintile mobility matrix + Shorrocks index

  /** q329: rank mobility — do users move between spend quintiles from the
    * pre to the post period, or is the hierarchy frozen? The row-
    * stochastic quintile transition matrix (each period binned by its OWN
    * two-level rank-target cutpoints — rank mobility, not level
    * change) plus Shorrocks' index M = (k − tr P)/(k − 1): 0 = everyone
    * stays put, 10⁶ ≈ perfect churn. Cell shares and the trace fold in
    * e6 exact integers; the summary rides as the (−1, −1) row.
    *
    * Plan: one event pass → user rollup (the corpus shuffle) → two
    * broadcast cutpoint rows → a 25-cell rollup.
    */
  val q329Mobility: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val pu = e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("midday"), col("v")).otherwise(0L))
          .as("pre"),
        sum(when(col("day") >= col("midday"), col("v")).otherwise(0L))
          .as("post"))
      .localCheckpoint() // consumed by BOTH cutpoint rows AND the binning
    // quintile cutpoints by the two-level rank-target selection (the
    // q327 fix) — the user frame is corpus-scale, so an ungrouped
    // percentile_disc would single-task-sort it. r8: BOTH columns ride ONE
    // grouped rank pass (unpivot to (which, v), group the device by
    // `which`) instead of two per-column pipelines — identical per-group
    // arithmetic, half the shuffles (guide §2.4).
    val cuts = {
      val byV = pu
        .select(explode(array(
          struct(lit("pre").as("which"), col("pre").as("v")),
          struct(lit("post").as("which"), col("post").as("v")))).as("e"))
        .groupBy(col("e.which").as("which"), col("e.v").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val ranked = AuditQueries.doubledRankBelow(byV, Seq("which"), "v", 100000L)
      val nAll = byV.groupBy(col("which")).agg(sum(col("cnt")).as("n_all"))
      ranked.join(broadcast(nAll), Seq("which"))
        .select(col("which"), col("v"), col("below"), col("cnt"),
          explode(expr("sequence(1, 4)")).as("i"))
        .filter(col("below") < expr("(n_all * i + 4) div 5") &&
          expr("(n_all * i + 4) div 5") <= col("below") + col("cnt"))
        .groupBy().pivot(concat_ws("_c", col("which"), col("i")),
          Seq("pre", "post").flatMap(w => (1 to 4).map(i => s"${w}_c$i")))
        .agg(first(col("v")))
    }
    def binExpr(c: String) =
      (1 to 4).map(i => s"CAST($c > ${c}_c$i AS INT)").mkString(" + ")
    val binned = pu.crossJoin(broadcast(cuts))
      .select(expr(binExpr("pre")).cast("long").as("pre_bin"),
        expr(binExpr("post")).cast("long").as("post_bin"))
    val cellsM = binned.groupBy(col("pre_bin"), col("post_bin"))
      .agg(count(lit(1)).as("n_users"))
    val rows = cellsM.groupBy(col("pre_bin")).agg(sum(col("n_users")).as("rn"))
    val scored = cellsM.join(broadcast(rows), Seq("pre_bin"))
      .withColumn("p_e6", expr(fdiv("n_users * 1000000", "rn")))
    val trace = scored.filter(col("pre_bin") === col("post_bin"))
      .agg(sum(col("p_e6")).as("tr_e6"), sum(lit(0L)).as("z"))
    val total = scored.agg(sum(col("n_users")).as("n_all"))
    scored.select(col("pre_bin"), col("post_bin"), col("n_users"),
        col("p_e6").cast("long").as("p_e6"))
      .unionByName(trace.crossJoin(broadcast(total))
        .select(lit(-1L).as("pre_bin"), lit(-1L).as("post_bin"),
          col("n_all").as("n_users"),
          expr(fdiv("(5000000 - tr_e6) * 1000000", "4000000")).cast("long")
            .as("p_e6")))
      .orderBy(col("pre_bin"), col("post_bin"))
  }

  val q329Sql: String = {
    def binExpr(c: String) =
      (1 to 4).map(i => s"CAST($c > ${c}_c$i AS INT)").mkString(" + ")
    // quintile cutpoints by the identical rank targets the engine selects
    def cuts(c: String) =
      s"""SELECT ${(1 to 4).map(i =>
           s"MAX(CASE WHEN i = $i THEN $c END) AS ${c}_c$i").mkString(", ")}
         | FROM (
         |  SELECT i, $c FROM (
         |    SELECT $c, cnt,
         |      COALESCE(SUM(cnt) OVER (ORDER BY $c
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS below,
         |      SUM(cnt) OVER () AS n_all
         |    FROM (SELECT $c, COUNT(*) AS cnt FROM pu GROUP BY $c)) r,
         |    (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS i) gi
         |  WHERE below < (n_all * i + 4) // 5
         |    AND (n_all * i + 4) // 5 <= below + cnt)""".stripMargin
        .replace("\n", " ")
    s"""WITH e AS (
       |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v,
       |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
       |  FROM events WHERE event_type = 'purchase'),
       |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
       |pu AS (
       |  SELECT user_id,
       |    SUM(CASE WHEN day < midday THEN v ELSE 0 END) AS pre,
       |    SUM(CASE WHEN day >= midday THEN v ELSE 0 END) AS post
       |  FROM e CROSS JOIN mid GROUP BY user_id),
       |pc AS (${cuts("pre")}),
       |qc AS (${cuts("post")}),
       |binned AS (
       |  SELECT ${binExpr("pre")} AS pre_bin, ${binExpr("post")} AS post_bin
       |  FROM pu CROSS JOIN pc CROSS JOIN qc),
       |cells AS (
       |  SELECT pre_bin, post_bin, COUNT(*) AS n_users
       |  FROM binned GROUP BY pre_bin, post_bin),
       |rows_m AS (SELECT pre_bin, SUM(n_users) AS rn FROM cells GROUP BY pre_bin),
       |scored AS (
       |  SELECT pre_bin, post_bin, n_users,
       |    CAST(n_users AS HUGEINT) * 1000000 // rn AS p_e6
       |  FROM cells JOIN rows_m USING (pre_bin)),
       |tr AS (
       |  SELECT CAST(SUM(CASE WHEN pre_bin = post_bin THEN p_e6 ELSE 0 END)
       |    AS HUGEINT) AS tr_e6, CAST(SUM(n_users) AS BIGINT) AS n_all
       |  FROM scored)
       |SELECT CAST(pre_bin AS BIGINT) AS pre_bin,
       |  CAST(post_bin AS BIGINT) AS post_bin,
       |  CAST(n_users AS BIGINT) AS n_users, CAST(p_e6 AS BIGINT) AS p_e6
       |FROM scored
       |UNION ALL
       |SELECT -1, -1, n_all,
       |  CAST((5000000 - tr_e6) * 1000000 // 4000000 AS BIGINT)
       |FROM tr
       |ORDER BY pre_bin, post_bin""".stripMargin
  }

  // ------------------ q330: split-conformal interval calibration audit

  /** Nominal coverage (ppm) of the q330 conformal band. */
  val ConformalNominalE6 = 900000L

  /** q330: split conformal prediction — the distribution-free interval
    * recipe modern forecasting stacks wrap around ANY point model, here
    * the day-of-week mean from the CALIBRATION half of the day spine:
    * nonconformity = |actual − dow mean|, q̂ = the ⌈(n+1)·0.9⌉-th smallest
    * calibration score (the exact finite-sample quantile, selected
    * relationally from the score rollup's below-counts — q290's device),
    * and the audit = the TEST-half coverage of [μ_dow ± q̂] next to the
    * nominal 90%. Conformal's marginal-coverage guarantee is
    * finite-sample and assumption-free — which is exactly why the audit
    * column belongs in the output. Integer throughout (means floor at
    * e6; scores compare in the same units).
    *
    * Plan: one event pass → |days| rollup; calibration means, the score
    * rollup and the selection all run on metadata frames.
    */
  val q330Conformal: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
    val byDay = e.groupBy(col("day")).agg(count(lit(1)).as("a"))
      .localCheckpoint() // consumed by the midpoint scalar AND the marking
    val mid = byDay.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val marked = byDay.crossJoin(broadcast(mid))
      .select(col("day"), col("a"), expr("day % 7").as("dow"),
        (col("day") >= col("midday")).cast("long").as("is_test"))
      .localCheckpoint() // consumed by the calibration means AND the scoring
    val dowMeans = marked.filter(col("is_test") === 0L)
      .groupBy(col("dow"))
      .agg(expr(fdiv("SUM(a) * 1000000", "COUNT(1)")).as("mu_e6"))
    val scoredAll = marked.join(broadcast(dowMeans), Seq("dow"))
      .select(col("day"), col("is_test"),
        abs(col("a") * 1000000L - col("mu_e6")).as("score"))
    val cal = scoredAll.filter(col("is_test") === 0L)
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val byScore = cal.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
    val W = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val qhat = byScore
      .withColumn("below", coalesce(sum(col("cnt")).over(W), lit(0L)))
      .crossJoin(broadcast(nCal))
      // rank target = ⌈(n+1)·0.9⌉ (capped at n), the split-conformal
      // finite-sample quantile
      .withColumn("target",
        least(expr("CAST(((n_cal + 1) * 9 + 9) div 10 AS BIGINT)"),
          col("n_cal")))
      .filter(col("below") < col("target") &&
        col("target") <= col("below") + col("cnt"))
      .select(col("score").as("qhat_e6"), col("n_cal"))
    scoredAll.filter(col("is_test") === 1L)
      .crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).cast("long").as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("qhat_e6")).cast("long").as("qhat_e6"),
        expr(fdiv("SUM(CAST(score <= qhat_e6 AS INT)) * 1000000", "COUNT(1)"))
          .cast("long").as("coverage_e6"))
      .withColumn("nominal_e6", lit(ConformalNominalE6))
  }

  val q330Sql: String =
    s"""WITH e AS (
       |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day FROM events),
       |by_day AS (SELECT day, COUNT(*) AS a FROM e GROUP BY day),
       |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM by_day),
       |marked AS (
       |  SELECT day, a, day % 7 AS dow,
       |    CASE WHEN day >= midday THEN 1 ELSE 0 END AS is_test
       |  FROM by_day CROSS JOIN mid),
       |dow_means AS (
       |  SELECT dow, CAST(SUM(a) AS HUGEINT) * 1000000 // COUNT(*) AS mu_e6
       |  FROM marked WHERE is_test = 0 GROUP BY dow),
       |scored AS (
       |  SELECT day, is_test, ABS(a * 1000000 - mu_e6) AS score
       |  FROM marked JOIN dow_means USING (dow)),
       |n_cal AS (SELECT COUNT(*) AS n_cal FROM scored WHERE is_test = 0),
       |by_score AS (
       |  SELECT score, COUNT(*) AS cnt FROM scored WHERE is_test = 0
       |  GROUP BY score),
       |qhat AS (
       |  SELECT score AS qhat_e6, n_cal FROM (
       |    SELECT score, cnt, n_cal,
       |      COALESCE(SUM(cnt) OVER (ORDER BY score
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
       |      LEAST(((n_cal + 1) * 9 + 9) // 10, n_cal) AS target
       |    FROM by_score CROSS JOIN n_cal) t
       |  WHERE below < target AND target <= below + cnt)
       |SELECT CAST(MAX(n_cal) AS BIGINT) AS n_cal,
       |  COUNT(*) AS n_test,
       |  CAST(MAX(qhat_e6) AS BIGINT) AS qhat_e6,
       |  CAST(SUM(CASE WHEN score <= qhat_e6 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS coverage_e6,
       |  CAST($ConformalNominalE6 AS BIGINT) AS nominal_e6
       |FROM scored CROSS JOIN qhat
       |WHERE is_test = 1""".stripMargin

  // --------------- q332: competing-risks cumulative incidence (CIF)

  /** q332: the Aalen–Johansen cumulative incidence functions for two
    * COMPETING first events — purchase vs error, whichever strikes first
    * (same-day ties resolve to purchase, stated) — completing the
    * survival family: q259's KM answers "how long until ANY event";
    * 1−KM OVERSTATES each cause's incidence when causes compete, and the
    * CIF is the correct decomposition:
    *
    *   CIF_k(t) = Σ_{s≤t} Ŝ(s−)·d_ks/n_s,   Ŝ = all-cause KM
    *
    * By construction CIF₁ + CIF₂ + Ŝ accounts for all probability mass
    * (up to the per-step e6 floors). The day rollup is control metadata
    * (the q259/Ivf.train precedent), so the sequential product/sum folds
    * run driver-side in BigInt with e6 floors the recursive-CTE oracle
    * reproduces step for step.
    *
    * Plan: one event pass → user rollup → |durations| rollup collected as
    * control metadata; output is a literal frame.
    */
  val q332CompetingRisks: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val day = expr("unix_timestamp(ts) DIV 86400")
    val byUser = e.groupBy(col("user_id")).agg(
      min(day).as("d0"),
      min(when(col("event_type") === "purchase", day)).as("dp"),
      min(when(col("event_type") === "error", day)).as("de"),
      max(day).as("dlast"))
    val durs = byUser.select(
      when(col("dp").isNotNull &&
          (col("de").isNull || col("dp") <= col("de")),
        struct((col("dp") - col("d0")).as("dur"), lit(1L).as("k")))
        .when(col("de").isNotNull,
          struct((col("de") - col("d0")).as("dur"), lit(2L).as("k")))
        .otherwise(struct((col("dlast") - col("d0")).as("dur"),
          lit(0L).as("k"))).as("o"))
      .select(col("o.dur").as("dur"), col("o.k").as("k"))
    val roll = durs.groupBy(col("dur"))
      .agg(sum(when(col("k") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(col("k") === 2L, 1L).otherwise(0L)).as("d2"),
        sum(when(col("k") === 0L, 1L).otherwise(0L)).as("cens"))
      .orderBy(col("dur")).collect()
    var atRisk = roll.map(r => r.getAs[Long]("d1") + r.getAs[Long]("d2") +
      r.getAs[Long]("cens")).sum
    var sE6 = 1000000L
    var cif1 = 0L
    var cif2 = 0L
    val out = roll.map { r =>
      val (dur, d1, d2, cens) = (r.getAs[Long]("dur"), r.getAs[Long]("d1"),
        r.getAs[Long]("d2"), r.getAs[Long]("cens"))
      val n = atRisk
      cif1 += (BigInt(sE6) * d1 / n).toLong
      cif2 += (BigInt(sE6) * d2 / n).toLong
      sE6 = (BigInt(sE6) * (n - d1 - d2) / n).toLong
      atRisk -= (d1 + d2 + cens)
      (dur, n, d1, d2, cens, sE6, cif1, cif2)
    }
    import s.implicits._
    out.toSeq.toDF("dur_days", "n_risk", "d_purchase", "d_error", "c_cens",
      "s_e6", "cif_purchase_e6", "cif_error_e6")
  }

  val q332Sql: String =
    """WITH RECURSIVE u AS (
      |  SELECT user_id,
      |    MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 END) AS dp,
      |    MIN(CASE WHEN event_type = 'error'
      |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 END) AS de,
      |    MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS dlast
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT CASE
      |      WHEN dp IS NOT NULL AND (de IS NULL OR dp <= de) THEN dp - d0
      |      WHEN de IS NOT NULL THEN de - d0
      |      ELSE dlast - d0 END AS dur,
      |    CASE
      |      WHEN dp IS NOT NULL AND (de IS NULL OR dp <= de) THEN 1
      |      WHEN de IS NOT NULL THEN 2
      |      ELSE 0 END AS k
      |  FROM u),
      |r AS (
      |  SELECT dur,
      |    SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS d1,
      |    SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS d2,
      |    SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS cens
      |  FROM d GROUP BY dur),
      |t AS (
      |  SELECT dur, d1, d2, cens,
      |    ROW_NUMBER() OVER (ORDER BY dur) AS rk,
      |    tot.n - COALESCE(SUM(d1 + d2 + cens) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM r CROSS JOIN (SELECT SUM(d1 + d2 + cens) AS n FROM r) tot),
      |aj AS (
      |  SELECT rk, dur, n_risk, d1, d2, cens,
      |    CAST(1000000 * (n_risk - d1 - d2) // n_risk AS BIGINT) AS s_e6,
      |    CAST(1000000 * d1 // n_risk AS BIGINT) AS cif1_e6,
      |    CAST(1000000 * d2 // n_risk AS BIGINT) AS cif2_e6
      |  FROM t WHERE rk = 1
      |  UNION ALL
      |  SELECT t.rk, t.dur, t.n_risk, t.d1, t.d2, t.cens,
      |    CAST(CAST(aj.s_e6 AS HUGEINT) * (t.n_risk - t.d1 - t.d2)
      |      // t.n_risk AS BIGINT),
      |    CAST(aj.cif1_e6
      |      + CAST(aj.s_e6 AS HUGEINT) * t.d1 // t.n_risk AS BIGINT),
      |    CAST(aj.cif2_e6
      |      + CAST(aj.s_e6 AS HUGEINT) * t.d2 // t.n_risk AS BIGINT)
      |  FROM aj JOIN t ON t.rk = aj.rk + 1)
      |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d1 AS BIGINT) AS d_purchase, CAST(d2 AS BIGINT) AS d_error,
      |  CAST(cens AS BIGINT) AS c_cens, s_e6,
      |  cif1_e6 AS cif_purchase_e6, cif2_e6 AS cif_error_e6
      |FROM aj ORDER BY dur_days""".stripMargin

  // ------------------- q334: doubly-robust off-policy evaluation

  /** q334: the doubly-robust estimator — the modern completion of q308's
    * IPS: fit the reward model r̂(x, a) on the HASH-SPLIT model half
    * (leak-free, q276's discipline — DR with model and evaluation on the
    * same rows collapses to the direct method by construction), then on
    * the evaluation half
    *
    *   V̂_DR = (1/N) Σ [ r̂(x, π(x)) + 1{a = π(x)}·(r − r̂(x, a))/p̂(a|x) ]
    *
    * with the behavior propensity p̂ and target policy π estimated on the
    * eval half's own cells. The direct-method and IPS estimates ride
    * along, so the report shows all three estimators disagreeing exactly
    * as much as they should — including the textbook identity the output
    * PROVES: with exact empirical propensities and fully-supported logs
    * (every (x, π(x)) cell observed), the model terms cancel and
    * V̂_DR = V̂_IPS to the last integer; DR pulls away from IPS exactly
    * when support fails (the DM term then carries the unsupported
    * strata), which this construction surfaces rather than hides. The
    * target policy is fit on the MODEL half too — an eval-half greedy
    * would peek. Cell-level folds only — the model rates, propensities
    * and corrections all combine per (stratum, action), one e6 floor
    * each; no per-row division anywhere.
    *
    * Plan: two corpus passes (model half, eval half — inherent to the
    * split), each to a lead-windowed user-partitioned frame → cell
    * rollups; everything downstream is metadata joined on broadcast.
    */
  val q334DoublyRobust: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val logged = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("next_type", lead(col("event_type"), 1).over(W))
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("a"),
        when(col("next_type") === "purchase", 1L).otherwise(0L).as("r"),
        (graft.functions.Text.portableHash(col("user_id").cast("string"))
          % 2 === 0).cast("long").as("is_model"))
      .localCheckpoint() // consumed by the model half and the eval half
    // strata from ALL events (q308's definition) — the logged frame
    // excludes purchases and would shift the activity buckets
    val strata = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(expr(s"count(1) div $CemBucket").as("x"))
    val keyed = logged.join(strata, Seq("user_id"))
    // ONE (x, a, is_model) rollup serves BOTH halves (r9): the former
    // per-half groupBys each re-ran the events⋈strata join — two full
    // events scans (profiled 9.0 + 8.9 s CPU twins at sf0.1). The halves
    // are filters of the checkpointed rollup; the model rate
    // r_ax·10⁶ div n_ax ≡ SUM(r)·10⁶ div COUNT(1) per cell exactly.
    val cellsAll = keyed.groupBy(col("x"), col("a"), col("is_model"))
      .agg(count(lit(1)).as("n_ax"), sum(col("r")).as("r_ax"))
      .localCheckpoint() // both halves, per-x totals, argmax and fold read it
    val model = cellsAll.filter(col("is_model") === 1L)
      .select(col("x"), col("a"),
        expr(fdiv("r_ax * 1000000", "n_ax")).as("rhat_e6"))
    // eval-half cells: counts, rewards, propensity denominator
    val cells = cellsAll.filter(col("is_model") === 0L)
      .select(col("x"), col("a"), col("n_ax"), col("r_ax"))
    val perX = cells.groupBy(col("x")).agg(sum(col("n_ax")).as("n_x"))
    // greedy policy from the MODEL half's rates — never from eval rewards
    val pol = model
      .groupBy(col("x"))
      .agg(min(struct((-col("rhat_e6")).as("nr"), col("a").as("a"))).as("best"))
      .select(col("x"), col("best.a").as("pi_a"))
    val joined = cells.join(broadcast(pol), Seq("x"))
      .join(broadcast(perX), Seq("x"))
      .join(broadcast(model.select(col("x"), col("a"), col("rhat_e6"))),
        Seq("x", "a"), "left")
      .withColumn("rhat_e6", coalesce(col("rhat_e6"), lit(0L).cast(dec)))
    // DM term: every row in stratum x contributes r̂(x, π(x))
    val dmTerm = joined.filter(col("a") === col("pi_a"))
      .select((col("n_x").cast(dec) * col("rhat_e6")).as("dm_e6"),
        col("x"))
    // correction + IPS terms live on the matched cells only
    val corr = joined.filter(col("a") === col("pi_a"))
      .select(col("x"),
        expr(fdiv("r_ax * n_x * 1000000", "n_ax")).as("ips_e6"),
        expr(sdivSignedDiv("(r_ax * 1000000 - CAST(n_ax AS DECIMAL(38,0)) * rhat_e6)" +
          " * n_x", "n_ax")).as("corr_e6"))
    val totals = cells.agg(sum(col("n_ax")).cast(dec).as("n_all"))
    dmTerm.join(corr, Seq("x"))
      .agg(sum(col("dm_e6")).as("dm_sum"), sum(col("ips_e6")).as("ips_sum"),
        sum(col("corr_e6")).as("corr_sum"))
      .crossJoin(broadcast(totals))
      .select(col("n_all").cast("long").as("n_eval"),
        expr(fdiv("dm_sum", "n_all")).cast("long").as("v_dm_e6"),
        expr(fdiv("ips_sum", "n_all")).cast("long").as("v_ips_e6"),
        expr(sdivSignedDiv("dm_sum + corr_sum", "n_all")).cast("long").as("v_dr_e6"))
  }

  val q334Sql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type,
       |    CAST(epoch_ms(ts) AS BIGINT) AS ms
       |  FROM events),
       |led AS (
       |  SELECT user_id, event_type AS a,
       |    CASE WHEN LEAD(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY ms, event_id) = 'purchase' THEN 1 ELSE 0 END AS r,
       |    event_type AS et,
       |    CASE WHEN CAST(concat('0x',
       |        substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
       |      THEN 1 ELSE 0 END AS is_model
       |  FROM ev),
       |logged AS (SELECT user_id, a, r, is_model FROM led
       |  WHERE et <> 'purchase'),
       |strata AS (
       |  SELECT user_id, COUNT(*) // $CemBucket AS x
       |  FROM events GROUP BY user_id),
       |keyed AS (SELECT x, a, r, is_model FROM logged JOIN strata USING (user_id)),
       |model AS (
       |  SELECT x, a, CAST(SUM(r) AS HUGEINT) * 1000000 // COUNT(*) AS rhat_e6
       |  FROM keyed WHERE is_model = 1 GROUP BY x, a),
       |cells AS (
       |  SELECT x, a, COUNT(*) AS n_ax, SUM(r) AS r_ax
       |  FROM keyed WHERE is_model = 0 GROUP BY x, a),
       |per_x AS (SELECT x, SUM(n_ax) AS n_x FROM cells GROUP BY x),
       |pol AS (
       |  SELECT x, a AS pi_a FROM (
       |    SELECT x, a,
       |      ROW_NUMBER() OVER (PARTITION BY x
       |        ORDER BY rhat_e6 DESC, a) AS rk
       |    FROM model) t
       |  WHERE rk = 1),
       |joined AS (
       |  SELECT cells.x, cells.a, n_ax, r_ax, n_x, pi_a,
       |    COALESCE(rhat_e6, 0) AS rhat_e6
       |  FROM cells
       |  JOIN pol ON cells.x = pol.x
       |  JOIN per_x ON cells.x = per_x.x
       |  LEFT JOIN model ON cells.x = model.x AND cells.a = model.a),
       |matched AS (
       |  SELECT x,
       |    CAST(n_x AS HUGEINT) * rhat_e6 AS dm_e6,
       |    CAST(r_ax AS HUGEINT) * n_x * 1000000 // n_ax AS ips_e6,
       |    ((CASE WHEN ((r_ax * 1000000 - CAST(n_ax AS HUGEINT) * rhat_e6)
       |          * n_x < 0) != (n_ax < 0) THEN -1 ELSE 1 END) *
       |      (ABS((r_ax * 1000000 - CAST(n_ax AS HUGEINT) * rhat_e6) * n_x)
       |       // ABS(CAST(n_ax AS HUGEINT)))) AS corr_e6
       |  FROM joined WHERE a = pi_a),
       |tot AS (SELECT CAST(SUM(n_ax) AS HUGEINT) AS n_all FROM cells)
       |SELECT CAST(n_all AS BIGINT) AS n_eval,
       |  CAST((SELECT SUM(dm_e6) FROM matched) // n_all AS BIGINT) AS v_dm_e6,
       |  CAST((SELECT SUM(ips_e6) FROM matched) // n_all AS BIGINT)
       |    AS v_ips_e6,
       |  CAST((CASE WHEN ((SELECT SUM(dm_e6) + SUM(corr_e6) FROM matched)
       |      < 0) != (n_all < 0) THEN -1 ELSE 1 END) *
       |    (ABS((SELECT SUM(dm_e6) + SUM(corr_e6) FROM matched)) // n_all)
       |    AS BIGINT) AS v_dr_e6
       |FROM tot""".stripMargin

  // ---------------------- q335: effect size (Cohen's d / Hedges' g)

  /** q335: HOW BIG is the arm difference — Cohen's d with the small-sample
    * Hedges correction, the effect-size companion every q127-style z-test
    * readout should carry (significance without magnitude invites shipping
    * trivial wins): per-user revenue by hash arm,
    *
    *   d = (m̄_A − m̄_B)/s_p,   g = d·(1 − 3/(4(n_A+n_B) − 9))
    *
    * with the pooled s_p from exact DECIMAL power sums and the whole
    * result one fixed IEEE expression tree over exact integers (the
    * q127/q294 rule — even the doubles are bit-identical).
    *
    * Plan: one event pass → user rollup → a 1-row conditional fold.
    */
  val q335EffectSize: Q = (s, dir) => {
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val pu = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L)).as("y"))
      .select(when(hv % 2 === 0, 1L).otherwise(0L).as("arm_a"),
        col("y").cast(dec).as("y"))
    val sums = pu.agg(
      sum(col("arm_a")).cast(dec).as("na"),
      sum(lit(1L) - col("arm_a")).cast(dec).as("nb"),
      sum(col("arm_a") * col("y")).as("sa"),
      sum((lit(1L) - col("arm_a")) * col("y")).as("sb"),
      sum(col("arm_a") * col("y") * col("y")).as("ssa"),
      sum((lit(1L) - col("arm_a")) * col("y") * col("y")).as("ssb"))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val ma = col("sa").cast("double") / na
    val mb = col("sb").cast("double") / nb
    val ssqA = col("ssa").cast("double") - col("sa").cast("double") * ma
    val ssqB = col("ssb").cast("double") - col("sb").cast("double") * mb
    val sp = sqrt((ssqA + ssqB) / (na + nb - lit(2.0)))
    val d = (ma - mb) / sp
    sums.select(col("na").cast("long").as("n_a"),
      col("nb").cast("long").as("n_b"),
      (ma - mb).as("mean_diff_c"),
      d.as("cohens_d"),
      (d * (lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - lit(9.0))))
        .as("hedges_g"))
  }

  val q335Sql: String =
    """WITH pu AS (
      |  SELECT
      |    CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END AS arm_a,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y
      |  FROM events GROUP BY user_id),
      |sums AS (
      |  SELECT CAST(SUM(arm_a) AS HUGEINT) AS na,
      |    CAST(SUM(1 - arm_a) AS HUGEINT) AS nb,
      |    SUM(arm_a * y) AS sa, SUM((1 - arm_a) * y) AS sb,
      |    SUM(arm_a * y * y) AS ssa, SUM((1 - arm_a) * y * y) AS ssb
      |  FROM pu),
      |d AS (
      |  SELECT CAST(CAST(na AS VARCHAR) AS DOUBLE) AS na,
      |    CAST(CAST(nb AS VARCHAR) AS DOUBLE) AS nb,
      |    CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sa,
      |    CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS sb,
      |    CAST(CAST(ssa AS VARCHAR) AS DOUBLE) AS ssa,
      |    CAST(CAST(ssb AS VARCHAR) AS DOUBLE) AS ssb
      |  FROM sums)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  sa / na - sb / nb AS mean_diff_c,
      |  (sa / na - sb / nb) /
      |    sqrt(((ssa - sa * (sa / na)) + (ssb - sb * (sb / nb)))
      |      / (na + nb - 2)) AS cohens_d,
      |  ((sa / na - sb / nb) /
      |    sqrt(((ssa - sa * (sa / na)) + (ssb - sb * (sb / nb)))
      |      / (na + nb - 2)))
      |    * (1 - 3 / (4 * (na + nb) - 9)) AS hedges_g
      |FROM d""".stripMargin

  // --------------- q337: Wilcoxon signed-rank test (paired pre/post)

  /** q337: Wilcoxon signed-rank — the PAIRED companion to q295's
    * Mann–Whitney: each user is their own control. The pair is the user's
    * purchase cents before vs after the global midpoint day (the q298
    * cut), d = post − pre, zero differences dropped per the classic
    * Wilcoxon treatment, and |d| ranked globally with tie-average DOUBLED
    * ranks off the distinct-value rollup ([[AuditQueries.doubledRankBelow]]
    * — no single-task sort). With 2W⁺ = Σ_{d>0} drank exactly,
    *
    *   z² = 12·(2W⁺ − n(n+1)/2)² / (2n(n+1)(2n+1) − Σ(t³−t))
    *
    * staged through n first (two e6 floor divisions) so every intermediate
    * stays ≤ 3·10³³ at 10⁹ pairs; the denominator equals 3n³+6n²+3n even
    * when ALL differences tie, so it never vanishes for n ≥ 1.
    *
    * Plan: one event pass → per-user pre/post rollup; ranks from the
    * two-level bucket construction over the |d| rollup; a 1-row fold with
    * broadcast scalars finishes.
    */
  val q337SignedRank: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val pairs = e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") >= col("midday"), col("v")).otherwise(0L))
        .as("post"),
        sum(when(col("day") < col("midday"), col("v")).otherwise(0L))
          .as("pre"))
      .select((col("post") - col("pre")).as("d"))
      .filter(col("d") =!= 0L)
      .select(abs(col("d")).as("c"), (col("d") > 0L).cast("long").as("pos"))
    val byV = pairs.groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val dRank = AuditQueries.doubledRankBelow(byV, Seq.empty, "c", 100000L)
      .select(col("c"), (lit(2L) * col("below") + col("cnt") + 1L).as("dd"))
    val scalars = byV.agg(
      sum(col("cnt")).cast(dec).as("n1"),
      sum(col("cnt").cast(dec) * col("cnt") * col("cnt") -
        col("cnt").cast(dec)).as("ties"))
    val w = pairs.join(dRank, Seq("c"))
      .agg(sum(col("pos").cast(dec) * col("dd")).as("w2"))
    w.crossJoin(broadcast(scalars))
      .select(col("n1"), col("ties"), col("w2"),
        abs(col("w2") - expr(fdiv("n1 * (n1 + 1)", "2"))).as("a2"),
        (lit(2).cast(dec) * col("n1") * (col("n1") + lit(1)) *
          (lit(2).cast(dec) * col("n1") + lit(1)) - col("ties")).as("dd0"))
      .select(col("n1"), col("ties"), col("w2"), col("a2"),
        expr(fdiv("a2 * 1000000", "n1")).as("t1_e6"),
        expr(fdiv("dd0", "n1")).as("dn"))
      .select(col("n1").cast("long").as("n_pairs"),
        col("w2").cast("long").as("w_plus_2"),
        col("ties").cast("long").as("ties_t"),
        expr(fdiv("t1_e6 * a2 * 12", "dn")).cast("long").as("z2_e6"))
  }

  val q337Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events WHERE event_type = 'purchase'),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
      |pairs0 AS (
      |  SELECT SUM(CASE WHEN day >= midday THEN v ELSE 0 END)
      |    - SUM(CASE WHEN day < midday THEN v ELSE 0 END) AS d
      |  FROM e CROSS JOIN mid GROUP BY user_id),
      |pairs AS (
      |  SELECT ABS(d) AS c, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
      |  FROM pairs0 WHERE d <> 0),
      |by_v AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY c),
      |d_rank AS (
      |  SELECT c, 2 * COALESCE(SUM(cnt) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS dd
      |  FROM by_v),
      |scalars AS (
      |  SELECT CAST(SUM(cnt) AS HUGEINT) AS n1,
      |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
      |  FROM by_v),
      |w AS (
      |  SELECT SUM(CAST(pos AS HUGEINT) * dd) AS w2
      |  FROM pairs JOIN d_rank USING (c)),
      |st AS (
      |  SELECT n1, ties, w2,
      |    ABS(w2 - (n1 * (n1 + 1) // 2)) AS a2,
      |    2 * n1 * (n1 + 1) * (2 * n1 + 1) - ties AS dd0
      |  FROM w CROSS JOIN scalars),
      |st2 AS (
      |  SELECT n1, ties, w2, a2, a2 * 1000000 // n1 AS t1_e6,
      |    dd0 // n1 AS dn
      |  FROM st)
      |SELECT CAST(n1 AS BIGINT) AS n_pairs, CAST(w2 AS BIGINT) AS w_plus_2,
      |  CAST(ties AS BIGINT) AS ties_t,
      |  CAST(t1_e6 * a2 * 12 // dn AS BIGINT) AS z2_e6
      |FROM st2""".stripMargin

  // ------------------- q339: Cochran's Q test (k matched proportions)

  /** The k = 3 binary "treatments" Cochran's Q compares. */
  val CochranTypes: Seq[String] = Seq("view", "click", "purchase")

  /** q339: Cochran's Q — does the DAILY INCIDENCE of viewing, clicking
    * and purchasing differ, matched within (user, day) blocks? The k-
    * treatment extension of q322's McNemar (k = 2 reduces to it exactly):
    * x_{bt} = 1 if block b saw ≥ 1 event of type t, column totals C_t,
    * row totals R_b, N = ΣR, and
    *
    *   Q = (k−1)·(k·ΣC_t² − N²) / (k·ΣR_b − ΣR_b²)
    *
    * — every term an exact integer, the numerator non-negative by
    * Cauchy–Schwarz. Q is algebraically INVARIANT to all-zero and all-k
    * rows (both changes cancel term-for-term), so restricting blocks to
    * the (user, day) cells actually observed loses nothing — the
    * block universe never has to be enumerated, which is what makes the
    * statistic computable without a calendar×user cross join at 100 TB.
    *
    * Plan: type filter pushes to the scan; one pass → (user, day) flag
    * rollup → a 1-row fold. One shuffle total.
    */
  val q339CochranQ: Q = (s, dir) => {
    def flag(t: String) =
      max(when(col("event_type") === t, 1L).otherwise(0L))
    val f = Tables.events(s, dir)
      .filter(col("event_type").isin(CochranTypes: _*))
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .agg(flag("view").as("xv"), flag("click").as("xc"),
        flag("purchase").as("xp"))
      .withColumn("r", col("xv") + col("xc") + col("xp"))
    f.agg(count(lit(1)).as("n_blocks"),
        sum(when(col("r") > 0L && col("r") < 3L, 1L).otherwise(0L))
          .as("n_informative"),
        sum(col("xv")).cast(dec).as("cv"),
        sum(col("xc")).cast(dec).as("cc"),
        sum(col("xp")).cast(dec).as("cp"),
        sum(col("r")).cast(dec).as("nn"),
        sum(col("r").cast(dec) * col("r")).as("r2"))
      .select(col("n_blocks").cast("long").as("n_blocks"),
        col("n_informative").cast("long").as("n_informative"),
        col("cv").cast("long").as("c_view"),
        col("cc").cast("long").as("c_click"),
        col("cp").cast("long").as("c_purchase"),
        expr(fdiv("(3 * (cv*cv + cc*cc + cp*cp) - nn*nn) * 2000000",
          "3 * nn - r2")).cast("long").as("q_e6"))
  }

  val q339Sql: String =
    """WITH f AS (
      |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS xv,
      |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS xc,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS xp
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |    CAST(SUM(CASE WHEN xv+xc+xp BETWEEN 1 AND 2 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_informative,
      |    CAST(SUM(xv) AS HUGEINT) AS cv,
      |    CAST(SUM(xc) AS HUGEINT) AS cc,
      |    CAST(SUM(xp) AS HUGEINT) AS cp,
      |    CAST(SUM(xv+xc+xp) AS HUGEINT) AS nn,
      |    CAST(SUM((xv+xc+xp)*(xv+xc+xp)) AS HUGEINT) AS r2
      |  FROM f)
      |SELECT n_blocks, n_informative,
      |  CAST(cv AS BIGINT) AS c_view, CAST(cc AS BIGINT) AS c_click,
      |  CAST(cp AS BIGINT) AS c_purchase,
      |  CAST((3 * (cv*cv + cc*cc + cp*cp) - nn*nn) * 2000000
      |    // (3 * nn - r2) AS BIGINT) AS q_e6
      |FROM a""".stripMargin

  // --------------- q340: delete-one-day jackknife for a ratio metric

  /** q340: cluster jackknife over days — the RESAMPLING-FREE variance
    * estimate for the ratio metric revenue-per-purchase, the classical
    * complement to q252's Poisson bootstrap and the linearization behind
    * q291: delete one day-cluster at a time, recompute the ratio in
    * closed form from the totals (R₍ᵢ₎ = (ΣY−yᵢ)/(ΣX−xᵢ) — no
    * re-aggregation, no loop), then
    *
    *   var_jk = (G−1)/G · Σᵢ (R₍ᵢ₎ − R̄₍·₎)²,
    *   bias_jk = (G−1)·(R̄₍·₎ − R̂).
    *
    * Every leave-one-out ratio is floored at e12 BEFORE the moment sums,
    * so the cross-group additions are exact integers (a double Σ over
    * groups would be addition-order-dependent and non-portable); the one
    * double appears in the final √, which IEEE defines bit-exactly.
    *
    * Plan: one event pass → day rollup (checkpointed — totals, LOO
    * ratios, mean and deviations all ride it); everything after is
    * |days|-sized metadata with broadcast scalars.
    */
  val q340JackknifeRatio: Q = (s, dir) => {
    val bd = purchaseCentsByDay(s, dir)
      .agg(sum(col("v")).cast(dec).as("y"), count(lit(1)).cast(dec).as("x"))
      .localCheckpoint()
    val tot = bd.agg(sum(col("y")).as("sy"), sum(col("x")).as("sx"),
      count(lit(1)).cast(dec).as("g"))
    val loo = bd.crossJoin(broadcast(tot))
      .select(expr(fdiv("(sy - y) * 1000000000000", "sx - x")).as("r"))
      .localCheckpoint()
    val mean = loo.agg(sum(col("r")).as("sr"), count(lit(1)).cast(dec).as("g2"))
      .select(expr(fdiv("sr", "g2")).as("mean_r"))
    val dev = loo.crossJoin(broadcast(mean))
      .agg(sum((col("r") - col("mean_r")) * (col("r") - col("mean_r")))
        .as("ss"), max(col("mean_r")).as("mean_r"))
    dev.crossJoin(broadcast(tot))
      .select(col("g").cast("long").as("n_days"),
        expr(fdiv("sy * 1000000000000", "sx")).cast("long").as("ratio_e12"),
        col("mean_r").cast("long").as("loo_mean_e12"),
        ((col("g") - lit(1)) * (col("mean_r") -
          expr(fdiv("sy * 1000000000000", "sx")))).cast("long")
          .as("jk_bias_e12"),
        expr("CAST(FLOOR(SQRT(CAST(" + fdiv("ss * (g - 1)", "g") +
          " AS DOUBLE))) AS BIGINT)").as("jk_se_e12"))
  }

  val q340Sql: String =
    """WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS y,
      |    CAST(COUNT(*) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT SUM(y) AS sy, SUM(x) AS sx,
      |  CAST(COUNT(*) AS HUGEINT) AS g FROM bd),
      |loo AS (SELECT (sy - y) * 1000000000000 // (sx - x) AS r
      |  FROM bd CROSS JOIN tot),
      |m AS (SELECT SUM(r) // COUNT(*) AS mean_r FROM loo),
      |dev AS (SELECT SUM((r - mean_r) * (r - mean_r)) AS ss,
      |  MAX(mean_r) AS mean_r FROM loo CROSS JOIN m)
      |SELECT CAST(g AS BIGINT) AS n_days,
      |  CAST(sy * 1000000000000 // sx AS BIGINT) AS ratio_e12,
      |  CAST(mean_r AS BIGINT) AS loo_mean_e12,
      |  CAST((g - 1) * (mean_r - sy * 1000000000000 // sx) AS BIGINT)
      |    AS jk_bias_e12,
      |  CAST(FLOOR(SQRT(CAST(CAST(ss * (g - 1) // g AS VARCHAR) AS DOUBLE)))
      |    AS BIGINT) AS jk_se_e12
      |FROM dev CROSS JOIN tot""".stripMargin

  // ------------- q342: Harrell's concordance index (censored c-index)

  /** Risk-score cap — click counts bucket into [0, [[CIndexScoreCap]]];
    * the cap IS the score definition (deterministic, documented), and it
    * is what bounds the per-time join fan-out at the cap+1 score rows.
    */
  val CIndexScoreCap = 15L

  /** q342: Harrell's c-index — q164's AUC generalized to CENSORED
    * time-to-event data, the standard discrimination readout for any
    * churn/conversion-time model: does a higher click count predict a
    * FASTER first purchase? Subject = user, time t = days from first
    * event to first purchase (censored at last observed day), risk score
    * = clicks capped at [[CIndexScoreCap]]. Over comparable pairs
    * (i purchased, t_i < t_j):
    *
    *   c = (concordant + ties/2) / comparable
    *     = (2·conc + tied) / (2·(conc + tied + disc))
    *
    * The O(n²) pair sum folds relationally: later(t, s) = #subjects of
    * score s still under observation after t is a per-score suffix sum
    * over the DENSIFIED time×score rollup (missing cells zero-filled so
    * the suffix is defined everywhere), and each event cell meets exactly
    * score-cap+1 suffix rows — candidate generation bounded by
    * construction, never n².
    *
    * Plan: one event pass → user rollup → time×score rollup
    * (metadata-sized); suffix windows PARTITIONED BY score (parallelism
    * = scores, each |times| rows); a bounded join and a 1-row fold end it.
    */
  val q342CIndex: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"),
        max(col("day")).as("dmax"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"))
      .select(coalesce(col("dp") - col("d0"), col("dmax") - col("d0"))
        .as("t"),
        col("dp").isNotNull.cast("long").as("ev"),
        least(col("clicks"), lit(CIndexScoreCap)).as("sc"))
      .localCheckpoint()
    val allCells = u.groupBy(col("t"), col("sc")).agg(count(lit(1)).as("n_all"))
    val dense = u.select(col("t")).distinct()
      .crossJoin(u.select(col("sc")).distinct())
      .join(allCells, Seq("t", "sc"), "left")
      .select(col("t"), col("sc"), coalesce(col("n_all"), lit(0L)).as("n_all"))
    val sufW = Window.partitionBy(col("sc")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val later = dense
      .withColumn("later", coalesce(sum(col("n_all")).over(sufW), lit(0L)))
      .select(col("t"), col("sc").as("sc_j"), col("later"))
    val evCells = u.filter(col("ev") === 1L)
      .groupBy(col("t"), col("sc")).agg(count(lit(1)).as("n_ev"))
    evCells.join(later, Seq("t"))
      .agg(
        sum(when(col("sc_j") < col("sc"),
          col("n_ev").cast(dec) * col("later")).otherwise(lit(0).cast(dec)))
          .as("conc"),
        sum(when(col("sc_j") === col("sc"),
          col("n_ev").cast(dec) * col("later")).otherwise(lit(0).cast(dec)))
          .as("tied"),
        sum(when(col("sc_j") > col("sc"),
          col("n_ev").cast(dec) * col("later")).otherwise(lit(0).cast(dec)))
          .as("disc"))
      .select(col("conc").cast("long").as("conc"),
        col("tied").cast("long").as("tied"),
        col("disc").cast("long").as("disc"),
        expr(fdiv("(2 * conc + tied) * 1000000",
          "2 * (conc + tied + disc)")).cast("long").as("c_e6"))
  }

  val q342Sql: String =
    s"""WITH ue AS (
      |  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    event_type
      |  FROM events),
      |u0 AS (
      |  SELECT MIN(day) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase' THEN day END) AS dp,
      |    MAX(day) AS dmax,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks
      |  FROM ue GROUP BY user_id),
      |u AS (
      |  SELECT COALESCE(dp - d0, dmax - d0) AS t,
      |    CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev,
      |    LEAST(clicks, ${CIndexScoreCap}) AS sc
      |  FROM u0),
      |all_cells AS (SELECT t, sc, COUNT(*) AS n_all FROM u GROUP BY t, sc),
      |dense AS (
      |  SELECT tt.t, ss.sc, COALESCE(n_all, 0) AS n_all
      |  FROM (SELECT DISTINCT t FROM u) tt
      |  CROSS JOIN (SELECT DISTINCT sc FROM u) ss
      |  LEFT JOIN all_cells ac ON ac.t = tt.t AND ac.sc = ss.sc),
      |later AS (
      |  SELECT t, sc AS sc_j,
      |    COALESCE(SUM(n_all) OVER (PARTITION BY sc ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS later
      |  FROM dense),
      |ev_cells AS (
      |  SELECT t, sc, COUNT(*) AS n_ev FROM u WHERE ev = 1 GROUP BY t, sc),
      |agg AS (
      |  SELECT
      |    SUM(CASE WHEN sc_j < sc THEN CAST(n_ev AS HUGEINT) * later
      |      ELSE 0 END) AS conc,
      |    SUM(CASE WHEN sc_j = sc THEN CAST(n_ev AS HUGEINT) * later
      |      ELSE 0 END) AS tied,
      |    SUM(CASE WHEN sc_j > sc THEN CAST(n_ev AS HUGEINT) * later
      |      ELSE 0 END) AS disc
      |  FROM ev_cells JOIN later USING (t))
      |SELECT CAST(conc AS BIGINT) AS conc, CAST(tied AS BIGINT) AS tied,
      |  CAST(disc AS BIGINT) AS disc,
      |  CAST((2 * conc + tied) * 1000000 // (2 * (conc + tied + disc))
      |    AS BIGINT) AS c_e6
      |FROM agg""".stripMargin

  // ---------- q379: Chatterjee's ξ — rank correlation of revenue on time

  /** q379: Chatterjee's ξ (2020) — the modern dependence coefficient
    * that detects ANY measurable relationship of Y on X, not just
    * monotone ones (q271's Spearman and q327's Kendall read 0 on a
    * perfect U-shape; ξ reads it): order the days by X = time, rank the
    * revenues with tie-average DOUBLED ranks, and
    *
    *   ξ = 1 − 3·Σ|r_{t+1} − r_t| / (n² − 1)
    *
    * (doubled ranks make the numerator 2Σ|Δr|, folded with one e6
    * floor). ξ ≈ 0 means revenue is independent of time, ξ → 1 means
    * revenue is a measurable function of time.
    *
    * Plan: one event pass → day rollup; ranks from the two-level
    * construction; the Δ-walk is a |days|-row metadata window.
    */
  val q379ChatterjeeXi: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
      .localCheckpoint()
    val byV = byDay.groupBy(col("x")).agg(count(lit(1)).as("cnt"))
    val dRank = AuditQueries.doubledRankBelow(byV, Seq.empty, "x", 100000L)
      .select(col("x"), (lit(2L) * col("below") + col("cnt") + 1L).as("r2"))
    val w = Window.orderBy(col("day"))
    byDay.join(dRank, Seq("x"))
      .withColumn("rp", lag(col("r2"), 1).over(w))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(when(col("rp").isNotNull, abs(col("r2") - col("rp")))
          .otherwise(0L)).cast(dec).as("s2"))
      .select(col("n").cast("long").as("n_days"),
        col("s2").cast("long").as("sum_abs_dr2"),
        (lit(1000000L) - expr(fdiv("s2 * 3 * 1000000",
          "2 * (n * n - 1)")).cast("long")).as("xi_e6"))
  }

  val q379Sql: String =
    """WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |by_v AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM bd GROUP BY x),
      |d_rank AS (
      |  SELECT x, 2 * COALESCE(SUM(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS r2
      |  FROM by_v),
      |ser AS (
      |  SELECT r2, LAG(r2, 1) OVER (ORDER BY day) AS rp
      |  FROM bd JOIN d_rank USING (x)),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CASE WHEN rp IS NOT NULL THEN ABS(r2 - rp) ELSE 0 END)
      |      AS HUGEINT) AS s2
      |  FROM ser)
      |SELECT CAST(n AS BIGINT) AS n_days, CAST(s2 AS BIGINT) AS sum_abs_dr2,
      |  1000000 - CAST(s2 * 3 * 1000000 // (2 * (n * n - 1)) AS BIGINT)
      |    AS xi_e6
      |FROM folded""".stripMargin

  // ------------- q387: Yule–Walker AR(2) fit with stationarity check

  /** q387: the Yule–Walker AR(2) fit — where q270/q321 DIAGNOSE
    * autocorrelation and q380 tests it, this FITS the model those
    * diagnostics suggest: from the exact lag-0/1/2 autocovariances,
    *
    *   φ₁ = (γ₁γ₀ − γ₁γ₂)/(γ₀² − γ₁²),  φ₂ = (γ₂γ₀ − γ₁²)/(γ₀² − γ₁²)
    *
    * with the stationarity-triangle verdict (φ₂ < 1−|φ₁| wedge) as an
    * in-output flag. Autocovariances are n-floored integer sums of
    * cents-resolution deviations (the q358 machinery), the two closed-
    * form divisions signed e6 floors.
    *
    * Plan: one event pass → day rollup (checkpointed); two lag columns;
    * a 1-row fold.
    */
  val q387YuleWalker: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .localCheckpoint()
    val tot = byDay.agg(sum(col("x")).as("sx"),
      count(lit(1)).cast(dec).as("n"))
    val w = Window.orderBy(col("day"))
    val gs = byDay.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), expr(sdiv("x * n - sx", "n")).as("d0"))
      .withColumn("d1", lag(col("d0"), 1).over(w))
      .withColumn("d2", lag(col("d0"), 2).over(w))
      .agg(max(col("n")).as("n"),
        sum(col("d0") * col("d0")).as("s0"),
        sum(when(col("d1").isNotNull, col("d0") * col("d1"))
          .otherwise(lit(0).cast(dec))).as("s1"),
        sum(when(col("d2").isNotNull, col("d0") * col("d2"))
          .otherwise(lit(0).cast(dec))).as("s2"))
      .select(col("n"), expr(sdiv("s0", "n")).as("g0"),
        expr(sdiv("s1", "n")).as("g1"), expr(sdiv("s2", "n")).as("g2"))
    gs.select(col("n").cast("long").as("n_days"),
        expr(sdiv("(g1 * g0 - g1 * g2) * 1000000", "g0 * g0 - g1 * g1"))
          .cast("long").as("phi1_e6"),
        expr(sdiv("(g2 * g0 - g1 * g1) * 1000000", "g0 * g0 - g1 * g1"))
          .cast("long").as("phi2_e6"))
      .withColumn("stationary",
        (col("phi2_e6") + abs(col("phi1_e6")) < 1000000L &&
          abs(col("phi2_e6")) < 1000000L).cast("long"))
  }

  val q387Sql: String = {
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT SUM(x) AS sx, CAST(COUNT(*) AS HUGEINT) AS n FROM bd),
      |devs AS (
      |  SELECT day, n, ${duckSdiv("x * n - sx", "n")} AS d0
      |  FROM bd CROSS JOIN tot),
      |lagged AS (
      |  SELECT day, n, d0,
      |    LAG(d0, 1) OVER (ORDER BY day) AS d1,
      |    LAG(d0, 2) OVER (ORDER BY day) AS d2
      |  FROM devs),
      |sums AS (
      |  SELECT MAX(n) AS n, SUM(d0 * d0) AS s0,
      |    SUM(CASE WHEN d1 IS NOT NULL THEN d0 * d1 ELSE 0 END) AS s1,
      |    SUM(CASE WHEN d2 IS NOT NULL THEN d0 * d2 ELSE 0 END) AS s2
      |  FROM lagged),
      |gs AS (
      |  SELECT n, ${duckSdiv("s0", "n")} AS g0, ${duckSdiv("s1", "n")} AS g1,
      |    ${duckSdiv("s2", "n")} AS g2
      |  FROM sums),
      |fit AS (
      |  SELECT CAST(n AS BIGINT) AS n_days,
      |    CAST(${duckSdiv("(g1 * g0 - g1 * g2) * 1000000", "g0 * g0 - g1 * g1")}
      |      AS BIGINT) AS phi1_e6,
      |    CAST(${duckSdiv("(g2 * g0 - g1 * g1) * 1000000", "g0 * g0 - g1 * g1")}
      |      AS BIGINT) AS phi2_e6
      |  FROM gs)
      |SELECT n_days, phi1_e6, phi2_e6,
      |  CASE WHEN phi2_e6 + ABS(phi1_e6) < 1000000
      |    AND ABS(phi2_e6) < 1000000 THEN 1 ELSE 0 END AS stationary
      |FROM fit""".stripMargin
  }

  // ------------- q380: Ljung–Box omnibus autocorrelation test

  /** Lag depth for the Ljung–Box statistic. */
  val LbLags = 5

  /** q380: Ljung–Box — the OMNIBUS "is this series white noise?" test
    * that aggregates what q344 (lag 1) and q358 (weighted lags) read
    * piecemeal:
    *
    *   Q_LB = n(n+2)·Σ_{k≤L} ρ̂_k²/(n−k),  ρ̂_k = γ̂_k/γ̂₀
    *
    * Each autocovariance is an exact integer sum of cents-resolution
    * signed-floor deviations (q358's machinery verbatim); each ρ̂² term
    * stages as two e6 floors (ρ² is even in γ_k, so ABS sidesteps the
    * signed-divide divergence), and the lag weights 1/(n−k) clear
    * denominators exactly.
    *
    * Plan: one event pass → day rollup (checkpointed); five lag columns
    * over the metadata series; a 1-row fold.
    */
  val q380LjungBox: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .localCheckpoint()
    val tot = byDay.agg(sum(col("x")).as("sx"),
      count(lit(1)).cast(dec).as("n"))
    val devs = byDay.crossJoin(broadcast(tot))
      .select(col("day"), col("n"), expr(sdiv("x * n - sx", "n")).as("d0"))
    val w = Window.orderBy(col("day"))
    val lagged = (1 to LbLags).foldLeft(devs) { (df, l) =>
      df.withColumn(s"d$l", lag(col("d0"), l).over(w))
    }
    val aggCols = Seq(max(col("n")).as("n"),
      sum(col("d0") * col("d0")).as("g0")) ++
      (1 to LbLags).map(l =>
        sum(when(col(s"d$l").isNotNull, col("d0") * col(s"d$l"))
          .otherwise(lit(0).cast(dec))).as(s"g$l"))
    val gs = lagged.agg(aggCols.head, aggCols.tail: _*)
    // ρ̂_k²·e12 = (|γ_k|·e6/γ0)² staged as two floors; the k-th term then
    // scales by n(n+2)/(n−k) with one more floor
    val terms = (1 to LbLags).map { k =>
      val rho2 = fdiv(fdiv(s"abs(g$k) * 1000000", "g0") + s" * ${fdiv(s"abs(g$k) * 1000000", "g0")}", "1000000")
      expr(fdiv(s"$rho2 * n * (n + 2)", s"n - $k"))
    }.reduce(_ + _)
    gs.select(col("n").cast("long").as("n_days"),
      terms.cast("long").as("q_lb_e6"))
  }

  val q380Sql: String = {
    val lagCols = (1 to LbLags)
      .map(l => s"LAG(d0, $l) OVER (ORDER BY day) AS d$l")
      .mkString(",\n      |    ")
    val gCols = (1 to LbLags)
      .map(l => s"SUM(CASE WHEN d$l IS NOT NULL THEN d0 * d$l ELSE 0 END) AS g$l")
      .mkString(",\n      |    ")
    val terms = (1 to LbLags).map { k =>
      val rho2 = s"(((ABS(g$k) * 1000000 // g0) * (ABS(g$k) * 1000000 // g0)) // 1000000)"
      s"($rho2 * n * (n + 2) // (n - $k))"
    }.mkString(" + ")
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT SUM(x) AS sx, CAST(COUNT(*) AS HUGEINT) AS n FROM bd),
      |devs AS (
      |  SELECT day, n, ${duckSdiv("x * n - sx", "n")} AS d0
      |  FROM bd CROSS JOIN tot),
      |lagged AS (
      |  SELECT day, n, d0,
      |    $lagCols
      |  FROM devs),
      |gs AS (
      |  SELECT MAX(n) AS n, SUM(d0 * d0) AS g0,
      |    $gCols
      |  FROM lagged)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST($terms AS BIGINT) AS q_lb_e6
      |FROM gs""".stripMargin
  }

  // -------- q378: quadratic-weighted kappa of pre/post quintiles

  /** q378: quadratic-weighted kappa — HOW STABLE is the user revenue
    * hierarchy, scored the way ordinal agreement should be: q329's
    * mobility matrix shows WHERE users move between their pre- and
    * post-period quintiles; QWK compresses it to one chance-corrected
    * number where a 1→2 slip costs 1 and a 1→5 flip costs 16
    * (w_ij = (i−j)²) — the ordinal upgrade of q273's unweighted Cohen:
    *
    *   κ_w = 1 − N·Σ w_ij O_ij / Σ w_ij R_i C_j
    *
    * Quintiles come from EACH period's own rank-target cutpoints
    * (⌈q·n/5⌉ off the two-level construction — the q329/q356 rule); the
    * expected term runs over the full 5×5 margin grid so missing
    * observed cells cost nothing. All exact integers, one signed e6
    * floor.
    *
    * Plan: one event pass → (user, period) rollup (checkpointed); cuts
    * are 8 broadcast rows; the matrix is ≤ 25 metadata cells.
    */
  val q378WeightedKappa: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val pu = e.crossJoin(broadcast(mid))
      .select(col("user_id"),
        when(col("day") >= col("midday"), "post").otherwise("pre").as("p"),
        col("v"))
      .groupBy(col("user_id"), col("p")).agg(sum(col("v")).as("y"))
      .localCheckpoint()
    val gc = pu.groupBy(col("p"), col("y")).agg(count(lit(1)).as("cnt"))
    val np = gc.groupBy(col("p")).agg(sum(col("cnt")).as("n_p"))
    val cuts = AuditQueries.doubledRankBelow(gc, Seq("p"), "y", 100000L)
      .join(broadcast(np), Seq("p"))
      .crossJoin(broadcast(s.range(1, 5).select(col("id").as("q"))))
      .filter(col("below") + col("cnt") >= expr("(q * n_p + 4) div 5"))
      .groupBy(col("p"), col("q")).agg(min(col("y")).as("cut"))
    val quint = pu.join(broadcast(cuts), Seq("p"))
      .groupBy(col("user_id"), col("p"))
      .agg((sum(when(col("y") > col("cut"), 1L).otherwise(0L)) + 1L)
        .as("qt"))
    val matrix = quint.filter(col("p") === "pre")
      .select(col("user_id"), col("qt").as("i"))
      .join(quint.filter(col("p") === "post")
        .select(col("user_id"), col("qt").as("j")), Seq("user_id"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val ri = matrix.groupBy(col("i")).agg(sum(col("o")).as("r"))
    val cj = matrix.groupBy(col("j")).agg(sum(col("o")).as("c"))
    val swo = matrix.agg(sum(col("o").cast(dec) *
        (col("i") - col("j")) * (col("i") - col("j"))).as("swo"),
      sum(col("o")).cast(dec).as("n"))
    val swrc = ri.crossJoin(broadcast(cj))
      .agg(sum(col("r").cast(dec) * col("c") *
        (col("i") - col("j")) * (col("i") - col("j"))).as("swrc"))
    swo.crossJoin(broadcast(swrc))
      .select(col("n").cast("long").as("n_users"),
        col("swo").cast("long").as("sum_w_obs"),
        expr(sdivBigint("(swrc - n * swo) * 1000000", "swrc")).as("kappa_e6"))
  }

  val q378Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events WHERE event_type = 'purchase'),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
      |pu AS (
      |  SELECT user_id,
      |    CASE WHEN day >= midday THEN 'post' ELSE 'pre' END AS p,
      |    CAST(SUM(v) AS BIGINT) AS y
      |  FROM e CROSS JOIN mid GROUP BY 1, 2),
      |gc AS (SELECT p, y, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM pu GROUP BY p, y),
      |np AS (SELECT p, CAST(SUM(cnt) AS BIGINT) AS n_p FROM gc GROUP BY p),
      |rk AS (
      |  SELECT p, y, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY p ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM gc),
      |qs AS (SELECT UNNEST(range(1, 5)) AS q),
      |cuts AS (
      |  SELECT p, q, MIN(y) AS cut
      |  FROM rk JOIN np USING (p) CROSS JOIN qs
      |  WHERE below + cnt >= (q * n_p + 4) // 5
      |  GROUP BY p, q),
      |quint AS (
      |  SELECT user_id, p,
      |    SUM(CASE WHEN y > cut THEN 1 ELSE 0 END) + 1 AS qt
      |  FROM pu JOIN cuts USING (p) GROUP BY user_id, p),
      |matrix AS (
      |  SELECT a.qt AS i, b.qt AS j, CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM quint a JOIN quint b ON a.user_id = b.user_id
      |    AND a.p = 'pre' AND b.p = 'post'
      |  GROUP BY a.qt, b.qt),
      |ri AS (SELECT i, SUM(o) AS r FROM matrix GROUP BY i),
      |cj AS (SELECT j, SUM(o) AS c FROM matrix GROUP BY j),
      |swo AS (
      |  SELECT SUM(o * (i - j) * (i - j)) AS swo, SUM(o) AS n FROM matrix),
      |swrc AS (
      |  SELECT SUM(r * c * (i - j) * (i - j)) AS swrc
      |  FROM ri CROSS JOIN cj)
      |SELECT CAST(n AS BIGINT) AS n_users, CAST(swo AS BIGINT) AS sum_w_obs,
      |  CAST(CASE WHEN swrc - n * swo >= 0 THEN 1 ELSE -1 END *
      |    (ABS((swrc - n * swo) * 1000000) // swrc) AS BIGINT) AS kappa_e6
      |FROM swo CROSS JOIN swrc""".stripMargin

  // -------- q373: Kaplan–Meier with Greenwood confidence band

  /** q373: the Greenwood band — q259's KM curve with the standard error
    * every published survival plot shades:
    *
    *   Var(Ŝ(t)) = Ŝ(t)²·Σ_{t_k ≤ t} d_k/(n_k(n_k − d_k)),
    *
    * accumulated at e12 fixed point inside the same driver-side
    * product-limit fold over the metadata-sized duration rollup (the
    * q259/q332 seam), with the plain ±1.96·SE band clamped to [0, 1].
    * The recursive-CTE oracle replays every integer floor — including
    * the √ which both engines take as IEEE-exact FLOOR(SQRT(double))
    * on values ≤ 10¹² (< 2⁵³, so the double is the integer).
    *
    * Plan: one event pass → user rollup → duration rollup (metadata);
    * the fold touches only that rollup.
    */
  val q373GreenwoodCi: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val day = expr("unix_timestamp(ts) DIV 86400")
    val byUser = e.groupBy(col("user_id")).agg(
      min(day).as("d0"),
      min(when(col("event_type") === "purchase", day)).as("dconv"),
      max(day).as("dlast"))
    val durs = byUser.select(
      when(col("dconv").isNotNull, col("dconv") - col("d0"))
        .otherwise(col("dlast") - col("d0")).as("dur"),
      when(col("dconv").isNotNull, 1L).otherwise(0L).as("ev"))
    val roll = durs.groupBy(col("dur"))
      .agg(sum(col("ev")).as("d_ev"), sum(lit(1L) - col("ev")).as("c_cens"))
      .orderBy(col("dur")).collect()
    var atRisk = roll.map(r => r.getAs[Long]("d_ev") + r.getAs[Long]("c_cens")).sum
    var sE6 = 1000000L
    var gwE12 = BigInt(0)
    val out = roll.map { r =>
      val (dur, dEv, cCens) = (r.getAs[Long]("dur"), r.getAs[Long]("d_ev"),
        r.getAs[Long]("c_cens"))
      val n = atRisk
      sE6 = (BigInt(sE6) * (n - dEv) / n).toLong
      if (dEv < n)
        gwE12 += BigInt(dEv) * 1000000000000L / (BigInt(n) * (n - dEv))
      val v = BigInt(sE6) * sE6 * gwE12 / 1000000000000L
      val se = math.floor(math.sqrt(v.toDouble)).toLong
      val lo = math.max(0L, sE6 - se * 196L / 100L)
      val hi = math.min(1000000L, sE6 + se * 196L / 100L)
      atRisk -= (dEv + cCens)
      (dur, n, dEv, sE6, se, lo, hi)
    }
    import s.implicits._
    out.toSeq
      .toDF("dur_days", "n_risk", "d_ev", "s_e6", "se_e6", "ci_lo_e6",
        "ci_hi_e6")
      .orderBy(col("dur_days"))
  }

  val q373Sql: String =
    """WITH RECURSIVE u AS (
      |  SELECT user_id,
      |    MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 END) AS dconv,
      |    MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS dlast
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT CASE WHEN dconv IS NOT NULL THEN dconv - d0
      |    ELSE dlast - d0 END AS dur,
      |    CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM u),
      |r AS (SELECT dur, SUM(ev) AS d_ev, SUM(1 - ev) AS c_cens
      |  FROM d GROUP BY dur),
      |t AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY dur) AS rk, dur, d_ev, c_cens,
      |    tot.n - COALESCE(SUM(d_ev + c_cens) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM r CROSS JOIN (SELECT SUM(d_ev + c_cens) AS n FROM r) tot),
      |km AS (
      |  SELECT rk, dur, n_risk, d_ev,
      |    CAST((n_risk - d_ev) * 1000000 // n_risk AS BIGINT) AS s_e6,
      |    CAST(CASE WHEN d_ev < n_risk THEN CAST(d_ev AS HUGEINT)
      |      * 1000000000000 // (CAST(n_risk AS HUGEINT) * (n_risk - d_ev))
      |      ELSE 0 END AS BIGINT) AS gw_e12
      |  FROM t WHERE rk = 1
      |  UNION ALL
      |  SELECT t.rk, t.dur, t.n_risk, t.d_ev,
      |    CAST(CAST(km.s_e6 AS HUGEINT) * (t.n_risk - t.d_ev)
      |      // t.n_risk AS BIGINT),
      |    km.gw_e12 + CAST(CASE WHEN t.d_ev < t.n_risk
      |      THEN CAST(t.d_ev AS HUGEINT) * 1000000000000
      |        // (CAST(t.n_risk AS HUGEINT) * (t.n_risk - t.d_ev))
      |      ELSE 0 END AS BIGINT)
      |  FROM km JOIN t ON t.rk = km.rk + 1),
      |banded AS (
      |  SELECT dur, n_risk, d_ev, s_e6,
      |    CAST(FLOOR(SQRT(CAST(CAST(s_e6 AS HUGEINT) * s_e6 * gw_e12
      |      // 1000000000000 AS DOUBLE))) AS BIGINT) AS se_e6
      |  FROM km)
      |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d_ev AS BIGINT) AS d_ev, s_e6, se_e6,
      |  GREATEST(0, s_e6 - se_e6 * 196 // 100) AS ci_lo_e6,
      |  LEAST(1000000, s_e6 + se_e6 * 196 // 100) AS ci_hi_e6
      |FROM banded ORDER BY dur_days""".stripMargin

  // ------- q393: median survival time with Greenwood-band CI

  /** q393: the median conversion time with its confidence interval —
    * the one-line summary every q259/q373 curve gets quoted as: the
    * median is the first duration where Ŝ ≤ ½, and the band inversion
    * gives its CI (first crossings of the lower and upper Greenwood
    * bands, lo ≤ Ŝ ≤ hi ⇒ t_lo ≤ median ≤ t_hi; an unreached upper
    * crossing reports −1). Rides the identical driver-side
    * product-limit fold as q373; the oracle wraps the same
    * recursive-CTE band as a derived table.
    */
  val q393MedianSurvival: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val day = expr("unix_timestamp(ts) DIV 86400")
    val byUser = e.groupBy(col("user_id")).agg(
      min(day).as("d0"),
      min(when(col("event_type") === "purchase", day)).as("dconv"),
      max(day).as("dlast"))
    val durs = byUser.select(
      when(col("dconv").isNotNull, col("dconv") - col("d0"))
        .otherwise(col("dlast") - col("d0")).as("dur"),
      when(col("dconv").isNotNull, 1L).otherwise(0L).as("ev"))
    val roll = durs.groupBy(col("dur"))
      .agg(sum(col("ev")).as("d_ev"), sum(lit(1L) - col("ev")).as("c_cens"))
      .orderBy(col("dur")).collect()
    var atRisk = roll.map(r => r.getAs[Long]("d_ev") + r.getAs[Long]("c_cens")).sum
    val nAll = atRisk
    var sE6 = 1000000L
    var gwE12 = BigInt(0)
    var med = -1L; var tLo = -1L; var tHi = -1L
    roll.foreach { r =>
      val (dur, dEv, cCens) = (r.getAs[Long]("dur"), r.getAs[Long]("d_ev"),
        r.getAs[Long]("c_cens"))
      val n = atRisk
      sE6 = (BigInt(sE6) * (n - dEv) / n).toLong
      if (dEv < n)
        gwE12 += BigInt(dEv) * 1000000000000L / (BigInt(n) * (n - dEv))
      val v = BigInt(sE6) * sE6 * gwE12 / 1000000000000L
      val se = math.floor(math.sqrt(v.toDouble)).toLong
      val lo = math.max(0L, sE6 - se * 196L / 100L)
      val hi = math.min(1000000L, sE6 + se * 196L / 100L)
      if (med < 0 && sE6 <= 500000L) med = dur
      if (tLo < 0 && lo <= 500000L) tLo = dur
      if (tHi < 0 && hi <= 500000L) tHi = dur
      atRisk -= (dEv + cCens)
    }
    import s.implicits._
    Seq((nAll, med, tLo, tHi))
      .toDF("n_users", "median_days", "ci_lo_days", "ci_hi_days")
  }

  val q393Sql: String =
    s"""SELECT CAST(MAX(n_risk) AS BIGINT) AS n_users,
       |  COALESCE(MIN(CASE WHEN s_e6 <= 500000 THEN dur_days END), -1)
       |    AS median_days,
       |  COALESCE(MIN(CASE WHEN ci_lo_e6 <= 500000 THEN dur_days END), -1)
       |    AS ci_lo_days,
       |  COALESCE(MIN(CASE WHEN ci_hi_e6 <= 500000 THEN dur_days END), -1)
       |    AS ci_hi_days
       |FROM ($q373Sql) band""".stripMargin

  // ------ q369: intraclass correlation + cluster design effect

  /** q369: ICC(1) and the Kish design effect — how much purchase value
    * clusters WITHIN users, and what that clustering costs any analysis
    * that treats purchases as independent (every per-event z-test here
    * does). From the one-way unbalanced ANOVA decomposition with exact
    * n-cleared floors,
    *
    *   ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW),
    *   k₀ = (N − Σn_g²/N)/(G−1),  DEFF = 1 + (m̄−1)·ICC
    *
    * and N/DEFF is the EFFECTIVE sample size — the number a cluster-
    * aware q127 should use. Doubles form one fixed IEEE tree over exact
    * integer sums.
    *
    * Plan: one event pass → user rollup → a 1-row fold.
    */
  val q369IccDeff: Q = (s, dir) => {
    val byU = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("c")).cast(dec).as("s"),
        sum(col("c").cast(dec) * col("c")).as("ss"))
    val folded = byU.agg(sum(col("n")).as("nn"),
        count(lit(1)).cast(dec).as("g"),
        sum(col("s")).as("stot"), sum(col("ss")).as("sstot"),
        sum(expr(fdiv("s * s", "n"))).as("tg"),
        sum(col("n") * col("n")).as("n2"))
      .select(col("nn"), col("g"),
        (col("tg") - expr(fdiv("stot * stot", "nn"))).as("ssb"),
        (col("sstot") - col("tg")).as("ssw"), col("n2"))
    val msb = col("ssb").cast("double") / (col("g") - 1).cast("double")
    val msw = col("ssw").cast("double") /
      (col("nn") - col("g")).cast("double")
    val k0 = (col("nn").cast("double") -
      col("n2").cast("double") / col("nn").cast("double")) /
      (col("g") - 1).cast("double")
    val icc = (msb - msw) / (msb + (k0 - lit(1.0)) * msw)
    val mbar = col("nn").cast("double") / col("g").cast("double")
    val deff = lit(1.0) + (mbar - lit(1.0)) * icc
    folded.select(col("nn").cast("long").as("n_obs"),
      col("g").cast("long").as("n_users"),
      icc.as("icc_d"), deff.as("deff_d"),
      (col("nn").cast("double") / deff).as("ess_d"))
  }

  val q369Sql: String = {
    val msb = s"(${dbl("ssb")} / ${dbl("g - 1")})"
    val msw = s"(${dbl("ssw")} / ${dbl("nn - g")})"
    val k0 = s"((${dbl("nn")} - ${dbl("n2")} / ${dbl("nn")}) / ${dbl("g - 1")})"
    val icc = s"(($msb - $msw) / ($msb + ($k0 - 1.0) * $msw))"
    val deff = s"(1.0 + (${dbl("nn")} / ${dbl("g")} - 1.0) * $icc)"
    s"""WITH by_u AS (
      |  SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS s,
      |    SUM(CAST(CAST(ROUND(value*100) AS BIGINT) AS HUGEINT)
      |      * CAST(ROUND(value*100) AS BIGINT)) AS ss
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |folded AS (
      |  SELECT SUM(n) AS nn, CAST(COUNT(*) AS HUGEINT) AS g,
      |    SUM(s) AS stot, SUM(ss) AS sstot,
      |    SUM(s * s // n) AS tg, SUM(n * n) AS n2
      |  FROM by_u),
      |co AS (
      |  SELECT nn, g, n2, tg - stot * stot // nn AS ssb,
      |    sstot - tg AS ssw
      |  FROM folded)
      |SELECT CAST(nn AS BIGINT) AS n_obs, CAST(g AS BIGINT) AS n_users,
      |  $icc AS icc_d, $deff AS deff_d,
      |  ${dbl("nn")} / $deff AS ess_d
      |FROM co""".stripMargin
  }

  // ------------------ q370: sign test on the paired pre/post split

  /** q370: the sign test — the assumption-free floor of the paired
    * family: q337's Wilcoxon uses the magnitudes of the pre/post
    * differences, this uses ONLY their directions (valid even when
    * magnitudes are incomparable across users). S = #{d > 0} among the
    * n nonzero differences; under H₀ S ~ Binomial(n, ½), so
    * z² = (2S − n)²/n exactly — one e6 floor, nothing else.
    *
    * Plan: one event pass → user pre/post rollup → a 1-row fold.
    */
  val q370SignTest: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents(col("value")).as("v"),
        expr("unix_millis(ts) div 86400000").as("day"))
    val mid = e.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg((sum(when(col("day") >= col("midday"), col("v")).otherwise(0L)) -
        sum(when(col("day") < col("midday"), col("v")).otherwise(0L)))
        .as("d"))
      .filter(col("d") =!= 0L)
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).cast(dec).as("sp"))
      .select(col("n").cast("long").as("n_pairs"),
        col("sp").cast("long").as("n_pos"),
        expr(fdiv("(2 * sp - n) * (2 * sp - n) * 1000000", "n"))
          .cast("long").as("z2_e6"))
  }

  val q370Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
      |  FROM events WHERE event_type = 'purchase'),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM e),
      |pairs AS (
      |  SELECT SUM(CASE WHEN day >= midday THEN v ELSE 0 END)
      |    - SUM(CASE WHEN day < midday THEN v ELSE 0 END) AS d
      |  FROM e CROSS JOIN mid GROUP BY user_id),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS HUGEINT) AS sp
      |  FROM pairs WHERE d <> 0)
      |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(sp AS BIGINT) AS n_pos,
      |  CAST((2 * sp - n) * (2 * sp - n) * 1000000 // n AS BIGINT)
      |    AS z2_e6
      |FROM folded""".stripMargin

  // -------- q361: Breusch–Pagan heteroskedasticity test (aux LM form)

  /** q361: Breusch–Pagan — does the VARIANCE of the daily-revenue trend
    * residuals grow with time? q344 checks residual independence; this
    * checks homoskedasticity, the other OLS standard-error assumption.
    * The LM form regresses squared residuals on the regressor:
    * BP = n·R²_aux, with the residuals the exact cents-resolution
    * signed floors of q344 and R² one fixed IEEE tree over exact
    * covariance sums (the q346 pattern).
    *
    * Plan: one event pass → day rollup (checkpointed); two 1-row folds.
    */
  val q361BreuschPagan: Q = (s, dir) => {
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("y"))
      .localCheckpoint()
    val mn = byDay.agg(min(col("day")).as("d0"))
    val xd = byDay.crossJoin(broadcast(mn))
      .select((col("day") - col("d0")).cast(dec).as("x"), col("y"))
      .localCheckpoint()
    val sums = xd.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("dd"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("num_a"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num_b"))
    val aux = xd.crossJoin(broadcast(sums))
      .select(col("x"),
        expr(sdiv("dd * y - num_a - num_b * x", "dd")).as("rc"))
      .select(col("x"), (col("rc") * col("rc")).as("z"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"),
        sum(col("x") * col("x")).as("sxx"), sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("z")).as("sxz"))
    def c(ab: String, a: String, b: String) =
      (col("n") * col(ab) - col(a) * col(b)).cast("double")
    val r2 = (c("sxz", "sx", "sz") * c("sxz", "sx", "sz")) /
      (c("sxx", "sx", "sx") * c("szz", "sz", "sz"))
    aux.select(col("n").cast("long").as("n_days"),
      r2.as("r2_aux"), (col("n").cast("double") * r2).as("bp_lm"))
  }

  val q361Sql: String = {
    def c(ab: String, a: String, b: String) = dbl(s"n * $ab - $a * $b")
    val r2 = s"((${c("sxz", "sx", "sz")} * ${c("sxz", "sx", "sz")}) / " +
      s"(${c("sxx", "sx", "sx")} * ${c("szz", "sz", "sz")}))"
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |mn AS (SELECT MIN(day) AS d0 FROM bd),
      |xd AS (SELECT CAST(day - d0 AS HUGEINT) AS x, y
      |  FROM bd CROSS JOIN mn),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy
      |  FROM xd),
      |co AS (
      |  SELECT n * sxx - sx * sx AS dd, sy * sxx - sx * sxy AS num_a,
      |    n * sxy - sx * sy AS num_b
      |  FROM sums),
      |r AS (
      |  SELECT x,
      |    CASE WHEN dd * y - num_a - num_b * x >= 0 THEN 1 ELSE -1 END *
      |      (ABS(dd * y - num_a - num_b * x) // dd) AS rc
      |  FROM xd CROSS JOIN co),
      |aux AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
      |    SUM(rc * rc) AS sz, SUM(x * x) AS sxx,
      |    SUM(rc * rc * rc * rc) AS szz, SUM(x * rc * rc) AS sxz
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n_days, $r2 AS r2_aux,
      |  ${dbl("n")} * $r2 AS bp_lm
      |FROM aux""".stripMargin
  }

  // ------------ q362: Jarque–Bera normality test (skewness/kurtosis)

  /** q362: Jarque–Bera — is daily revenue NORMAL enough for the ±2σ
    * habits every dashboard applies to it? The moment-based normality
    * test from exact integer power sums of cents-resolution deviations
    * (the q344/q358 signed-floor trick keeps Σd⁴ ≤ 10³⁷ at a 10⁶-day
    * spine where n-scaled deviations would overflow at d⁴):
    *
    *   JB = n/6·(S² + K²/4),  S = m₃/m₂^{3/2},  K = m₄/m₂² − 3
    *
    * with the only irrational op the IEEE √ in m₂^{3/2} = m₂·√m₂.
    *
    * Plan: one event pass → day rollup (checkpointed); two 1-row folds.
    */
  val q362JarqueBera: Q = (s, dir) => {
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .localCheckpoint()
    val tot = byDay.agg(sum(col("x")).as("sx"),
      count(lit(1)).cast(dec).as("n"))
    val moms = byDay.crossJoin(broadcast(tot))
      .select(expr(sdiv("x * n - sx", "n")).as("d"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("d") * col("d")).as("s2"),
        sum(col("d") * col("d") * col("d")).as("s3"),
        sum(col("d") * col("d") * col("d") * col("d")).as("s4"))
    val nD = col("n").cast("double")
    val m2 = col("s2").cast("double") / nD
    val m3 = col("s3").cast("double") / nD
    val m4 = col("s4").cast("double") / nD
    val skew = m3 / (m2 * sqrt(m2))
    val exk = m4 / (m2 * m2) - lit(3.0)
    moms.select(col("n").cast("long").as("n_days"),
      skew.as("skew_d"), exk.as("exkurt_d"),
      (nD / lit(6.0) * (skew * skew + exk * exk / lit(4.0))).as("jb_d"))
  }

  val q362Sql: String = {
    val m2 = s"(${dbl("s2")} / ${dbl("n")})"
    val m3 = s"(${dbl("s3")} / ${dbl("n")})"
    val m4 = s"(${dbl("s4")} / ${dbl("n")})"
    val skew = s"($m3 / ($m2 * sqrt($m2)))"
    val exk = s"($m4 / ($m2 * $m2) - 3.0)"
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT SUM(x) AS sx, CAST(COUNT(*) AS HUGEINT) AS n FROM bd),
      |devs AS (
      |  SELECT CASE WHEN x * n - sx >= 0 THEN 1 ELSE -1 END *
      |    (ABS(x * n - sx) // n) AS d
      |  FROM bd CROSS JOIN tot),
      |moms AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(d * d) AS s2,
      |    SUM(d * d * d) AS s3, SUM(d * d * d * d) AS s4
      |  FROM devs)
      |SELECT CAST(n AS BIGINT) AS n_days, $skew AS skew_d, $exk AS exkurt_d,
      |  ${dbl("n")} / 6.0 * ($skew * $skew + $exk * $exk / 4.0) AS jb_d
      |FROM moms""".stripMargin
  }

  // ----------------- q363: Engle's ARCH LM test (volatility clustering)

  /** q363: Engle's ARCH test — does a big revenue SWING predict another
    * big swing tomorrow? q344 tests level autocorrelation; this tests
    * VOLATILITY clustering (the ARCH effect), the reason naive daily
    * alert thresholds fire in bursts. Day-over-day changes are demeaned
    * with the signed cents floor, squared exactly, and the lag-1 aux
    * regression LM = n·R² forms one fixed IEEE tree over exact sums.
    *
    * Plan: one event pass → day rollup; the diff/lag walk is a
    * |days|-row metadata window; one 1-row fold.
    */
  val q363ArchLm: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    val diffs = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .withColumn("xp", lag(col("x"), 1).over(w))
      .filter(col("xp").isNotNull)
      .select(col("day"), (col("x") - col("xp")).as("r"))
      .localCheckpoint()
    val tot = diffs.agg(sum(col("r")).as("sr"),
      count(lit(1)).cast(dec).as("n"))
    val zs = diffs.crossJoin(broadcast(tot))
      .select(col("day"), expr(sdiv("r * n - sr", "n")).as("e"))
      .select(col("day"), (col("e") * col("e")).as("z"))
      .withColumn("zp", lag(col("z"), 1).over(w))
      .filter(col("zp").isNotNull)
    val sums = zs.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("z")).as("sy"), sum(col("zp")).as("sx"),
      sum(col("z") * col("z")).as("syy"), sum(col("zp") * col("zp")).as("sxx"),
      sum(col("z") * col("zp")).as("sxy"))
    def c(ab: String, a: String, b: String) =
      (col("n") * col(ab) - col(a) * col(b)).cast("double")
    val r2 = (c("sxy", "sx", "sy") * c("sxy", "sx", "sy")) /
      (c("sxx", "sx", "sx") * c("syy", "sy", "sy"))
    sums.select(col("n").cast("long").as("n_pairs"),
      r2.as("r2_aux"), (col("n").cast("double") * r2).as("arch_lm"))
  }

  val q363Sql: String = {
    def c(ab: String, a: String, b: String) = dbl(s"n * $ab - $a * $b")
    val r2 = s"((${c("sxy", "sx", "sy")} * ${c("sxy", "sx", "sy")}) / " +
      s"(${c("sxx", "sx", "sx")} * ${c("syy", "sy", "sy")}))"
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |df AS (
      |  SELECT day, x - LAG(x, 1) OVER (ORDER BY day) AS r FROM bd),
      |diffs AS (SELECT day, r FROM df WHERE r IS NOT NULL),
      |tot AS (SELECT SUM(r) AS sr, CAST(COUNT(*) AS HUGEINT) AS n
      |  FROM diffs),
      |es AS (
      |  SELECT day,
      |    CASE WHEN r * n - sr >= 0 THEN 1 ELSE -1 END *
      |      (ABS(r * n - sr) // n) AS e
      |  FROM diffs CROSS JOIN tot),
      |zs0 AS (
      |  SELECT day, e * e AS z,
      |    LAG(e * e, 1) OVER (ORDER BY day) AS zp
      |  FROM es),
      |zs AS (SELECT z, zp FROM zs0 WHERE zp IS NOT NULL),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(z) AS sy,
      |    SUM(zp) AS sx, SUM(z * z) AS syy, SUM(zp * zp) AS sxx,
      |    SUM(z * zp) AS sxy
      |  FROM zs)
      |SELECT CAST(n AS BIGINT) AS n_pairs, $r2 AS r2_aux,
      |  ${dbl("n")} * $r2 AS arch_lm
      |FROM sums""".stripMargin
  }

  // ------------- q364: Lo–MacKinlay variance-ratio random-walk test

  /** q364: the variance-ratio test — does daily revenue follow a random
    * walk (VR ≈ 1), mean-revert (VR < 1) or trend (VR > 1)? For period
    * q, VR(q) = Var(q-day overlapping sums)/(q·Var(1-day diffs)), both
    * variances one fixed IEEE tree over exact integer sums; reported at
    * q = 2 and q = 5. The market-efficiency companion to q344/q358
    * (all three read serial dependence, each in the units its audience
    * expects).
    *
    * Plan: one event pass → day rollup; overlapping sums are 2- and
    * 5-row metadata windows; three 1-row folds meet in a broadcast
    * finish.
    */
  val q364VarianceRatio: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    val diffs = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .withColumn("xp", lag(col("x"), 1).over(w))
      .filter(col("xp").isNotNull)
      .select(col("day"), (col("x") - col("xp")).as("r"))
      .localCheckpoint()
    def varOf(df: DataFrame, c: String) = df.agg(
      count(lit(1)).cast(dec).as("n"), sum(col(c)).as("s"),
      sum(col(c) * col(c)).as("ss"))
      .select(((col("n") * col("ss") - col("s") * col("s")).cast("double") /
        (col("n") * (col("n") - 1)).cast("double")).as("v"),
        col("n"))
    val v1 = varOf(diffs, "r").select(col("v").as("v1"),
      col("n").cast("long").as("n_diffs"))
    def sumK(k: Int) = {
      val kw = Window.orderBy(col("day")).rowsBetween(-(k - 1), 0)
      val agg = diffs
        .withColumn("cnt", count(lit(1)).over(kw))
        .withColumn("sk", sum(col("r")).over(kw))
        .filter(col("cnt") === k)
        .select(col("sk").as("y"))
      varOf(agg, "y").select(col("v").as(s"v$k"))
    }
    v1.crossJoin(broadcast(sumK(2))).crossJoin(broadcast(sumK(5)))
      .select(col("n_diffs"),
        (col("v2") / (lit(2.0) * col("v1"))).as("vr2_d"),
        (col("v5") / (lit(5.0) * col("v1"))).as("vr5_d"))
  }

  val q364Sql: String = {
    def varSel(src: String, c: String) =
      s"""(SELECT ${dbl(s"n * ss - s * s")} / ${dbl("n * (n - 1)")} AS v,
         | CAST(n AS BIGINT) AS n FROM (
         | SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM($c) AS s,
         |   SUM($c * $c) AS ss FROM $src))""".stripMargin.replace("\n", " ")
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |df AS (SELECT day, x - LAG(x, 1) OVER (ORDER BY day) AS r FROM bd),
      |diffs AS (SELECT day, r FROM df WHERE r IS NOT NULL),
      |k2 AS (
      |  SELECT sk AS y FROM (
      |    SELECT SUM(r) OVER (ORDER BY day
      |      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS sk,
      |    COUNT(*) OVER (ORDER BY day
      |      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS cnt
      |    FROM diffs) WHERE cnt = 2),
      |k5 AS (
      |  SELECT sk AS y FROM (
      |    SELECT SUM(r) OVER (ORDER BY day
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sk,
      |    COUNT(*) OVER (ORDER BY day
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cnt
      |    FROM diffs) WHERE cnt = 5),
      |v1 AS ${varSel("diffs", "r")},
      |v2 AS ${varSel("k2", "y")},
      |v5 AS ${varSel("k5", "y")}
      |SELECT v1.n AS n_diffs, v2.v / (2.0 * v1.v) AS vr2_d,
      |  v5.v / (5.0 * v1.v) AS vr5_d
      |FROM v1, v2, v5""".stripMargin
  }

  // ----------- q357: restricted mean survival time (RMST) at τ days

  /** RMST horizon τ (days). */
  val RmstTau = 28L

  /** q357: restricted mean survival time — ∫₀^τ S(t)dt, the "average
    * conversion-free days in the first [[RmstTau]]" readout that modern
    * causal survival analysis prefers over hazard ratios (it is a
    * collapsible, unit-interpretable effect even when proportional
    * hazards fails). Rides q259's Kaplan–Meier machinery: the duration
    * rollup is metadata-sized control data, so the product-limit fold
    * runs driver-side exactly like q259/q332 (documented seam, not a
    * corpus collect), accumulating s_e6 · Δt interval areas with the
    * same integer floor products the recursive-CTE oracle replays
    * step-for-step.
    *
    * Plan: one event pass → user rollup → duration rollup (metadata);
    * the fold touches only that rollup.
    */
  val q357Rmst: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val day = expr("unix_timestamp(ts) DIV 86400")
    val byUser = e.groupBy(col("user_id")).agg(
      min(day).as("d0"),
      min(when(col("event_type") === "purchase", day)).as("dconv"),
      max(day).as("dlast"))
    val durs = byUser.select(
      when(col("dconv").isNotNull, col("dconv") - col("d0"))
        .otherwise(col("dlast") - col("d0")).as("dur"),
      when(col("dconv").isNotNull, 1L).otherwise(0L).as("ev"))
    val roll = durs.groupBy(col("dur"))
      .agg(sum(col("ev")).as("d_ev"), sum(lit(1L) - col("ev")).as("c_cens"))
      .orderBy(col("dur")).collect()
    var atRisk = roll.map(r => r.getAs[Long]("d_ev") + r.getAs[Long]("c_cens")).sum
    val nAll = atRisk
    var sE6 = 1000000L
    var prevT = 0L
    var rmstE6 = 0L
    roll.foreach { r =>
      val (dur, dEv, cCens) = (r.getAs[Long]("dur"), r.getAs[Long]("d_ev"),
        r.getAs[Long]("c_cens"))
      val dt = math.min(dur, RmstTau) - math.min(prevT, RmstTau)
      rmstE6 += sE6 * dt
      sE6 = (BigInt(sE6) * (atRisk - dEv) / atRisk).toLong
      atRisk -= (dEv + cCens)
      prevT = dur
    }
    if (prevT < RmstTau) rmstE6 += sE6 * (RmstTau - math.min(prevT, RmstTau))
    import s.implicits._
    Seq((nAll, RmstTau, rmstE6, sE6))
      .toDF("n_users", "tau_days", "rmst_e6_days", "s_final_e6")
  }

  val q357Sql: String =
    s"""WITH RECURSIVE u AS (
      |  SELECT user_id,
      |    MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS d0,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 END) AS dconv,
      |    MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS dlast
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT CASE WHEN dconv IS NOT NULL THEN dconv - d0
      |    ELSE dlast - d0 END AS dur,
      |    CASE WHEN dconv IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM u),
      |r AS (SELECT dur, SUM(ev) AS d_ev, SUM(1 - ev) AS c_cens
      |  FROM d GROUP BY dur),
      |t AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY dur) AS rk, dur, d_ev, c_cens,
      |    COALESCE(LAG(dur) OVER (ORDER BY dur), 0) AS dur_prev,
      |    tot.n - COALESCE(SUM(d_ev + c_cens) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM r CROSS JOIN (SELECT SUM(d_ev + c_cens) AS n FROM r) tot),
      |km AS (
      |  SELECT rk, dur,
      |    CAST((n_risk - d_ev) * 1000000 // n_risk AS BIGINT) AS s_e6,
      |    CAST(1000000 * (LEAST(dur, $RmstTau) - LEAST(dur_prev, $RmstTau))
      |      AS BIGINT) AS rmst_e6
      |  FROM t WHERE rk = 1
      |  UNION ALL
      |  SELECT t.rk, t.dur,
      |    CAST(CAST(km.s_e6 AS HUGEINT) * (t.n_risk - t.d_ev)
      |      // t.n_risk AS BIGINT),
      |    km.rmst_e6 + km.s_e6 *
      |      (LEAST(t.dur, $RmstTau) - LEAST(t.dur_prev, $RmstTau))
      |  FROM km JOIN t ON t.rk = km.rk + 1),
      |last AS (
      |  SELECT dur, s_e6, rmst_e6 FROM km ORDER BY rk DESC LIMIT 1),
      |n AS (SELECT CAST(SUM(d_ev + c_cens) AS BIGINT) AS n_users FROM r)
      |SELECT n_users, CAST($RmstTau AS BIGINT) AS tau_days,
      |  CAST(rmst_e6 + CASE WHEN dur < $RmstTau
      |    THEN s_e6 * ($RmstTau - LEAST(dur, $RmstTau)) ELSE 0 END
      |    AS BIGINT) AS rmst_e6_days,
      |  s_e6 AS s_final_e6
      |FROM last CROSS JOIN n""".stripMargin

  // ------- q358: Newey–West (HAC) long-run variance of daily revenue

  /** Bartlett-kernel lag window for the HAC estimate. */
  val NwLags = 5

  /** q358: Newey–West — the autocorrelation-robust variance every
    * daily-mean confidence interval on a SERIALLY DEPENDENT series needs
    * (q344 shows ρ₁ ≠ 0 is real; a naive s²/n interval is then wrong by
    * exactly the factor this query reports):
    *
    *   σ²_NW = γ₀ + 2·Σ_{l≤L} (1 − l/(L+1))·γ_l,   L = 5 (Bartlett)
    *
    * Deviations are cents-resolution signed floors (x_t − Σx/n — the
    * q344 residual trick with a constant-only regression), lag products
    * come from |days|-row metadata windows, and the one division by
    * 6n is the signed floor spelling. The ratio σ²_NW/γ₀ IS the variance
    * inflation factor; its reciprocal scales n to the effective sample
    * size.
    *
    * Plan: one event pass → day rollup (checkpointed); five lag columns
    * over the metadata series; a 1-row fold.
    */
  val q358NeweyWest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .localCheckpoint()
    val tot = byDay.agg(sum(col("x")).as("sx"),
      count(lit(1)).cast(dec).as("n"))
    val devs = byDay.crossJoin(broadcast(tot))
      .select(col("day"), col("n"),
        expr(sdiv("x * n - sx", "n")).as("d0"))
    val w = Window.orderBy(col("day"))
    val lagged = (1 to NwLags).foldLeft(devs) { (df, l) =>
      df.withColumn(s"d$l", lag(col("d0"), l).over(w))
    }
    val gCols = Seq(max(col("n")).as("n"),
      sum(col("d0") * col("d0")).as("g0")) ++
      (1 to NwLags).map(l =>
        sum(when(col(s"d$l").isNotNull, col("d0") * col(s"d$l"))
          .otherwise(lit(0).cast(dec))).as(s"g$l"))
    val gs = lagged.agg(gCols.head, gCols.tail: _*)
    val nwNum = (s"6 * g0 + 2 * (" +
      (1 to NwLags).map(l => s"${6 - l} * g$l").mkString(" + ") + ")")
    gs.select(col("n").cast("long").as("n_days"),
        expr(sdiv("g0", "n")).cast("long").as("gamma0_c2"),
        expr(sdiv(nwNum, "6 * n")).cast("long").as("nw_c2"),
        expr(sdiv(sdiv(nwNum, "6 * n") + " * 1000000",
          sdiv("g0", "n"))).cast("long").as("vif_e6"))
  }

  val q358Sql: String = {
    val nwNum = "6 * g0 + 2 * (" +
      (1 to NwLags).map(l => s"${6 - l} * g$l").mkString(" + ") + ")"
    val lagCols = (1 to NwLags)
      .map(l => s"LAG(d0, $l) OVER (ORDER BY day) AS d$l").mkString(",\n      |    ")
    val gCols = (1 to NwLags)
      .map(l => s"SUM(CASE WHEN d$l IS NOT NULL THEN d0 * d$l ELSE 0 END) AS g$l")
      .mkString(",\n      |    ")
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT SUM(x) AS sx, CAST(COUNT(*) AS HUGEINT) AS n FROM bd),
      |devs AS (
      |  SELECT day, n, ${duckSdiv("x * n - sx", "n")} AS d0
      |  FROM bd CROSS JOIN tot),
      |lagged AS (
      |  SELECT day, n, d0,
      |    $lagCols
      |  FROM devs),
      |gs AS (
      |  SELECT MAX(n) AS n, SUM(d0 * d0) AS g0,
      |    $gCols
      |  FROM lagged)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(${duckSdiv("g0", "n")} AS BIGINT) AS gamma0_c2,
      |  CAST(${duckSdiv(nwNum, "6 * n")} AS BIGINT) AS nw_c2,
      |  CAST(${duckSdiv(s"(${duckSdiv(nwNum, "6 * n")}) * 1000000", duckSdiv("g0", "n"))}
      |    AS BIGINT) AS vif_e6
      |FROM gs""".stripMargin
  }

  // -------- q359: Bowker symmetry test on the event-transition matrix

  /** q359: Bowker's test of symmetry — is the event-flow matrix in
    * DETAILED BALANCE (every i→j flow matched by j→i), or does traffic
    * circulate? The k×k generalization of q322's McNemar (k = 2 recovers
    * it exactly), applied to q108's user-session transition counts:
    *
    *   χ² = Σ_{i<j} (n_ij − n_ji)² / (n_ij + n_ji),  df = k(k−1)/2
    *
    * — one exact e6 floor per unordered pair, summed over the ≤ k²
    * metadata cells. A significant χ² here is what licenses directional
    * funnel language ("view → purchase, not back").
    *
    * Plan: one event pass with per-user LEAD (windows partitioned by
    * user — parallelism = users); the matrix is k² metadata; the pair
    * self-join is on the 25-cell rollup, broadcast.
    */
  val q359BowkerSymmetry: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("f"))
      .withColumn("t", lead(col("f"), 1).over(w))
      .filter(col("t").isNotNull)
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
      // the 25-cell matrix feeds both sides of the pair join — checkpoint
      // so the per-user window pass runs once
      .localCheckpoint()
    val pairs = trans.filter(col("f") < col("t"))
      .join(broadcast(trans.select(col("t").as("f"), col("f").as("t"),
        col("n").as("n_rev"))), Seq("f", "t"), "left")
      .select(col("f").as("from_type"), col("t").as("to_type"),
        col("n").cast(dec).as("n_fwd"),
        coalesce(col("n_rev"), lit(0L)).cast(dec).as("n_rev"))
    val chi = pairs.agg(sum(
      expr(fdiv("(n_fwd - n_rev) * (n_fwd - n_rev) * 1000000",
        "n_fwd + n_rev"))).as("chi2"),
      count(lit(1)).as("df"))
    pairs.crossJoin(broadcast(chi))
      .select(col("from_type"), col("to_type"),
        col("n_fwd").cast("long").as("n_fwd"),
        col("n_rev").cast("long").as("n_rev"),
        expr(fdiv("(n_fwd - n_rev) * (n_fwd - n_rev) * 1000000",
          "n_fwd + n_rev")).cast("long").as("term_e6"),
        col("chi2").cast("long").as("chi2_e6"),
        col("df").cast("long").as("df"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q359Sql: String =
    """WITH seq AS (
      |  SELECT event_type AS f,
      |    LEAD(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS t
      |  FROM events),
      |trans AS (
      |  SELECT f, t, CAST(COUNT(*) AS HUGEINT) AS n
      |  FROM seq WHERE t IS NOT NULL GROUP BY f, t),
      |pairs AS (
      |  SELECT a.f AS from_type, a.t AS to_type, a.n AS n_fwd,
      |    COALESCE(b.n, 0) AS n_rev
      |  FROM trans a LEFT JOIN trans b ON b.f = a.t AND b.t = a.f
      |  WHERE a.f < a.t),
      |chi AS (
      |  SELECT SUM((n_fwd - n_rev) * (n_fwd - n_rev) * 1000000
      |    // (n_fwd + n_rev)) AS chi2,
      |    CAST(COUNT(*) AS BIGINT) AS df
      |  FROM pairs)
      |SELECT from_type, to_type, CAST(n_fwd AS BIGINT) AS n_fwd,
      |  CAST(n_rev AS BIGINT) AS n_rev,
      |  CAST((n_fwd - n_rev) * (n_fwd - n_rev) * 1000000
      |    // (n_fwd + n_rev) AS BIGINT) AS term_e6,
      |  CAST(chi2 AS BIGINT) AS chi2_e6, df
      |FROM pairs CROSS JOIN chi
      |ORDER BY from_type, to_type""".stripMargin

  // --------------- q360: Kupiec proportion-of-failures VaR backtest

  /** Nominal tail probability (1/20 = P5) for the revenue floor. */
  val KupiecP = 20L
  private val KupiecLog2P = -4.321928094887363   // log2(1/20)
  private val KupiecLog2Q = -0.07400058144377693 // log2(19/20)

  /** q360: Kupiec's proportion-of-failures test — does the P5 revenue
    * floor estimated on the FIRST half of the series keep its promised
    * 5% exceedance rate on the SECOND half? The canonical VaR backtest,
    * and the leak-free out-of-sample audit q290's in-sample quantile
    * error cannot give. With x breaches in n test days, p = 1/20:
    *
    *   LR = 2[x·ln(x/n) + (n−x)·ln(1−x/n) − x·ln p − (n−x)·ln(1−p)]
    *
    * spelled in base-2 with the portable LUT log (x=0 and x=n branches
    * take their exact limits), the plan-time constants log2(p), log2(1−p)
    * inlined e6, and 2·ln2 applied as one signed floor. The floor itself
    * is selected relationally at rank ⌈n₁/20⌉ (no corpus sort).
    *
    * Plan: one event pass → day rollup (checkpointed); the floor comes
    * off the first-half value rollup; the test fold is 1-row.
    */
  val q360KupiecPof: Q = (s, dir) => {
    val l2pE6 = math.round(KupiecLog2P * 1e6)
    val l2qE6 = math.round(KupiecLog2Q * 1e6)
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
      .localCheckpoint()
    val mid = byDay.agg(expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)")
      .as("midday"))
    val half1 = byDay.crossJoin(broadcast(mid))
      .filter(col("day") < col("midday"))
    val byV = half1.groupBy(col("x")).agg(count(lit(1)).as("cnt"))
    val n1 = byV.agg(sum(col("cnt")).as("n1"))
    val thr = AuditQueries.doubledRankBelow(byV, Seq.empty, "x", 100000L)
      .crossJoin(broadcast(n1))
      .filter(col("below") + col("cnt") >= expr(s"(n1 + ${KupiecP - 1}) div $KupiecP"))
      .agg(min(col("x")).as("thr"))
    val test = byDay.crossJoin(broadcast(mid)).filter(col("day") >= col("midday"))
      .crossJoin(broadcast(thr))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(when(col("x") < col("thr"), 1L).otherwise(0L)).cast(dec).as("xx"))
    test.crossJoin(broadcast(thr))
      .select(col("n"), col("xx"), col("thr"),
        expr(s"""CASE
          | WHEN xx = 0 THEN -(n * $l2qE6)
          | WHEN xx = n THEN -(n * $l2pE6)
          | ELSE xx * (${l2("CAST(xx AS BIGINT)")} - ${l2("CAST(n AS BIGINT)")} - $l2pE6)
          |   + (n - xx) * (${l2("CAST((n - xx) AS BIGINT)")} - ${l2("CAST(n AS BIGINT)")} - $l2qE6)
          | END""".stripMargin.replace("\n", " ")).as("bits_e6"))
      .select(col("n").cast("long").as("n_test"),
        col("xx").cast("long").as("n_breach"),
        col("thr").cast("long").as("floor_c"),
        expr(fdiv("n * 1000000", KupiecP.toString)).cast("long")
          .as("expected_breach_e6"),
        expr(sdivBigint("bits_e6 * 1386294", "1000000")).as("lr_e6"))
  }

  val q360Sql: String = {
    val l2pE6 = math.round(KupiecLog2P * 1e6)
    val l2qE6 = math.round(KupiecLog2Q * 1e6)
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS midday FROM bd),
      |h1 AS (SELECT x FROM bd CROSS JOIN mid WHERE day < midday),
      |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM h1),
      |rk AS (
      |  SELECT x, cnt,
      |    COALESCE(SUM(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM h1 GROUP BY x)),
      |thr AS (
      |  SELECT MIN(x) AS thr FROM rk CROSS JOIN n1
      |  WHERE below + cnt >= (n1 + ${KupiecP - 1}) // $KupiecP),
      |test AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(CASE WHEN x < thr THEN 1 ELSE 0 END) AS HUGEINT) AS xx
      |  FROM bd CROSS JOIN mid CROSS JOIN thr WHERE day >= midday),
      |bits AS (
      |  SELECT n, xx,
      |    CASE
      |      WHEN xx = 0 THEN -(n * $l2qE6)
      |      WHEN xx = n THEN -(n * $l2pE6)
      |      ELSE xx * (${duckL2("CAST(xx AS BIGINT)")} - ${duckL2("CAST(n AS BIGINT)")} - $l2pE6)
      |        + (n - xx) * (${duckL2("CAST((n - xx) AS BIGINT)")} - ${duckL2("CAST(n AS BIGINT)")} - $l2qE6)
      |      END AS bits_e6
      |  FROM test)
      |SELECT CAST(n AS BIGINT) AS n_test, CAST(xx AS BIGINT) AS n_breach,
      |  (SELECT CAST(thr AS BIGINT) FROM thr) AS floor_c,
      |  CAST(n * 1000000 // $KupiecP AS BIGINT) AS expected_breach_e6,
      |  CAST(CASE WHEN bits_e6 >= 0 THEN 1 ELSE -1 END *
      |    (ABS(bits_e6 * 1386294) // 1000000) AS BIGINT) AS lr_e6
      |FROM bits""".stripMargin
  }

  // ------------- q353: drawdown / risk panel over the daily series

  /** q353: the financial risk panel — maximum drawdown (largest drop of
    * daily revenue below its running peak), its share of the all-time
    * high, and the Sharpe-style mean/σ ratio of day-over-day changes: the
    * "how bad does it get, and is growth worth the volatility" readout
    * next to q109's OHLC bars and q260's burn rate. Running peak and lag
    * are exact-integer windows; mean, σ and the ratio form one fixed IEEE
    * tree over exact sums (n·Σd² − (Σd)² etc.), so both engines agree
    * bit-for-bit.
    *
    * Plan: one event pass → day rollup; peak/lag/folds are |days|-row
    * metadata windows (Pettitt precedent) — the corpus never re-shuffles.
    */
  val q353Drawdown: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lagW = Window.orderBy(col("day"))
    val ser = byDay
      .withColumn("peak", max(col("x")).over(w))
      .withColumn("xp", lag(col("x"), 1).over(lagW))
    val folded = ser.agg(count(lit(1)).cast(dec).as("n"),
      max(col("x")).cast(dec).as("max_x"),
      max(col("peak") - col("x")).cast(dec).as("max_dd"),
      sum(when(col("xp").isNotNull, (col("x") - col("xp")).cast(dec))
        .otherwise(lit(0).cast(dec))).as("sd1"),
      sum(when(col("xp").isNotNull,
        (col("x") - col("xp")).cast(dec) * (col("x") - col("xp")))
        .otherwise(lit(0).cast(dec))).as("sd2"),
      sum(when(col("xp").isNotNull, 1L).otherwise(0L)).cast(dec).as("nd"))
    val meanD = col("sd1").cast("double") / col("nd").cast("double")
    val sdD = sqrt((col("nd") * col("sd2") - col("sd1") * col("sd1"))
      .cast("double") / (col("nd") * (col("nd") - 1)).cast("double"))
    folded.select(col("n").cast("long").as("n_days"),
      col("max_x").cast("long").as("max_day_c"),
      col("max_dd").cast("long").as("max_dd_c"),
      expr(fdiv("max_dd * 1000000", "max_x")).cast("long")
        .as("dd_share_e6"),
      meanD.as("mean_diff_c"), sdD.as("sd_diff_c"),
      (meanD / sdD).as("sharpe_d"))
  }

  val q353Sql: String = {
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ser AS (
      |  SELECT x,
      |    MAX(x) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
      |    LAG(x, 1) OVER (ORDER BY day) AS xp
      |  FROM bd),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(MAX(x) AS HUGEINT) AS max_x,
      |    CAST(MAX(peak - x) AS HUGEINT) AS max_dd,
      |    CAST(SUM(CASE WHEN xp IS NOT NULL THEN x - xp ELSE 0 END)
      |      AS HUGEINT) AS sd1,
      |    CAST(SUM(CASE WHEN xp IS NOT NULL THEN (x - xp) * (x - xp)
      |      ELSE 0 END) AS HUGEINT) AS sd2,
      |    CAST(SUM(CASE WHEN xp IS NOT NULL THEN 1 ELSE 0 END) AS HUGEINT)
      |      AS nd
      |  FROM ser)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(max_x AS BIGINT) AS max_day_c,
      |  CAST(max_dd AS BIGINT) AS max_dd_c,
      |  CAST(max_dd * 1000000 // max_x AS BIGINT) AS dd_share_e6,
      |  ${dbl("sd1")} / ${dbl("nd")} AS mean_diff_c,
      |  sqrt(${dbl("nd * sd2 - sd1 * sd1")} / ${dbl("nd * (nd - 1)")})
      |    AS sd_diff_c,
      |  (${dbl("sd1")} / ${dbl("nd")}) /
      |    sqrt(${dbl("nd * sd2 - sd1 * sd1")} / ${dbl("nd * (nd - 1)")})
      |    AS sharpe_d
      |FROM folded""".stripMargin
  }

  // --------------- q355: Page–Hinkley drift detector on daily revenue

  /** Drift allowance δ (e6 cents) and the alarm threshold as a share of
    * mean daily revenue (percent).
    */
  val PhDeltaE6 = 0L
  val PhLambdaPct = 20L

  /** q355: Page–Hinkley — the STREAMING drift detector (the standard
    * mean-shift monitor in ML model-observability stacks) as a batch
    * twin: m_T = Σ_{t≤T}(x_t − x̄_t − δ) accumulates deviations from the
    * RUNNING mean, and the alarm fires when PH_T = m_T − min_{t≤T} m_t
    * exceeds λ. Unlike q124's CUSUM (deviation from the GLOBAL mean —
    * it needs the whole series first), Page–Hinkley only ever sees the
    * prefix, which is what makes it deployable on a stream; the batch
    * spelling here is its exact replay. Each term (x_t·t − C_t)/t is
    * floored signed at e6, so the cumulative walk is exact integers; λ
    * is [[PhLambdaPct]]% of mean daily revenue, computed relationally
    * and broadcast.
    *
    * Plan: one event pass → day rollup; cumulative sums, the running
    * min and the first-crossing selection are |days|-row metadata
    * windows.
    */
  val q355PageHinkley: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .localCheckpoint()
    val lam = byDay.agg(
      expr(fdiv(s"SUM(x) * 1000000 * $PhLambdaPct", "COUNT(1) * 100"))
        .as("lambda_e6"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ser = byDay
      .withColumn("t", count(lit(1)).over(w).cast(dec))
      .withColumn("c", sum(col("x")).over(w))
      .withColumn("term",
        expr(sdiv("(x * t - c) * 1000000", "t")) - lit(PhDeltaE6))
      .withColumn("m", sum(col("term")).over(w))
      .withColumn("mmin", min(col("m")).over(w))
      .withColumn("ph", col("m") - col("mmin"))
    val peak = ser.agg(max(col("ph")).as("max_ph_e6"))
    val alarm = ser.crossJoin(broadcast(lam))
      .filter(col("ph") > col("lambda_e6"))
      .agg(min(col("day")).as("alarm0"))
      .select(coalesce(col("alarm0"), lit(-1L)).as("alarm_day"))
    byDay.agg(count(lit(1)).as("n_days"))
      .crossJoin(broadcast(peak)).crossJoin(broadcast(alarm))
      .crossJoin(broadcast(lam))
      .select(col("n_days").cast("long").as("n_days"),
        col("max_ph_e6").cast("long").as("max_ph_e6"),
        col("lambda_e6").cast("long").as("lambda_e6"),
        col("alarm_day").cast("long").as("alarm_day"))
  }

  val q355Sql: String =
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |lam AS (
      |  SELECT SUM(x) * 1000000 * $PhLambdaPct // (COUNT(*) * 100)
      |    AS lambda_e6
      |  FROM bd),
      |ser AS (
      |  SELECT day, x,
      |    CAST(COUNT(*) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
      |      AS t,
      |    SUM(x) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM bd),
      |terms AS (
      |  SELECT day,
      |    CASE WHEN x * t - c >= 0 THEN 1 ELSE -1 END *
      |      (ABS((x * t - c) * 1000000) // t) - $PhDeltaE6 AS term
      |  FROM ser),
      |walk AS (
      |  SELECT day,
      |    SUM(term) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM terms),
      |ph AS (
      |  SELECT day, m - MIN(m) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
      |  FROM walk),
      |peak AS (SELECT MAX(ph) AS max_ph_e6 FROM ph),
      |alarm AS (
      |  SELECT COALESCE(MIN(CASE WHEN ph > lambda_e6 THEN day END), -1)
      |    AS alarm_day
      |  FROM ph CROSS JOIN lam),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM bd)
      |SELECT n_days, CAST(max_ph_e6 AS BIGINT) AS max_ph_e6,
      |  CAST(lambda_e6 AS BIGINT) AS lambda_e6, alarm_day
      |FROM n CROSS JOIN peak CROSS JOIN alarm CROSS JOIN lam""".stripMargin

  // -------------- q356: quantile treatment effects across the arms

  /** q356: quantile treatment effects — WHERE in the distribution does
    * the arm difference live? q335's Cohen's d and q127's z-test compare
    * means; a treatment that moves only the tail is invisible to both.
    * For each decile q = 1..9, both arms' per-user revenue quantile is
    * selected RELATIONALLY (smallest value whose cumulative count reaches
    * ⌈q·n_g/10⌉ — exactly percentile_disc's rule, off the two-level rank
    * construction, no corpus sort), and QTE(q) = Q_A(q) − Q_B(q).
    *
    * Plan: one event pass → user rollup → per-arm value rollup; the
    * 9-target spine joins the rollup cells with bounded ×9 fan-out; a
    * (arm, decile) min-fold and a 9-row pivot finish.
    */
  val q356Qte: Q = (s, dir) => {
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val pu = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(cents(col("value"))).as("y"))
      .select(when(hv % 2 === 0, "A").otherwise("B").as("g"), col("y"))
    val gc = pu.groupBy(col("g"), col("y")).agg(count(lit(1)).as("cnt"))
    val ng = gc.groupBy(col("g")).agg(sum(col("cnt")).as("n_g"))
    val ranked = AuditQueries.doubledRankBelow(gc, Seq("g"), "y", 100000L)
      .join(broadcast(ng), Seq("g"))
    val spine = ranked.crossJoin(broadcast(
      s.range(1, 10).select(col("id").as("q"))))
    val sel = spine
      .filter(col("below") + col("cnt") >=
        expr("(q * n_g + 9) div 10"))
      .groupBy(col("g"), col("q")).agg(min(col("y")).as("qv"))
    sel.groupBy(col("q"))
      .agg(max(when(col("g") === "A", col("qv"))).as("q_a_c"),
        max(when(col("g") === "B", col("qv"))).as("q_b_c"))
      .select(col("q").cast("long").as("decile"), col("q_a_c"), col("q_b_c"),
        (col("q_a_c") - col("q_b_c")).as("qte_c"))
      .orderBy(col("decile"))
  }

  val q356Sql: String =
    """WITH pu AS (
      |  SELECT
      |    CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 'A' ELSE 'B' END AS g,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |gc AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM pu GROUP BY g, y),
      |rk AS (
      |  SELECT g, y, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM gc),
      |ng AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n_g FROM gc GROUP BY g),
      |qs AS (SELECT UNNEST(range(1, 10)) AS q),
      |sel AS (
      |  SELECT g, q, MIN(y) AS qv
      |  FROM rk JOIN ng USING (g) CROSS JOIN qs
      |  WHERE below + cnt >= (q * n_g + 9) // 10
      |  GROUP BY g, q),
      |piv AS (
      |  SELECT q,
      |    MAX(CASE WHEN g = 'A' THEN qv END) AS q_a_c,
      |    MAX(CASE WHEN g = 'B' THEN qv END) AS q_b_c
      |  FROM sel GROUP BY q)
      |SELECT CAST(q AS BIGINT) AS decile, q_a_c, q_b_c,
      |  q_a_c - q_b_c AS qte_c
      |FROM piv ORDER BY decile""".stripMargin

  // ------------------- q349: Wald–Wolfowitz runs test on daily revenue

  /** q349: the runs test — is the SEQUENCE of above/below-median revenue
    * days random, or do good days clump? q162 reports streak lengths,
    * q124/q316 chart drift; this is the significance TEST for serial
    * clumping that needs no distributional assumption at all. Days at the
    * exact median are dropped (the classical treatment); with n₁ above,
    * n₂ below, n = n₁+n₂ and R observed runs,
    *
    *   z² = ((R−1)·n − 2n₁n₂)²·(n−1) / (2n₁n₂·(2n₁n₂ − n))
    *
    * — the n-cleared spelling of ((R−μ)/σ)², exact integers end to end
    * with one e6 floor; every intermediate ≤ 4·10³⁶ at a 10⁶-day spine.
    *
    * Plan: one event pass → day rollup; the median selection rides the
    * two-level rank construction (no corpus sort); the run walk is a
    * |days|-row metadata window (Pettitt precedent).
    */
  val q349RunsTest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
      .localCheckpoint()
    val byV = byDay.groupBy(col("x")).agg(count(lit(1)).as("cnt"))
    val nTot = byV.agg(sum(col("cnt")).as("n"))
    val med = AuditQueries.doubledRankBelow(byV, Seq.empty, "x", 100000L)
      .crossJoin(broadcast(nTot))
      .filter(col("below") + col("cnt") >= expr("(n + 1) div 2"))
      .agg(min(col("x")).as("med"))
    val signs = byDay.crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .select(col("day"), (col("x") > col("med")).cast("long").as("s"))
    val runW = Window.orderBy(col("day"))
    val folded = signs
      .withColumn("sp", lag(col("s"), 1).over(runW))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("s")).cast(dec).as("n1"),
        (sum(when(col("sp").isNull || col("sp") =!= col("s"), 1L)
          .otherwise(0L))).cast(dec).as("r"))
    folded
      .select(col("n"), col("n1"), (col("n") - col("n1")).as("n2"), col("r"))
      .select(col("n"), col("n1"), col("n2"), col("r"),
        abs((col("r") - 1) * col("n") - lit(2).cast(dec) * col("n1") * col("n2"))
          .as("a"),
        (lit(2).cast(dec) * col("n1") * col("n2")).as("p2"))
      .select(col("n").cast("long").as("n_days_used"),
        col("n1").cast("long").as("n_above"),
        col("n2").cast("long").as("n_below"),
        col("r").cast("long").as("n_runs"),
        expr(fdiv("a * a * (n - 1) * 1000000", "p2 * (p2 - n)"))
          .cast("long").as("z2_e6"))
  }

  val q349Sql: String =
    """WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |med AS (
      |  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS med
      |  FROM bd),
      |signs AS (
      |  SELECT day, CASE WHEN x > med THEN 1 ELSE 0 END AS s
      |  FROM bd CROSS JOIN med WHERE x <> med),
      |ser AS (SELECT s, LAG(s, 1) OVER (ORDER BY day) AS sp FROM signs),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(s) AS HUGEINT) AS n1,
      |    CAST(SUM(CASE WHEN sp IS NULL OR sp <> s THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS r
      |  FROM ser),
      |st AS (
      |  SELECT n, n1, n - n1 AS n2, r,
      |    ABS((r - 1) * n - 2 * n1 * (n - n1)) AS a,
      |    2 * n1 * (n - n1) AS p2
      |  FROM folded)
      |SELECT CAST(n AS BIGINT) AS n_days_used, CAST(n1 AS BIGINT) AS n_above,
      |  CAST(n2 AS BIGINT) AS n_below, CAST(r AS BIGINT) AS n_runs,
      |  CAST(a * a * (n - 1) * 1000000 // (p2 * (p2 - n)) AS BIGINT)
      |    AS z2_e6
      |FROM st""".stripMargin

  // ------- q350: 2×2 effect measures — odds ratio / relative risk

  /** q350: the epidemiologist's 2×2 panel for a binary outcome — odds
    * ratio, relative risk and risk difference of "active user-day saw a
    * purchase" across the hash arms, with Woolf's log-scale standard
    * error — the binary-outcome companion to q335's continuous effect
    * size (q127's z-test says WHETHER arms differ; OR/RR/RD say by HOW
    * MUCH in the units decision-makers quote). The unit is the ACTIVE
    * (user, day) block — per-user lifetime purchase is ~1 for everyone
    * and would degenerate the table. All three measures are exact
    * integer rationals with one e6 floor each (RD signed); the single
    * double is Woolf's √(1/a+1/b+1/c+1/d), a fixed IEEE tree.
    *
    * Plan: one event pass → (user, day) rollup → a 1-row conditional
    * fold. One shuffle.
    */
  val q350OddsRatio: Q = (s, dir) => {
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val pu = Tables.events(s, dir)
      .groupBy(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("y"))
      .select(when(hv % 2 === 0, 1L).otherwise(0L).as("arm_a"), col("y"))
    pu.agg(
        sum(when(col("arm_a") === 1L && col("y") === 1L, 1L).otherwise(0L))
          .cast(dec).as("a"),
        sum(when(col("arm_a") === 1L && col("y") === 0L, 1L).otherwise(0L))
          .cast(dec).as("b"),
        sum(when(col("arm_a") === 0L && col("y") === 1L, 1L).otherwise(0L))
          .cast(dec).as("c"),
        sum(when(col("arm_a") === 0L && col("y") === 0L, 1L).otherwise(0L))
          .cast(dec).as("d"))
      .select(col("a").cast("long").as("n11"),
        col("b").cast("long").as("n10"),
        col("c").cast("long").as("n01"),
        col("d").cast("long").as("n00"),
        expr(fdiv("a * d * 1000000", "b * c")).cast("long").as("or_e6"),
        expr(fdiv("a * (c + d) * 1000000", "c * (a + b)")).cast("long")
          .as("rr_e6"),
        expr(sdivBigint("(a * (c + d) - c * (a + b)) * 1000000",
          "(a + b) * (c + d)")).as("rd_e6"),
        sqrt(lit(1.0) / col("a").cast("double") +
          lit(1.0) / col("b").cast("double") +
          lit(1.0) / col("c").cast("double") +
          lit(1.0) / col("d").cast("double")).as("log_se_woolf"))
  }

  val q350Sql: String =
    """WITH pu AS (
      |  SELECT
      |    CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END AS arm_a,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events
      |  GROUP BY user_id, CAST(epoch_ms(ts) AS BIGINT) // 86400000),
      |cells AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm_a = 1 AND y = 1 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS a,
      |    CAST(SUM(CASE WHEN arm_a = 1 AND y = 0 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS b,
      |    CAST(SUM(CASE WHEN arm_a = 0 AND y = 1 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS c,
      |    CAST(SUM(CASE WHEN arm_a = 0 AND y = 0 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS d
      |  FROM pu)
      |SELECT CAST(a AS BIGINT) AS n11, CAST(b AS BIGINT) AS n10,
      |  CAST(c AS BIGINT) AS n01, CAST(d AS BIGINT) AS n00,
      |  CAST(a * d * 1000000 // (b * c) AS BIGINT) AS or_e6,
      |  CAST(a * (c + d) * 1000000 // (c * (a + b)) AS BIGINT) AS rr_e6,
      |  CAST(CASE WHEN a * (c + d) - c * (a + b) >= 0 THEN 1 ELSE -1 END *
      |    (ABS((a * (c + d) - c * (a + b)) * 1000000)
      |      // ((a + b) * (c + d))) AS BIGINT) AS rd_e6,
      |  sqrt(1.0 / CAST(CAST(a AS VARCHAR) AS DOUBLE)
      |    + 1.0 / CAST(CAST(b AS VARCHAR) AS DOUBLE)
      |    + 1.0 / CAST(CAST(c AS VARCHAR) AS DOUBLE)
      |    + 1.0 / CAST(CAST(d AS VARCHAR) AS DOUBLE)) AS log_se_woolf
      |FROM cells""".stripMargin

  // ---------- q351: Mantel–Haenszel pooled odds ratio across strata

  /** Activity-band edges (active days per user) for the MH strata. */
  val MhBandLow = 27L
  val MhBandHigh = 29L

  /** q351: the Mantel–Haenszel pooled odds ratio — q350's crude OR
    * adjusted for an observed confounder, the 2×2 analog of q304's CEM
    * (binary outcome instead of continuous): stratify q350's active
    * (user, day) units into three bands of the user's ACTIVITY (active
    * days < [[MhBandLow]], < [[MhBandHigh]], else), form each stratum's
    * arm × purchased table, and pool
    *
    *   OR_MH = Σ_i (aᵢdᵢ/nᵢ) / Σ_i (bᵢcᵢ/nᵢ)
    *
    * next to the crude OR computed from the collapsed table — the
    * side-by-side IS the confounding readout (activity drives both the
    * number of units a user contributes and purchase propensity).
    * Per-stratum quotients are e6-floored before summing so the
    * cross-stratum additions stay exact integers; the two pools meet in
    * one final floor division.
    *
    * Plan: one event pass → (user, day) rollup (checkpointed — it feeds
    * both the band rollup and the stratum fold) → per-user band join →
    * 3-row stratum fold → 1-row finish.
    */
  val q351MantelHaenszel: Q = (s, dir) => {
    val hv = graft.functions.Text.portableHash(col("user_id").cast("string"))
    val ud = Tables.events(s, dir)
      .groupBy(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("y"))
      .localCheckpoint()
    val ub = ud.groupBy(col("user_id")).agg(count(lit(1)).as("nd"))
      .select(col("user_id"),
        when(col("nd") < MhBandLow, "low")
          .when(col("nd") < MhBandHigh, "mid").otherwise("high").as("band"))
    val pu = ud.join(ub, Seq("user_id"))
      .select(when(hv % 2 === 0, 1L).otherwise(0L).as("arm_a"), col("y"),
        col("band"))
    val strata = pu.groupBy(col("band"))
      .agg(
        sum(when(col("arm_a") === 1L && col("y") === 1L, 1L).otherwise(0L))
          .cast(dec).as("a"),
        sum(when(col("arm_a") === 1L && col("y") === 0L, 1L).otherwise(0L))
          .cast(dec).as("b"),
        sum(when(col("arm_a") === 0L && col("y") === 1L, 1L).otherwise(0L))
          .cast(dec).as("c"),
        sum(when(col("arm_a") === 0L && col("y") === 0L, 1L).otherwise(0L))
          .cast(dec).as("d"))
      .select(col("band"), col("a"), col("b"), col("c"), col("d"),
        (col("a") + col("b") + col("c") + col("d")).as("nn"))
    strata.agg(
        sum(expr(fdiv("a * d * 1000000", "nn"))).as("x_e6"),
        sum(expr(fdiv("b * c * 1000000", "nn"))).as("y_e6"),
        sum(col("a")).as("sa"), sum(col("b")).as("sb"),
        sum(col("c")).as("sc"), sum(col("d")).as("sd"),
        count(lit(1)).as("n_strata"))
      .select(col("n_strata").cast("long").as("n_strata"),
        expr(fdiv("sa * sd * 1000000", "sb * sc")).cast("long")
          .as("crude_or_e6"),
        expr(fdiv("x_e6 * 1000000", "y_e6")).cast("long").as("mh_or_e6"))
  }

  val q351Sql: String =
    s"""WITH ud AS (
      |  SELECT user_id,
      |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1, 2),
      |ub AS (
      |  SELECT user_id,
      |    CASE WHEN COUNT(*) < $MhBandLow THEN 'low'
      |         WHEN COUNT(*) < $MhBandHigh THEN 'mid' ELSE 'high' END AS band
      |  FROM ud GROUP BY user_id),
      |pb AS (
      |  SELECT
      |    CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END AS arm_a,
      |    y, band
      |  FROM ud JOIN ub USING (user_id)),
      |strata AS (
      |  SELECT band,
      |    CAST(SUM(CASE WHEN arm_a = 1 AND y = 1 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS a,
      |    CAST(SUM(CASE WHEN arm_a = 1 AND y = 0 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS b,
      |    CAST(SUM(CASE WHEN arm_a = 0 AND y = 1 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS c,
      |    CAST(SUM(CASE WHEN arm_a = 0 AND y = 0 THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS d
      |  FROM pb GROUP BY band),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |    SUM(a * d * 1000000 // (a + b + c + d)) AS x_e6,
      |    SUM(b * c * 1000000 // (a + b + c + d)) AS y_e6,
      |    SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc, SUM(d) AS sd
      |  FROM strata)
      |SELECT n_strata,
      |  CAST(sa * sd * 1000000 // (sb * sc) AS BIGINT) AS crude_or_e6,
      |  CAST(x_e6 * 1000000 // y_e6 AS BIGINT) AS mh_or_e6
      |FROM folded""".stripMargin

  // --------- q345: Gumbel block-maxima fit + 12-month return level

  /** Plan-time EVT constants, inlined as IDENTICAL double literals in both
    * engines (libm at plan build is allowed; runtime arithmetic is fixed
    * IEEE ops over them — the q294/q317 rule).
    */
  private val GumbelGamma = 0.5772156649015329           // Euler–Mascheroni
  private val GumbelBetaK = math.sqrt(6.0) / math.Pi     // s → scale
  private val GumbelC12 = -math.log(math.log(90.0 / 89.0)) // T = 90 quantile

  /** q345: extreme-value analysis — fit a Gumbel distribution to the DAILY
    * MAXIMUM single-purchase value by the method of moments and report the
    * 90-day return level (the transaction size exceeded about once a
    * quarter), the capacity-planning question none of the mean/variance
    * readouts answer (means say nothing about the worst transaction):
    *
    *   β = s·√6/π,  μ = x̄ − γβ,  x_T = μ + β·(−ln ln(T/(T−1)))
    *
    * Moments come from exact integer block sums (Σx, Σx² in DECIMAL); the
    * doubles appear only in one fixed IEEE tree over those exact integers
    * and the three inlined plan-time constants, so both engines produce
    * bit-identical output. Block maxima are the one EVT statistic that is
    * embarrassingly parallel — max is associative, so the day rollup
    * needs no order or window at any scale.
    *
    * Plan: one event pass → day maxima (metadata-sized) → a 1-row fold.
    */
  val q345GumbelMaxima: Q = (s, dir) => {
    val bm = purchaseCentsByDay(s, dir).agg(max(col("v")).cast(dec).as("x"))
    val sums = bm.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val sDev = sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double") / (col("n") * (col("n") - 1)).cast("double"))
    val beta = sDev * lit(GumbelBetaK)
    val mu = mean - lit(GumbelGamma) * beta
    sums.select(col("n").cast("long").as("n_blocks"),
      mean.as("mean_c"), sDev.as("sd_c"), beta.as("beta_c"), mu.as("mu_c"),
      (mu + beta * lit(GumbelC12)).as("rl90_c"))
  }

  val q345Sql: String = {
    val mean = s"${dbl("sx")} / ${dbl("n")}"
    val sd = s"sqrt(${dbl("n * sxx - sx * sx")} / ${dbl("n * (n - 1)")})"
    val beta = s"($sd) * $GumbelBetaK"
    val mu = s"($mean) - $GumbelGamma * ($beta)"
    s"""WITH bm AS (
       |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
       |    CAST(MAX(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
       |    SUM(x * x) AS sxx
       |  FROM bm)
       |SELECT CAST(n AS BIGINT) AS n_blocks,
       |  $mean AS mean_c,
       |  $sd AS sd_c,
       |  $beta AS beta_c,
       |  $mu AS mu_c,
       |  ($mu) + ($beta) * $GumbelC12 AS rl90_c
       |FROM sums""".stripMargin
  }

  // ---------------- q344: Durbin–Watson serial-correlation statistic

  /** q344: Durbin–Watson — ARE the residuals of the daily-revenue trend
    * fit independent? The classical post-regression diagnostic q117/q154
    * never report: fit y = a + b·x by exact OLS sums (x = day offset),
    * form cents-resolution residuals with the SIGNED floor division
    * (r = (D·y − numA − numB·x) / D, D = nΣx²−(Σx)² > 0), then
    *
    *   DW = Σ(r_t − r_{t−1})² / Σr_t²,   ρ̂₁ = Σ r_t·r_{t−1} / Σr_t²
    *
    * — integer sums of integer residuals, one e6 floor each (ρ̂ signed).
    * Residuals stay at CENTS resolution, not e6, so Σr² is bounded by
    * 10³⁸ even at 10¹⁰-cent days × 10⁶-day spines.
    *
    * Plan: one event pass → day rollup (checkpointed — sums and the
    * residual series both ride it); the lag walk is a |days|-row
    * metadata window (the Pettitt precedent), never the corpus.
    */
  val q344DurbinWatson: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("y"))
      .localCheckpoint()
    val mn = byDay.agg(min(col("day")).as("d0"))
    val xd = byDay.crossJoin(broadcast(mn))
      .select((col("day") - col("d0")).cast(dec).as("x"), col("y"))
      .localCheckpoint()
    val sums = xd.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("dd"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("num_a"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num_b"))
    val r = xd.crossJoin(broadcast(sums))
      .select(col("x"),
        expr(sdiv("dd * y - num_a - num_b * x", "dd")).as("rc"))
    val lagW = Window.orderBy(col("x"))
    r.withColumn("rp", lag(col("rc"), 1).over(lagW))
      .agg(count(lit(1)).as("n_days"),
        sum(col("rc") * col("rc")).as("srr"),
        sum(when(col("rp").isNotNull,
          (col("rc") - col("rp")) * (col("rc") - col("rp")))
          .otherwise(lit(0).cast(dec))).as("sdd"),
        sum(when(col("rp").isNotNull, col("rc") * col("rp"))
          .otherwise(lit(0).cast(dec))).as("scr"))
      .select(col("n_days").cast("long").as("n_days"),
        expr(fdiv("sdd * 1000000", "srr")).cast("long").as("dw_e6"),
        expr(sdiv("scr * 1000000", "srr")).cast("long").as("rho1_e6"))
  }

  val q344Sql: String =
    """WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |mn AS (SELECT MIN(day) AS d0 FROM bd),
      |xd AS (SELECT CAST(day - d0 AS HUGEINT) AS x, y
      |  FROM bd CROSS JOIN mn),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy
      |  FROM xd),
      |co AS (
      |  SELECT n, n * sxx - sx * sx AS dd,
      |    sy * sxx - sx * sxy AS num_a,
      |    n * sxy - sx * sy AS num_b
      |  FROM sums),
      |r AS (
      |  SELECT x,
      |    CASE WHEN dd * y - num_a - num_b * x >= 0 THEN 1 ELSE -1 END *
      |      (ABS(dd * y - num_a - num_b * x) // dd) AS rc
      |  FROM xd CROSS JOIN co),
      |ser AS (
      |  SELECT rc, LAG(rc, 1) OVER (ORDER BY x) AS rp FROM r),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      |    SUM(rc * rc) AS srr,
      |    SUM(CASE WHEN rp IS NOT NULL THEN (rc - rp) * (rc - rp)
      |      ELSE 0 END) AS sdd,
      |    SUM(CASE WHEN rp IS NOT NULL THEN rc * rp ELSE 0 END) AS scr
      |  FROM ser)
      |SELECT n_days,
      |  CAST(sdd * 1000000 // srr AS BIGINT) AS dw_e6,
      |  CAST(CASE WHEN scr >= 0 THEN 1 ELSE -1 END *
      |    (ABS(scr * 1000000) // srr) AS BIGINT) AS rho1_e6
      |FROM agg""".stripMargin

  // ------------ q399: Hurst exponent of daily revenue (rescaled range)

  /** Block sizes for the R/S ladder — plan-time constants sized to the
    * ~30-day event horizon (6 + 3 + 2 = 11 full blocks).
    */
  val HurstSizes: Seq[Int] = Seq(5, 10, 15)

  /** q399: the Hurst exponent by classical rescaled-range (R/S)
    * analysis — the long-memory diagnostic that places daily revenue on
    * the mean-reverting (H < ½) / random-walk (H = ½) / trending
    * (H > ½) axis. q364's variance ratios test ONE aggregation step;
    * the R/S ladder fits the whole scaling law log(R/S) ~ H·log(m)
    * across block sizes [[HurstSizes]]. Per block, the range of the
    * m-cleared cumulative deviation walk (m·Z_k = m·Σ_{i≤k}x_i − k·S,
    * exact integers — the m denominator cancels against the std's) over
    * the integer √ of the n-cleared second moment (bit-portable
    * FLOOR(SQRT) — daily revenue is floored to whole dollars so
    * m·ΣX² stays far under 2⁵³ through sf1); block R/S values land as
    * e6 floors BEFORE the per-size mean (the q340 sum-order rule), and
    * the 3-point log-log slope rides the LUT log pair.
    *
    * Plan: one event pass → day rollup (checkpointed) → a ×3 block
    * spine (bounded by the plan-time ladder) → per-block windows
    * PARTITIONED by (size, block) → metadata folds.
    */
  val q399Hurst: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(expr("SUM(v) div 100").as("x"))
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
      .localCheckpoint()
    val spine = s.createDataFrame(HurstSizes.map(Tuple1(_)))
      .toDF("m").select(col("m").cast("long").as("m"))
    val rows = byDay.crossJoin(broadcast(spine))
      .withColumn("blk", expr("(rn - 1) div m"))
    val tot = rows.groupBy(col("m"), col("blk"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("cnt") === col("m") &&
        col("m") * col("sxx") - col("sx") * col("sx") > 0L)
    val wblk = Window.partitionBy(col("m"), col("blk")).orderBy(col("rn"))
    val walk = rows.join(tot, Seq("m", "blk"))
      .withColumn("k", row_number().over(wblk).cast("long"))
      .withColumn("cum", sum(col("x")).over(
        wblk.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("mz", col("m") * col("cum") - col("k") * col("sx"))
    val blocks = walk.groupBy(col("m"), col("blk"))
      .agg(max(col("mz")).as("mzmax"), min(col("mz")).as("mzmin"),
        first(col("sx")).as("sx"), first(col("sxx")).as("sxx"))
      .select(col("m"),
        expr("""CAST((mzmax - mzmin) * 1000000 div
               | CAST(FLOOR(SQRT(CAST(m * sxx - sx * sx AS DOUBLE)))
               |   AS BIGINT) AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("rs_e6"))
    val perSize = blocks.groupBy(col("m"))
      .agg(count(lit(1)).as("nblk"), sum(col("rs_e6")).as("srs"))
      .select(col("m"), expr(fdiv("srs", "nblk")).cast("long").as("avg_rs_e6"))
      .localCheckpoint()
    val pts = perSize.select(expr(s"CAST(${l2("m")} AS DECIMAL(38,0))").as("lx"),
      expr(s"CAST(${l2("avg_rs_e6")} AS DECIMAL(38,0))").as("ly"))
    val slope = pts.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
      sum(col("lx") * col("lx")).as("sxx"), sum(col("lx") * col("ly")).as("sxy"))
      .select(expr(sdivBigint("(n * sxy - sx * sy) * 1000000",
        "n * sxx - sx * sx")).as("hurst_e6"))
    val piv = perSize.agg(
      sum(when(col("m") === 5L, col("avg_rs_e6"))).as("rs5_e6"),
      sum(when(col("m") === 10L, col("avg_rs_e6"))).as("rs10_e6"),
      sum(when(col("m") === 15L, col("avg_rs_e6"))).as("rs15_e6"))
    byDay.agg(count(lit(1)).as("n_days"))
      .crossJoin(broadcast(piv)).crossJoin(broadcast(slope))
      .select(col("n_days").cast("long").as("n_days"),
        col("rs5_e6").cast("long").as("rs5_e6"),
        col("rs10_e6").cast("long").as("rs10_e6"),
        col("rs15_e6").cast("long").as("rs15_e6"),
        col("hurst_e6"))
  }

  val q399Sql: String = {
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) // 100 AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ser AS (
      |  SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM bd),
      |rows0 AS (
      |  SELECT rn, x, m, (rn - 1) // m AS blk
      |  FROM ser CROSS JOIN (SELECT UNNEST([5, 10, 15]) AS m)),
      |tot AS (
      |  SELECT m, blk, COUNT(*) AS cnt, SUM(x) AS sx, SUM(x * x) AS sxx
      |  FROM rows0 GROUP BY m, blk
      |  HAVING COUNT(*) = m AND m * SUM(x * x) - SUM(x) * SUM(x) > 0),
      |walk AS (
      |  SELECT r.m, r.blk, t.sx, t.sxx,
      |    r.m * SUM(r.x) OVER (PARTITION BY r.m, r.blk ORDER BY r.rn
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    - ROW_NUMBER() OVER (PARTITION BY r.m, r.blk ORDER BY r.rn)
      |      * t.sx AS mz
      |  FROM rows0 r JOIN tot t ON t.m = r.m AND t.blk = r.blk),
      |blocks AS (
      |  SELECT m,
      |    CAST((MAX(mz) - MIN(mz)) * 1000000 //
      |      CAST(FLOOR(SQRT(CAST(ANY_VALUE(m * sxx - sx * sx) AS DOUBLE)))
      |        AS BIGINT) AS BIGINT) AS rs_e6
      |  FROM walk GROUP BY m, blk),
      |per_size AS (
      |  SELECT m, CAST(SUM(rs_e6) // COUNT(*) AS BIGINT) AS avg_rs_e6
      |  FROM blocks GROUP BY m),
      |pts AS (
      |  SELECT CAST(${duckL2("m")} AS HUGEINT) AS lx,
      |    CAST(${duckL2("avg_rs_e6")} AS HUGEINT) AS ly
      |  FROM per_size),
      |slope AS (
      |  SELECT CAST(CASE WHEN COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly)
      |      >= 0 THEN 1 ELSE -1 END *
      |    (ABS((COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly)) * 1000000)
      |     // (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx)))
      |    AS BIGINT) AS hurst_e6
      |  FROM pts),
      |piv AS (
      |  SELECT CAST(SUM(CASE WHEN m = 5 THEN avg_rs_e6 END) AS BIGINT)
      |      AS rs5_e6,
      |    CAST(SUM(CASE WHEN m = 10 THEN avg_rs_e6 END) AS BIGINT)
      |      AS rs10_e6,
      |    CAST(SUM(CASE WHEN m = 15 THEN avg_rs_e6 END) AS BIGINT)
      |      AS rs15_e6
      |  FROM per_size),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM bd)
      |SELECT n_days, rs5_e6, rs10_e6, rs15_e6, hurst_e6
      |FROM n CROSS JOIN piv CROSS JOIN slope""".stripMargin
  }

  // -------------- q400: Holt double-exponential smoothing forecast

  /** Holt smoothing weights as exact tenths: α = 3/10, β = 1/10. */
  val HoltAlphaTenths = 3L
  val HoltBetaTenths = 1L

  /** q400: Holt's linear-trend (double) exponential smoothing over the
    * daily-revenue series — the level+trend forecaster the seasonal-naive
    * panel (q296) benchmarks against and Croston (q261) specializes for
    * intermittent demand. The recursion
    *
    *   l_t = ⌊(α·x_t + (10−α)·(l_{t−1} + b_{t−1})) / 10⌋
    *   b_t = ⌊(β·(l_t − l_{t−1}) + (10−β)·b_{t−1}) / 10⌋
    *
    * (weights exact tenths, state TRUNCATED to whole cents each step —
    * plain Long division here, the signed |n|-division spelling in the
    * oracle, identical on negatives) is inherently sequential, so it
    * rides the q357
    * device: the day rollup is metadata-sized (one row per DAY, not per
    * event), the fold runs on the driver, and the oracle replays the
    * identical recursion as a recursive CTE. Init l₁ = x₁, b₁ = 0
    * (documented); one-step-ahead errors accumulate SSE in exact cents².
    *
    * Plan: one event pass → day rollup → |days|-row driver fold.
    */
  val q400Holt: Q = (s, dir) => {
    val roll = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
      .orderBy(col("day")).collect()
    val xs = roll.map(_.getAs[Long]("x"))
    var lev = xs.head
    var tr = 0L
    var sse = BigInt(0)
    xs.tail.foreach { x =>
      val pred = lev + tr
      sse += BigInt(x - pred) * BigInt(x - pred)
      val lPrev = lev
      lev = (HoltAlphaTenths * x + (10 - HoltAlphaTenths) * pred) / 10L
      tr = (HoltBetaTenths * (lev - lPrev) +
        (10 - HoltBetaTenths) * tr) / 10L
    }
    import s.implicits._
    Seq((xs.length.toLong, lev, tr, lev + 7L * tr, sse.toLong))
      .toDF("n_days", "level_cents", "trend_cents", "forecast_7d_cents",
        "sse_cents2")
  }

  val q400Sql: String =
    s"""WITH RECURSIVE bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ser AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS rk, x FROM bd),
      |holt AS (
      |  SELECT rk, x AS lev, CAST(0 AS BIGINT) AS tr,
      |    CAST(0 AS HUGEINT) AS sse
      |  FROM ser WHERE rk = 1
      |  UNION ALL
      |  SELECT s.rk,
      |    CAST(CASE WHEN $HoltAlphaTenths * s.x
      |        + (10 - $HoltAlphaTenths) * (h.lev + h.tr) >= 0
      |      THEN 1 ELSE -1 END *
      |      (ABS($HoltAlphaTenths * s.x
      |        + (10 - $HoltAlphaTenths) * (h.lev + h.tr)) // 10)
      |      AS BIGINT),
      |    CAST(CASE WHEN $HoltBetaTenths * (
      |        CAST(CASE WHEN $HoltAlphaTenths * s.x
      |            + (10 - $HoltAlphaTenths) * (h.lev + h.tr) >= 0
      |          THEN 1 ELSE -1 END *
      |          (ABS($HoltAlphaTenths * s.x
      |            + (10 - $HoltAlphaTenths) * (h.lev + h.tr)) // 10)
      |          AS BIGINT) - h.lev)
      |        + (10 - $HoltBetaTenths) * h.tr >= 0 THEN 1 ELSE -1 END *
      |      (ABS($HoltBetaTenths * (
      |        CAST(CASE WHEN $HoltAlphaTenths * s.x
      |            + (10 - $HoltAlphaTenths) * (h.lev + h.tr) >= 0
      |          THEN 1 ELSE -1 END *
      |          (ABS($HoltAlphaTenths * s.x
      |            + (10 - $HoltAlphaTenths) * (h.lev + h.tr)) // 10)
      |          AS BIGINT) - h.lev)
      |        + (10 - $HoltBetaTenths) * h.tr) // 10) AS BIGINT),
      |    h.sse + CAST(s.x - (h.lev + h.tr) AS HUGEINT)
      |      * (s.x - (h.lev + h.tr))
      |  FROM holt h JOIN ser s ON s.rk = h.rk + 1),
      |last AS (SELECT lev, tr, sse FROM holt ORDER BY rk DESC LIMIT 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM bd)
      |SELECT n_days, CAST(lev AS BIGINT) AS level_cents,
      |  CAST(tr AS BIGINT) AS trend_cents,
      |  CAST(lev + 7 * tr AS BIGINT) AS forecast_7d_cents,
      |  CAST(sse AS BIGINT) AS sse_cents2
      |FROM n CROSS JOIN last""".stripMargin

  // ---------- q405: Granger causality — do clicks predict revenue?

  /** q405: the Granger test "does yesterday's CLICK volume improve the
    * forecast of today's revenue beyond yesterday's revenue alone?" —
    * the directional, predictive question q411-style cross-correlation
    * can only hint at. Restricted (rev_t ~ rev_{t−1}) vs unrestricted
    * (rev_t ~ rev_{t−1} + clk_{t−1}) OLS, both in closed form from
    * n-cleared integer co-moments (validated against lstsq to 1e-11):
    *
    *   RSSr_s = Sww·Suu − Suw²            (∝ RSS_r·n·Suu)
    *   RSSu_s = Sww·D2 − Suw(Suw·Svv − Svw·Suv) − Svw(Svw·Suu − Suw·Suv)
    *   F = (RSS_r − RSS_u)(n−3)/RSS_u
    *
    * with D2 = Suu·Svv − Suv². Revenue folds to thousand-dollar units
    * and both RSS ratios stage through one e6 floor each BEFORE the F
    * division, keeping every product inside DECIMAL(38,0) through sf1
    * (the unstaged rational form overflows at sf0.1).
    *
    * Plan: one event pass → two day rollups from the SAME shuffle
    * grain, inner-joined (metadata) → lag window → 1-row fold.
    */
  val q405Granger: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("day"))
      .agg(expr("SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)" +
        " div 100000").as("rev"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clk"))
      .localCheckpoint()
    val w = Window.orderBy(col("day"))
    val ser = byDay
      .withColumn("u", lag(col("rev"), 1).over(w))
      .withColumn("vv", lag(col("clk"), 1).over(w))
      .filter(col("u").isNotNull)
      .select(col("rev").as("y"), col("u"), col("vv"))
    val mo = ser.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("u")).cast(dec).as("su"), sum(col("vv")).cast(dec).as("sv"),
      sum(col("y")).cast(dec).as("sw"),
      sum(col("u").cast(dec) * col("u")).as("quu"),
      sum(col("vv").cast(dec) * col("vv")).as("qvv"),
      sum(col("u").cast(dec) * col("vv")).as("quv"),
      sum(col("u").cast(dec) * col("y")).as("quw"),
      sum(col("vv").cast(dec) * col("y")).as("qvw"),
      sum(col("y").cast(dec) * col("y")).as("qww"))
    val cm = mo.select(col("n"),
      (col("n") * col("quu") - col("su") * col("su")).as("suu"),
      (col("n") * col("qvv") - col("sv") * col("sv")).as("svv"),
      (col("n") * col("quv") - col("su") * col("sv")).as("suv"),
      (col("n") * col("quw") - col("su") * col("sw")).as("suw"),
      (col("n") * col("qvw") - col("sv") * col("sw")).as("svw"),
      (col("n") * col("qww") - col("sw") * col("sw")).as("sww"))
      .withColumn("d2", col("suu") * col("svv") - col("suv") * col("suv"))
      .withColumn("rr_e6", expr("CASE WHEN suu = 0 THEN NULL ELSE " +
        fdiv("(sww * suu - suw * suw) * 1000000", "suu") + " END"))
      .withColumn("ru_e6", expr("CASE WHEN d2 = 0 THEN NULL ELSE " + fdiv(
        """(sww * d2 - suw * (suw * svv - svw * suv)
          | - svw * (svw * suu - suw * suv)) * 1000000"""
          .stripMargin.replace("\n", " "), "d2") + " END"))
    cm.select(col("n").cast("long").as("n_eff"),
      col("rr_e6").cast("long").as("rss_restricted_e6"),
      col("ru_e6").cast("long").as("rss_unrestricted_e6"),
      expr("CASE WHEN ru_e6 IS NULL OR ru_e6 = 0 THEN NULL ELSE " +
        sdivBigint("(rr_e6 - ru_e6) * (n - 3) * 1000000", "ru_e6") + " END")
        .as("f_granger_e6"))
  }

  val q405Sql: String =
    """WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) // 100000
      |      AS rev,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clk
      |  FROM events GROUP BY 1),
      |ser AS (
      |  SELECT rev AS y, LAG(rev, 1) OVER (ORDER BY day) AS u,
      |    LAG(clk, 1) OVER (ORDER BY day) AS vv
      |  FROM bd),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(u) AS HUGEINT) AS su, CAST(SUM(vv) AS HUGEINT) AS sv,
      |    CAST(SUM(y) AS HUGEINT) AS sw,
      |    SUM(CAST(u AS HUGEINT) * u) AS quu,
      |    SUM(CAST(vv AS HUGEINT) * vv) AS qvv,
      |    SUM(CAST(u AS HUGEINT) * vv) AS quv,
      |    SUM(CAST(u AS HUGEINT) * y) AS quw,
      |    SUM(CAST(vv AS HUGEINT) * y) AS qvw,
      |    SUM(CAST(y AS HUGEINT) * y) AS qww
      |  FROM ser WHERE u IS NOT NULL),
      |cm AS (
      |  SELECT n, n * quu - su * su AS suu, n * qvv - sv * sv AS svv,
      |    n * quv - su * sv AS suv, n * quw - su * sw AS suw,
      |    n * qvw - sv * sw AS svw, n * qww - sw * sw AS sww
      |  FROM mo),
      |st AS (
      |  SELECT n,
      |    CASE WHEN suu = 0 THEN NULL
      |      ELSE (sww * suu - suw * suw) * 1000000 // suu END AS rr_e6,
      |    CASE WHEN suu * svv - suv * suv = 0 THEN NULL
      |      ELSE (sww * (suu * svv - suv * suv)
      |      - suw * (suw * svv - svw * suv)
      |      - svw * (svw * suu - suw * suv)) * 1000000
      |      // (suu * svv - suv * suv) END AS ru_e6
      |  FROM cm)
      |SELECT CAST(n AS BIGINT) AS n_eff,
      |  CAST(rr_e6 AS BIGINT) AS rss_restricted_e6,
      |  CAST(ru_e6 AS BIGINT) AS rss_unrestricted_e6,
      |  CAST(CASE WHEN ru_e6 IS NULL OR ru_e6 = 0 THEN NULL ELSE
      |    CASE WHEN rr_e6 - ru_e6 >= 0 THEN 1 ELSE -1 END *
      |    (ABS((rr_e6 - ru_e6) * (n - 3) * 1000000) // ru_e6) END AS BIGINT)
      |    AS f_granger_e6
      |FROM st""".stripMargin

  // ------- q407: Shapley-value channel attribution for conversions

  /** The four pre-purchase "channels" and their mask bits. */
  val ShapleyChannels: Seq[(String, Int)] =
    Seq("click" -> 1, "view" -> 2, "signup" -> 4, "error" -> 8)

  private def shapFact(n: Int): Long = (1 to n).map(_.toLong).product

  /** Per-mask integer coefficient such that 24·φ_channel =
    * Σ_mask coef(channel, mask)·count(mask): the whole 2⁴-coalition
    * Shapley sum collapsed at PLAN TIME (the q384 weight-table device) —
    * the engine never enumerates coalitions at run time.
    */
  private def shapCoef(bit: Int, mask: Int): Long = {
    val others = ShapleyChannels.map(_._2).filter(_ != bit)
    (0 until 8).map { sIdx =>
      val s = others.zipWithIndex
        .filter { case (_, i) => (sIdx & (1 << i)) != 0 }.map(_._1).sum
      val sz = Integer.bitCount(sIdx)
      val w = shapFact(sz) * shapFact(3 - sz)
      (if ((mask & ~(s | bit)) == 0) w else 0L) -
        (if ((mask & ~s) == 0) w else 0L)
    }.sum
  }

  private def shapArmSql(bit: Int): String =
    "SUM((CASE mask " + (0 until 16).map(m =>
      s"WHEN $m THEN ${shapCoef(bit, m)}").mkString(" ") +
      " ELSE 0 END) * cnt)"

  /** q407: Shapley-value attribution of conversions to the four
    * pre-purchase channel touches — the game-theoretic split marketing
    * stacks use where last-touch (the naive argmax) over-credits the
    * final click. Coalition value v(S) = converters whose touched-set
    * ⊆ S (they would still have converted with only S available,
    * documented); each channel's exact Shapley share
    *
    *   φ_c = Σ_{S ⊆ C∖c} |S|!(3−|S|)!/4! · (v(S∪c) − v(S))
    *
    * collapses — because v is a subset-sum of the 16 mask counts — to
    * ONE plan-time integer weight per (channel, mask) ([[shapCoef]]),
    * so the run-time plan is: user fold → 16-row mask rollup → a
    * 1-row weighted sum. ×24 keeps everything integer; the in-output
    * invariant Σφ = v(full) − v(∅) lands as shapley_gap_x24 = 0 (the
    * q374 prove-it-in-the-output convention).
    *
    * Plan: one event pass → per-user first-purchase fold + pre-purchase
    * bitmask (left join keeps empty-mask converters) → metadata fold.
    */
  val q407Shapley: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .localCheckpoint()
    val firstP = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
    val bits = ShapleyChannels.foldRight(lit(0L)) { case ((n, b), els) =>
      when(col("event_type") === n, lit(b.toLong)).otherwise(els)
    }
    val masks = e.join(firstP, Seq("user_id"))
      .filter(col("ts") < col("tp"))
      .select(col("user_id"), bits.as("b"))
      .groupBy(col("user_id")).agg(expr("bit_or(b)").as("mask0"))
    val mcnt = firstP.join(masks, Seq("user_id"), "left")
      .select(coalesce(col("mask0"), lit(0L)).as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val arms = ShapleyChannels.map { case (n, b) =>
      expr(shapArmSql(b)).as(s"phi24_$n")
    }
    val vEmpty = sum(when(col("mask") === 0L, col("cnt")).otherwise(0L))
    val aggCols = Seq(vEmpty.as("v_empty")) ++ arms
    mcnt.agg(sum(col("cnt")).as("n_conv"), aggCols: _*)
      .withColumn("shapley_gap_x24",
        col("phi24_click") + col("phi24_view") + col("phi24_signup") +
          col("phi24_error") - lit(24L) * (col("n_conv") - col("v_empty")))
  }

  val q407Sql: String = {
    val arms = ShapleyChannels.map { case (n, b) =>
      s"${shapArmSql(b)} AS phi24_$n"
    }.mkString(",\n  ")
    """WITH fp AS (
      |  SELECT user_id, MIN(ts) AS tp FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id),
      |pre AS (
      |  SELECT e.user_id,
      |    CASE e.event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
      |      WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END AS b
      |  FROM events e JOIN fp ON fp.user_id = e.user_id
      |  WHERE e.ts < fp.tp),
      |masks AS (
      |  SELECT user_id, BIT_OR(b) AS mask0 FROM pre GROUP BY user_id),
      |mc AS (
      |  SELECT COALESCE(mask0, 0) AS mask, COUNT(*) AS cnt
      |  FROM fp LEFT JOIN masks USING (user_id)
      |  GROUP BY 1),
      |agg AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_conv,
      |    CAST(SUM(CASE WHEN mask = 0 THEN cnt ELSE 0 END) AS BIGINT)
      |      AS v_empty,
      |  """.stripMargin + arms + """
      |  FROM mc)
      |SELECT n_conv, v_empty,
      |  CAST(phi24_click AS BIGINT) AS phi24_click,
      |  CAST(phi24_view AS BIGINT) AS phi24_view,
      |  CAST(phi24_signup AS BIGINT) AS phi24_signup,
      |  CAST(phi24_error AS BIGINT) AS phi24_error,
      |  CAST(phi24_click + phi24_view + phi24_signup + phi24_error
      |    - 24 * (n_conv - v_empty) AS BIGINT) AS shapley_gap_x24
      |FROM agg""".stripMargin
  }

  // ------ q408: Little's law day ledger over 30-minute sessions

  /** q408: the Little's-law ledger — per DAY, the two accountings of
    * session time that the law L̄ = λ·W̄ equates at the horizon:
    * time-IN-system (the concurrency integral of q71-style 30-minute
    * sessions clipped to the day — what q185's PEAK concurrency
    * time-averages) versus time-BY-arrivals (total duration of sessions
    * STARTING that day — the λ·W̄ side). Their per-day difference is
    * the boundary carry (sessions straddling midnight); it telescopes,
    * so Σ_days little_gap_ms = 0 is the in-output certificate that both
    * accountings cover every session-millisecond exactly once.
    *
    * Plan: one event pass → per-user gaps-and-islands session fold
    * (windows PARTITIONED by user) → session × spanned-day explode
    * (fan-out bounded by the horizon day count) → day rollup.
    */
  val q408LittlesLaw: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_millis(ts)").as("ms"), col("ts"))
      .withColumn("prev", lag(col("ms"), 1).over(wU))
      .withColumn("new_s",
        when(col("prev").isNull || col("ms") - col("prev") >= 1800000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("st"), max(col("ms")).as("en"))
      .localCheckpoint()
    val spans = sess
      .withColumn("day", explode(sequence(expr("st div 86400000"),
        expr("en div 86400000"))))
      .withColumn("lo", greatest(col("st"), col("day") * 86400000L))
      .withColumn("hi", least(col("en"), (col("day") + 1L) * 86400000L))
    spans.groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions_touching"),
        sum(when(expr("st div 86400000") === col("day"), 1L).otherwise(0L))
          .as("n_starts"),
        sum(col("hi") - col("lo")).as("integral_ms"),
        sum(when(expr("st div 86400000") === col("day"),
          col("en") - col("st")).otherwise(0L)).as("start_dur_ms"))
      .withColumn("little_gap_ms", col("integral_ms") - col("start_dur_ms"))
      .orderBy(col("day"))
  }

  val q408Sql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, ms,
      |    CASE WHEN ms - LAG(ms) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000
      |      OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |        IS NULL THEN 1 ELSE 0 END AS new_s
      |  FROM (SELECT user_id, ts, event_id, CAST(epoch_ms(ts) AS BIGINT)
      |          AS ms FROM events)),
      |numbered AS (
      |  SELECT user_id, ms,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, sid, MIN(ms) AS st, MAX(ms) AS en
      |  FROM numbered GROUP BY user_id, sid),
      |spans0 AS (
      |  SELECT st, en,
      |    UNNEST(generate_series(st // 86400000, en // 86400000)) AS day
      |  FROM sess),
      |spans AS (
      |  SELECT st, en, day,
      |    GREATEST(st, day * 86400000) AS lo,
      |    LEAST(en, (day + 1) * 86400000) AS hi
      |  FROM spans0)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions_touching,
      |  CAST(SUM(CASE WHEN st // 86400000 = day THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_starts,
      |  CAST(SUM(hi - lo) AS BIGINT) AS integral_ms,
      |  CAST(SUM(CASE WHEN st // 86400000 = day THEN en - st ELSE 0 END)
      |    AS BIGINT) AS start_dur_ms,
      |  CAST(SUM(hi - lo) - SUM(CASE WHEN st // 86400000 = day
      |    THEN en - st ELSE 0 END) AS BIGINT) AS little_gap_ms
      |FROM spans GROUP BY day ORDER BY day""".stripMargin

  // ------ q410: cross-correlation function clicks ↔ revenue at lags

  /** Lag window for the CCF panel (±3 days). */
  val CcfMaxLag = 3L

  /** q410: the cross-correlation function between daily click volume
    * and daily purchase revenue at lags −3..+3 — the SYMMETRIC
    * descriptive panel behind q405's directional Granger test: ACF
    * (q270) correlates a series with its own past; CCF asks WHICH SIDE
    * leads (ρ at lag +l = corr(clicks_t, revenue_{t+l}) — a peak at
    * positive l means clicks lead revenue by l days). Each lag's
    * correlation uses its OWN aligned-pair means (the textbook CCF,
    * not the fixed-mean shortcut): n-cleared integer co-moments per
    * lag, one signed e6 floor against the bit-portable FLOOR(SQRT(·))
    * of the variance product (through the VARCHAR-exact double cast on
    * the DuckDB side).
    *
    * Plan: one event pass → day rollup (checkpointed) → a ×7 lag
    * spine (bounded by the plan-time window) self-join on day+lag →
    * 7-row fold.
    */
  val q410Ccf: Q = (s, dir) => {
    val byDay = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("day"))
      .agg(expr("SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)" +
        " div 100").as("rev"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clk"))
      .localCheckpoint()
    val spine = s.range(-CcfMaxLag, CcfMaxLag + 1L)
      .select(col("id").as("lag"))
    val aligned = byDay.select(col("day"), col("clk").as("x"))
      .crossJoin(broadcast(spine))
      .join(byDay.select(col("day").as("dy"), col("rev").as("y")),
        col("dy") === col("day") + col("lag"))
    val mo = aligned.groupBy(col("lag"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).cast(dec).as("sx"), sum(col("y")).cast(dec).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("qxx"),
        sum(col("y").cast(dec) * col("y")).as("qyy"),
        sum(col("x").cast(dec) * col("y")).as("qxy"))
    mo.select(col("lag").cast("long").as("lag"),
      col("n").cast("long").as("n_pairs"),
      expr(sdivBigint("(n * qxy - sx * sy) * 1000000",
        """CAST(FLOOR(SQRT(CAST((n * qxx - sx * sx) * (n * qyy - sy * sy)
          | AS DOUBLE))) AS DECIMAL(38,0))""".stripMargin.replace("\n", " ")))
        .as("rho_e6"))
      .orderBy(col("lag"))
  }

  val q410Sql: String =
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) // 100 AS rev,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clk
      |  FROM events GROUP BY 1),
      |spine AS (SELECT UNNEST(range(-$CcfMaxLag, ${CcfMaxLag + 1})) AS lag),
      |aligned AS (
      |  SELECT s.lag, a.clk AS x, b.rev AS y
      |  FROM bd a CROSS JOIN spine s
      |  JOIN bd b ON b.day = a.day + s.lag),
      |mo AS (
      |  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS qxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS qyy,
      |    SUM(CAST(x AS HUGEINT) * y) AS qxy
      |  FROM aligned GROUP BY lag)
      |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
      |  CAST(CASE WHEN n * qxy - sx * sy >= 0 THEN 1 ELSE -1 END *
      |    (ABS((n * qxy - sx * sy) * 1000000) //
      |     CAST(FLOOR(SQRT(CAST(CAST((n * qxx - sx * sx)
      |       * (n * qyy - sy * sy) AS VARCHAR) AS DOUBLE))) AS HUGEINT))
      |    AS BIGINT) AS rho_e6
      |FROM mo ORDER BY lag""".stripMargin

  // ----- q412: Aalen–Johansen competing-risks cumulative incidence

  /** Evaluation horizon for the cumulative-incidence read, in days. */
  val CifTau = 28L

  /** q412: competing-risks cumulative incidence by the Aalen–Johansen
    * estimator — the survival question q259's KM CANNOT answer
    * correctly: when two event types compete (first PURCHASE vs first
    * ERROR ends a user's journey), 1−KM per cause OVER-estimates each
    * cause's incidence (it treats the competitor as censoring); AJ
    * allocates incidence so the causes and residual survival sum to 1:
    *
    *   CIF_k(τ) = Σ_{t≤τ} S(t−)·d_k(t)/n(t)
    *
    * First-of-either-event per user (tie on the same millisecond →
    * purchase, documented), censored at last activity otherwise. The
    * sequential product-limit fold rides the q357 device: day-grain
    * rollup is metadata, the fold runs on the driver with truncating
    * integer steps, the oracle replays it as a recursive CTE. The
    * closure gap 10⁶ − (CIF₁+CIF₂+S) lands in-output (floor drift
    * only — the estimator's additivity certificate).
    *
    * Plan: one event pass → user fold → day rollup → |days|-row
    * driver fold.
    */
  val q412CompetingRisks: Q = (s, dir) => {
    val day = expr("unix_millis(ts) div 86400000")
    val byUser = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(
        min(expr("unix_millis(ts)")).as("t0"),
        min(when(col("event_type") === "purchase",
          expr("unix_millis(ts)"))).as("tp"),
        min(when(col("event_type") === "error",
          expr("unix_millis(ts)"))).as("te"),
        max(expr("unix_millis(ts)")).as("tl"))
      .select(
        when(col("tp").isNotNull &&
          (col("te").isNull || col("tp") <= col("te")),
          expr("(tp - t0) div 86400000"))
          .when(col("te").isNotNull, expr("(te - t0) div 86400000"))
          .otherwise(expr("(tl - t0) div 86400000")).as("dur"),
        when(col("tp").isNotNull &&
          (col("te").isNull || col("tp") <= col("te")), 1L)
          .when(col("te").isNotNull, 2L).otherwise(0L).as("ev"))
    val roll = byUser.groupBy(col("dur")).agg(
      sum(when(col("ev") === 1L, 1L).otherwise(0L)).as("d1"),
      sum(when(col("ev") === 2L, 1L).otherwise(0L)).as("d2"),
      sum(when(col("ev") === 0L, 1L).otherwise(0L)).as("c"))
      .orderBy(col("dur")).collect()
    var atRisk = roll.map(r => r.getAs[Long]("d1") + r.getAs[Long]("d2") +
      r.getAs[Long]("c")).sum
    val nAll = atRisk
    var sE6 = 1000000L
    var cif1 = 0L
    var cif2 = 0L
    var n1 = 0L
    var n2 = 0L
    var nc = 0L
    roll.foreach { r =>
      val (dur, d1, d2, c) = (r.getAs[Long]("dur"), r.getAs[Long]("d1"),
        r.getAs[Long]("d2"), r.getAs[Long]("c"))
      if (dur <= CifTau) {
        cif1 += (BigInt(sE6) * d1 / atRisk).toLong
        cif2 += (BigInt(sE6) * d2 / atRisk).toLong
        sE6 = (BigInt(sE6) * (atRisk - d1 - d2) / atRisk).toLong
      }
      n1 += d1; n2 += d2; nc += c
      atRisk -= (d1 + d2 + c)
    }
    import s.implicits._
    Seq((nAll, n1, n2, nc, cif1, cif2, sE6,
      1000000L - cif1 - cif2 - sE6))
      .toDF("n_users", "n_purchase_first", "n_error_first", "n_censored",
        "cif_purchase_28_e6", "cif_error_28_e6", "surv_28_e6",
        "closure_gap_e6")
  }

  val q412Sql: String =
    s"""WITH RECURSIVE u AS (
      |  SELECT user_id,
      |    MIN(CAST(epoch_ms(ts) AS BIGINT)) AS t0,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN CAST(epoch_ms(ts) AS BIGINT) END) AS tp,
      |    MIN(CASE WHEN event_type = 'error'
      |      THEN CAST(epoch_ms(ts) AS BIGINT) END) AS te,
      |    MAX(CAST(epoch_ms(ts) AS BIGINT)) AS tl
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT CASE
      |      WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
      |        THEN (tp - t0) // 86400000
      |      WHEN te IS NOT NULL THEN (te - t0) // 86400000
      |      ELSE (tl - t0) // 86400000 END AS dur,
      |    CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
      |      WHEN te IS NOT NULL THEN 2 ELSE 0 END AS ev
      |  FROM u),
      |r AS (
      |  SELECT dur,
      |    SUM(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS d1,
      |    SUM(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS d2,
      |    SUM(CASE WHEN ev = 0 THEN 1 ELSE 0 END) AS c
      |  FROM d GROUP BY dur),
      |t AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY dur) AS rk, dur, d1, d2, c,
      |    tot.n - COALESCE(SUM(d1 + d2 + c) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM r CROSS JOIN (SELECT SUM(d1 + d2 + c) AS n FROM r) tot),
      |walk AS (
      |  SELECT rk, dur,
      |    CASE WHEN dur <= $CifTau
      |      THEN CAST(1000000 * d1 // n_risk AS BIGINT) ELSE 0 END AS cif1,
      |    CASE WHEN dur <= $CifTau
      |      THEN CAST(1000000 * d2 // n_risk AS BIGINT) ELSE 0 END AS cif2,
      |    CASE WHEN dur <= $CifTau
      |      THEN CAST(1000000 * (n_risk - d1 - d2) // n_risk AS BIGINT)
      |      ELSE 1000000 END AS s_e6
      |  FROM t WHERE rk = 1
      |  UNION ALL
      |  SELECT t.rk, t.dur,
      |    w.cif1 + CASE WHEN t.dur <= $CifTau
      |      THEN CAST(CAST(w.s_e6 AS HUGEINT) * t.d1 // t.n_risk AS BIGINT)
      |      ELSE 0 END,
      |    w.cif2 + CASE WHEN t.dur <= $CifTau
      |      THEN CAST(CAST(w.s_e6 AS HUGEINT) * t.d2 // t.n_risk AS BIGINT)
      |      ELSE 0 END,
      |    CASE WHEN t.dur <= $CifTau
      |      THEN CAST(CAST(w.s_e6 AS HUGEINT) * (t.n_risk - t.d1 - t.d2)
      |        // t.n_risk AS BIGINT)
      |      ELSE w.s_e6 END
      |  FROM walk w JOIN t ON t.rk = w.rk + 1),
      |last AS (SELECT cif1, cif2, s_e6 FROM walk ORDER BY rk DESC LIMIT 1),
      |cnt AS (
      |  SELECT CAST(SUM(d1 + d2 + c) AS BIGINT) AS n_users,
      |    CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2,
      |    CAST(SUM(c) AS BIGINT) AS nc
      |  FROM r)
      |SELECT n_users, n1 AS n_purchase_first, n2 AS n_error_first,
      |  nc AS n_censored, cif1 AS cif_purchase_28_e6,
      |  cif2 AS cif_error_28_e6, s_e6 AS surv_28_e6,
      |  1000000 - cif1 - cif2 - s_e6 AS closure_gap_e6
      |FROM cnt CROSS JOIN last""".stripMargin

  // -------- q416: Kalman local-level filter over daily revenue

  /** Local-level Kalman noise ratio Q/R = 1/10 (only the ratio enters
    * the gain sequence) and the maximum unrolled horizon.
    */
  val KalmanMaxT = 120
  /** Plan-time Kalman gain table K_t·10⁶ for t = 2..[[KalmanMaxT]]:
    * with plan-time Q/R the variance recursion P' = P+Q,
    * K = P'/(P'+R), P = (1−K)P' is DATA-INDEPENDENT, so the whole
    * gain sequence folds at plan build (the q384 weight-table device)
    * and the run-time recursion touches only the level. P₁ = R after
    * the diffuse first step (K₁ = 1).
    */
  val KalmanGainsE6: IndexedSeq[Long] = {
    val q = 0.1; val r = 1.0
    var p = r
    (2 to KalmanMaxT).map { _ =>
      val pp = p + q
      val k = pp / (pp + r)
      p = (1 - k) * pp
      math.round(k * 1e6)
    }
  }

  /** q416: the Kalman filter (local-level / random-walk-plus-noise
    * model) over daily purchase revenue — OPTIMAL recursive state
    * estimation where q400's Holt is a fixed-weight heuristic: the
    * gain K_t starts at 1 (diffuse prior) and CONVERGES to the
    * steady-state discount the noise ratio implies, so early days are
    * trusted fully and later days shrink toward the filtered level.
    * Because Q/R is a plan-time constant, the entire gain sequence
    * [[KalmanGainsE6]] is inlined into BOTH engines as a literal
    * table; the level recursion m_t = m_{t−1} + K_t(x_t − m_{t−1})
    * (truncating signed e6 steps, identical both sides) rides the
    * q357 device — metadata-sized day rollup, driver fold, recursive
    * CTE replay joined to a VALUES gain table. Innovations accumulate
    * SSE in exact cents².
    *
    * Plan: one event pass → day rollup → |days|-row driver fold.
    */
  val q416Kalman: Q = (s, dir) => {
    val roll = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
      .orderBy(col("day")).collect()
    val xs = roll.map(_.getAs[Long]("x"))
    var m = xs.head
    var sse = BigInt(0)
    var lastGain = 1000000L
    xs.tail.zipWithIndex.foreach { case (x, i) =>
      val k = KalmanGainsE6(i)
      lastGain = k
      val e = x - m
      sse += BigInt(e) * BigInt(e)
      m = m + k * e / 1000000L
    }
    import s.implicits._
    Seq((xs.length.toLong, m, lastGain, sse.toLong))
      .toDF("n_days", "level_cents", "gain_final_e6", "sse_cents2")
  }

  val q416Sql: String = {
    // Inlined CASE ladder instead of a VALUES-table join inside the
    // recursive arm: joining a VALUES CTE in a recursive arm is not
    // portable across DuckDB releases (driver-gate hash mismatch in
    // round 4); a plan-time CASE expression over s.rk is.
    val kCase = "CASE s.rk " + KalmanGainsE6.zipWithIndex
      .map { case (g, i) => s"WHEN ${i + 2} THEN $g" }
      .mkString(" ") + " ELSE 0 END"
    s"""WITH RECURSIVE bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ser AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS rk, x FROM bd),
      |walk AS (
      |  SELECT rk, x AS m, CAST(1000000 AS BIGINT) AS gain,
      |    CAST(0 AS HUGEINT) AS sse
      |  FROM ser WHERE rk = 1
      |  UNION ALL
      |  SELECT s.rk,
      |    w.m + CAST(CASE WHEN ($kCase) * (s.x - w.m) >= 0
      |        THEN 1 ELSE -1 END *
      |      (ABS(($kCase) * (s.x - w.m)) // 1000000) AS BIGINT),
      |    CAST($kCase AS BIGINT),
      |    w.sse + CAST(s.x - w.m AS HUGEINT) * (s.x - w.m)
      |  FROM walk w
      |  JOIN ser s ON s.rk = w.rk + 1),
      |last AS (SELECT m, gain, sse FROM walk ORDER BY rk DESC LIMIT 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM bd)
      |SELECT n_days, CAST(m AS BIGINT) AS level_cents,
      |  CAST(gain AS BIGINT) AS gain_final_e6,
      |  CAST(sse AS BIGINT) AS sse_cents2
      |FROM n CROSS JOIN last""".stripMargin
  }

  // ------ q417: Erlang-B/C staffing ladder from measured sessions

  /** Server-count ladder for the Erlang staffing audit. */
  val ErlangMaxC = 10

  /** q417: the Erlang-B/C staffing ladder — classical queueing theory
    * on MEASURED traffic: q408's ledger observes the offered load
    * A = λ·W̄ (time-average concurrent 30-minute sessions); this asks
    * the capacity-planning question "how many parallel servers c keep
    * blocking/waiting acceptable for that load?". The Erlang-B
    * recursion B_c = A·B_{c−1}/(c + A·B_{c−1}) runs [[ErlangMaxC]]
    * plan-time steps — a LINEAR chain, unrolled symbolically in both
    * engines with one e6 floor per step — and Erlang-C converts each
    * rung: C_c = B_c/(1 − ρ(1−B_c)), ρ = A/c, with C = −1 flagged on
    * unstable rungs (ρ ≥ 1). The whole ladder is metadata after one
    * session fold.
    *
    * Plan: one event pass → per-user session islands (windows
    * partitioned by user) → 1-row load fold → 10-row plan-time spine.
    */
  val q417Erlang: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_millis(ts)").as("ms"), col("ts"))
      .withColumn("prev", lag(col("ms"), 1).over(wU))
      .withColumn("new_s",
        when(col("prev").isNull || col("ms") - col("prev") >= 1800000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("st"), max(col("ms")).as("en"))
    var load = sess.agg(count(lit(1)).as("n_sessions"),
      sum(col("en") - col("st")).as("dur_ms"),
      (max(col("en")) - min(col("st"))).as("horizon_ms"))
      .select(col("n_sessions"),
        expr(fdivBigint("dur_ms * 1000000", "horizon_ms")).as("a_e6"))
      .withColumn("b_0", lit(1000000L))
    for (c <- 1 to ErlangMaxC) {
      load = load
        .withColumn(s"ab_$c", expr(fdivBigint(s"a_e6 * b_${c - 1}", "1000000")))
        .withColumn(s"b_$c",
          expr(fdivBigint(s"ab_$c * 1000000", s"$c * 1000000 + ab_$c")))
    }
    val bArm = (1 to ErlangMaxC).foldRight(lit(-1L)) { (c, els) =>
      when(col("c") === c.toLong, col(s"b_$c")).otherwise(els)
    }
    load.crossJoin(broadcast(
      s.range(1L, ErlangMaxC + 1L).select(col("id").as("c"))))
      .withColumn("b_e6", bArm)
      .withColumn("rho_e6", expr(fdivBigint("a_e6", "c")))
      .withColumn("wait_prob_e6",
        when(col("rho_e6") >= 1000000L, lit(-1L))
          .otherwise(expr(fdivBigint("b_e6 * 1000000",
            s"GREATEST(1000000 - ${fdivBigint("rho_e6 * (1000000 - b_e6)", "1000000")}, 1)"))))
      .select(col("c"), col("n_sessions"), col("a_e6"), col("b_e6"),
        col("wait_prob_e6"))
      .orderBy(col("c"))
  }

  val q417Sql: String = {
    val chain = (1 to ErlangMaxC).map { c =>
      s"""e$c AS (SELECT *,
         |  (a_e6 * b_${c - 1}) // 1000000 AS ab_$c,
         |  (((a_e6 * b_${c - 1}) // 1000000) * 1000000)
         |    // ($c * 1000000 + (a_e6 * b_${c - 1}) // 1000000) AS b_$c
         |  FROM e${c - 1})""".stripMargin
    }.mkString(",\n")
    val bCase = (1 to ErlangMaxC).map(c => s"WHEN $c THEN b_$c")
      .mkString(" ")
    s"""WITH marked AS (
      |  SELECT user_id, ts, event_id, ms,
      |    CASE WHEN ms - LAG(ms) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000
      |      OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |        IS NULL THEN 1 ELSE 0 END AS new_s
      |  FROM (SELECT user_id, ts, event_id, CAST(epoch_ms(ts) AS BIGINT)
      |          AS ms FROM events)),
      |numbered AS (
      |  SELECT user_id, ms,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, sid, MIN(ms) AS st, MAX(ms) AS en
      |  FROM numbered GROUP BY user_id, sid),
      |e0 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |    CAST(SUM(en - st) * 1000000 // (MAX(en) - MIN(st)) AS BIGINT)
      |      AS a_e6,
      |    CAST(1000000 AS BIGINT) AS b_0
      |  FROM sess),
      |$chain,
      |spine AS (SELECT UNNEST(range(1, ${ErlangMaxC + 1})) AS c)
      |SELECT c, n_sessions, a_e6,
      |  CASE c $bCase ELSE -1 END AS b_e6,
      |  CASE WHEN a_e6 // c >= 1000000 THEN -1
      |    ELSE (CASE c $bCase ELSE -1 END) * 1000000 //
      |      GREATEST(1000000 - ((a_e6 // c)
      |        * (1000000 - (CASE c $bCase ELSE -1 END))) // 1000000, 1)
      |    END AS wait_prob_e6
      |FROM e$ErlangMaxC CROSS JOIN spine
      |ORDER BY c""".stripMargin
  }

  // ------ q419: randomization test via hash pseudo-permutations

  /** Pseudo-permutation count: p-value resolution 1/(B+1) = 1/20. */
  val PermB = 19

  /** q419: design-based randomization inference — the
    * assumption-free sibling of the parametric arm comparisons
    * (q127 z, q283 Welch, q335 d): is the observed A/B revenue gap
    * larger than gaps under RANDOM relabelings? True permutations
    * need RNG; the engine's deterministic stand-in re-labels each
    * user by the portable hash of (user, b) for b = 1..[[PermB]] —
    * each b an exchangeable-under-null relabeling both engines
    * reproduce bit-exactly. The statistic is |mean_A − mean_B| as
    * one e6 floor per relabeling; p = (1 + #{T_b ≥ T_obs})/(B+1)
    * exact. Fan-out is the bounded ×B spine on the USER rollup, not
    * the event stream.
    *
    * Plan: one event pass → user rollup (checkpointed) → ×B spine
    * rollup keyed by (b, arm) → metadata fold.
    */
  val q419PermutationTest: Q = (s, dir) => {
    val pu = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(sum(cents(col("value"))).as("y"))
      .localCheckpoint()
    val spine = s.range(0L, PermB + 1L).select(col("id").as("b"))
    val armed = pu.crossJoin(broadcast(spine))
      .withColumn("arm",
        when(col("b") === 0L,
          graft.functions.Text.portableHash(col("user_id").cast("string"))
            % 2L)
          .otherwise(graft.functions.Text.portableHash(
            concat(col("user_id").cast("string"), lit("#"),
              col("b").cast("string"))) % 2L))
    val stats = armed.groupBy(col("b"))
      .agg(sum(when(col("arm") === 0L, col("y")).otherwise(0L)).cast(dec)
        .as("sa"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).cast(dec).as("na"),
        sum(when(col("arm") === 1L, col("y")).otherwise(0L)).cast(dec)
          .as("sb"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).cast(dec).as("nb"))
      .select(col("b"),
        abs(expr(fdiv("sa * 1000000", "na")) -
          expr(fdiv("sb * 1000000", "nb"))).cast("long").as("t_e6"))
      .localCheckpoint()
    val obs = stats.filter(col("b") === 0L)
      .select(col("t_e6").as("t_obs_e6"))
    stats.filter(col("b") > 0L).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(col("t_e6") >= col("t_obs_e6"), 1L).otherwise(0L))
          .as("n_ge"),
        first(col("t_obs_e6")).as("t_obs_e6"))
      .select(col("t_obs_e6"), col("n_perm"), col("n_ge"),
        expr(s"CAST((1 + n_ge) * 1000000 div (1 + n_perm) AS BIGINT)")
          .as("p_e6"))
  }

  val q419Sql: String =
    s"""WITH pu AS (
      |  SELECT user_id, SUM(CAST(ROUND(value*100) AS BIGINT)) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |armed AS (
      |  SELECT b, y,
      |    CASE WHEN b = 0 THEN
      |      CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |        AS BIGINT) % 2
      |    ELSE
      |      CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || '#'
      |        || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) % 2
      |    END AS arm
      |  FROM pu CROSS JOIN (SELECT UNNEST(range(0, ${PermB + 1})) AS b)),
      |stats AS (
      |  SELECT b,
      |    ABS(CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS HUGEINT)
      |        * 1000000 // SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
      |      - CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS HUGEINT)
      |        * 1000000 // SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END))
      |      AS t_e6
      |  FROM armed GROUP BY b),
      |obs AS (SELECT t_e6 AS t_obs_e6 FROM stats WHERE b = 0)
      |SELECT CAST(ANY_VALUE(t_obs_e6) AS BIGINT) AS t_obs_e6,
      |  CAST(COUNT(*) AS BIGINT) AS n_perm,
      |  CAST(SUM(CASE WHEN t_e6 >= t_obs_e6 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ge,
      |  CAST((1 + SUM(CASE WHEN t_e6 >= t_obs_e6 THEN 1 ELSE 0 END))
      |    * 1000000 // (1 + COUNT(*)) AS BIGINT) AS p_e6
      |FROM stats CROSS JOIN obs WHERE b > 0""".stripMargin

  // ------- q420: fixed-frequency periodogram of daily revenue

  /** Candidate seasonal periods for the spectral probe. */
  val PgPeriods: Seq[Int] = Seq(7, 14, 28)

  /** Plan-time trig weight tables cos/sin(2πk/p)·10⁶ for each probe
    * period — libm at PLAN BUILD, identical literals in both engines
    * (the Benford/NDCG constants rule).
    */
  def pgCosE6(p: Int): IndexedSeq[Long] =
    (0 until p).map(k => math.round(math.cos(2 * math.Pi * k / p) * 1e6))
  def pgSinE6(p: Int): IndexedSeq[Long] =
    (0 until p).map(k => math.round(math.sin(2 * math.Pi * k / p) * 1e6))

  /** q420: the periodogram at the calendar periods that matter —
    * SPECTRAL seasonality measurement where q121/q306 estimate
    * day-of-week INDICES: the squared projection of the (centered)
    * daily-revenue series onto the cos/sin pair at period p,
    * I(p) = (C² + S²)/n, read as a share of total variance. Because
    * the probe periods are plan-time constants, cos/sin reduce to
    * p-entry weight TABLES on (t mod p) (the Log2Lut device) — exact
    * integer dot products, no runtime trig, both engines identical.
    * n-cleared centering (n·x_t − Σx) avoids the mean division.
    *
    * Plan: one event pass → day rollup (checkpointed) → ×3 period
    * spine with table lookups → 3-row fold.
    */
  val q420Periodogram: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(expr("SUM(v) div 100").as("x"))
      .withColumn("t",
        (row_number().over(Window.orderBy(col("day"))) - 1L).cast("long"))
      .localCheckpoint()
    val tot = byDay.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"),
      sum(col("x").cast(dec) * col("x")).as("sxx"))
    val perPeriod = PgPeriods.map { p =>
      val cosArr = pgCosE6(p).mkString(", ")
      val sinArr = pgSinE6(p).mkString(", ")
      byDay
        .withColumn("c6", expr(
          s"element_at(array($cosArr), CAST(t % $p AS INT) + 1)"))
        .withColumn("s6", expr(
          s"element_at(array($sinArr), CAST(t % $p AS INT) + 1)"))
        .crossJoin(broadcast(tot))
        .agg(first(col("n")).as("n"), first(col("sx")).as("sx"),
          first(col("sxx")).as("sxx"),
          sum((col("n") * col("x") - col("sx")) * col("c6")).as("cproj"),
          sum((col("n") * col("x") - col("sx")) * col("s6")).as("sproj"))
        .select(lit(p.toLong).as("period"),
          col("n").cast("long").as("n_days"),
          expr(sdivBigint("cproj", "n * 1000000")).as("c_units"),
          expr(sdivBigint("sproj", "n * 1000000")).as("s_units"),
          // R² share of SS at this harmonic: 2(C²+S²)/(n·SS), with
          // cproj = n·10⁶·C and n·SS = n·Σx²−(Σx)²
          expr(fdiv(
            "2 * (cproj * cproj + sproj * sproj)",
            "n * n * (n * sxx - sx * sx) * CAST(1000000 AS DECIMAL(38,0))"))
            .cast("long").as("var_share_e6"))
    }
    perPeriod.reduce(_.unionByName(_)).orderBy(col("period"))
  }

  val q420Sql: String = {
    val arms = PgPeriods.map { p =>
      val cosArr = pgCosE6(p).mkString(", ")
      val sinArr = pgSinE6(p).mkString(", ")
      s"""SELECT $p AS period, CAST(n AS BIGINT) AS n_days,
         |  CAST(CASE WHEN cproj >= 0 THEN 1 ELSE -1 END *
         |    (ABS(cproj) // (n * 1000000)) AS BIGINT) AS c_units,
         |  CAST(CASE WHEN sproj >= 0 THEN 1 ELSE -1 END *
         |    (ABS(sproj) // (n * 1000000)) AS BIGINT) AS s_units,
         |  CAST(2 * (cproj * cproj + sproj * sproj)
         |    // (n * n * (n * sxx - sx * sx) * CAST(1000000 AS HUGEINT))
         |    AS BIGINT) AS var_share_e6
         |FROM (
         |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(sx) AS sx,
         |    ANY_VALUE(sxx) AS sxx,
         |    SUM((n * x - sx) * ([$cosArr])[CAST(t % $p AS INT) + 1])
         |      AS cproj,
         |    SUM((n * x - sx) * ([$sinArr])[CAST(t % $p AS INT) + 1])
         |      AS sproj
         |  FROM ser CROSS JOIN tot)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) // 100 AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ser AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM bd),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM bd)
      |$arms
      |ORDER BY period""".stripMargin
  }

  // ------ q421: banded dynamic time warping clicks ↔ revenue

  /** Sakoe–Chiba band half-width for the DTW grid. */
  val DtwBand = 5L

  /** q421: dynamic time warping between the daily click-share and
    * revenue-share curves — ELASTIC alignment where q410's CCF can
    * only shift rigidly: if the click→revenue lag varies over the
    * month (payday bursts convert same-day, weekend browsing
    * converts Monday), a single best lag under-reads the coupling;
    * DTW warps the time axis within a Sakoe–Chiba band of
    * [[DtwBand]] days and reports the residual distance. Both series
    * are normalized to exact e6 shares of their totals (scale-free,
    * no z-score floors), costs are integer |Δshare|, and the DP runs
    * anti-diagonal by anti-diagonal — on the driver over the
    * metadata-sized day grid, and in the oracle as a recursive CTE
    * whose working set carries exactly the last TWO diagonals (fresh
    * + re-emitted rows), so each generation completes the next
    * diagonal with full predecessors. The straight-diagonal L1 cost
    * lands in-output with gain = L1 − DTW ≥ 0 as the certificate.
    *
    * Plan: one event pass → two day rollups joined (metadata) →
    * |days|²-band driver fold.
    */
  val q421Dtw: Q = (s, dir) => {
    val byDay = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("day"))
      .agg(expr("SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)")
        .as("rev"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clk"))
      .orderBy(col("day")).collect()
    val rev = byDay.map(_.getAs[Long]("rev"))
    val clk = byDay.map(_.getAs[Long]("clk"))
    val n = rev.length
    val sr = rev.sum
    val sc = clk.sum
    val xs = rev.map(r => r * 1000000L / sr)
    val ys = clk.map(c => c * 1000000L / sc)
    val big = Long.MaxValue / 4
    val d = Array.fill(n + 1, n + 1)(big)
    for (i <- 1 to n; j <- 1 to n if math.abs(i - j) <= DtwBand) {
      val cost = math.abs(xs(i - 1) - ys(j - 1))
      val prev =
        if (i == 1 && j == 1) 0L
        else math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
      d(i)(j) = cost + prev
    }
    val dtw = d(n)(n)
    val diag = (0 until n).map(i => math.abs(xs(i) - ys(i))).sum
    import s.implicits._
    Seq((n.toLong, dtw, diag, diag - dtw))
      .toDF("n_days", "dtw_e6", "diag_l1_e6", "alignment_gain_e6")
  }

  val q421Sql: String =
    s"""WITH RECURSIVE bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS rev,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clk
      |  FROM events GROUP BY 1),
      |ser AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, rev, clk FROM bd),
      |tot AS (SELECT SUM(rev) AS sr, SUM(clk) AS sc,
      |  CAST(COUNT(*) AS BIGINT) AS n FROM bd),
      |shares AS (
      |  SELECT i, CAST(rev AS HUGEINT) * 1000000 // sr AS xs,
      |    CAST(clk AS HUGEINT) * 1000000 // sc AS ys
      |  FROM ser CROSS JOIN tot),
      |cost AS (
      |  SELECT a.i, b.i AS j, CAST(ABS(a.xs - b.ys) AS BIGINT) AS cost
      |  FROM shares a JOIN shares b ON ABS(a.i - b.i) <= $DtwBand),
      |walk AS (
      |  SELECT CAST(1 AS BIGINT) AS i, CAST(1 AS BIGINT) AS j,
      |    CAST(cost AS BIGINT) AS v, 1 AS fresh
      |  FROM cost WHERE i = 1 AND j = 1
      |  UNION ALL
      |  SELECT u.i, u.j, u.v, u.fresh FROM (
      |    SELECT nc.i, nc.j, nc.mn + c.cost AS v, 1 AS fresh
      |    FROM (SELECT i, j, MIN(v) AS mn FROM (
      |        SELECT i + 1 AS i, j, v FROM walk WHERE fresh = 1
      |        UNION ALL
      |        SELECT i, j + 1 AS j, v FROM walk WHERE fresh = 1
      |        UNION ALL
      |        SELECT i + 1 AS i, j + 1 AS j, v FROM walk WHERE fresh = 0)
      |      GROUP BY i, j) nc
      |    JOIN cost c ON c.i = nc.i AND c.j = nc.j
      |    UNION ALL
      |    SELECT i, j, v, 0 AS fresh FROM walk WHERE fresh = 1) u),
      |fin AS (
      |  SELECT MIN(v) AS dtw_e6
      |  FROM walk CROSS JOIN tot WHERE walk.i = tot.n AND walk.j = tot.n),
      |diag AS (
      |  SELECT CAST(SUM(ABS(xs - ys)) AS BIGINT) AS diag_l1_e6
      |  FROM shares),
      |nn AS (SELECT n AS n_days FROM tot)
      |SELECT n_days, dtw_e6, diag_l1_e6,
      |  diag_l1_e6 - dtw_e6 AS alignment_gain_e6
      |FROM nn CROSS JOIN fin CROSS JOIN diag""".stripMargin

  // ------ q426: Lindley waiting-time walk over sharded job queues

  /** Queue shard count and the cents→milliseconds service mapping. */
  val LindleyShards = 8L
  val LindleyMsPerCent = 1000L

  /** q426: the Lindley recursion W_{n+1} = max(0, W_n + S_n − A_{n+1})
    * — the exact FIFO waiting-time replay that complements q417's
    * steady-state Erlang formulas with a trajectory: purchases are
    * jobs, service time is value-proportional ([[LindleyMsPerCent]] ms
    * per cent, a documented synthetic mapping), and each of the
    * [[LindleyShards]] hash shards is its own single-server queue —
    * the per-queue decomposition real systems use, which is ALSO what
    * makes the replay distributed. The recursion never runs
    * sequentially: by the Lindley–Loynes identity W_n = P_n − min_{k≤n}
    * P_k over the walk P_n = Σ(S_{i−1} − A_i), so one cumulative sum
    * and one running min per shard (the q355 walk device, windows
    * PARTITIONED by shard) replace the fold.
    *
    * Plan: one event pass → per-shard ordered walk windows → shard
    * rollup. One shuffle.
    */
  val q426Lindley: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("shard"))
      .orderBy(col("ms"), col("event_id"))
    val jobs = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), expr("unix_millis(ts)").as("ms"),
        (graft.functions.Text.portableHash(col("user_id").cast("string"))
          % LindleyShards).as("shard"),
        (cents(col("value")) * LindleyMsPerCent).as("svc"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(wS))
      .withColumn("prev_svc", lag(col("svc"), 1).over(wS))
      .withColumn("u",
        when(col("prev_ms").isNull, 0L)
          .otherwise(col("prev_svc") - (col("ms") - col("prev_ms"))))
      .withColumn("p", sum(col("u")).over(
        wS.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pmin", min(col("p")).over(
        wS.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("w", col("p") - col("pmin"))
    jobs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_jobs"), sum(col("svc")).as("ssvc"),
        (max(col("ms")) - min(col("ms"))).as("horizon_ms"),
        sum(col("w")).as("sw"), max(col("w")).as("max_wait_ms"),
        sum(when(col("w") > 0L, 1L).otherwise(0L)).as("n_delayed"))
      .select(col("shard"), col("n_jobs"),
        expr(fdivBigint("ssvc * 1000000", "GREATEST(horizon_ms, 1)"))
          .as("util_e6"),
        expr(fdivBigint("sw", "n_jobs")).as("mean_wait_ms"),
        col("max_wait_ms"), col("n_delayed"))
      .orderBy(col("shard"))
  }

  val q426Sql: String =
    s"""WITH jobs AS (
      |  SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms,
      |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) % $LindleyShards AS shard,
      |    CAST(ROUND(value*100) AS BIGINT) * $LindleyMsPerCent AS svc
      |  FROM events WHERE event_type = 'purchase'),
      |walk AS (
      |  SELECT shard, ms, event_id, svc,
      |    CASE WHEN LAG(ms) OVER ws IS NULL THEN 0
      |      ELSE LAG(svc) OVER ws - (ms - LAG(ms) OVER ws) END AS u
      |  FROM jobs
      |  WINDOW ws AS (PARTITION BY shard ORDER BY ms, event_id)),
      |cum0 AS (
      |  SELECT shard, ms, event_id, svc,
      |    SUM(u) OVER (PARTITION BY shard ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM walk),
      |cum AS (
      |  SELECT shard, ms, svc, p,
      |    MIN(p) OVER (PARTITION BY shard ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmin
      |  FROM cum0)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_jobs,
      |  CAST(CAST(SUM(svc) AS HUGEINT) * 1000000
      |    // GREATEST(MAX(ms) - MIN(ms), 1) AS BIGINT) AS util_e6,
      |  CAST(SUM(p - pmin) // COUNT(*) AS BIGINT) AS mean_wait_ms,
      |  CAST(MAX(p - pmin) AS BIGINT) AS max_wait_ms,
      |  CAST(SUM(CASE WHEN p - pmin > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_delayed
      |FROM cum GROUP BY shard ORDER BY shard""".stripMargin

  // ------ q428: mediation analysis signups → clicks → revenue

  /** q428: Baron–Kenny / Sobel mediation — the causal-chain question
    * q405's Granger cannot decompose: how much of the daily
    * signup→revenue association flows THROUGH click activity
    * (indirect a·b) versus directly (c′)? Three closed-form OLS fits
    * share ONE n-cleared co-moment fold (X = signups, M = clicks,
    * Y = revenue in $10 units): a from M~X, (c′, b) from Y~X+M by the q405
    * determinant algebra, c from Y~X — and the exact OLS identity
    * c = c′ + a·b lands in-output as decomposition_gap_e6 (floor
    * drift only). The Sobel statistic z = a·b/√(b²·V_a + a²·V_b)
    * composes a fixed IEEE tree over the exact integers (VARCHAR-
    * exact casts on the oracle side).
    *
    * Plan: one event pass → day rollup → 1-row co-moment fold.
    */
  val q428Mediation: Q = (s, dir) => {
    val byDay = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("day"))
      .agg(sum(when(col("event_type") === "signup", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("m"),
        expr("SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)" +
          " div 1000").as("y"))
      .localCheckpoint()
    val mo = byDay.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"), sum(col("m")).cast(dec).as("sm"),
      sum(col("y")).cast(dec).as("sy"),
      sum(col("x").cast(dec) * col("x")).as("qxx"),
      sum(col("m").cast(dec) * col("m")).as("qmm"),
      sum(col("y").cast(dec) * col("y")).as("qyy"),
      sum(col("x").cast(dec) * col("m")).as("qxm"),
      sum(col("x").cast(dec) * col("y")).as("qxy"),
      sum(col("m").cast(dec) * col("y")).as("qmy"))
    val cm = mo.select(col("n"),
      (col("n") * col("qxx") - col("sx") * col("sx")).as("dx"),
      (col("n") * col("qmm") - col("sm") * col("sm")).as("dm"),
      (col("n") * col("qyy") - col("sy") * col("sy")).as("dy"),
      (col("n") * col("qxm") - col("sx") * col("sm")).as("cxm"),
      (col("n") * col("qxy") - col("sx") * col("sy")).as("cxy"),
      (col("n") * col("qmy") - col("sm") * col("sy")).as("cmy"))
      .withColumn("d2", col("dx") * col("dm") - col("cxm") * col("cxm"))
    def dd(c: String) = col(c).cast("double")
    val aD = dd("cxm") / dd("dx")
    val bD = (dd("cmy") * dd("dx") - dd("cxy") * dd("cxm")) / dd("d2")
    val rssA = (dd("dm") * dd("dx") - dd("cxm") * dd("cxm")) /
      (dd("n") * dd("dx"))
    val rssY = (dd("dy") * dd("d2") - dd("cxy") *
      (dd("cxy") * dd("dm") - dd("cmy") * dd("cxm")) - dd("cmy") *
      (dd("cmy") * dd("dx") - dd("cxy") * dd("cxm"))) / (dd("n") * dd("d2"))
    val vA = dd("n") * rssA / ((dd("n") - 2) * dd("dx"))
    val vB = dd("n") * rssY / (dd("n") - 3) * dd("dx") / dd("d2")
    val sobel = aD * bD / sqrt(bD * bD * vA + aD * aD * vB)
    cm.select(col("n").cast("long").as("n_days"),
      expr(sdivBigint("cxm * 1000000", "dx")).as("a_e6"),
      expr(sdivBigint("(cmy * dx - cxy * cxm) * 1000000", "d2")).as("b_e6"),
      expr(sdivBigint("(cxy * dm - cmy * cxm) * 1000000", "d2")).as("cprime_e6"),
      expr(sdivBigint("cxy * 1000000", "dx")).as("c_total_e6"),
      (expr(sdivBigint("cxy * 1000000", "dx")) -
        expr(sdivBigint("(cxy * dm - cmy * cxm) * 1000000", "d2")) -
        expr(sdivBigint("cxm * (cmy * dx - cxy * cxm) * 1000000", "dx * d2")))
        .as("decomposition_gap_e6"),
      sobel.as("sobel_z_d"))
  }

  val q428Sql: String = {
    val aD = s"(${dbl("cxm")} / ${dbl("dx")})"
    val bD = s"((${dbl("cmy")} * ${dbl("dx")} - ${dbl("cxy")} * ${dbl("cxm")}) / ${dbl("d2")})"
    val rssA = s"((${dbl("dm")} * ${dbl("dx")} - ${dbl("cxm")} * ${dbl("cxm")}) / (${dbl("n")} * ${dbl("dx")}))"
    val rssY = s"((${dbl("dy")} * ${dbl("d2")} - ${dbl("cxy")} * (${dbl("cxy")} * ${dbl("dm")} - ${dbl("cmy")} * ${dbl("cxm")}) - ${dbl("cmy")} * (${dbl("cmy")} * ${dbl("dx")} - ${dbl("cxy")} * ${dbl("cxm")})) / (${dbl("n")} * ${dbl("d2")}))"
    val vA = s"(${dbl("n")} * $rssA / ((${dbl("n")} - 2) * ${dbl("dx")}))"
    val vB = s"(${dbl("n")} * $rssY / (${dbl("n")} - 3) * ${dbl("dx")} / ${dbl("d2")})"
    val sobel = s"($aD * $bD / sqrt($bD * $bD * $vA + $aD * $aD * $vB))"
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS x,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS m,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) // 1000
      |      AS y
      |  FROM events GROUP BY 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(m) AS HUGEINT) AS sm,
      |    CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * x) AS qxx,
      |    SUM(CAST(m AS HUGEINT) * m) AS qmm,
      |    SUM(CAST(y AS HUGEINT) * y) AS qyy,
      |    SUM(CAST(x AS HUGEINT) * m) AS qxm,
      |    SUM(CAST(x AS HUGEINT) * y) AS qxy,
      |    SUM(CAST(m AS HUGEINT) * y) AS qmy
      |  FROM bd),
      |cm AS (
      |  SELECT n, n * qxx - sx * sx AS dx, n * qmm - sm * sm AS dm,
      |    n * qyy - sy * sy AS dy, n * qxm - sx * sm AS cxm,
      |    n * qxy - sx * sy AS cxy, n * qmy - sm * sy AS cmy
      |  FROM mo),
      |cm2 AS (SELECT *, dx * dm - cxm * cxm AS d2 FROM cm)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(CASE WHEN cxm >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxm * 1000000) // dx) AS BIGINT) AS a_e6,
      |  CAST(CASE WHEN cmy * dx - cxy * cxm >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cmy * dx - cxy * cxm) * 1000000) // d2) AS BIGINT) AS b_e6,
      |  CAST(CASE WHEN cxy * dm - cmy * cxm >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cxy * dm - cmy * cxm) * 1000000) // d2) AS BIGINT)
      |    AS cprime_e6,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx) AS BIGINT) AS c_total_e6,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx)
      |   - CASE WHEN cxy * dm - cmy * cxm >= 0 THEN 1 ELSE -1 END *
      |    (ABS((cxy * dm - cmy * cxm) * 1000000) // d2)
      |   - CASE WHEN cxm * (cmy * dx - cxy * cxm) >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxm * (cmy * dx - cxy * cxm) * 1000000) // (dx * d2))
      |    AS BIGINT) AS decomposition_gap_e6,
      |  $sobel AS sobel_z_d
      |FROM cm2""".stripMargin
  }

  // -------- q431: KPSS level-stationarity statistic over daily revenue

  /** Bartlett kernel truncation lag for the KPSS long-run variance. */
  val KpssLag = 3

  /** q431: the KPSS statistic (Kwiatkowski–Phillips–Schmidt–Shin 1992)
    * over daily purchase revenue — the stationarity test with the
    * REVERSED null: ADF-style tests (q432's residual regression) take
    * "unit root" as the null, KPSS takes "level-stationary", so the two
    * bracket the series from opposite sides. η = Σ_t S_t² / (n²·s̄²)
    * with S_t the partial sums of mean residuals and s̄² the Bartlett
    * long-run variance at lag [[KpssLag]]. Everything is EXACT
    * integers: residuals are n-cleared (E_t = n·x_t − Σx), partial
    * sums fold to P_t = n·C_t − t·Σx, and with Bartlett weights
    * w_l = (L+1−l)/(L+1) the whole statistic collapses to ONE floor:
    * η·10⁶ = ⌊ΣP²·(L+1)·10⁶ / (n·[(L+1)A + 2Σ(L+1−l)G_l])⌋ where
    * A = ΣE², G_l = Σ E_t·E_{t−l}. The 5% critical value 0.463 is a
    * published constant, so the verdict lands in-output.
    *
    * Plan: one event pass → day rollup (metadata) → lag windows over
    * ≤ |days| rows → 1-row fold. One shuffle.
    */
  val q431Kpss: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = purchaseCentsByDay(s, dir).agg(sum(col("v")).cast(dec).as("x"))
      .localCheckpoint()
    val sc = byDay.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"))
    val w = Window.orderBy(col("day"))
    val ser = byDay.crossJoin(broadcast(sc))
      .withColumn("rk", row_number().over(w).cast(dec))
      .withColumn("cum", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("n"), col("day"),
        (col("n") * col("x") - col("sx")).as("e"),
        (col("n") * col("cum") - col("rk") * col("sx")).as("p"))
    val lagged = (1 to KpssLag).foldLeft(ser) { (df, l) =>
      df.withColumn(s"e_$l", lag(col("e"), l).over(w))
    }
    val gTerms = (1 to KpssLag).map(l =>
      sum(when(col(s"e_$l").isNotNull, col("e") * col(s"e_$l"))
        .otherwise(lit(0).cast(dec))).as(s"g_$l"))
    val aggExprs = Seq(sum(col("p") * col("p")).as("sp2"),
      sum(col("e") * col("e")).as("a")) ++ gTerms
    val folded = lagged.groupBy(col("n"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    val lp1 = KpssLag + 1
    val dSum = (1 to KpssLag)
      .map(l => s"2 * ${lp1 - l} * g_$l").mkString(" + ")
    folded
      .withColumn("d", expr(s"$lp1 * a + $dSum"))
      .select(col("n").cast("long").as("n_days"),
        expr(fdiv(s"sp2 * $lp1 * 1000000", "n * d")).cast("long")
          .as("kpss_eta_e6"),
        expr(fdiv("a", "n * n * n")).cast("long").as("gamma0_cents2"),
        when(expr(fdiv(s"sp2 * $lp1 * 1000000", "n * d")) > 463000L,
          lit("reject_level_stationarity")).otherwise(lit("consistent"))
          .as("verdict_5pct"))
  }

  val q431Sql: String = {
    val lp1 = KpssLag + 1
    val lagCols = (1 to KpssLag).map(l =>
      s"LAG(e, $l) OVER (ORDER BY day) AS e_$l").mkString(", ")
    val gCols = (1 to KpssLag).map(l =>
      s"SUM(CASE WHEN e_$l IS NOT NULL THEN e * e_$l ELSE 0 END) AS g_$l")
      .mkString(", ")
    val dSum = (1 to KpssLag)
      .map(l => s"2 * ${lp1 - l} * g_$l").mkString(" + ")
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS HUGEINT) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |sc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |         CAST(SUM(x) AS HUGEINT) AS sx FROM bd),
      |ser AS (
      |  SELECT n, day, n * x - sx AS e,
      |    n * SUM(x) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - ROW_NUMBER() OVER (ORDER BY day) * sx AS p
      |  FROM bd CROSS JOIN sc),
      |lagged AS (SELECT n, e, p, $lagCols FROM ser),
      |folded AS (
      |  SELECT n, SUM(p * p) AS sp2, SUM(e * e) AS a, $gCols
      |  FROM lagged GROUP BY n),
      |fin AS (SELECT *, $lp1 * a + $dSum AS d FROM folded)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(sp2 * $lp1 * 1000000 // (n * d) AS BIGINT) AS kpss_eta_e6,
      |  CAST(a // (n * n * n) AS BIGINT) AS gamma0_cents2,
      |  CASE WHEN sp2 * $lp1 * 1000000 // (n * d) > 463000
      |    THEN 'reject_level_stationarity' ELSE 'consistent' END
      |    AS verdict_5pct
      |FROM fin""".stripMargin
  }

  // ------ q432: Engle–Granger cointegration of clicks and revenue

  /** q432: the Engle–Granger two-step cointegration probe — the
    * LEVELS counterpart of q405's differenced Granger regression: two
    * trending series can each be non-stationary yet share one
    * stochastic trend, and the test is whether the OLS residual of
    * daily purchase revenue on daily click volume mean-reverts. Step 1
    * is the exact co-moment OLS (α, β as single floors of integer
    * determinants); step 2 regresses Δu_t on u_{t−1} with no constant
    * — the Dickey–Fuller shape — where residuals u are exact e6
    * integers (one floor per row), so ρ̂ and its t-statistic are a
    * fixed IEEE tree over exact sums. The t-stat is reported against
    * the Engle–Granger 5% critical value −3.37 (2 variables, n→40
    * regime, published constant).
    *
    * Plan: one event pass → day rollup → 1-row co-moment fold →
    * residual lag window over ≤ |days| rows → 1-row fold.
    */
  val q432EngleGranger: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byDay = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        col("event_type"), cents(col("value")).as("v"))
      .groupBy(col("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .cast(dec).as("x"),
        expr("CAST(SUM(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)" +
          " div 1000 AS DECIMAL(38,0))").as("y"))
      .localCheckpoint()
    val mo = byDay.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("qxx"), sum(col("x") * col("y")).as("qxy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("qxx") - col("sx") * col("sx")).as("dx"),
        (col("n") * col("qxy") - col("sx") * col("sy")).as("cxy"))
    val w = Window.orderBy(col("day"))
    val resid = byDay.crossJoin(broadcast(mo))
      .select(col("day"), col("n"), col("dx"), col("cxy"), col("sx"),
        col("sy"),
        (col("y") * 1000000L -
          expr(sdiv("(sy * dx - cxy * sx) * 1000000", "n * dx")) -
          expr(sdiv("cxy * x * 1000000", "dx"))).as("u"))
      .withColumn("up", lag(col("u"), 1).over(w))
    val fold = resid.groupBy(col("n"), col("dx"), col("cxy"), col("sx"),
      col("sy"))
      .agg(sum(when(col("up").isNotNull, col("up") * col("up"))
        .otherwise(lit(0).cast(dec))).as("den"),
        sum(when(col("up").isNotNull, col("up") * (col("u") - col("up")))
          .otherwise(lit(0).cast(dec))).as("num"),
        sum(when(col("up").isNotNull,
          (col("u") - col("up")) * (col("u") - col("up")))
          .otherwise(lit(0).cast(dec))).as("sdd"))
    def dd(c: String) = col(c).cast("double")
    val m = col("n").cast("double") - 1.0
    val tStat = (dd("num") / dd("den")) /
      sqrt((dd("sdd") - dd("num") * dd("num") / dd("den")) /
        ((m - 1.0) * dd("den")))
    fold.select(col("n").cast("long").as("n_days"),
      expr(sdiv("cxy * 1000000", "dx")).cast("long").as("beta_e6"),
      expr(sdiv("(sy * dx - cxy * sx) * 1000000", "n * dx")).cast("long")
        .as("alpha_e6"),
      expr(sdiv("num * 1000000", "den")).cast("long").as("rho_e6"),
      tStat.as("adf_t_d"),
      when(tStat < -3.37, lit("cointegrated_5pct"))
        .otherwise(lit("no_cointegration")).as("verdict"))
  }

  val q432Sql: String = {
    val tStat = s"((${dbl("num")} / ${dbl("den")}) / " +
      s"sqrt((${dbl("sdd")} - ${dbl("num")} * ${dbl("num")} / ${dbl("den")}) / " +
      s"((${dbl("n")} - 1.0 - 1.0) * ${dbl("den")})))"
    s"""WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS HUGEINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) // 1000
      |      AS HUGEINT) AS y
      |  FROM events GROUP BY 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(x * x) - SUM(x) * SUM(x) AS dx,
      |    CAST(COUNT(*) AS HUGEINT) * SUM(x * y) - SUM(x) * SUM(y) AS cxy
      |  FROM bd),
      |resid AS (
      |  SELECT day, n, dx, cxy, sx, sy,
      |    y * 1000000
      |      - CASE WHEN sy * dx - cxy * sx >= 0 THEN 1 ELSE -1 END *
      |        (ABS((sy * dx - cxy * sx) * 1000000) // (n * dx))
      |      - CASE WHEN cxy * x >= 0 THEN 1 ELSE -1 END *
      |        (ABS(cxy * x * 1000000) // dx) AS u
      |  FROM bd CROSS JOIN mo),
      |lagged AS (
      |  SELECT n, dx, cxy, sx, sy, u, LAG(u, 1) OVER (ORDER BY day) AS up
      |  FROM resid),
      |fold AS (
      |  SELECT n, dx, cxy, sx, sy,
      |    SUM(CASE WHEN up IS NOT NULL THEN up * up ELSE 0 END) AS den,
      |    SUM(CASE WHEN up IS NOT NULL THEN up * (u - up) ELSE 0 END)
      |      AS num,
      |    SUM(CASE WHEN up IS NOT NULL THEN (u - up) * (u - up) ELSE 0 END)
      |      AS sdd
      |  FROM lagged GROUP BY 1, 2, 3, 4, 5)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  CAST(CASE WHEN cxy >= 0 THEN 1 ELSE -1 END *
      |    (ABS(cxy * 1000000) // dx) AS BIGINT) AS beta_e6,
      |  CAST(CASE WHEN sy * dx - cxy * sx >= 0 THEN 1 ELSE -1 END *
      |    (ABS((sy * dx - cxy * sx) * 1000000) // (n * dx)) AS BIGINT)
      |    AS alpha_e6,
      |  CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END *
      |    (ABS(num * 1000000) // den) AS BIGINT) AS rho_e6,
      |  $tStat AS adf_t_d,
      |  CASE WHEN $tStat < -3.37 THEN 'cointegrated_5pct'
      |    ELSE 'no_cointegration' END AS verdict
      |FROM fold""".stripMargin
  }

  // -------- q439: GARCH(1,1) volatility filter replay

  /** Plan-time GARCH(1,1) coefficients at e6: α (news) and β
    * (persistence); ω is tied to the sample unconditional variance so
    * the filter is variance-targeted.
    */
  val GarchAlphaE6 = 100000L
  val GarchBetaE6 = 850000L

  /** q439: the GARCH(1,1) conditional-variance replay — the FILTER
    * counterpart of q363's ARCH-LM test: where q363 only asks "is
    * there volatility clustering", this runs Bollerslev's recursion
    * σ²_t = ω + α·e²_{t−1} + β·σ²_{t−1} over daily revenue first
    * differences (dollars) and reports the terminal and peak
    * conditional variance plus the 2σ breach count — the day-level
    * volatility audit. ω is variance-targeted at plan shape
    * (ω = (1−α−β)·σ̄², σ̄² the sample mean of e² — computed once,
    * identically in both engines), and the whole walk is nonnegative
    * integer arithmetic with one floor per term, so it rides the q416
    * device exactly: metadata-sized day rollup, driver fold, recursive
    * CTE replay carrying (σ², prev e², breaches, max).
    *
    * Plan: one event pass → day rollup → |days|-row driver fold.
    */
  val q439Garch: Q = (s, dir) => {
    val roll = purchaseCentsByDay(s, dir).agg(expr("SUM(v) div 100").as("x"))
      .orderBy(col("day")).collect()
    val xs = roll.map(_.getAs[Long]("x"))
    val es = xs.sliding(2).map(p => p(1) - p(0)).toArray
    val m0 = es.map(e => BigInt(e) * BigInt(e)).sum / es.length
    val omega = (BigInt(1000000L) - GarchAlphaE6 - GarchBetaE6) * m0 /
      1000000L
    var s2 = m0
    var nb = if (BigInt(es.head) * es.head > 4 * m0) 1L else 0L
    var mx = m0
    es.zip(es.tail).foreach { case (ePrev, e) =>
      s2 = omega + GarchAlphaE6 * (BigInt(ePrev) * ePrev) / 1000000L +
        GarchBetaE6 * s2 / 1000000L
      if (s2 > mx) mx = s2
      if (BigInt(e) * e > 4 * s2) nb += 1L
    }
    import s.implicits._
    Seq((xs.length.toLong, omega.toLong, s2.toLong, mx.toLong, nb))
      .toDF("n_days", "omega_d2", "sigma2_final_d2", "sigma2_max_d2",
        "n_2sigma_breaches")
  }

  val q439Sql: String =
    s"""WITH RECURSIVE bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) // 100 AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |ser AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS rk, x FROM bd),
      |es AS (
      |  SELECT rk - 1 AS ek, CAST(x - LAG(x, 1) OVER (ORDER BY rk)
      |    AS HUGEINT) AS e
      |  FROM ser QUALIFY LAG(x, 1) OVER (ORDER BY rk) IS NOT NULL),
      |m0 AS (SELECT SUM(e * e) // COUNT(*) AS m0 FROM es),
      |om AS (SELECT m0,
      |    (1000000 - $GarchAlphaE6 - $GarchBetaE6) * m0 // 1000000
      |      AS omega FROM m0),
      |walk AS (
      |  SELECT CAST(1 AS BIGINT) AS ek, m0 AS s2, e * e AS pe2,
      |    CASE WHEN e * e > 4 * m0 THEN CAST(1 AS BIGINT)
      |      ELSE CAST(0 AS BIGINT) END AS nb,
      |    m0 AS mx
      |  FROM es CROSS JOIN om WHERE ek = 1
      |  UNION ALL
      |  SELECT s.ek,
      |    o.omega + $GarchAlphaE6 * w.pe2 // 1000000
      |      + $GarchBetaE6 * w.s2 // 1000000,
      |    s.e * s.e,
      |    w.nb + CASE WHEN s.e * s.e >
      |      4 * (o.omega + $GarchAlphaE6 * w.pe2 // 1000000
      |           + $GarchBetaE6 * w.s2 // 1000000) THEN 1 ELSE 0 END,
      |    GREATEST(w.mx, o.omega + $GarchAlphaE6 * w.pe2 // 1000000
      |      + $GarchBetaE6 * w.s2 // 1000000)
      |  FROM walk w
      |  JOIN es s ON s.ek = w.ek + 1
      |  CROSS JOIN om o),
      |last AS (SELECT s2, nb, mx FROM walk ORDER BY ek DESC LIMIT 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM bd)
      |SELECT n_days, CAST(omega AS BIGINT) AS omega_d2,
      |  CAST(s2 AS BIGINT) AS sigma2_final_d2,
      |  CAST(mx AS BIGINT) AS sigma2_max_d2,
      |  CAST(nb AS BIGINT) AS n_2sigma_breaches
      |FROM n CROSS JOIN om CROSS JOIN last""".stripMargin

  // -------- q455: Viterbi HMM decode of the daily revenue regime

  /** Plan-time 2-state HMM log-scores at e6 (libm at plan build,
    * inlined as identical integer literals — the q416 constants
    * rule): symmetric emissions P(match) = 0.7, transitions
    * P(stay) = 0.8, uniform prior.
    */
  val HmmLnStayE6: Long = math.round(math.log(0.8) * 1e6)
  val HmmLnSwitchE6: Long = math.round(math.log(0.2) * 1e6)
  val HmmLnMatchE6: Long = math.round(math.log(0.7) * 1e6)
  val HmmLnMissE6: Long = math.round(math.log(0.3) * 1e6)
  val HmmLnInitE6: Long = math.round(math.log(0.5) * 1e6)

  /** q455: Viterbi decoding of a 2-state HMM — the MODEL-BASED regime
    * segmentation next to the changepoint family (q124 CUSUM, q307
    * Pettitt, q355 Page–Hinkley): days are binarized against the
    * median daily revenue, a HIGH/LOW regime chain with plan-time
    * transition/emission probabilities is assumed, and the maximum-
    * a-posteriori state PATH is decoded. Because all probabilities
    * are plan-time constants, every Viterbi score is a SUM OF INTEGER
    * LITERALS — max-product in the log domain is exact integer
    * arithmetic, no floats anywhere. The walk carries both
    * running best paths as LISTs (ties break toward staying), so
    * driver fold and recursive-CTE oracle replay identically; the
    * decoded path's regime census and switch count land in-output.
    *
    * Plan: one event pass → day rollup → |days|-row driver fold.
    */
  val q455ViterbiHmm: Q = (s, dir) => {
    val roll = purchaseCentsByDay(s, dir).agg(sum(col("v")).as("x"))
      .orderBy(col("day")).collect()
    val xs = roll.map(_.getAs[Long]("x"))
    val n = xs.length
    val med = xs.sorted.apply((n + 1) / 2 - 1)
    val obs = xs.map(x => if (x > med) 1 else 0)
    // state 1 = HIGH (emits above-median w.p. 0.7), state 0 = LOW
    def emit(st: Int, o: Int): Long =
      if (st == o) HmmLnMatchE6 else HmmLnMissE6
    var s1 = HmmLnInitE6 + emit(1, obs(0))
    var s0 = HmmLnInitE6 + emit(0, obs(0))
    var p1 = List(1); var p0 = List(0) // reversed paths
    obs.tail.foreach { o =>
      val stay1 = s1 + HmmLnStayE6 >= s0 + HmmLnSwitchE6
      val stay0 = s0 + HmmLnStayE6 >= s1 + HmmLnSwitchE6
      val n1 = (if (stay1) s1 + HmmLnStayE6 else s0 + HmmLnSwitchE6) +
        emit(1, o)
      val n0 = (if (stay0) s0 + HmmLnStayE6 else s1 + HmmLnSwitchE6) +
        emit(0, o)
      val q1 = 1 :: (if (stay1) p1 else p0)
      val q0 = 0 :: (if (stay0) p0 else p1)
      s1 = n1; s0 = n0; p1 = q1; p0 = q0
    }
    val (score, path) = if (s1 >= s0) (s1, p1.reverse) else (s0, p0.reverse)
    val nHigh = path.count(_ == 1).toLong
    val nSwitch = path.zip(path.tail).count { case (a, b) => a != b }.toLong
    import s.implicits._
    Seq((n.toLong, nHigh, nSwitch, score,
      if (path.last == 1) "high" else "low"))
      .toDF("n_days", "n_high_days", "n_switches", "viterbi_score_e6",
        "final_regime")
  }

  val q455Sql: String =
    s"""WITH RECURSIVE bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |med AS (
      |  SELECT x AS med FROM (
      |    SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS r,
      |      COUNT(*) OVER () AS nn
      |    FROM bd) WHERE r = (nn + 1) // 2),
      |obs AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
      |    CASE WHEN x > med THEN 1 ELSE 0 END AS o
      |  FROM bd CROSS JOIN med),
      |walk AS (
      |  SELECT 1 AS t,
      |    $HmmLnInitE6 + CASE WHEN o = 1 THEN $HmmLnMatchE6
      |      ELSE $HmmLnMissE6 END AS s1,
      |    $HmmLnInitE6 + CASE WHEN o = 0 THEN $HmmLnMatchE6
      |      ELSE $HmmLnMissE6 END AS s0,
      |    [CAST(1 AS BIGINT)] AS p1, [CAST(0 AS BIGINT)] AS p0
      |  FROM obs WHERE t = 1
      |  UNION ALL
      |  SELECT s.t,
      |    CASE WHEN w.s1 + $HmmLnStayE6 >= w.s0 + $HmmLnSwitchE6
      |      THEN w.s1 + $HmmLnStayE6 ELSE w.s0 + $HmmLnSwitchE6 END
      |      + CASE WHEN s.o = 1 THEN $HmmLnMatchE6
      |        ELSE $HmmLnMissE6 END,
      |    CASE WHEN w.s0 + $HmmLnStayE6 >= w.s1 + $HmmLnSwitchE6
      |      THEN w.s0 + $HmmLnStayE6 ELSE w.s1 + $HmmLnSwitchE6 END
      |      + CASE WHEN s.o = 0 THEN $HmmLnMatchE6
      |        ELSE $HmmLnMissE6 END,
      |    list_append(CASE WHEN w.s1 + $HmmLnStayE6 >=
      |      w.s0 + $HmmLnSwitchE6 THEN w.p1 ELSE w.p0 END,
      |      CAST(1 AS BIGINT)),
      |    list_append(CASE WHEN w.s0 + $HmmLnStayE6 >=
      |      w.s1 + $HmmLnSwitchE6 THEN w.p0 ELSE w.p1 END,
      |      CAST(0 AS BIGINT))
      |  FROM walk w JOIN obs s ON s.t = w.t + 1),
      |last AS (SELECT * FROM walk ORDER BY t DESC LIMIT 1),
      |best AS (
      |  SELECT t, CASE WHEN s1 >= s0 THEN s1 ELSE s0 END AS score,
      |    CASE WHEN s1 >= s0 THEN p1 ELSE p0 END AS path
      |  FROM last)
      |SELECT CAST(t AS BIGINT) AS n_days,
      |  CAST(list_sum(path) AS BIGINT) AS n_high_days,
      |  CAST(list_sum(list_transform(range(2, t + 1), i ->
      |    CASE WHEN path[i] <> path[i - 1] THEN 1 ELSE 0 END))
      |    AS BIGINT) AS n_switches,
      |  CAST(score AS BIGINT) AS viterbi_score_e6,
      |  CASE WHEN path[t] = 1 THEN 'high' ELSE 'low' END AS final_regime
      |FROM best""".stripMargin

  // ------ q512: LZ78 phrase complexity of the busiest user's stream

  /** Sequence-length cap: the complexity is measured over the user's
    * first 512 events (by event_id) so the driver fold and the oracle
    * walk are bounded regardless of corpus scale.
    */
  val Lz78Cap = 512

  /** q512: Lempel–Ziv 78 phrase complexity — the SEQUENCE-structure
    * complexity measure next to the engine's distributional ones
    * (char entropy q499, Markov transitions q108): parse the busiest
    * user's event-type initial stream into the LZ78 phrase dictionary
    * (longest known prefix + one extension per step) and count
    * phrases. A repetitive session script compresses to few long
    * phrases; an erratic one mints a phrase almost every step — the
    * normalized phrase rate is the behavioral randomness score. The
    * walk is a bounded driver fold (≤ 512 steps); the oracle replays
    * it as a list-state recursive walk carrying the dictionary as one
    * delimited string probed with strpos — no lambdas, no per-step
    * CTE re-scan (the q497 cost rules).
    *
    * Plan: one events rollup picks the user (top-1 by count, ties to
    * the smallest id) → ≤512-char sequence collect → driver fold →
    * 1-row report.
    */
  val q512Lz78: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val topUser = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(1)
      .collect()(0).getAs[Long]("user_id")
    val seq = e.filter(col("user_id") === topUser)
      .select(col("event_id"), substring(col("event_type"), 1, 1).as("ch"))
      .orderBy(col("event_id")).limit(Lz78Cap)
      .collect().map(_.getAs[String]("ch")).mkString
    var dict = "|"
    var w = ""
    var phrases = 0L
    var maxLen = 0L
    seq.foreach { c =>
      val w2 = w + c
      if (dict.contains("|" + w2 + "|")) w = w2
      else {
        dict = dict + w2 + "|"
        phrases += 1
        maxLen = math.max(maxLen, w2.length.toLong)
        w = ""
      }
    }
    if (w.nonEmpty) { phrases += 1; maxLen = math.max(maxLen, w.length.toLong) }
    import s.implicits._
    Seq((topUser, seq.length.toLong, phrases, maxLen,
      if (seq.nonEmpty) phrases * 1000000L / seq.length else 0L))
      .toDF("user_id", "seq_len", "n_phrases", "max_phrase_len",
        "phrase_rate_e6")
  }

  val q512Sql: String =
    s"""WITH RECURSIVE tu AS (
      |  SELECT user_id FROM events GROUP BY user_id
      |  ORDER BY COUNT(*) DESC, user_id LIMIT 1),
      |seq AS (
      |  SELECT tu.user_id, COALESCE(string_agg(x.ch, '' ORDER BY x.event_id), '') AS sq
      |  FROM tu LEFT JOIN (
      |    SELECT user_id, event_id, substring(event_type, 1, 1) AS ch,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |    FROM events) x
      |  ON x.user_id = tu.user_id AND x.rn <= $Lz78Cap
      |  GROUP BY tu.user_id),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS i, CAST(LEN(sq) AS BIGINT) AS n, sq,
      |    '|' AS dict, '' AS w,
      |    CAST(0 AS BIGINT) AS phrases, CAST(0 AS BIGINT) AS maxlen
      |  FROM seq
      |  UNION ALL
      |  SELECT v.i, v.n, v.sq,
      |    CASE WHEN v.hit THEN v.dict ELSE v.dict || v.w2 || '|' END,
      |    CASE WHEN v.hit THEN v.w2 ELSE '' END,
      |    v.phrases + CASE WHEN v.hit THEN 0 ELSE 1 END,
      |    GREATEST(v.maxlen,
      |      CASE WHEN v.hit THEN 0 ELSE LEN(v.w2) END)
      |  FROM (
      |    SELECT u.*, strpos(u.dict, '|' || u.w2 || '|') > 0 AS hit
      |    FROM (
      |      SELECT w.i + 1 AS i, w.n, w.sq, w.dict,
      |        w.w || substr(w.sq, CAST(w.i + 1 AS INT), 1) AS w2,
      |        w.phrases, w.maxlen
      |      FROM walk w WHERE w.i < w.n) u) v),
      |fin AS (SELECT * FROM walk ORDER BY i DESC LIMIT 1)
      |SELECT CAST(tu.user_id AS BIGINT) AS user_id,
      |  CAST(fin.n AS BIGINT) AS seq_len,
      |  CAST(fin.phrases + CASE WHEN fin.w <> '' THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_phrases,
      |  CAST(GREATEST(fin.maxlen, CASE WHEN fin.w <> '' THEN LEN(fin.w)
      |    ELSE 0 END) AS BIGINT) AS max_phrase_len,
      |  CAST(CASE WHEN fin.n > 0 THEN (fin.phrases
      |      + CASE WHEN fin.w <> '' THEN 1 ELSE 0 END) * 1000000 // fin.n
      |    ELSE 0 END AS BIGINT) AS phrase_rate_e6
      |FROM fin CROSS JOIN tu""".stripMargin

  // ------ q522: Smith-Waterman local alignment of behavior streams

  /** Per-user sequence cap for the q522 alignment (cells = cap²). */
  val SwCap = 48
  /** Classic scores: match +2, mismatch −1, gap −1. */
  val SwMatch = 2L
  val SwMiss = -1L
  val SwGap = -1L

  /** q522: Smith–Waterman local alignment — do the two busiest users
    * share a behavioral MOTIF? Where DTW (q421) elastically aligns
    * whole numeric series, Smith–Waterman finds the best-scoring LOCAL
    * stretch of two symbol streams (event-type initials, first
    * [[SwCap]] events by event_id), the classic dynamic program with
    * zero-floored cells. The engine folds the (cap+1)-cell rolling
    * buffer in Scala; the oracle replays the SAME buffer cell-by-cell
    * as a list-state walk (cap² steps, one list update per step — the
    * q497 cost rules). Certificate: the score is bounded by
    * match·min(len) and positive only when some character matches,
    * both pinned.
    *
    * Plan: one events rollup picks two users → two ≤48-char collects
    * → cap² driver fold → 1-row report.
    */
  val q522SmithWaterman: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val topTwo = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(2)
      .collect().map(_.getAs[Long]("user_id"))
    def seqOf(u: Long): String = e.filter(col("user_id") === u)
      .select(col("event_id"), substring(col("event_type"), 1, 1).as("ch"))
      .orderBy(col("event_id")).limit(SwCap)
      .collect().map(_.getAs[String]("ch")).mkString
    val (ua, ub) = (topTwo(0), topTwo(1))
    val (a, b) = (seqOf(ua), seqOf(ub))
    val m = a.length; val n = b.length
    val row = Array.fill(n + 1)(0L)
    var dg = 0L
    var best = 0L
    var t = 0
    while (t < m * n) {
      val i = t / n + 1; val j = t % n + 1
      val sc = if (a(i - 1) == b(j - 1)) SwMatch else SwMiss
      val left = if (j == 1) 0L else row(j - 1)
      val up = row(j)
      val nw = math.max(math.max(0L, dg + sc),
        math.max(up + SwGap, left + SwGap))
      dg = if (j == n) 0L else up
      row(j) = nw
      if (nw > best) best = nw
      t += 1
    }
    import s.implicits._
    Seq((ua, ub, m.toLong, n.toLong, best,
      if (math.min(m, n) > 0) best * 1000000L / (SwMatch * math.min(m, n))
      else 0L))
      .toDF("user_a", "user_b", "len_a", "len_b", "best_score",
        "normalized_e6")
  }

  val q522Sql: String =
    s"""WITH RECURSIVE tu AS (
      |  SELECT user_id, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk
      |  FROM (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
      |  ORDER BY n DESC, user_id LIMIT 2),
      |sq AS (
      |  SELECT tu.rnk, tu.user_id,
      |    COALESCE(string_agg(x.ch, '' ORDER BY x.event_id), '') AS sq
      |  FROM tu LEFT JOIN (
      |    SELECT user_id, event_id, substring(event_type, 1, 1) AS ch,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |    FROM events) x
      |  ON x.user_id = tu.user_id AND x.rn <= $SwCap
      |  GROUP BY tu.rnk, tu.user_id),
      |ab AS (
      |  SELECT
      |    (SELECT user_id FROM sq WHERE rnk = 1) AS ua,
      |    (SELECT user_id FROM sq WHERE rnk = 2) AS ub,
      |    (SELECT sq FROM sq WHERE rnk = 1) AS a,
      |    (SELECT sq FROM sq WHERE rnk = 2) AS b),
      |dims AS (
      |  SELECT ua, ub, a, b, CAST(LEN(a) AS BIGINT) AS m,
      |    CAST(LEN(b) AS BIGINT) AS n
      |  FROM ab),
      |walk AS (
      |  SELECT CAST(0 AS BIGINT) AS t, m, n, a, b,
      |    list_transform(range(0, CAST(n + 1 AS BIGINT)),
      |      x -> CAST(0 AS BIGINT)) AS row,
      |    CAST(0 AS BIGINT) AS dg, CAST(0 AS BIGINT) AS best
      |  FROM dims
      |  UNION ALL
      |  SELECT v.t, v.m, v.n, v.a, v.b,
      |    list_transform(range(1, CAST(v.n + 2 AS BIGINT)),
      |      x -> CASE WHEN x = v.j + 1 THEN v.nw
      |        ELSE v.row[CAST(x AS INT)] END),
      |    CASE WHEN v.j = v.n THEN CAST(0 AS BIGINT)
      |      ELSE v.up END,
      |    GREATEST(v.best, v.nw)
      |  FROM (
      |    SELECT u.*,
      |      GREATEST(0, u.dg + u.sc, u.up + $SwGap, u.lf + $SwGap) AS nw
      |    FROM (
      |      SELECT t1.*,
      |        CASE WHEN substring(t1.a, CAST(t1.i AS INT), 1)
      |            = substring(t1.b, CAST(t1.j AS INT), 1)
      |          THEN $SwMatch ELSE $SwMiss END AS sc,
      |        t1.row[CAST(t1.j + 1 AS INT)] AS up,
      |        CASE WHEN t1.j = 1 THEN 0
      |          ELSE t1.row[CAST(t1.j AS INT)] END AS lf
      |      FROM (
      |        SELECT w.t + 1 AS t, w.m, w.n, w.a, w.b, w.row, w.dg,
      |          w.best,
      |          w.t // w.n + 1 AS i, w.t % w.n + 1 AS j
      |        FROM walk w WHERE w.t < w.m * w.n) t1) u) v),
      |fin AS (SELECT * FROM walk ORDER BY t DESC LIMIT 1)
      |SELECT CAST(dims.ua AS BIGINT) AS user_a,
      |  CAST(dims.ub AS BIGINT) AS user_b,
      |  CAST(dims.m AS BIGINT) AS len_a, CAST(dims.n AS BIGINT) AS len_b,
      |  CAST(fin.best AS BIGINT) AS best_score,
      |  CAST(CASE WHEN LEAST(dims.m, dims.n) > 0
      |    THEN fin.best * 1000000 // ($SwMatch * LEAST(dims.m, dims.n))
      |    ELSE 0 END AS BIGINT) AS normalized_e6
      |FROM fin CROSS JOIN dims""".stripMargin

  // ------ q576: negative-binomial overdispersion fit on daily counts

  /** q576: negative-binomial method-of-moments fit of the daily
    * purchase-count process — the count-model selection a demand
    * forecaster runs before q400-style smoothing: Poisson predicts
    * var = mean; real traffic is usually OVERdispersed, and the NB(r, p)
    * moments give r = m²/(v−m), p = m/v in closed form. Everything stays
    * an exact staged integer of the raw co-moments (S = Σc, Q = Σc²,
    * n days): dispersion v/m = (nQ−S²)·10⁶ // (nS), r and p likewise,
    * with the r fit guarded NULL when the data is NOT overdispersed
    * (nQ − S² ≤ nS — then Poisson suffices and the flag says so).
    *
    * Plan: one events pass into the daily rollup (map-side combined);
    * the fit is a 1-row fold. Calendar-bounded — metadata at any scale.
    */
  val q576NegBinomial: Q = (s, dir) => {
    val bd = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_millis(ts) DIV 86400000").as("day"))
      .agg(count(lit(1)).as("c"))
    bd.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("c")).cast(dec).as("s"),
        sum(col("c").cast(dec) * col("c")).as("q"))
      .select(
        col("n").cast("long").as("n_days"),
        col("s").cast("long").as("total_events"),
        expr("""CAST(CAST(((n*q - s*s) * 1000000
          | - ((n*q - s*s) * 1000000) % (n*s)) / (n*s) AS DECIMAL(38,0))
          | AS BIGINT)""".stripMargin.replace("\n", " "))
          .as("dispersion_e6"),
        expr("""CAST(CASE WHEN n*q - s*s - n*s <= 0 THEN NULL ELSE
          | CAST((s*s * 1000000 - (s*s * 1000000) % (n*q - s*s - n*s))
          |   / (n*q - s*s - n*s) AS DECIMAL(38,0)) END AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("nb_r_e6"),
        expr("""CAST(CASE WHEN n*q - s*s <= 0 THEN NULL ELSE
          | CAST((s*n * 1000000 - (s*n * 1000000) % (n*q - s*s))
          |   / (n*q - s*s) AS DECIMAL(38,0)) END AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("nb_p_e6"),
        expr("CAST(CASE WHEN n*q - s*s - n*s > 0 THEN 1 ELSE 0 END " +
          "AS BIGINT)").as("overdispersed"))
  }

  val q576Sql: String =
    """WITH bd AS (
      |  SELECT CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day,
      |    COUNT(*) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(c) AS HUGEINT) AS s,
      |    SUM(CAST(c AS HUGEINT) * c) AS q
      |  FROM bd)
      |SELECT CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS total_events,
      |  CAST((n*q - s*s) * 1000000 // (n*s) AS BIGINT) AS dispersion_e6,
      |  CAST(CASE WHEN n*q - s*s - n*s <= 0 THEN NULL
      |    ELSE s*s * 1000000 // (n*q - s*s - n*s) END AS BIGINT)
      |    AS nb_r_e6,
      |  CAST(CASE WHEN n*q - s*s <= 0 THEN NULL
      |    ELSE s*n * 1000000 // (n*q - s*s) END AS BIGINT) AS nb_p_e6,
      |  CAST(CASE WHEN n*q - s*s - n*s > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS overdispersed
      |FROM mo""".stripMargin

  val queries: Map[String, Q] = Map(
    "q576_neg_binomial" -> q576NegBinomial,
    "q522_smith_waterman" -> q522SmithWaterman,
    "q512_lz78" -> q512Lz78,
    "q455_viterbi_hmm" -> q455ViterbiHmm,
    "q431_kpss" -> q431Kpss,
    "q432_engle_granger" -> q432EngleGranger,
    "q439_garch" -> q439Garch,
    "q428_mediation" -> q428Mediation,
    "q426_lindley" -> q426Lindley,
    "q421_dtw" -> q421Dtw,
    "q419_permutation_test" -> q419PermutationTest,
    "q420_periodogram" -> q420Periodogram,
    "q417_erlang" -> q417Erlang,
    "q416_kalman" -> q416Kalman,
    "q412_competing_risks" -> q412CompetingRisks,
    "q410_ccf" -> q410Ccf,
    "q407_shapley" -> q407Shapley,
    "q408_littles_law" -> q408LittlesLaw,
    "q405_granger" -> q405Granger,
    "q399_hurst" -> q399Hurst,
    "q400_holt" -> q400Holt,
    "q393_median_survival" -> q393MedianSurvival,
    "q387_yule_walker" -> q387YuleWalker,
    "q379_chatterjee_xi" -> q379ChatterjeeXi,
    "q380_ljung_box" -> q380LjungBox,
    "q378_weighted_kappa" -> q378WeightedKappa,
    "q373_greenwood_ci" -> q373GreenwoodCi,
    "q369_icc_deff" -> q369IccDeff,
    "q370_sign_test" -> q370SignTest,
    "q361_breusch_pagan" -> q361BreuschPagan,
    "q362_jarque_bera" -> q362JarqueBera,
    "q363_arch_lm" -> q363ArchLm,
    "q364_variance_ratio" -> q364VarianceRatio,
    "q357_rmst" -> q357Rmst,
    "q358_newey_west" -> q358NeweyWest,
    "q359_bowker_symmetry" -> q359BowkerSymmetry,
    "q360_kupiec_pof" -> q360KupiecPof,
    "q353_drawdown" -> q353Drawdown,
    "q355_page_hinkley" -> q355PageHinkley,
    "q356_qte" -> q356Qte,
    "q349_runs_test" -> q349RunsTest,
    "q350_odds_ratio" -> q350OddsRatio,
    "q351_mantel_haenszel" -> q351MantelHaenszel,
    "q345_gumbel_maxima" -> q345GumbelMaxima,
    "q342_c_index" -> q342CIndex,
    "q344_durbin_watson" -> q344DurbinWatson,
    "q337_signed_rank" -> q337SignedRank,
    "q339_cochran_q" -> q339CochranQ,
    "q340_jackknife_ratio" -> q340JackknifeRatio,
    "q334_doubly_robust" -> q334DoublyRobust,
    "q335_effect_size" -> q335EffectSize,
    "q332_competing_risks" -> q332CompetingRisks,
    "q329_mobility" -> q329Mobility,
    "q330_conformal" -> q330Conformal,
    "q325_psi_drift" -> q325Psi,
    "q319_periodogram" -> q319Periodogram,
    "q318_als_step" -> q318AlsStep,
    "q317_sprt" -> q317Sprt,
    "q316_xmr_chart" -> q316XmrChart,
    "q306_seasonal_decomp" -> q306SeasonalDecomp,
    "q308_ips_offpolicy" -> q308IpsOffPolicy,
    "q304_cem_att" -> q304CemAtt,
    "q300_cuped" -> q300Cuped,
    "q301_nelson_aalen" -> q301NelsonAalen,
    "q302_seq_patterns" -> q302SeqPatterns,
    "q296_forecast_eval" -> q296ForecastEval,
    "q297_pr_curve" -> q297PrCurve,
    "q298_diff_in_diff" -> q298DiffInDiff,
    "q284_sequential_test" -> q284SequentialTest,
    "q288_funnel_wilson" -> q288FunnelWilson,
    "q291_ratio_metric" -> q291RatioMetric,
    "q292_logrank_test" -> q292LogRank,
    "q289_mde_panel" -> q289MdePanel,
    "q280_entropy_rate" -> q280EntropyRate,
    "q260_burn_rate" -> q260BurnRate,
    "q259_survival_km" -> q259SurvivalKm,
    "q253_removal_effect" -> q253RemovalEffect,
    "q254_qini_uplift" -> q254QiniUplift,
    "q230_bitmap_distinct" -> q230BitmapDistinct,
    "q243_srm_audit" -> q243SrmAudit,
    "q231_asof_merge" -> q231AsOfMerge,
    "q232_sax_motifs" -> q232SaxMotifs,
    "q91_sketch_quantiles" -> q91SketchQuantiles,
    "q90_dedup_ingest" -> q90DedupIngest,
    "q76_asof_join" -> q76AsOfJoin,
    "q74_typed_json" -> q74TypedJson,
    "q75_sliding_window" -> q75Sliding,
    "q70_tumbling_window" -> q70Tumbling,
    "q71_session_window" -> q71Sessions,
    "q72_json_extract" -> q72Json,
    "q73_user_profile" -> q73UserProfile,
    "q103_event_funnel" -> q103EventFunnel,
    "q104_retention_cohorts" -> q104RetentionCohorts,
    "q108_markov_transitions" -> q108MarkovTransitions,
    "q109_ohlc_bars" -> q109OhlcBars,
    "q110_growth_accounting" -> q110GrowthAccounting,
    "q111_path_trigrams" -> q111PathTrigrams,
    "q119_duplicate_charges" -> q119DuplicateCharges,
    "q120_anomalous_days" -> q120AnomalousDays,
    "q121_seasonality" -> q121Seasonality,
    "q124_cusum_shift" -> q124CusumShift,
    "q127_ab_ztest" -> q127AbZtest,
    "q128_attribution" -> q128Attribution,
    "q129_time_to_convert" -> q129TimeToConvert,
    "q130_seasonal_backtest" -> q130SeasonalBacktest,
    "q131_churn_labels" -> q131ChurnLabels,
    "q137_rolling_actives" -> q137RollingActives,
    "q138_heavy_hitters" -> q138HeavyHitters,
    "q144_decayed_value" -> q144DecayedValue,
    "q147_twap" -> q147Twap,
    "q148_mad_outliers" -> q148MadOutliers,
    "q151_scd_rebuild" -> q151ScdRebuild,
    "q156_interval_union" -> q156IntervalUnion,
    "q158_cdc_apply" -> q158CdcApply,
    "q161_drift_tv" -> q161DriftTv,
    "q162_streaks" -> q162Streaks,
    "q165_markov_eval" -> q165MarkovEval,
    "q166_ushape_attribution" -> q166UShapeAttribution,
    "q167_seasonal_decomp" -> q167SeasonalDecomp,
    "q173_cohort_ltv" -> q173CohortLtv,
    "q174_rfm_segments" -> q174RfmSegments,
    "q182_forecast_scorecard" -> q182ForecastScorecard,
    "q183_stickiness" -> q183Stickiness,
    "q184_new_vs_repeat" -> q184NewVsRepeat,
    "q185_peak_concurrency" -> q185PeakConcurrency,
    "q186_session_quality" -> q186SessionQuality,
    "q187_time_to_repeat" -> q187TimeToRepeat,
    "q195_hazard_curve" -> q195HazardCurve,
    "q196_dwell_times" -> q196DwellTimes,
    "q200_sequence_patterns" -> q200SequencePatterns,
    "q201_resurrection" -> q201Resurrection,
    "q203_cuped" -> q203Cuped,
    "q204_attr_sensitivity" -> q204AttributionSensitivity,
    "q210_session_flows" -> q210SessionFlows,
    "q168_lead_lag" -> q168LeadLag)

  val oracles: Map[String, String] = Map(
    "q576_neg_binomial" -> q576Sql,
    "q522_smith_waterman" -> q522Sql,
    "q512_lz78" -> q512Sql,
    "q455_viterbi_hmm" -> q455Sql,
    "q431_kpss" -> q431Sql,
    "q432_engle_granger" -> q432Sql,
    "q439_garch" -> q439Sql,
    "q428_mediation" -> q428Sql,
    "q426_lindley" -> q426Sql,
    "q421_dtw" -> q421Sql,
    "q419_permutation_test" -> q419Sql,
    "q420_periodogram" -> q420Sql,
    "q417_erlang" -> q417Sql,
    "q416_kalman" -> q416Sql,
    "q412_competing_risks" -> q412Sql,
    "q410_ccf" -> q410Sql,
    "q407_shapley" -> q407Sql,
    "q408_littles_law" -> q408Sql,
    "q405_granger" -> q405Sql,
    "q399_hurst" -> q399Sql,
    "q400_holt" -> q400Sql,
    "q393_median_survival" -> q393Sql,
    "q387_yule_walker" -> q387Sql,
    "q379_chatterjee_xi" -> q379Sql,
    "q380_ljung_box" -> q380Sql,
    "q378_weighted_kappa" -> q378Sql,
    "q373_greenwood_ci" -> q373Sql,
    "q369_icc_deff" -> q369Sql,
    "q370_sign_test" -> q370Sql,
    "q361_breusch_pagan" -> q361Sql,
    "q362_jarque_bera" -> q362Sql,
    "q363_arch_lm" -> q363Sql,
    "q364_variance_ratio" -> q364Sql,
    "q357_rmst" -> q357Sql,
    "q358_newey_west" -> q358Sql,
    "q359_bowker_symmetry" -> q359Sql,
    "q360_kupiec_pof" -> q360Sql,
    "q353_drawdown" -> q353Sql,
    "q355_page_hinkley" -> q355Sql,
    "q356_qte" -> q356Sql,
    "q349_runs_test" -> q349Sql,
    "q350_odds_ratio" -> q350Sql,
    "q351_mantel_haenszel" -> q351Sql,
    "q345_gumbel_maxima" -> q345Sql,
    "q342_c_index" -> q342Sql,
    "q344_durbin_watson" -> q344Sql,
    "q337_signed_rank" -> q337Sql,
    "q339_cochran_q" -> q339Sql,
    "q340_jackknife_ratio" -> q340Sql,
    "q334_doubly_robust" -> q334Sql,
    "q335_effect_size" -> q335Sql,
    "q332_competing_risks" -> q332Sql,
    "q329_mobility" -> q329Sql,
    "q330_conformal" -> q330Sql,
    "q325_psi_drift" -> q325Sql,
    "q319_periodogram" -> q319Sql,
    "q318_als_step" -> q318Sql,
    "q317_sprt" -> q317Sql,
    "q316_xmr_chart" -> q316Sql,
    "q306_seasonal_decomp" -> q306Sql,
    "q308_ips_offpolicy" -> q308Sql,
    "q304_cem_att" -> q304Sql,
    "q300_cuped" -> q300Sql,
    "q301_nelson_aalen" -> q301Sql,
    "q302_seq_patterns" -> q302Sql,
    "q296_forecast_eval" -> q296Sql,
    "q297_pr_curve" -> q297Sql,
    "q298_diff_in_diff" -> q298Sql,
    "q284_sequential_test" -> q284Sql,
    "q288_funnel_wilson" -> q288Sql,
    "q291_ratio_metric" -> q291Sql,
    "q292_logrank_test" -> q292Sql,
    "q289_mde_panel" -> q289Sql,
    "q280_entropy_rate" -> q280Sql,
    "q260_burn_rate" -> q260Sql,
    "q259_survival_km" -> q259Sql,
    "q253_removal_effect" -> q253Sql,
    "q254_qini_uplift" -> q254Sql,
    "q230_bitmap_distinct" -> q230Sql,
    "q243_srm_audit" -> q243Sql,
    // the custom-exec formulation returns exactly the window formulation's
    // rows (equivalence-tested in AsOfMergeJoinSpec), so q76's oracle applies
    "q231_asof_merge" -> q76Sql,
    "q232_sax_motifs" -> q232Sql,
    "q151_scd_rebuild" -> q151Sql,
    "q156_interval_union" -> q156Sql,
    "q158_cdc_apply" -> q158Sql,
    "q161_drift_tv" -> q161Sql,
    "q162_streaks" -> q162Sql,
    "q165_markov_eval" -> q165Sql,
    "q166_ushape_attribution" -> q166Sql,
    "q167_seasonal_decomp" -> q167Sql,
    "q168_lead_lag" -> q168Sql,
    "q173_cohort_ltv" -> q173Sql,
    "q174_rfm_segments" -> q174Sql,
    "q182_forecast_scorecard" -> q182Sql,
    "q183_stickiness" -> q183Sql,
    "q184_new_vs_repeat" -> q184Sql,
    "q185_peak_concurrency" -> q185Sql,
    "q186_session_quality" -> q186Sql,
    "q187_time_to_repeat" -> q187Sql,
    "q195_hazard_curve" -> q195Sql,
    "q196_dwell_times" -> q196Sql,
    "q200_sequence_patterns" -> q200Sql,
    "q201_resurrection" -> q201Sql,
    "q203_cuped" -> q203Sql,
    "q204_attr_sensitivity" -> q204Sql,
    "q210_session_flows" -> q210Sql,
    "q147_twap" -> q147Sql,
    "q148_mad_outliers" -> q148Sql,
    "q137_rolling_actives" -> q137Sql,
    "q138_heavy_hitters" -> q138Sql,
    "q144_decayed_value" -> q144Sql,
    "q124_cusum_shift" -> q124Sql,
    "q127_ab_ztest" -> q127Sql,
    "q128_attribution" -> q128Sql,
    "q129_time_to_convert" -> q129Sql,
    "q130_seasonal_backtest" -> q130Sql,
    "q131_churn_labels" -> q131Sql,
    "q103_event_funnel" -> q103Sql,
    "q104_retention_cohorts" -> q104Sql,
    "q108_markov_transitions" -> q108Sql,
    "q109_ohlc_bars" -> q109Sql,
    "q110_growth_accounting" -> q110Sql,
    "q111_path_trigrams" -> q111Sql,
    "q119_duplicate_charges" -> q119Sql,
    "q120_anomalous_days" -> q120Sql,
    "q121_seasonality" -> q121Sql,
    "q91_sketch_quantiles" -> q91Sql,
    "q90_dedup_ingest" -> q90Sql,
    "q76_asof_join" -> q76Sql,
    "q74_typed_json" -> q74Sql,
    "q75_sliding_window" -> q75Sql,
    "q70_tumbling_window" -> q70Sql,
    "q71_session_window" -> q71Sql,
    "q72_json_extract" -> q72Sql,
    "q73_user_profile" -> q73Sql)
}
