package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files

/** Streaming extensions: the batch events table is replayed through a file
  * stream and must produce the same aggregates as the batch path (stream /
  * batch parity), plus a stateful operator check.
  */
class StreamingSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft_stream").toString
    // Re-encode the ns-timestamp table as µs so the stream source reads it
    // with the declared schema.
    Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling counts equal the batch computation") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(
      EventStream.tumblingCounts(stream), "t_counts", OutputMode.Append())
    val streamed = spark.table("t_counts")
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    // watermark closes all windows once the source is exhausted except those
    // within the watermark horizon; compare against batch on the same slice
    val batchTotal = Tables.events(spark, sfDir).count()
    assert(streamed > 0 && streamed <= batchTotal)
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n")).select(col("window.start"), col("event_type"), col("n"))
    val joined = spark.table("t_counts").as("s")
      .join(batch.as("b"),
        col("s.bucket") === col("b.start") &&
          col("s.event_type") === col("b.event_type"))
      .filter(col("s.n_events") =!= col("b.n"))
    assert(joined.count() === 0, "every emitted window must match batch")
  }

  test("streaming OHLC bars equal the batch q109 on every closed window") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(
      EventStream.ohlcBars(stream), "t_ohlc", OutputMode.Append())
    // the batch twin keys bars by epoch-hour; align the streaming window
    // start to the same key and every emitted bar must agree on all fields
    val batch = graft.operators.EventQueries.q109OhlcBars(spark, sfDir)
    val emitted = spark.table("t_ohlc")
      .withColumn("hour_bucket", expr("unix_timestamp(bucket) DIV 3600"))
    val joined = emitted.as("s").join(batch.as("b"), Seq("hour_bucket"))
    // the join must actually cover every emitted bar — an empty join from a
    // broken bucket alignment must fail, not pass vacuously
    assert(emitted.count() > 0)
    assert(joined.count() === emitted.count(),
      "every emitted bar must find its batch twin by bucket")
    val mismatched = joined
      .filter(col("s.n_trades") =!= col("b.n_trades") ||
        col("s.open") =!= col("b.open") || col("s.high") =!= col("b.high") ||
        col("s.low") =!= col("b.low") || col("s.close") =!= col("b.close") ||
        col("s.volume_c") =!= col("b.volume_c"))
    assert(mismatched.count() === 0, "every emitted bar must match the batch twin")
  }

  test("streaming sliding windows equal the batch computation") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(
      EventStream.slidingCounts(stream), "s_counts", OutputMode.Append())
    // duration/slide = 2: every event lands in exactly two emitted windows
    // (modulo the open watermark horizon at the tail)
    val streamed = spark.table("s_counts")
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    val batchTotal = Tables.events(spark, sfDir).count()
    assert(streamed > 0 && streamed <= 2 * batchTotal)
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
    val joined = spark.table("s_counts").as("s")
      .join(batch.as("b"),
        col("s.bucket") === col("b.start") &&
          col("s.event_type") === col("b.event_type"))
      .filter(col("s.n_events") =!= col("b.n"))
    assert(joined.count() === 0, "every emitted sliding window must match batch")
  }

  test("streaming session windows emit watermark-closed sessions") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(
      EventStream.sessionAggregates(stream), "t_sessions", OutputMode.Append())
    val sessions = spark.table("t_sessions")
    assert(sessions.count() > 0)
    assert(sessions.filter(col("session_end") <= col("session_start")).count() === 0)
  }

  test("stream-static enrichment equals the batch broadcast join") {
    import spark.implicits._
    // static dimension: user segment derived once, batch-side
    val dim = Tables.events(spark, sfDir).select(col("user_id")).distinct()
      .withColumn("segment",
        when(col("user_id") % 3 === 0, "gold").otherwise("std"))
    EventStream.runToMemory(
      EventStream.enriched(EventStream.read(spark, streamDir), dim)
        .groupBy(col("segment")).agg(count(lit(1)).as("n")),
      "enriched_counts", OutputMode.Complete())
    val streamed = spark.table("enriched_counts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sfDir).join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(col("segment")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("stream-stream interval join equals the batch range join") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(
      EventStream.clickToPurchase(stream), "conversions", OutputMode.Append())
    val streamed = spark.table("conversions")
    val e = Tables.events(spark, sfDir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 hour"))
    assert(streamed.count() === batch.count())
    assert(streamed.count() > 0, "corpus must contain conversions")
    // spot-check: every streamed pair exists in the batch join
    val missing = streamed.select(col("click_id"), col("purchase_ts"))
      .except(batch.select(col("click_id"), col("purchase_ts")))
    assert(missing.count() === 0)
  }

  test("streaming dedup drops redeliveries down to the batch-distinct count") {
    // at-least-once source: the stream dir plus a second copy of every third
    // event, written as extra files so redeliveries arrive as real rows
    val dupDir = Files.createTempDirectory("graft_stream_dup").toString
    val e = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    e.coalesce(2).write.mode("overwrite").parquet(dupDir)
    e.filter(col("event_id") % 3 === 0)
      .coalesce(1).write.mode("append").parquet(dupDir)
    EventStream.runToMemory(
      EventStream.dedup(EventStream.read(spark, dupDir)),
      "dedup_out", OutputMode.Append())
    val kept = spark.table("dedup_out")
    assert(kept.count() === e.count(), "every unique event exactly once")
    assert(kept.select("event_id").distinct().count() === e.count())
  }

  test("streaming MinHash candidates recount to the batch q102 classification") {
    import graft.operators.TextQueries
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    val seen = docs.filter(col("doc_id") % 4 =!= 0)
    // fixture precondition that makes the parity claim exact: no band bucket
    // anywhere near the BandCap valve (q55 caps combined buckets, the index
    // caps seen-member buckets; with all buckets far below the cap both
    // valves are inactive and the candidate sets coincide)
    val maxBucket = DocStream.bandedSignature(docs)
      .groupBy(col("band_idx"), col("band_val")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxBucket <= TextQueries.BandCap / 2, "fixture must stay clear of the cap")
    val dir = Files.createTempDirectory("graft_docstream").toString
    incoming.coalesce(2).write.mode("overwrite").parquet(dir)
    val index = DocStream.signatureIndex(seen).localCheckpoint()
    val stream = spark.readStream.schema(incoming.schema).parquet(dir)
    EventStream.runToMemory(
      DocStream.candidateEmitter(stream, index), "t_minhash_cands",
      OutputMode.Append())
    val cands = spark.table("t_minhash_cands")
    assert(cands.count() > 0, "the crawl fixture must produce candidates")
    // the emitter is per-band by design (stateless); the recount dedups
    val streamed = DocStream.classify(incoming, cands)
    val batch = TextQueries.q102IncrementalDedup(spark, sfDir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "ingest-time classification must equal the batch q102 row-for-row")
    // and the flagging is non-trivial both ways on this fixture
    val statuses = streamed.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.getOrElse("duplicate", 0L) > 0)
    assert(statuses.getOrElse("novel", 0L) > 0)
  }

  test("foreachBatch streaming load appends micro-batches into a table") {
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val stream = EventStream.read(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    EventStream.appendToTable(spark, stream, "stream_events", ckpt)
    val loaded = spark.table("stream_events").count()
    assert(loaded === Tables.events(spark, sfDir).count())
    // restart with the same checkpoint: nothing new to process, no dupes
    val stream2 = EventStream.read(spark, streamDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    EventStream.appendToTable(spark, stream2, "stream_events", ckpt)
    assert(spark.table("stream_events").count() === loaded)
  }

  test("replayed micro-batch overwrites its own partition (no duplicates)") {
    // foreachBatch is at-least-once: simulate the crash-after-write replay by
    // re-issuing batch 0's rows with the same batch id — the table's own
    // dynamic partition-overwrite mode must land them in place, not append
    // or drop the other batches' partitions.
    val before = spark.table("stream_events").count()
    val batch0 = spark.table("stream_events")
      .filter(col(EventStream.BatchIdCol) === 0)
    assert(batch0.count() > 0)
    batch0.write.mode("overwrite").insertInto("stream_events")
    assert(spark.table("stream_events").count() === before)
  }

  test("stateful running totals accumulate per user") {
    val stream = EventStream.read(spark, streamDir)
    EventStream.runToMemory(
      EventStream.userRunningTotals(spark, stream).toDF(), "t_state",
      OutputMode.Update())
    val state = spark.table("t_state")
      .groupBy(col("user_id")).agg(max(col("n_events")).as("n"))
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val mismatch = state.as("s").join(batch.as("b"), "user_id")
      .filter(col("s.n") =!= col("b.n"))
    assert(mismatch.count() === 0,
      "final state must equal batch per-user counts")
  }

  test("closed sessions from event-time-timeout state equal batch session windows") {
    val dir = Files.createTempDirectory("graft_fmg_sess").toString
    val real = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    real.coalesce(1).write.mode("overwrite").parquet(dir)
    val maxTs = real.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    def flush(hoursAfter: Int): Unit = {
      import spark.implicits._
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + hoursAfter * 3600000L),
        -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = EventStream.userSessions(spark, EventStream.read(spark, dir)).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("fmg_sessions").start()
    try {
      q.processAllAvailable()  // batch 1: every real event, sessions open
      flush(10); q.processAllAvailable()  // watermark passes every horizon
      flush(20); q.processAllAvailable()  // next trigger fires the timeouts
    } finally q.stop()
    val streamed = spark.table("fmg_sessions").filter(col("user_id") >= 0)
    val batch = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n"), col("v"))
    // every batch session appears exactly once, closed, with the same count;
    // values agree to FP-reassociation tolerance
    assert(streamed.count() === batch.count(),
      s"closed=${streamed.count()} batch=${batch.count()}")
    val joined = streamed.as("s").join(batch.as("b"),
      col("s.user_id") === col("b.user_id") &&
        col("s.session_start") === col("b.session_start"))
    assert(joined.count() === batch.count(), "every session must match on start")
    assert(joined.filter(col("s.n_events") =!= col("b.n")).count() === 0)
    assert(joined.filter(
      abs(col("s.session_value") - col("b.v")) > 1e-6).count() === 0)
  }

  test("late events merge, bridge, or start earlier sessions; exact gap splits") {
    import spark.implicits._
    def ev(id: Long, t: String, uid: Long): (Long, java.sql.Timestamp, Long, String, Double, String) =
      (id, java.sql.Timestamp.valueOf(t), uid, "click", 1.0, "{}")
    val dir = Files.createTempDirectory("graft_ooo_sess").toString
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    val q = EventStream.userSessions(spark, EventStream.read(spark, dir),
        gapMinutes = 90).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("ooo_sessions").start()
    try {
      // batch 1: user 1 at 10:00 and 12:00 (two open sessions);
      //          user 2 at 12:00
      write(Seq(ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 12:00:00", 1),
        ev(3, "2024-01-01 12:00:00", 2)))
      q.processAllAvailable()
      // batch 2, above the 10:00 watermark: 11:00 BRIDGES user 1's two open
      // sessions into one; 10:30 is exactly gap before user 2's 12:00 —
      // strict semantics keep them separate sessions
      write(Seq(ev(4, "2024-01-01 11:00:00", 1), ev(5, "2024-01-01 10:30:00", 2)))
      q.processAllAvailable()
      write(Seq(ev(6, "2024-01-02 12:00:00", 99))); q.processAllAvailable()
      write(Seq(ev(7, "2024-01-03 12:00:00", 99))); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ooo_sessions").filter(col("user_id") < 99)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    assert(got === Set(
      (1L, "2024-01-01 10:00:00.0", 3L),   // bridged into one session
      (2L, "2024-01-01 10:30:00.0", 1L),   // late event, its own session
      (2L, "2024-01-01 12:00:00.0", 1L)))  // exact-gap pair stays split
  }

  test("streaming last-touch attribution equals the batch q128 per purchase") {
    val dir = Files.createTempDirectory("graft_attr").toString
    val real = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    real.coalesce(1).write.mode("overwrite").parquet(dir)
    val maxTs = real.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    def flush(hoursAfter: Int): Unit = {
      import spark.implicits._
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + hoursAfter * 3600000L),
        -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = EventStream.attributedPurchases(spark, EventStream.read(spark, dir))
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_stream").start()
    try {
      q.processAllAvailable()
      flush(10); q.processAllAvailable()  // watermark passes every purchase
      flush(20); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attr_stream").filter(col("user_id") >= 0)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("v_c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the streaming surface folds the batch twin's 'stale' into 'none'
    // (an evicted touch is indistinguishable from an absent one)
    val batch = graft.operators.EventQueries.q128Attribution(spark, sfDir)
      .withColumn("channel", when(col("channel") === "stale", "none")
        .otherwise(col("channel")))
      .groupBy(col("channel"))
      .agg(sum(col("n_purchases")).as("n"), sum(col("revenue_c")).as("v_c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch)
    // per-purchase, not just in aggregate: every purchase event appears
    // exactly once in the stream output
    val nPurchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(spark.table("attr_stream").filter(col("user_id") >= 0).count()
      === nPurchases)
  }

  test("streaming transitions reproduce the batch q108 matrix row-for-row") {
    val dir = Files.createTempDirectory("graft_trans").toString
    val real = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    real.coalesce(1).write.mode("overwrite").parquet(dir)
    val maxTs = real.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    def flush(hoursAfter: Int): Unit = {
      import spark.implicits._
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + hoursAfter * 3600000L),
        -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = EventStream.transitions(spark, EventStream.read(spark, dir))
      .toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_stream").start()
    try {
      q.processAllAvailable()
      flush(10); q.processAllAvailable()  // watermark passes every event
      flush(20); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans_stream").filter(col("user_id") >= 0)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val batch = graft.operators.EventQueries
      .q108MarkovTransitions(spark, sfDir)
      .collect().map(r => (r.getAs[String]("from_type"),
        r.getAs[String]("to_type")) -> r.getAs[Long]("n_trans")).toMap
    assert(streamed === batch)
  }

  test("streaming session windows reproduce the batch interval-union coverage") {
    import graft.operators.EventQueries
    import spark.implicits._
    // precondition: half-open session_window and closed interval-union
    // differ ONLY when two events sit exactly one gap apart (touching
    // intervals: coverage merges them, session_window does not) — assert
    // the fixture has no such edge so the parity claim below is exact
    val gapMs = EventQueries.CoverageWindowMs
    val exactGaps = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ms"))))
      .filter(col("gap") === gapMs).count()
    assert(exactGaps === 0, "fixture has a touching-interval edge case")

    // Complete mode: append only emits watermark-CLOSED sessions, so each
    // user's open tail session would be missing from the parity set
    EventStream.runToMemory(
      EventStream.sessionAggregates(EventStream.read(spark, streamDir),
        gap = "15 minutes"),
      "coverage_sessions", OutputMode.Complete())
    val got = spark.table("coverage_sessions")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(unix_millis(col("session_end")) -
          unix_millis(col("session_start"))).as("covered_ms"),
        sum(col("n_events")).as("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = EventQueries.q156IntervalUnion(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(got === batch,
      "streamed session state machine diverged from the batch island sweep")
  }

  test("streaming backlog deltas reproduce the batch q171 series") {
    // build the order-lifecycle delta stream exactly as q171 derives it
    val close = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(max(expr("unix_timestamp(l_shipdate) DIV 86400")).as("close_day"))
    val bounds = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        expr("unix_timestamp(o_orderdate) DIV 86400").as("order_day"))
      .join(close, col("o_orderkey") === col("l_orderkey"))
      .withColumn("eff_close", greatest(col("close_day"), col("order_day")))
    val deltas = bounds.select(explode(array(
        struct(col("order_day").as("day"), lit(1L).as("delta")),
        struct((col("eff_close") + 1L).as("day"), lit(-1L).as("delta"))))
        .as("e"))
      .select(timestamp_seconds(col("e.day") * 86400L).as("ts"),
        col("e.delta").as("delta"))
    val dir = Files.createTempDirectory("graft_backlog_stream").toString
    deltas.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("ts TIMESTAMP, delta BIGINT").parquet(dir)
    EventStream.runToMemory(
      EventStream.backlogDeltas(stream), "t_backlog", OutputMode.Append())
    val streamed = spark.table("t_backlog")
      .select(expr("unix_timestamp(day_start) DIV 86400").as("day"),
        col("net_change")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "watermark must close at least the early days")
    val batch = graft.operators.CoreQueries.q171Backlog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val batchNet = batch.map(t => t._1 -> t._2).toMap
    // every emitted day matches the batch net change exactly
    streamed.foreach { case (d, net) => assert(batchNet(d) === net, s"day $d") }
    // prefix-summing the emitted prefix reproduces the batch backlog level
    val horizon = streamed.keys.max
    var acc = 0L
    batch.takeWhile(_._1 <= horizon).foreach { case (d, _, open) =>
      // days absent from the stream were never emitted (no deltas) — the
      // batch series has a row for every change day, so they must agree
      acc += streamed.getOrElse(d, 0L)
      assert(acc === open, s"day $d")
    }
  }

  test("streaming heavy-hitter candidates verify to the exact batch answer") {
    EventStream.runToMemory(
      EventStream.trendingCandidates(EventStream.read(spark, streamDir)),
      "trending", OutputMode.Complete())
    val row = spark.table("trending").collect()(0)
    val cands = row.getSeq[Long](0).toSet
    val total = row.getLong(1)
    val e = Tables.events(spark, sfDir)
    assert(total === e.count())
    // verification recount over the streamed candidates == batch q138
    import spark.implicits._
    val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
    val verified = exact.filter { case (u, n) =>
      cands.contains(u) &&
        n * graft.operators.EventQueries.HeavyFrac >= total
    }.toMap
    val batch = graft.operators.EventQueries.q138HeavyHitters(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(verified === batch,
      "streamed candidate superset lost a heavy hitter")
  }

  test("streaming concurrency profiles compose to the batch q185 peaks") {
    val dir = Files.createTempDirectory("graft_conc_stream").toString
    val real = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    real.coalesce(1).write.mode("overwrite").parquet(dir)
    val maxTs = real.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    // last REAL delta day: the close window of the final event (sentinel
    // flush days sit 72h+ beyond and must not leak into the comparison)
    val maxRealDay = (maxTs.getTime +
      graft.operators.EventQueries.CoverageWindowMs) / 86400000L
    def flush(hoursAfter: Int): Unit = {
      import spark.implicits._
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + hoursAfter * 3600000L),
        -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = EventStream.concurrencyProfile(spark, EventStream.read(spark, dir),
        graft.operators.EventQueries.CoverageWindowMs).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("t_conc").start()
    try {
      q.processAllAvailable() // batch 1: all real deltas, days open
      flush(72); q.processAllAvailable() // watermark passes every midnight
      flush(96); q.processAllAvailable() // next trigger fires the timeouts
    } finally q.stop()
    val streamed = spark.table("t_conc")
      .filter(col("day") <= maxRealDay) // sentinel days excluded
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("max_prefix"), r.getAs[Long]("net_change"),
          r.getAs[Long]("n_changes"))).toMap
    val batch = graft.operators.EventQueries.q185PeakConcurrency(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("day"),
        r.getAs[Long]("peak_concurrency"), r.getAs[Long]("n_changes")))
      .sortBy(_._1)
    // same day set, same change counts, and the associative composition —
    // carry-in prefix + day-local max prefix — reproduces the batch peaks
    assert(streamed.keySet === batch.map(_._1).toSet)
    var carry = 0L
    batch.foreach { case (d, peak, nChanges) =>
      val (mx, net, n) = streamed(d)
      assert(n === nChanges, s"day $d n_changes")
      assert(carry + mx === peak, s"day $d peak")
      carry += net
    }
  }
  test("streaming bitmap blocks reproduce the batch q230 at both grains") {
    val dir = Files.createTempDirectory("graft_bitmap_stream").toString
    val real = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    real.coalesce(1).write.mode("overwrite").parquet(dir)
    val maxTs = real.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    def flush(hoursAfter: Int): Unit = {
      import spark.implicits._
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + hoursAfter * 3600000L),
        -1L, "flush", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = EventStream.activeUserBitmaps(EventStream.read(spark, dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("t_bitmap").start()
    try {
      q.processAllAvailable()
      flush(72); q.processAllAvailable()
      flush(120); q.processAllAvailable()
    } finally q.stop()
    val maxRealDay = maxTs.getTime / 86400000L
    // drained words, sentinel flush rows excluded (user -1 -> blk -1)
    val words = spark.table("t_bitmap")
      .filter(col("day") <= maxRealDay && col("blk") >= 0)
    // compose both grains AT THE SINK from the same landed words
    val daily = words.groupBy("day")
      .agg(sum(expr("bit_count(word)")).cast("long").as("day_users"))
    val weekly = words.groupBy(expr("day DIV 7").as("wk"), col("blk"))
      .agg(expr("bit_or(word)").as("ww"))
      .groupBy("wk").agg(sum(expr("bit_count(ww)")).cast("long").as("week_users"))
    val streamed = daily.withColumn("wk", expr("day DIV 7"))
      .join(weekly, Seq("wk"))
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("day_users"), r.getAs[Long]("week_users"))).toMap
    val batch = graft.operators.EventQueries.q230BitmapDistinct(spark, sfDir)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("day_users"), r.getAs[Long]("week_users"))).toMap
    assert(streamed === batch)
  }

  test("burn-rate panel composed from the landed streaming rollup equals batch q260") {
    import org.apache.spark.sql.streaming.OutputMode
    EventStream.runToMemory(
      EventStream.errorRates(EventStream.read(spark, streamDir)),
      "t_err_hourly", OutputMode.Append())
    val landed = spark.table("t_err_hourly")
    assert(landed.count() > 0)
    // compose the multi-window burn report from the LANDED hourly series
    // with the same helper the batch query uses
    val streamed = graft.operators.EventQueries.burnFromHourly(landed)
      .collect().map(r => r.getAs[Long]("hour") -> r.toSeq).toMap
    val batch = graft.operators.EventQueries.q260BurnRate(spark, sfDir)
      .collect().map(r => r.getAs[Long]("hour") -> r.toSeq).toMap
    // every hour the watermark closed must match batch cell-for-cell
    // (burn windows whose 6h lookback is fully closed)
    val closed = streamed.keys.filter(h =>
      (h - 5 to h).forall(k => streamed.contains(k) == batch.contains(k)))
    assert(closed.nonEmpty)
    closed.foreach { h =>
      assert(streamed(h) === batch(h), s"hour $h diverges")
    }
  }

  test("landed day fingerprints equal batch; a tampered replica is located") {
    EventStream.runToMemory(
      EventStream.dayFingerprints(EventStream.read(spark, streamDir)),
      "t_day_fp", OutputMode.Append())
    val landed = spark.table("t_day_fp")
    assert(landed.count() > 0)
    def batchFp(df: org.apache.spark.sql.DataFrame) = df
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        graft.functions.Text.portableHash(concat_ws("|",
          col("event_id").cast("string"),
          expr("CAST(ROUND(value*100) AS BIGINT)").cast("string")))
          .cast("decimal(38,0)").as("h"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("h")).cast("decimal(38,0)").as("fp"))
    // parity: every landed day carries the exact batch fingerprint
    val batch = batchFp(Tables.events(spark, sfDir))
    assert(landed.as("s").join(batch.as("b"), Seq("day"))
      .filter(col("s.n") =!= col("b.n") ||
        col("s.fp") =!= col("b.fp")).count() === 0L,
      "landed fingerprints must equal batch recompute")
    // reconciliation: a replica with one-cent tampering on a key slice is
    // located to exactly the days that contain tampered rows
    val tampered = Tables.events(spark, sfDir)
      .withColumn("value", when(col("event_id") % 1009 === 0,
        col("value") + 0.01).otherwise(col("value")))
    val tamperedDays = Tables.events(spark, sfDir)
      .filter(col("event_id") % 1009 === 0)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
      .distinct().collect().map(_.getLong(0)).toSet
    val flagged = batch.as("a").join(batchFp(tampered).as("t"), Seq("day"))
      .filter(col("a.fp") =!= col("t.fp"))
      .select(col("day")).collect().map(_.getLong(0)).toSet
    assert(flagged == tamperedDays,
      s"checksum pass must locate exactly the tampered days: $flagged vs $tamperedDays")
  }

  test("XmR panel composed from the landed daily revenue equals batch q316") {
    EventStream.runToMemory(
      EventStream.dailyRevenue(EventStream.read(spark, streamDir)),
      "t_daily_rev", OutputMode.Append())
    val landed = spark.table("t_daily_rev")
    assert(landed.count() > 0)
    // every landed day must carry the exact batch total (cell parity)
    val batchDays = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        expr("CAST(ROUND(value*100) AS BIGINT)").as("v"))
      .groupBy(col("day")).agg(sum(col("v")).as("x"))
    val diverging = landed.as("s")
      .join(batchDays.as("b"), Seq("day"))
      .filter(col("s.x") =!= col("b.x")).count()
    assert(diverging === 0, "landed daily totals must equal batch")
    // the shared composition over the landed slice equals the batch
    // composition over the SAME slice (the watermark may hold back the
    // final day, so restrict batch to landed days)
    val landedDays = landed.select(col("day"))
    val streamedPanel = graft.operators.EventQueries
      .xmrFromDays(landed).collect().map(_.toSeq)
    val batchPanel = graft.operators.EventQueries
      .xmrFromDays(batchDays.join(landedDays, Seq("day")))
      .collect().map(_.toSeq)
    assert(streamedPanel === batchPanel, "XmR panel diverges on the landed slice")
  }
}
