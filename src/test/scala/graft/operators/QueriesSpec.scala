package graft.operators

import graft.{Session, SparkSpec, SparkEntry, Tables}
import graft.plans.PlanFingerprint
import java.nio.file.{Files, Paths}
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Cross-checks of the operator inventory at sf0.001: every query runs,
  * flagship invariants hold, and a few results are re-derived through an
  * independent spark.sql formulation (the full DuckDB oracle runs via
  * graft.Verify + tools/check_oracle.py — see .claude/skills/verify).
  */
class QueriesSpec extends SparkSpec {

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and every oracle key exists in queries") {
    // Each query runs through Bench's Session.run (noop sink; count() would
    // let Catalyst prune columns), and its plans must match the committed
    // manifest: per query, the md5 of its oracle SQL and the sorted
    // multiset of analyzed-plan fingerprints of EVERY plan it executes,
    // build-time checkpoint/observe/collect jobs included. A refactor
    // that claims "no plan changed" is proven by this file staying put.
    // After a deliberate plan change, copy the observed manifest this
    // test writes under target/ over plans/manifest_sf0.001.tsv.
    val oracles = SparkEntry.oracleSql
    oracles.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle without query: $k")
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(PlanFingerprint.md5(
          PlanFingerprint.canonicalText(qe.analyzed.toString))): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val observed = try SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, q) =>
        Session.run(spark)(q(spark, sfDir)).get
        assert(ListenerBridge.waitUntilEmpty(spark.sparkContext, 60000L),
          s"$name: listener bus did not drain")
        val fps = Iterator.continually(plans.poll()).takeWhile(_ != null)
          .toSeq.sorted
        val oracle = oracles.get(name).map(PlanFingerprint.md5).getOrElse("-")
        name -> s"$name\t$oracle\t${fps.mkString(",")}"
    } finally spark.listenerManager.unregister(listener)
    val file = "manifest_sf0.001.tsv"
    val committed = Paths.get("plans", file)
    val expected =
      if (!Files.exists(committed)) Map.empty[String, String]
      else Files.readAllLines(committed).asScala
        .map(l => l.takeWhile(_ != '\t') -> l).toMap
    val got = observed.toMap
    val drifted = (got.keySet ++ expected.keySet).toSeq.sorted
      .filter(n => got.get(n) != expected.get(n))
    if (drifted.nonEmpty) {
      Files.createDirectories(Paths.get("target"))
      Files.write(Paths.get("target", file), observed.map(_._2).asJava)
    }
    assert(drifted.isEmpty, s"${drifted.size} queries drifted from " +
      s"$committed (observed manifest: target/$file): " +
      drifted.take(40).mkString(", "))
  }

  test("production-hash fingerprint twins run with identical shapes") {
    TextQueries.productionQueries.foreach { case (name, q) =>
      val base = name.stripSuffix("_prod")
      val prod = q(spark, sfDir)
      val oracleMode = TextQueries.queries(base)(spark, sfDir)
      assert(prod.schema === oracleMode.schema, s"$name schema drifted")
      assert(prod.count() >= 0, s"$name failed")
    }
    // winnowing emits one row per doc with >= w+2 tokens no matter which
    // hash family picked the window minima — counts must agree exactly
    val n = TextQueries.productionQueries("q57_winnow_fingerprint_prod")(
      spark, sfDir).count()
    assert(n === TextQueries.q57Fingerprint(spark, sfDir).count())
  }

  test("q01 aggregates reconcile with an independent SQL formulation") {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("li_v")
    val expect = spark.sql(
      """SELECT CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT)
        |FROM li_v WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |""".stripMargin).collect()(0).getLong(0)
    val got = CoreQueries.q01Agg(spark, sfDir)
      .agg(sum(col("sum_qty_c"))).collect()(0).getLong(0)
    assert(got === expect)
  }

  test("anti join + semi join partition the customer set") {
    val c = Tables.customer(spark, sfDir).count()
    val without = CoreQueries.q14AntiJoin(spark, sfDir).count()
    val withOrders = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(without + withOrders === c)
  }

  test("top-k returns exactly k rows in descending order") {
    val rows = CoreQueries.q30TopK(spark, sfDir).collect()
    assert(rows.length === 10)
    val totals = rows.map(_.getDecimal(2).doubleValue())
    assert(totals.sameElements(totals.sorted.reverse))
    // ordering is total (price desc, then key asc) so the set is deterministic
  }

  test("set ops: except + intersect-complement consistency") {
    val n = Tables.nation(spark, sfDir).count()
    val all = CoreQueries.q33UnionDistinct(spark, sfDir).count()
    assert(all <= n)
  }

  test("PPJoin prefix filter returns exactly the all-pairs Jaccard rows") {
    // the prefix filter is an EXACT pruner: with the df cap non-binding,
    // q65 must emit precisely q54's (doc_a, doc_b, n_inter) set
    val allPairs = TextQueries.q54NgramJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("n_inter")).collect().toSet
    val ppjoin = TextQueries.q65PpjoinJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("n_inter")).collect().toSet
    assert(ppjoin === allPairs)
    assert(allPairs.nonEmpty)
  }

  test("containment dominates Jaccard and subsumes high-Jaccard pairs") {
    // overlap = n_inter/min(|A|,|B|) ≥ n_inter/|A∪B| = Jaccard, so every
    // q54 pair at Jaccard ≥ 0.6 must reappear in q106, with the same
    // intersection count and containment ≥ its Jaccard
    val jac = TextQueries.q54NgramJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val cont = TextQueries.q106Containment(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("containment"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(cont.nonEmpty)
    jac.filter(_._2._2 >= 0.6).foreach { case (pair, (nInter, j)) =>
      val (cInter, c) = cont(pair)
      assert(cInter === nInter && c >= j, pair)
    }
  }

  test("q107 rules are internally consistent; q108 rows partition each source") {
    val rules = GraphQueries.q107Copurchase(spark, sfDir).collect()
    assert(rules.nonEmpty)
    rules.foreach { r =>
      val (nAb, nA, nB) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nAb <= nA && nAb <= nB, "support bounded by item frequencies")
      assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0, "confidence in (0,1]")
      assert(r.getLong(0) < r.getLong(1), "canonical part_a < part_b")
    }
    val trans = EventQueries.q108MarkovTransitions(spark, sfDir).collect()
    // each source type's transition counts sum exactly to its row total,
    // so the estimated distribution rows per from_type are complete
    trans.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sum === rows.head.getLong(3))
    }
  }

  test("q109 bars bound open/close by high/low; q110 accounting reconciles") {
    EventQueries.q109OhlcBars(spark, sfDir).collect().foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h && l <= c && c <= h, r)
      assert(r.getLong(1) >= 1)
    }
    val g = EventQueries.q110GrowthAccounting(spark, sfDir)
      .orderBy(col("day")).collect()
    // new + returning = active; cumulative = running sum of new; the final
    // cumulative equals the distinct user population
    g.foreach(r => assert(r.getLong(2) + r.getLong(3) === r.getLong(1), r))
    assert(g.map(_.getLong(2)).sum === g.last.getLong(4))
    val users = graft.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    assert(g.last.getLong(4) === users)
  }

  test("q112 shares are monotone to 1.0; q113 set estimates track exact sets") {
    val abc = CoreQueries.q112AbcClasses(spark, sfDir)
      .orderBy(col("cum_share")).collect()
    assert(math.abs(abc.last.getDouble(2) - 1.0) < 1e-9)
    // descending revenue order means shares rise and classes never regress
    // (sliding over a 1-row result yields a short window — guard it; a
    // single dominant part may start the sequence at B or C legitimately)
    assert(abc.map(_.getDouble(2)).sliding(2)
      .forall(p => p.length < 2 || p(0) <= p(1)))
    val classes = abc.map(_.getString(3))
    assert(classes.mkString.matches("A*B*C*"), classes.distinct.mkString)
    // accuracy is asserted at sf0.01: its ~2000-part sets dominate the
    // register count, which the raw estimator (deliberately no linear-
    // counting branch — ln is not bit-portable) requires; sf0.001's ~200
    // parts sit below m=256 where ANY raw HLL floors at ~0.72m
    val sketchDir = "/root/testdata/sf0.01"
    val est = CoreQueries.q113HllSetAlgebra(spark, sketchDir).collect()(0)
    val (ea, eb, eu, eo) = (est.getDouble(0), est.getDouble(1),
      est.getDouble(2), est.getDouble(3))
    assert(eu <= ea + eb + 1e-9 && eo >= -0.1 * eu, est)
    val li = graft.Tables.lineitem(spark, sketchDir)
      .join(graft.Tables.orders(spark, sketchDir),
        col("l_orderkey") === col("o_orderkey"))
    def parts(p: String) = li.filter(col("o_orderpriority") === p)
      .select(col("l_partkey")).distinct().collect().map(_.getLong(0)).toSet
    val (va, vb) = (parts("1-URGENT"), parts("2-HIGH"))
    val tol = 0.15 // a few σ of the sketch's 1.04/√m
    assert(math.abs(ea - va.size) <= tol * va.size, s"$ea vs ${va.size}")
    assert(math.abs(eb - vb.size) <= tol * vb.size, s"$eb vs ${vb.size}")
    assert(math.abs(eu - (va ++ vb).size) <= tol * (va ++ vb).size)
    // inclusion-exclusion accumulates the THREE sketches' errors, so the
    // overlap estimate's absolute error scales with the union magnitude,
    // not the true intersection — the known weakness of HLL intersections,
    // asserted as such
    val inter = (va & vb).size
    assert(math.abs(eo - inter) <= 3 * tol * (va ++ vb).size, s"$eo vs $inter")
  }

  test("q114 deciles tile the corpus and lift reconciles with global rates") {
    val rows = CurationQueries.q114DecileLift(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).sorted.sameElements(1 to 10))
    val (nAll, respAll) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(nAll === nDocs, "deciles must tile the whole corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      // lift definition holds exactly: lift = (n_resp * n_all)/(n_docs * resp_all)
      assert(math.abs(r.getDouble(4) -
        r.getLong(2).toDouble * nAll / (r.getLong(1) * respAll)) < 1e-12, r)
    }
  }

  test("q164 AUC/KS match the brute-force pairwise definitions") {
    val Array(r) = CurationQueries.q164Auc(spark, sfDir).collect()
    // ground truth from the O(n²) definitions over the same (score, resp)
    val pairs = CurationQueries.q99HashClassifier(spark, sfDir)
      .select(col("doc_id"), col("score"))
      .join(graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("score"), (col("n_chars") >= 300).cast("long").as("resp"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val pos = pairs.filter(_._2 == 1L).map(_._1)
    val neg = pairs.filter(_._2 == 0L).map(_._1)
    assert(r.getAs[Long]("n_pos") === pos.length.toLong)
    assert(r.getAs[Long]("n_neg") === neg.length.toLong)
    var wins = 0L; var ties = 0L
    for (p <- pos; n <- neg) {
      if (p > n) wins += 1 else if (p == n) ties += 1
    }
    val auc = (wins + 0.5 * ties) / (pos.length.toDouble * neg.length)
    assert(math.abs(r.getAs[Double]("auc") - auc) < 1e-12, r)
    assert(math.abs(r.getAs[Double]("gini") - (2 * auc - 1)) < 1e-12, r)
    // KS: max CDF gap over the observed score thresholds
    val ks = pairs.map(_._1).distinct.map { s =>
      math.abs(pos.count(_ <= s).toDouble / pos.length -
        neg.count(_ <= s).toDouble / neg.length)
    }.max
    assert(math.abs(r.getAs[Double]("ks") - ks) < 1e-12, r)
  }

  test("q165 matches a serial walk-forward Markov evaluation") {
    val rows = EventQueries.q165MarkovEval(spark, sfDir).collect()
      .map(r => r.getAs[String]("from_type") -> r).toMap
    // serial reference: replay the per-user sequences in Scala
    val evs = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val split = java.time.Instant.parse(
      s"${EventQueries.MarkovSplit}T00:00:00Z").toEpochMilli
    val pairs = evs.groupBy(_._1).values.flatMap { es =>
      es.sortBy(e => (e._2, e._3)).toSeq.sliding(2).collect {
        case Seq(a, b) => (a._4, b._4, a._2, b._2)
      }
    }.toSeq
    val train = pairs.filter(_._4 < split)
    val test = pairs.filter(_._3 >= split)
    val model = train.groupBy(_._1).map { case (f, ps) =>
      f -> ps.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (t, n) => (-n, t) }.head._1
    }
    for ((f, tests) <- test.groupBy(_._1)) {
      val r = rows(f)
      assert(r.getAs[Long]("n_test") === tests.size.toLong, f)
      val hits = model.get(f).map(p => tests.count(_._2 == p)).getOrElse(0)
      assert(r.getAs[Long]("n_hit") === hits.toLong, f)
      assert(Option(r.getAs[String]("predicted")) === model.get(f), f)
    }
    val (hitAll, testAll) = (test.count(p => model.get(p._1).contains(p._2)),
      test.size)
    rows.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("acc_overall") -
        hitAll.toDouble / testAll) < 1e-12)
    }
  }

  test("q166 conserves every purchase's cents exactly across the U curve") {
    val rows = EventQueries.q166UShapeAttribution(spark, sfDir).collect()
    val bands = rows.map(r => (r.getString(0), r.getString(1))).toSet
    // channel/band domains: touches carry positions, direct carries none
    assert(bands.forall { case (c, b) =>
      (Set("click", "view").contains(c) &&
        Set("only", "first", "middle", "last").contains(b)) ||
        (c == "direct" && b == "none")
    }, bands)
    // exact conservation: credit across all rows == total purchase cents
    val total = rows.map(_.getAs[Long]("credit_c")).sum
    val purchases = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(expr("cast(round(value*100) as bigint)")))
      .collect()(0).getLong(0)
    assert(total === purchases)
    // first/last bands exist and dominate middle per the 40/20/40 curve
    val byBand = rows.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getAs[Long]("credit_c")).sum).toMap
    for (b <- Seq("first", "last"))
      assert(byBand.getOrElse(b, 0L) > byBand.getOrElse("middle", 0L), byBand)
  }

  test("q167 components re-add to the series within truncation bounds") {
    val rows = EventQueries.q167SeasonalDecomp(spark, sfDir).collect()
    val byDay = rows.map(r => r.getAs[Long]("day") -> r).toMap
    val days = byDay.keys.toSeq.sorted
    val dset = days.toSet
    for (d <- days) {
      val r = byDay(d)
      val hasTrend = r.getAs[Any]("trend_e6") != null
      // trend defined exactly where all 7 consecutive days exist
      assert(hasTrend === (-3L to 3L).forall(o => dset(d + o)), s"day $d")
      if (hasTrend) {
        // v = trend + seasonal + remainder up to two truncating divisions
        val recomposed = r.getAs[Long]("trend_e6") +
          r.getAs[Long]("seasonal_e6") + r.getAs[Long]("remainder_e6")
        assert(math.abs(r.getAs[Long]("v_c") * 1000000L - recomposed) <= 2L,
          s"day $d: $r")
      }
    }
    // seasonal index is a pure function of weekday
    val perDow = rows.filter(_.getAs[Any]("seasonal_e6") != null)
      .groupBy(_.getAs[Long]("dow"))
      .view.mapValues(_.map(_.getAs[Long]("seasonal_e6")).distinct.size)
    perDow.foreach { case (dow, n) => assert(n === 1, s"dow $dow") }
  }

  test("q168 cross-correlogram matches a serial Pearson at every lag") {
    val rows = EventQueries.q168LeadLag(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet === (0 to 7).toSet)
    val daily = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (k <- 0 to 7) {
      val pairs = daily.toSeq.flatMap { case (d, (_, p)) =>
        daily.get(d - k).map { case (c, _) => (c.toDouble, p.toDouble) }
      }
      assert(rows(k).getAs[Long]("n_days") === pairs.size.toLong, s"lag $k")
      val n = pairs.size
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(t => t._1 * t._2).sum
      val sxx = pairs.map(t => t._1 * t._1).sum
      val syy = pairs.map(t => t._2 * t._2).sum
      val num = n * sxy - sx * sy
      val den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
      if (den > 0)
        assert(math.abs(rows(k).getAs[Double]("r") - num / den) < 1e-9,
          s"lag $k")
    }
  }

  test("q173 LTV curves are cumulative and reconcile with total revenue") {
    val rows = EventQueries.q173CohortLtv(spark, sfDir).collect()
    // per cohort: cum_rev is the running sum of rev over age order
    rows.groupBy(_.getAs[Long]("cohort_week")).foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("age_week"))
      var acc = 0L
      sorted.foreach { r =>
        acc += r.getAs[Long]("rev_c")
        assert(r.getAs[Long]("cum_rev_c") === acc, s"cohort $cw")
        assert(r.getAs[Long]("age_week") >= 0L, s"cohort $cw")
      }
    }
    // final cumulative revenue across cohorts == corpus purchase revenue
    val lastPerCohort = rows.groupBy(_.getAs[Long]("cohort_week"))
      .map(_._2.maxBy(_.getAs[Long]("age_week")).getAs[Long]("cum_rev_c"))
      .sum
    val total = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(expr("cast(round(value*100) as bigint)")))
      .collect()(0).getLong(0)
    assert(lastPerCohort === total)
  }

  test("q174 segments tile the purchaser set; scores stay in 1..5") {
    val rows = EventQueries.q174RfmSegments(spark, sfDir).collect()
    val users = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum === users)
    rows.foreach { r =>
      for (c <- Seq("r_score", "f_score", "m_score"))
        assert(r.getAs[Long](c) >= 1L && r.getAs[Long](c) <= 5L, r)
    }
    // ties band to the LOWER score, so heavy ties can leave upper bands
    // empty (e.g. most users' last purchase lands in the final days) —
    // band 1 is always populated and the axis must still discriminate
    val rTotals = rows.groupBy(_.getAs[Long]("r_score"))
      .view.mapValues(_.map(_.getAs[Long]("n_users")).sum).toMap
    assert(rTotals.keySet.min === 1L && rTotals.size >= 2, rTotals)
  }

  test("q182 scorecard reconciles with the q130 per-weekday error sums") {
    val Array(r) = EventQueries.q182ForecastScorecard(spark, sfDir).collect()
    val q130 = EventQueries.q130SeasonalBacktest(spark, sfDir).collect()
    assert(r.getAs[Long]("n_evals") ===
      q130.map(_.getAs[Long]("n_evals")).sum)
    // WAPE and bias definitions hold against a direct recompute
    val daily = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(expr("cast(round(value*100) as bigint)")).as("t"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
    val byDow = daily.groupBy { case (d, _) => (d + 4) % 7 }
    var (sumAct, errM, errN, biasNum) = (BigInt(0), BigInt(0), BigInt(0), BigInt(0))
    for ((_, days) <- byDow) {
      val seq = days.sortBy(_._1).map(_._2)
      for (i <- 1 until seq.length) {
        val a = BigInt(seq(i))
        val predM = seq.take(i).map(BigInt(_)).sum / i
        val predN = BigInt(seq(i - 1))
        sumAct += a; errM += (a - predM).abs; errN += (a - predN).abs
        biasNum += a - predM
      }
    }
    assert(r.getAs[Long]("wape_model_e6") === (errM * 1000000 / sumAct).toLong)
    assert(r.getAs[Long]("wape_naive_e6") === (errN * 1000000 / sumAct).toLong)
    val bias = if (biasNum < 0) -((-biasNum) * 1000000 / sumAct)
      else biasNum * 1000000 / sumAct
    assert(r.getAs[Long]("bias_e6") === bias.toLong)
    if (errM > 0)
      assert(r.getAs[Long]("skill_e6") === (errN * 1000000 / errM).toLong)
  }

  test("q183 DAU/MAU equals distinct recounts on every day") {
    val rows = EventQueries.q183Stickiness(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val userDays = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val activeDays = userDays.map(_._2).distinct
    assert(rows.keySet === activeDays.toSet)
    for (d <- activeDays) {
      val dau = userDays.count(_._2 == d).toLong
      val mau = userDays.filter { case (_, ad) =>
        ad >= d - (EventQueries.MauDays - 1) && ad <= d
      }.map(_._1).distinct.length.toLong
      val r = rows(d)
      assert(r.getAs[Long]("dau") === dau, s"day $d")
      assert(r.getAs[Long]("mau") === mau, s"day $d")
      assert(dau <= mau)
      assert(r.getAs[Long]("stickiness_e6") ===
        (BigInt(dau) * 1000000 / BigInt(mau)).toLong, s"day $d")
    }
  }

  test("q184 new+repeat tiles weekly revenue; every user is new once") {
    val rows = EventQueries.q184NewVsRepeat(spark, sfDir).collect()
    val total = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(expr("cast(round(value*100) as bigint)")), count(lit(1)))
      .collect()(0)
    assert(rows.map(_.getAs[Long]("revenue_c")).sum === total.getLong(0))
    assert(rows.map(_.getAs[Long]("n_purchases")).sum === total.getLong(1))
    rows.foreach { r =>
      assert(r.getAs[Long]("new_revenue_c") <= r.getAs[Long]("revenue_c"), r)
    }
    // the first observed week is 100% new revenue
    val first = rows.minBy(_.getAs[Long]("week"))
    assert(first.getAs[Long]("new_share_e6") === 1000000L)
  }

  test("q185 peak concurrency equals a serial sweep over open windows") {
    val rows = EventQueries.q185PeakConcurrency(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("peak_concurrency")).toMap
    val opens = graft.Tables.events(spark, sfDir)
      .select(expr("unix_millis(ts)")).collect().map(_.getLong(0)).sorted
    val closes = opens.map(_ + EventQueries.CoverageWindowMs)
    // serial sweep: walk the merged delta stream
    val deltas = (opens.map((_, 1)) ++ closes.map((_, -1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    var level = 0L
    val peaks = scala.collection.mutable.Map[Long, Long]()
    deltas.foreach { case (ms, net) =>
      level += net
      val day = ms / 86400000L
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), level)
    }
    assert(rows.keySet === peaks.keySet)
    rows.foreach { case (d, p) => assert(p === peaks(d), s"day $d") }
  }

  test("q117 integer-sum moments agree with Spark's streaming aggregates") {
    val exact = CoreQueries.q117CorrRegression(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val streaming = graft.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("cv"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("sl"))
      .collect().map(r => r.getString(0) -> r).toMap
    exact.foreach { case (flag, r) =>
      val s = streaming(flag)
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12)
      assert(math.abs(r.getDouble(2) - s.getDouble(1)) < 1e-9, flag)
      // integer-cents moments scale covariance/slope by 100² / 100⁰
      assert(math.abs(r.getDouble(3) / 10000.0 - s.getDouble(2)) <
        math.abs(s.getDouble(2)) * 1e-9, flag)
      assert(math.abs(r.getDouble(4) - s.getDouble(3)) <
        math.abs(s.getDouble(3)) * 1e-9, flag)
    }
  }

  test("q118 digit shares tile to one; q119 flags only sub-hour gaps") {
    val rows = CoreQueries.q118Benford(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    rows.foreach(r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(3) - r.getDouble(4)) < 1e-15))
    val flagged = EventQueries.q119DuplicateCharges(spark, sfDir).collect()
    flagged.foreach(r =>
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 3600, r))
  }

  test("q120 flags exceed the 2σ bound; q121 indexes partition the revenue") {
    EventQueries.q120AnomalousDays(spark, sfDir).collect().foreach { r =>
      // the exact filter is strict but its floored e6 ratio can land ON the
      // boundary, so the reported statistic is asserted inclusively
      assert(r.getLong(3) >= 4000000L, s"z² must meet the 4e6 threshold: $r")
    }
    val season = EventQueries.q121Seasonality(spark, sfDir).collect()
    assert(season.map(_.getLong(0)).toSet.subsetOf((0L to 6L).toSet))
    season.foreach(r => assert(r.getLong(3) > 0L))
    // weekday sums partition the total purchase revenue exactly
    val total = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(sum(graft.functions.TSql.cents(col("value")))).collect()(0).getLong(0)
    assert(season.map(_.getLong(2)).sum === total)
  }

  test("portable HLL estimates within sketch error of the exact counts") {
    val exact = SparkEntry.queries("q02_count_distinct")(spark, sfDir)
      .select(col("l_returnflag"), col("n_orders")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SparkEntry.queries("q09_portable_hll")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (flag, e) =>
      val err = math.abs(e - exact(flag)) / exact(flag)
      // raw (uncorrected) regime at m=1024: standard error ~1.04/sqrt(m)
      // ≈ 3%; allow small-load bias headroom at sf0.001
      assert(err < 0.15, s"$flag est=$e exact=${exact(flag)} err=$err")
    }
  }

  test("q101 sketch rollup: per-group rows equal q09; merged ALL tracks exact NDV") {
    val rollup = SparkEntry.queries("q101_hll_rollup")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val q09 = SparkEntry.queries("q09_portable_hll")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // identical construction ⇒ bit-identical per-group estimates
    q09.foreach { case (flag, e) => assert(rollup(flag) === e, flag) }
    // the merged sketch estimates the union's NDV within sketch error
    val exact = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey")).distinct().count()
    val err = math.abs(rollup("ALL") - exact) / exact
    assert(err < 0.15, s"ALL est=${rollup("ALL")} exact=$exact err=$err")
    // merging can only raise registers: ALL ≤ sum of group estimates and
    // ≥ the largest group estimate
    assert(rollup("ALL") >= q09.values.max * 0.99)
    assert(rollup("ALL") <= q09.values.sum * 1.01)
  }

  test("q103 funnel is ordered-monotone; q104 cohorts are self-complete") {
    val f = SparkEntry.queries("q103_event_funnel")(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // each stage keeps a subset of the previous one; lags are nonnegative
    assert(f("1_view")._1 >= f("2_click")._1)
    assert(f("2_click")._1 >= f("3_purchase")._1)
    assert(f.values.forall(_._2 >= 0))
    val r = SparkEntry.queries("q104_retention_cohorts")(spark, sfDir).collect()
    // offset 0 = the cohort's own first week: everyone is active in it
    r.filter(_.getLong(1) == 0L).foreach { row =>
      assert(row.getLong(2) === row.getLong(3), s"cohort ${row.getLong(0)}")
      assert(row.getLong(4) === 1000000L)
    }
    // retention never exceeds the cohort
    assert(r.forall(row => row.getLong(2) <= row.getLong(3)))
  }

  test("cost-based Jaccard planner switches on skewed shingle postings") {
    import spark.implicits._
    // uniform postings: every shingle shared by exactly 2 docs → fanout 2
    val uniform = (1L to 500L).flatMap(h =>
      Seq((h * 2, h), (h * 2 + 1, h))).toDF("doc_id", "h")
    assert(TextQueries.candidateFanout(uniform) === 2.0)

    // one corpus-wide stop-shingle in 500 docs among 500 rare shingles:
    // the df-weighted fanout is dominated by the hot posting
    val skewed = ((1L to 500L).map(d => (d, 0L)) ++
      (1L to 500L).map(h => (h, h))).toDF("doc_id", "h")
    val fan = TextQueries.candidateFanout(skewed)
    assert(fan > TextQueries.FanoutSwitchThreshold, s"fanout $fan")

    // real corpus: short postings (max df ~25) → the direct plan, and the
    // adaptive entry returns exactly q54's rows
    assert(TextQueries.chooseJaccardFormulation(spark, sfDir) === "direct")
    val adaptive = TextQueries.q54Adaptive(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = TextQueries.q54NgramJaccard(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive === direct)
  }

  test("exact dedup keeps one representative per distinct text") {
    val d = Tables.documents(spark, sfDir)
    val distinctTexts = d.select("text").distinct().count()
    assert(TextQueries.q50DedupExact(spark, sfDir).count() === distinctTexts)
  }

  test("knn ranks are a permutation of 1..k per probe") {
    val rows = SimilarityQueries.q60KnnBrute(spark, sfDir)
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n"), min(col("rnk")).as("lo"), max(col("rnk")).as("hi"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === 5L && r.getInt(2) === 1 && r.getInt(3) === 5)
    }
  }

  test("session windows cover all events exactly once") {
    val total = Tables.events(spark, sfDir).count()
    val inSessions = EventQueries.q71Sessions(spark, sfDir)
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(inSessions === total)
  }

  test("fuzzy match emits only within-block near-duplicates") {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    val pairs = FunctionQueries.q92FuzzyMatch(spark, sfDir)
    assert(pairs.count() > 0)
    assert(pairs.filter(col("edit_dist") > 1).count() === 0)
    assert(pairs.filter(col("cust_a") >= col("cust_b")).count() === 0)
    // every reported pair really is distance <= 1 on the full names
    val joined = pairs
      .join(c.select(col("c_custkey").as("cust_a"), col("c_name").as("na")), "cust_a")
      .join(c.select(col("c_custkey").as("cust_b"), col("c_name").as("nb")), "cust_b")
    assert(joined.filter(levenshtein(col("na"), col("nb")) =!= col("edit_dist"))
      .count() === 0)
  }

  test("gap fill densifies each user's span and forward-fills values") {
    val out = FunctionQueries.q93GapFill(spark, sfDir).cache()
    try {
      // contiguous per-user spine: row count == span days
      val spans = out.groupBy("user_id")
        .agg(count(lit(1)).as("n"), min("day").as("lo"), max("day").as("hi"))
        .withColumn("span", datediff(col("hi"), col("lo")) + 1)
      assert(spans.filter(col("n") =!= col("span")).count() === 0)
      // the first row per user is observed, so the fill is never null
      assert(out.filter(col("filled_value_c").isNull).count() === 0)
      // gap rows exist (the corpus has inactive days) and carry 0 events
      assert(out.filter(col("status") === "gap").count() > 0)
      assert(out.filter(col("status") === "gap" && col("n_events") =!= 0)
        .count() === 0)
    } finally out.unpersist()
  }

  test("bottom-k aggregate equals the window-rank sample formulation") {
    val gate = EventQueries.q91SketchQuantiles(spark, sfDir)
    val prod = EventQueries.q91SketchQuantilesProd(spark, sfDir)
    assert(gate.count() > 0)
    assert(gate.exceptAll(prod).count() === 0)
    assert(prod.exceptAll(gate).count() === 0)
    // the merge path specifically: many partitions, each with partial heaps
    import spark.implicits._
    val rows = (1L to 10000L).map(i => (i % 7, i * 2654435761L % 100000, i))
    val df = rows.toDF("g", "h", "v").repartition(16)
    val agg = df.groupBy(col("g"))
      .agg(graft.functions.Sampling.bottomK(col("h"), col("v"), 5).as("s"))
      .select(col("g"), col("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val expect = rs.map(t => (t._2, t._3)).sorted.take(5)
      val got = agg(g).map(r => (r.getLong(0), r.getLong(1)))
      assert(got === expect, s"group $g")
    }
  }

  test("q123 skyline equals the quadratic NOT EXISTS formulation") {
    val got = CoreQueries.q123Skyline(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    Tables.part(spark, sfDir).createOrReplaceTempView("part_v")
    val naive = spark.sql(
      """WITH p AS (SELECT p_partkey,
        |  CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_c, p_size
        |  FROM part_v)
        |SELECT a.* FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
        |    AND (b.price_c < a.price_c OR b.p_size > a.p_size))""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naive)
    assert(got.nonEmpty)
    // pairwise non-domination within the skyline itself
    for (a <- got; b <- got if a != b)
      assert(!(b._2 <= a._2 && b._3 >= a._3 && (b._2 < a._2 || b._3 > a._3)),
        s"$b dominates $a")
  }

  test("q124 closed-form CUSUM equals the serial clamp recursion") {
    val rows = EventQueries.q124CusumShift(spark, sfDir)
      .orderBy(col("day")).collect()
    val daily = rows.map(_.getLong(1))
    val n = daily.length.toLong
    val tot = daily.sum
    // serial max(0, S + d) over BigInt deviations, both directions
    var up = BigInt(0); var dn = BigInt(0)
    rows.zip(daily).foreach { case (r, x) =>
      val d = BigInt(n) * x - tot
      up = (up + d).max(0); dn = (dn - d).max(0)
      assert(r.getDouble(2) === up.toDouble, s"up day ${r.getLong(0)}")
      assert(r.getDouble(3) === dn.toDouble, s"dn day ${r.getLong(0)}")
    }
  }

  test("q126 profile agrees with per-column aggregates") {
    val prof = EventQueriesProfileHelper.profileMap(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val nRows = o.count()
    prof.values.foreach { r => assert(r._1 === nRows) }
    assert(prof("o_orderkey")._3 === nRows, "order key is unique")
    val statuses = o.select(col("o_orderstatus")).distinct().count()
    assert(prof("o_orderstatus")._3 === statuses)
    // numeric min/max round-trip through the padded-string canonicalization
    val (mnK, mxK) = (prof("o_orderkey")._4.toLong, prof("o_orderkey")._5.toLong)
    val Array(expMn, expMx) = o.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
    assert(mnK === expMn && mxK === expMx)
  }

  test("q127 z-statistic reconciles with driver-side IEEE arithmetic") {
    val r = EventQueries.q127AbZtest(spark, sfDir).collect()(0)
    val (na, ca, nb, cb) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val users = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    assert(na + nb === users, "arms partition the user set")
    assert(ca <= na && cb <= nb)
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pp = (ca + cb).toDouble / (na + nb)
    val z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    assert(r.getDouble(4) === pa && r.getDouble(5) === pb)
    assert(r.getDouble(6) === z, "bit-identical z")
  }

  test("q128 attribution partitions the purchase set; channels are known") {
    val out = EventQueries.q128Attribution(spark, sfDir).collect()
    val purchases = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(out.map(_.getLong(1)).sum === purchases)
    assert(out.map(_.getString(0)).toSet
      .subsetOf(Set("none", "stale", "click", "view")))
  }

  test("q129 latency percentiles are ordered and inside the lookback") {
    val rows = EventQueries.q129TimeToConvert(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Set("click", "view")(r.getString(0)))
      val (med, p90, mx) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(0L <= med && med <= p90 && p90 <= mx)
      assert(mx <= EventQueries.AttrWindowMs)
    }
  }

  test("q130 backtest is causal: serial walk-forward reproduces every MAE") {
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("unix_timestamp(ts) DIV 86400").as("day"))
      .agg(sum(expr("CAST(ROUND(value*100) AS BIGINT)")).as("total_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expect = daily.groupBy { case (d, _) => (d + 4) % 7 }
      .filter(_._2.length >= 2).map { case (dow, days) =>
        val errs = days.zipWithIndex.drop(1).map { case ((_, x), i) =>
          val prior = days.take(i).map(_._2)
          (BigInt(x) - prior.map(BigInt(_)).sum / prior.length).abs
        }
        dow -> (errs.length.toLong,
          (errs.sum / errs.length).toLong, errs.max.toLong)
      }
    val got = EventQueries.q130SeasonalBacktest(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === expect)
  }

  test("q131 labels never leak: churned weeks have silent successors") {
    val rows = EventQueries.q131ChurnLabels(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
    val active = rows.map(r => (r._1, r._2)).toSet
    rows.foreach { case (u, w, label) =>
      label match {
        case Some(1L) => assert(!active((u, w + 1)), s"user $u week $w")
        case Some(0L) => assert(active((u, w + 1)), s"user $u week $w")
        case Some(x) => fail(s"unexpected label $x")
        case None => // final observed week: outcome window still open
          assert(rows.filter(_._1 == u).map(_._2).max === w)
      }
    }
  }

  test("q132 negatives are disjoint from positives, capped and deterministic") {
    val out = CurationQueries.q132NegativeSamples(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val positives = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.foreach { case (c, _, p) =>
      assert(!positives((c, p)), s"negative ($c,$p) was actually purchased")
    }
    // per-customer: at most NegK samples, ranks dense from 1
    out.groupBy(_._1).foreach { case (c, rs) =>
      val ranks = rs.map(_._2).sorted
      assert(ranks.length <= CurationQueries.NegK)
      assert(ranks === (1 to ranks.length).toArray, s"customer $c")
    }
    // pure function of the ids: a second run is identical
    val again = CurationQueries.q132NegativeSamples(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSet === again.toSet)
  }

  test("q134 BPE merges equal the serial reference trainer") {
    // serial greedy-left BPE over the collected word counts: the textbook
    // algorithm, no Spark, no string-replace encoding — if the distributed
    // pair counting, tie-breaking, or wrapped-replace application diverges
    // anywhere, the merge tables differ
    val words = Tables.documents(spark, sfDir)
      .selectExpr("explode(split(text, ' ')) AS w")
      .groupBy("w").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val seqs = collection.mutable.ArrayBuffer(
      words.map { case (w, c) =>
        (collection.mutable.ArrayBuffer(w.map(_.toString): _*), c) }: _*)
    val expect = (1 to CurationQueries.BpeRounds).map { rank =>
      val pc = collection.mutable.Map[(String, String), Long]()
      for ((s, c) <- seqs; i <- 0 until s.length - 1)
        pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + c
      val ((l, r), f) = pc.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.head
      for ((s, _) <- seqs) {
        var i = 0
        while (i < s.length - 1) {
          if (s(i) == l && s(i + 1) == r) { s(i) = l + r; s.remove(i + 1) }
          else i += 1
        }
      }
      (rank, l, r, l + r, f)
    }
    val got = CurationQueries.q134BpeTrain(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.toSeq === expect)
  }

  test("q135 BPE application: conservation and compression invariants") {
    val rows = CurationQueries.q135BpeApply(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir).count()
    assert(rows.length === docs, "every document tokenizes")
    rows.foreach { r =>
      val (nw, nc, nb, comp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nb >= nw, "a word never drops below one token")
      assert(nb <= nc, "merges only shrink the symbol count")
      assert(comp >= 1000000L, "compression ratio is >= 1")
    }
    // merges actually bit: the corpus compresses strictly overall
    assert(rows.map(_.getLong(3)).sum < rows.map(_.getLong(2)).sum)
  }

  test("q136 duplicate spans equal the serial reference scan") {
    val k = TextQueries.DupGramChars
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // serial reference: count every k-gram corpus-wide, mark positions of
    // repeated grams, merge overlapping/adjacent marks into spans
    val counts = collection.mutable.Map[String, Int]()
    for ((_, t) <- docs; i <- 0 to t.length - k)
      counts(t.substring(i, i + k)) = counts.getOrElse(t.substring(i, i + k), 0) + 1
    val expect = docs.map { case (id, t) =>
      val marks = (0 to t.length - k)
        .filter(i => counts(t.substring(i, i + k)) > 1)
      var spans = List.empty[(Int, Int)] // (start, end) inclusive, 0-based
      for (i <- marks) spans match {
        case (s0, e0) :: rest if i <= e0 + 1 =>
          spans = (s0, math.max(e0, i + k - 1)) :: rest
        case _ => spans = (i, i + k - 1) :: spans
      }
      val dupChars = spans.map { case (s0, e0) => e0 - s0 + 1 }.sum
      (id, (t.length.toLong, spans.length.toLong, dupChars.toLong,
        math.floor(dupChars * 1000000.0 / t.length).toLong))
    }.toMap
    val got = TextQueries.q136DupSpans(spark, sfDir).collect().map { r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }.toMap
    assert(got === expect)
    assert(expect.values.exists(_._2 > 0), "corpus exercises the detector")
  }

  test("q125 source overlap: symmetric bounds hold pairwise") {
    val rows = CurationQueries.q125SourceOverlap(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (inter, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (jac, cont) = (r.getDouble(5), r.getDouble(6))
      assert(r.getString(0) < r.getString(1), "canonical pair order")
      assert(inter <= math.min(na, nb))
      assert(jac > 0.0 && jac <= 1.0 && cont >= jac && cont <= 1.0)
    }
  }

  test("q197 maintenance terms tile the direct join view") {
    val maintained = CoreQueries.q197JoinViewMaintenance(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_lines"),
        r.getAs[Long]("revenue_c"))).toMap
    val direct = graft.Tables.orders(spark, sfDir)
      .join(graft.Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(l_extendedprice*100) as bigint)")).as("rev"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(maintained === direct,
      "delta-algebra merge must equal the full recompute")
  }

  test("q198 event study: windows partition the slice, lift sign matches") {
    val rows = CoreQueries.q198EventStudy(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pre, post) = (r.getAs[Long]("pre_rev_c"), r.getAs[Long]("post_rev_c"))
      val lift = r.getAs[Long]("lift_e6")
      assert(pre > 0)
      assert((lift >= 0) === (post >= pre), r)
      val expect = if (post >= pre) (post - pre) * 1000000L / pre
        else -((pre - post) * 1000000L / pre)
      assert(lift === expect, r)
      assert(r.getAs[Long]("pre_daily_c") === pre / CoreQueries.EventStudyDays)
    }
  }

  test("q195 hazard curve equals a serial life-table recount") {
    val rows = EventQueries.q195HazardCurve(spark, sfDir).collect()
      .map(r => r.getAs[Long]("week") -> r).toMap
    val spans = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_millis(ts)")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(ts => (ts.map(_._2).min, ts.map(_._2).max))
      .values.toSeq
    val corpusEnd = spans.map(_._2).max
    val wk = 604800000L
    val classified = spans.map { case (f, l) =>
      ((l - f) / wk, l + EventQueries.ChurnHorizonWeeks * wk <= corpusEnd)
    }
    val maxWeek = classified.map(_._1).max
    (0L to maxWeek).foreach { w =>
      val atRisk = classified.count(_._1 >= w).toLong
      val churned = classified.count(c => c._1 == w && c._2).toLong
      val r = rows(w)
      assert(r.getAs[Long]("n_at_risk") === atRisk, s"week $w at-risk")
      assert(r.getAs[Long]("n_churned") === churned, s"week $w churns")
      assert(r.getAs[Long]("hazard_e6") === churned * 1000000L / atRisk)
    }
    assert(rows.keySet === (0L to maxWeek).toSet)
    // everyone still at risk in week 0; the curve's denominators decrease
    assert(rows(0L).getAs[Long]("n_at_risk") === classified.size.toLong)
  }

  test("q196 dwell rows partition the per-user event stream; medians are members") {
    val rows = EventQueries.q196DwellTimes(spark, sfDir).collect()
    val nEvents = graft.Tables.events(spark, sfDir).count()
    val nUsers = graft.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    // every event except each user's last contributes exactly one transition
    assert(rows.map(_.getAs[Long]("n_transitions")).sum === nEvents - nUsers)
    rows.foreach { r =>
      assert(r.getAs[Long]("median_dwell_s") <= r.getAs[Long]("p90_dwell_s"))
      assert(r.getAs[Long]("median_dwell_s") * r.getAs[Long]("n_transitions")
        <= r.getAs[Long]("total_dwell_s") * 2 + r.getAs[Long]("n_transitions"),
        "median can at most double the mean on nonnegative data (Markov-ish sanity)")
    }
  }

  test("q201 resurrection states tile q110's actives; serial recount agrees") {
    val rows = EventQueries.q201Resurrection(spark, sfDir).collect()
      .map(r => r.getAs[Long]("day") -> r).toMap
    val days = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_timestamp(ts) DIV 86400")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = days.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    val expect = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    byUser.values.foreach { ds =>
      ds.zipWithIndex.foreach { case (d, i) =>
        val (n, rt, rs) = expect.getOrElse(d, (0L, 0L, 0L))
        expect(d) =
          if (i == 0) (n + 1, rt, rs)
          else if (d - ds(i - 1) > EventQueries.ResurrectDays) (n, rt, rs + 1)
          else (n, rt + 1, rs)
      }
    }
    assert(rows.keySet === expect.keySet)
    expect.foreach { case (d, (n, rt, rs)) =>
      val r = rows(d)
      assert(r.getAs[Long]("new_users") === n, s"day $d new")
      assert(r.getAs[Long]("retained_users") === rt, s"day $d retained")
      assert(r.getAs[Long]("resurrected_users") === rs, s"day $d resurrected")
      assert(r.getAs[Long]("active_users") === n + rt + rs, s"day $d tile")
    }
  }

  test("q215 Theil-Sen: serial recount, median is a member, consistent with q214") {
    val rows = CoreQueries.q215TheilSen(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val weekly = graft.Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"),
        expr("unix_timestamp(o_orderdate) DIV 604800").as("wk"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    weekly.groupBy(_._1).foreach { case (pri, pts) =>
      val s = pts.sortBy(_._2)
      val slopes = for {
        i <- s.indices; j <- i + 1 until s.length
      } yield {
        val dy = s(j)._3 - s(i)._3; val dw = s(j)._2 - s(i)._2
        if (dy >= 0) dy * 1000000L / dw else -((-dy) * 1000000L / dw)
      }
      val r = rows(pri)
      assert(r.getAs[Long]("n_pairs") === slopes.size.toLong, pri)
      val med = r.getAs[Long]("median_slope_e6")
      assert(slopes.contains(med), s"$pri median must be a pair's slope")
      val sorted = slopes.sorted
      assert(med === sorted((slopes.size - 1) / 2), pri)
      assert(r.getAs[Long]("min_slope_e6") === sorted.head)
      assert(r.getAs[Long]("max_slope_e6") === sorted.last)
    }
  }

  test("q214 Mann-Kendall equals a serial pair count; detects a planted trend") {
    val rows = CoreQueries.q214MannKendall(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val weekly = graft.Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"),
        expr("unix_timestamp(o_orderdate) DIV 604800").as("wk"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    weekly.groupBy(_._1).foreach { case (pri, pts) =>
      val series = pts.sortBy(_._2).map(_._3)
      var s = 0L
      for (i <- series.indices; j <- i + 1 until series.length)
        s += java.lang.Long.signum(series(j) - series(i))
      val r = rows(pri)
      assert(r.getAs[Long]("s_stat") === s, pri)
      val n = series.length.toLong
      assert(r.getAs[Long]("n_weeks") === n)
      assert(r.getAs[Boolean]("is_trending") ===
        (s * s * 18 > 4 * n * (n - 1) * (2 * n + 5)), pri)
    }
    // a strictly increasing synthetic series must flag as trending up:
    // verify the rule itself on a planted series via the same arithmetic
    val planted = (1L to 20L)
    var sUp = 0L
    for (i <- planted.indices; j <- i + 1 until planted.size)
      sUp += java.lang.Long.signum(planted(j) - planted(i))
    val n = planted.size.toLong
    assert(sUp === n * (n - 1) / 2)
    assert(sUp * sUp * 18 > 4 * n * (n - 1) * (2 * n + 5))
  }

  test("q211 rank migration: dense month ranks, deltas reconcile with lags") {
    val rows = CoreQueries.q211RankMigration(spark, sfDir).collect()
    val byMonth = rows.groupBy(_.getAs[Long]("mon"))
    byMonth.foreach { case (m, rs) =>
      val ranks = rs.map(_.getAs[Int]("rnk")).sorted
      assert(ranks === (1 to rs.length).toArray.toSeq, s"month $m ranks dense")
    }
    val byBrand = rows.groupBy(_.getAs[String]("p_brand"))
    byBrand.foreach { case (b, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("mon"))
      ordered.headOption.foreach(r => assert(r.isNullAt(r.fieldIndex("prev_rnk"))))
      ordered.sliding(2).filter(_.length == 2).foreach { pair =>
        val (p, c) = (pair(0), pair(1))
        assert(c.getAs[Int]("prev_rnk") === p.getAs[Int]("rnk"), b)
        assert(c.getAs[Int]("rank_delta") ===
          p.getAs[Int]("rnk") - c.getAs[Int]("rnk"), b)
      }
    }
  }

  test("q212 quality rep keeps the longest member; clusters tile q68") {
    val rows = TextQueries.q212QualityRep(spark, sfDir).collect()
    val cl = TextQueries.q68DedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = cl.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(rows.map(_.getAs[Long]("cluster_rep")).toSet === members.keySet)
    rows.foreach { r =>
      val rep = r.getAs[Long]("cluster_rep")
      val ms = members(rep)
      assert(r.getAs[Long]("n_members") === ms.length.toLong)
      val best = ms.map(id => (chars(id), id)).sortBy(t => (-t._1, t._2)).head
      assert(r.getAs[Long]("best_doc") === best._2, s"cluster $rep")
      assert(r.getAs[Long]("best_chars") === best._1)
      assert(r.getAs[Boolean]("selection_changed") === (best._2 != rep))
    }
  }

  test("q210 session flows conserve mass at every interior node") {
    val rows = EventQueries.q210SessionFlows(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_flows"))
      .toMap
    val nodes = rows.keys.flatMap(k => Seq(k._1, k._2)).toSet -- Set("START", "END")
    nodes.foreach { n =>
      val in = rows.collect { case ((_, t), c) if t == n => c }.sum
      val out = rows.collect { case ((f, _), c) if f == n => c }.sum
      assert(in === out, s"node $n: in $in out $out")
    }
    // START mass = END mass = session count; edge mass = events + sessions
    val starts = rows.collect { case (("START", _), c) => c }.sum
    val ends = rows.collect { case ((_, "END"), c) => c }.sum
    assert(starts === ends)
    val nEvents = graft.Tables.events(spark, sfDir).count()
    assert(rows.values.sum === nEvents + starts,
      "every event emits one out-edge; sessions add their START edge")
  }

  test("q208 ABC-XYZ: cells tile the part universe; thresholds are exact") {
    val rows = CoreQueries.q208AbcXyz(spark, sfDir).collect()
    val nParts = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_partkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_parts")).sum === nParts)
    val cells = rows.map(r => (r.getString(0), r.getString(1))).toSet
    cells.foreach { case (a, x) =>
      assert(Set("A", "B", "C")(a) && Set("X", "Y", "Z")(x))
    }
    // revenue tiles too
    val totalRev = graft.Tables.lineitem(spark, sfDir)
      .agg(sum(expr("cast(round(l_extendedprice*100) as bigint)")))
      .collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("revenue_c")).sum === totalRev)
  }

  test("q209 skew plan: ceil arithmetic exact, slices level to the median") {
    val rows = CoreQueries.q209SkewPlan(spark, sfDir).collect()
    assert(rows.length === CoreQueries.SkewPlanTopN)
    rows.foreach { r =>
      val (n, med, k, worst) = (r.getAs[Long]("n_rows"),
        r.getAs[Long]("median_rows"), r.getAs[Long]("salt_factor"),
        r.getAs[Long]("worst_slice_rows"))
      assert(k === (n + med - 1) / med)
      assert(worst === (n + k - 1) / k)
      assert(worst <= med, "salting must level each key to the median load")
      assert(k * worst >= n, "slices must cover every row")
      assert(r.getAs[Boolean]("is_skewed") === (k > 1))
    }
  }

  test("q205 dispersion: bounds ordered, spread closed-form, floor respected") {
    val rows = CoreQueries.q205PriceDispersion(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, md, hi) = (r.getAs[Long]("min_unit_c"),
        r.getAs[Long]("median_unit_c"), r.getAs[Long]("max_unit_c"))
      assert(lo <= md && md <= hi, r)
      assert(r.getAs[Long]("n_offers") >= CoreQueries.DispersionMinOffers)
      assert(r.getAs[Long]("spread_e6") === (hi - lo) * 1000000L / lo)
    }
  }

  test("q206 outliers: integer 2-sigma flag equals the float rule away from ties") {
    val rows = CoreQueries.q206ReturnOutliers(spark, sfDir).collect()
    val (nTot, rTot) = {
      val li = graft.Tables.lineitem(spark, sfDir)
      (li.count(), li.filter(col("l_returnflag") === "R").count())
    }
    val p = rTot.toDouble / nTot
    rows.foreach { r =>
      val (n, ret) = (r.getAs[Long]("n_lines"), r.getAs[Long]("n_returned"))
      val flag = r.getAs[Boolean]("is_outlier")
      val dev = math.abs(ret.toDouble / n - p)
      val se = math.sqrt(p * (1 - p) / n)
      // the integer rule is exactly dev > 2·se (both sides squared exact)
      assert(flag === (dev * dev > 4 * se * se * (1 + 1e-12)) ||
        math.abs(dev * dev - 4 * se * se) < 1e-9, r)
      assert(r.getAs[Long]("rate_e6") === ret * 1000000L / n)
    }
    // the corpus can't be ALL outliers
    assert(rows.count(_.getAs[Boolean]("is_outlier")) < rows.length)
  }

  test("q204 window sensitivity is monotone and consistent with q128") {
    val rows = EventQueries.q204AttributionSensitivity(spark, sfDir).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    assert(rows.keySet === Set("click", "view"))
    rows.values.foreach { r =>
      // wider windows can only attribute more
      assert(r.getAs[Long]("n_1h") <= r.getAs[Long]("n_6h"))
      assert(r.getAs[Long]("n_6h") <= r.getAs[Long]("n_24h"))
      assert(r.getAs[Long]("n_24h") <= r.getAs[Long]("n_touched"))
      assert(r.getAs[Long]("rev_1h_c") <= r.getAs[Long]("rev_6h_c"))
      assert(r.getAs[Long]("rev_6h_c") <= r.getAs[Long]("rev_24h_c"))
    }
    // consistency with q128: both derive the same last-touch keys, so
    // q204's touched total equals q128's non-'none' purchase total
    val base = EventQueries.q128Attribution(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val touched = rows.values.map(_.getAs[Long]("n_touched")).sum
    assert(touched === base.filter(_._1 != "none").values.sum,
      "every purchase with a prior touch appears in exactly one channel")
  }

  test("q203 CUPED equals a serial recompute and shrinks the variant gap") {
    val rows = EventQueries.q203Cuped(spark, sfDir).collect()
      .map(r => r.getAs[String]("variant") -> r).toMap
    assert(rows.keySet === Set("A", "B"))
    // serial recompute from the same user rollup
    val e = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("cast(round(value*100) as bigint)").as("v_c"),
        expr("unix_timestamp(ts) DIV 86400").as("day")).collect()
    val d0 = e.map(_.getLong(3)).min
    val users = e.groupBy(_.getLong(0)).map { case (uid, rs) =>
      val x = rs.filter(r => r.getString(1) == "purchase" &&
        r.getLong(3) < d0 + EventQueries.CupedPreDays).map(_.getLong(2)).sum
      val y = rs.filter(r => r.getString(1) == "purchase" &&
        r.getLong(3) >= d0 + EventQueries.CupedPreDays).map(_.getLong(2)).sum
      (uid, x, y)
    }.toSeq
    val n = BigInt(users.size)
    val sx = users.map(u => BigInt(u._2)).sum
    val sy = users.map(u => BigInt(u._3)).sum
    val sxy = users.map(u => BigInt(u._2) * BigInt(u._3)).sum
    val sxx = users.map(u => BigInt(u._2) * BigInt(u._2)).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    assert(rows("A").getAs[Double]("theta") === theta)
    assert(rows("A").getAs[Double]("var_reduction") > 0.0)
    assert(rows("A").getAs[Double]("var_reduction") <= 1.0)
    // A/B assignment is hash-deterministic: counts recompute exactly
    def variant(uid: Long): String = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(md5, 16) % 2 == 0) "A" else "B"
    }
    val byV = users.groupBy(u => variant(u._1))
    assert(rows("A").getAs[Long]("n_users") === byV("A").size.toLong)
    assert(rows("B").getAs[Long]("n_users") === byV("B").size.toLong)
    // adjusted means: |adjA - adjB| <= |rawA - rawB| is not guaranteed in
    // general, but adj must equal the closed form
    byV.foreach { case (v, us) =>
      val meanY = us.map(u => BigInt(u._3)).sum.toDouble / us.size
      val meanX = us.map(u => BigInt(u._2)).sum.toDouble / us.size
      val meanXg = sx.toDouble / n.toDouble
      val exp = meanY - theta * (meanX - meanXg)
      assert(math.abs(rows(v).getAs[Double]("mean_y_adj_c") - exp) < 1e-6, v)
    }
  }

  test("q199 dedup accounting tiles the corpus; removals never exceed docs") {
    val rows = TextQueries.q199DedupEffectiveness(spark, sfDir).collect()
    val d = graft.Tables.documents(spark, sfDir)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === d.count())
    // corpus-wide exact removals = docs minus distinct contents
    val distinctContents = d.select(col("text")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_exact_removed")).sum ===
      d.count() - distinctContents)
    // near removals = cluster members minus representatives, exact-kept only
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_removed") + r.getAs[Long]("n_near_removed")
        <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_saved") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("q200 sequence patterns: support bounded by sessions-with-a; funnel order holds") {
    val rows = EventQueries.q200SequencePatterns(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sup, withA, n) = (r.getAs[Long]("support"),
        r.getAs[Long]("n_with_a"), r.getAs[Long]("n_sessions"))
      assert(sup >= 1 && sup <= withA && withA <= n, r)
      assert(r.getAs[Long]("confidence_e6") === sup * 1000000L / withA)
    }
    // the funnel direction dominates its reverse: view→purchase sessions
    // are at least as common as purchase→view (purchases end funnels)
    val m = rows.map(r => (r.getAs[String]("a"), r.getAs[String]("b")) ->
      r.getAs[Long]("support")).toMap
    for (vp <- m.get(("view", "purchase")); pv <- m.get(("purchase", "view")))
      assert(vp >= pv / 2, "sanity: funnels mostly run forward")
  }

  test("q192 contamination matrix tiles the q55 pair set; similarity bounded") {
    val rows = CurationQueries.q192ContaminationMatrix(spark, sfDir).collect()
    val nPairs = TextQueries.q55MinhashLsh(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === nPairs,
      "every candidate pair lands in exactly one source cell")
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"))
      val mean = r.getAs[Double]("mean_est_jaccard")
      assert(mean >= 0.5 && mean <= 1.0, s"q55 cut is 0.5: $mean")
      assert(r.getAs[Long]("sum_match64") ===
        math.round(mean * 64 * r.getAs[Long]("n_pairs")))
    }
  }

  test("q193 actual cardinality is exact; estimate is within the histogram bound") {
    val r = AuditQueries.q193JoinCardAudit(spark, sfDir).collect()(0)
    val actual = graft.Tables.orders(spark, sfDir).select(col("o_orderkey"))
      .join(graft.Tables.lineitem(spark, sfDir).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey")).count()
    assert(r.getAs[Long]("actual_rows") === actual,
      "per-key rollup product must equal the materialized join size")
    val est = r.getAs[Long]("est_rows")
    // containment estimate with per-bucket distincts can undershoot (DIV
    // truncation) but never by more than one row per bucket, and overshoots
    // only when keys collide inside a bucket — sanity-band it
    assert(est > 0 && est <= actual * 2, s"est $est vs actual $actual")
    assert(r.getAs[Long]("est_over_actual_e6") === est * 1000000L / actual)
  }

  test("q190 lexical diversity equals a serial token recount per source") {
    val rows = TextQueries.q190LexicalDiversity(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1).view.mapValues { ds =>
      val toks = ds.flatMap(_._2.split(" ", -1))
      val tf = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val top10 = tf.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
        .map(_._2).sum
      (toks.length.toLong, tf.size.toLong,
        tf.values.count(_ == 1L).toLong, top10)
    }.toMap
    assert(rows.keySet === bySource.keySet)
    bySource.foreach { case (src, (nTok, nTyp, hapax, top10)) =>
      val r = rows(src)
      assert(r.getAs[Long]("n_tokens") === nTok, src)
      assert(r.getAs[Long]("n_types") === nTyp, src)
      assert(r.getAs[Long]("n_hapax") === hapax, src)
      assert(r.getAs[Long]("ttr_e6") === nTyp * 1000000L / nTok, src)
      assert(r.getAs[Long]("top10_coverage_e6") === top10 * 1000000L / nTok, src)
    }
  }

  test("q191 cluster split: clusters never straddle splits; totals tile") {
    val rows = TextQueries.q191ClusterSplit(spark, sfDir).collect()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    // leakage check at DOC level: recompute each doc's split via its rep
    // and assert every cluster maps to exactly one split
    val reps = TextQueries.q68DedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    def split(rep: Long): String = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rep.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(md5, 16)
      val t1 = ((1L << 60) / 100) * 90; val t2 = ((1L << 60) / 100) * 95
      if (h < t1) "train" else if (h < t2) "val" else "test"
    }
    val perCluster = ids.map(id => (reps.getOrElse(id, id), split(reps.getOrElse(id, id))))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    perCluster.foreach { case (c, ss) =>
      assert(ss.size === 1, s"cluster $c straddles splits: $ss")
    }
    // per-split doc counts agree with the serial assignment
    val expect = ids.map(id => split(reps.getOrElse(id, id)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") === expect(r.getAs[String]("split")))
    }
  }

  test("q186 session quality equals a serial per-user sessionization") {
    val rows = EventQueries.q186SessionQuality(spark, sfDir).collect()
      .map(r => r.getAs[Long]("day") -> r).toMap
    // serial recount: per user, split the sorted event stream on gaps >= 30min
    val byUser = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_millis(ts)")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    val gap = 30L * 60000
    case class S(day: Long, span: Long, n: Long)
    val sessions = byUser.values.flatMap { ts =>
      val out = scala.collection.mutable.ArrayBuffer[S]()
      var start = ts.head; var last = ts.head; var n = 0L
      ts.foreach { t =>
        if (t - last >= gap) {
          out += S(start / 86400000L, last - start, n); start = t; n = 0
        }
        last = t; n += 1
      }
      out += S(start / 86400000L, last - start, n)
      out
    }.toSeq
    val expect = sessions.groupBy(_.day).view.mapValues { ss =>
      (ss.size.toLong, ss.count(_.n == 1).toLong, ss.map(_.n).sum,
        ss.map(_.span).sum, ss.map(_.span).max)
    }.toMap
    assert(rows.keySet === expect.keySet)
    expect.foreach { case (d, (ns, nb, ne, tot, mx)) =>
      val r = rows(d)
      assert(r.getAs[Long]("n_sessions") === ns, s"day $d sessions")
      assert(r.getAs[Long]("n_bounces") === nb, s"day $d bounces")
      assert(r.getAs[Long]("n_events") === ne, s"day $d events")
      assert(r.getAs[Long]("total_span_ms") === tot, s"day $d span")
      assert(r.getAs[Long]("max_span_ms") === mx, s"day $d max span")
      assert(r.getAs[Long]("bounce_share_e6") === nb * 1000000L / ns)
    }
  }

  test("q187 time-to-repeat: exact recount of cohorts and quartile membership") {
    val rows = EventQueries.q187TimeToRepeat(spark, sfDir).collect()
      .map(r => r.getAs[Long]("cohort_week") -> r).toMap
    val firstTwo = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_millis(ts)"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues { es =>
        val s = es.sortBy(e => (e._2, e._3)).map(_._2).take(2)
        (s.head, if (s.size > 1) Some(s(1)) else None)
      }
    val cohorts = firstTwo.values.toSeq.groupBy(_._1 / 604800000L)
    assert(rows.keySet === cohorts.keySet)
    cohorts.foreach { case (wk, us) =>
      val r = rows(wk)
      val gaps = us.flatMap { case (m1, m2) => m2.map(m => (m - m1) / 86400000L) }
      assert(r.getAs[Long]("n_buyers") === us.size.toLong)
      assert(r.getAs[Long]("n_repeat") === gaps.size.toLong)
      if (gaps.nonEmpty) {
        val med = r.getAs[Long]("gap_median_days")
        assert(gaps.contains(med), s"median $med not a sample member")
        // percentile_disc(0.5): smallest member with cume_dist >= 0.5
        val sorted = gaps.sorted
        assert(med === sorted((gaps.size - 1) / 2))
      }
      assert(r.getAs[Long]("repeat_share_e6") ===
        gaps.size.toLong * 1000000L / us.size)
    }
  }
  test("q230 bitmap distinct equals plain COUNT(DISTINCT) at both grains") {
    val rows = EventQueries.q230BitmapDistinct(spark, sfDir).collect()
    val d = graft.Tables.events(spark, sfDir)
      .select(expr("unix_timestamp(ts) DIV 86400").as("day"), col("user_id"))
    val daily = d.groupBy("day").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("n")).toMap
    val weekly = d.groupBy(expr("day DIV 7").as("wk"))
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getAs[Long]("wk") -> r.getAs[Long]("n")).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("day_users") === daily(r.getAs[Long]("day")))
      assert(r.getAs[Long]("week_users") === weekly(r.getAs[Long]("wk")))
      // a week's merged bitmap can never count fewer than any of its days
      assert(r.getAs[Long]("week_users") >= r.getAs[Long]("day_users"))
    }
  }

  test("q252 bootstrap interval is ordered and brackets the sample mean") {
    val rows = CoreQueries.q252PoissonBootstrap(spark, sfDir).collect()
    assert(rows.length === 5) // one row per order priority
    rows.foreach { r =>
      val (lo, mean, hi) = (r.getAs[Long]("boot_lo_c"),
        r.getAs[Long]("mean_c"), r.getAs[Long]("boot_hi_c"))
      assert(lo <= hi)
      // 46/48 inner replicate means straddle the point estimate at n≈600+
      assert(lo <= mean && mean <= hi, s"CI [$lo,$hi] misses mean $mean")
    }
  }

  test("q253 removal effects are monotone and shares normalize") {
    val rows = EventQueries.q253RemovalEffect(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("channel")).sorted.toSeq ===
      Seq("click", "error", "signup", "view"))
    val shares = rows.map(_.getAs[Long]("attr_share_e6"))
    rows.foreach { r =>
      // removing a channel can only destroy converting paths
      assert(r.getAs[Long]("p_removed_e6") <= r.getAs[Long]("p_full_e6"))
      assert(r.getAs[Long]("removal_effect_e6") >= 0L)
    }
    // floor division loses < 1 ppm per channel
    assert(shares.sum <= 1000000L && shares.sum > 1000000L - rows.length)
  }

  test("q254 qini curve accounts for every user and ends at the overall lift") {
    val rows = EventQueries.q254QiniUplift(spark, sfDir)
      .orderBy(col("decile")).collect()
    assert(rows.length === 10)
    val last = rows.last
    val users = graft.Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(last.getAs[Long]("cum_nt") + last.getAs[Long]("cum_nc") === users)
    // cumulative counts are nondecreasing in the decile order
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("cum_nt") >= a.getAs[Long]("cum_nt"))
      assert(b.getAs[Long]("cum_ct") >= a.getAs[Long]("cum_ct"))
    }
  }

  test("q255 group identities hold and rows reconcile with the customer count") {
    val rows = CoreQueries.q255LDiversity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, l, top) = (r.getAs[Long]("k"), r.getAs[Long]("l"),
        r.getAs[Long]("top_n"))
      assert(top >= 1L && top <= k && l >= 1L && l * top >= k)
      assert(r.getAs[Long]("top_share_e6") >= 1000000L / l)
    }
    val total = graft.Tables.customer(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("k")).sum === total)
  }

  test("q256 blocks partition the parts and keys are letter+3digits") {
    val rows = FunctionQueries.q256PhoneticBlocking(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("pkey").matches("[A-Z][0-9]{3}"))
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_parts"))
      val nw = r.getAs[Long]("n_words")
      assert(r.getAs[Long]("block_pairs") === nw * (nw - 1) / 2)
    }
    assert(rows.map(_.getAs[Long]("n_parts")).sum ===
      graft.Tables.part(spark, sfDir).count())
  }

  test("q259 survival curve is monotone and risk sets telescope") {
    val rows = EventQueries.q259SurvivalKm(spark, sfDir)
      .orderBy(col("dur_days")).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("n_risk") ===
      graft.Tables.events(spark, sfDir)
        .select(countDistinct(col("user_id"))).collect()(0).getLong(0))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("s_e6") <= a.getAs[Long]("s_e6"),
        "survival must be nonincreasing")
      assert(b.getAs[Long]("n_risk") === a.getAs[Long]("n_risk") -
        a.getAs[Long]("d_ev") - a.getAs[Long]("c_cens"),
        "risk set must telescope by events + censored")
      case _ => ()
    }
  }

  test("q265 Holm step-down dominates Bonferroni and thresholds relax with rank") {
    val rows = AuditQueries.q265HolmMultitest(spark, sfDir)
      .orderBy(col("rk_pos")).collect()
    assert(rows.length === 25)
    rows.sliding(2).foreach { case Array(a, b) =>
      // critical values relax as the step-down walks down the ranking
      assert(b.getAs[Double]("crit") <= a.getAs[Double]("crit"))
      // once one rank fails, every later rank fails (step-down property)
      assert(b.getAs[Long]("reject_holm") <= a.getAs[Long]("reject_holm"))
      case _ => ()
    }
    // Holm rejects a superset of Bonferroni, row for row
    rows.foreach { r =>
      assert(r.getAs[Long]("reject_bonferroni") <= r.getAs[Long]("reject_holm"))
    }
  }

  test("q269 Fisher index sits between Laspeyres and Paasche; q270 ACF is bounded") {
    CoreQueries.q269PriceIndex(spark, sfDir).collect().foreach { r =>
      val (l, p, f) = (r.getAs[Long]("laspeyres_e6"),
        r.getAs[Long]("paasche_e6"), r.getAs[Double]("fisher_e6"))
      assert(f >= math.min(l, p) - 1 && f <= math.max(l, p) + 1,
        s"geometric mean $f outside [$l, $p]")
      assert(l > 0L && p > 0L)
    }
    val acf = CoreQueries.q270Acf(spark, sfDir).collect()
    assert(acf.length === 7)
    acf.foreach { r =>
      val a = r.getAs[Long]("acf_e6")
      assert(a >= -1000000L && a <= 1000000L)
      assert(r.getAs[Long]("n_pairs") > 0L)
    }
  }

  test("q285 market share bounded; q286 winners attain the max exactly") {
    val shares = CoreQueries.q285MarketShare(spark, sfDir).collect()
    assert(shares.nonEmpty)
    shares.foreach { r =>
      assert(r.getAs[Long]("nation_rev_e4") <= r.getAs[Long]("total_rev_e4"))
      val s = r.getAs[Long]("mkt_share_e6")
      assert(s >= 0L && s <= 1000000L)
      val y = r.getAs[Int]("o_year")
      assert(y >= 1995 && y <= 2001)
    }
    val top = CoreQueries.q286TopSupplier(spark, sfDir).collect()
    assert(top.nonEmpty)
    val revs = top.map(_.getAs[Long]("total_rev_e4")).toSet
    assert(revs.size === 1, "every winner carries the same (max) revenue")
  }

  test("q292 log-rank: event accounting closes, null z2 on a coin-flip split") {
    val r = EventQueries.q292LogRank(spark, sfDir).collect()(0)
    import org.apache.spark.sql.functions._
    val users = graft.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === users)
    assert(r.getAs[Long]("events_a") <= r.getAs[Long]("n_a"))
    assert(r.getAs[Long]("events_b") <= r.getAs[Long]("n_b"))
    assert(r.getAs[Long]("v_e6") > 0L)
    val z2 = r.getAs[Long]("logrank_z2_e6") / 1e6
    assert(z2 >= 0.0)
    // the arms are a hash coin flip over one population: z² should be far
    // below any significance threshold (χ²₁ at p=0.001 is 10.8)
    assert(z2 < 10.8, s"coin-flip split shows z2=$z2")
  }

  test("q290 sketch quantiles land within one bucket width of exact") {
    val rows = AuditQueries.q290HistQuantiles(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("q_pct")).toSet === Set(50L, 90L, 99L))
    // max error of a 256-bucket equal-width sketch is one bucket width =
    // range/256 ≈ 3907 ppm of range
    rows.foreach { r =>
      assert(r.getAs[Long]("err_ppm_of_range") <= 1000000L / 256 + 1,
        s"q${r.getAs[Long]("q_pct")}: ${r.getAs[Long]("err_ppm_of_range")} ppm")
    }
    // quantile estimates are monotone in q
    val byQ = rows.sortBy(_.getAs[Long]("q_pct")).map(_.getAs[Long]("est_c"))
    assert(byQ.sameElements(byQ.sorted))
  }

  test("q291 ratio metric: R between arm extremes, z consistent with diff") {
    val r = EventQueries.q291RatioMetric(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_a") > 0L && r.getAs[Long]("n_b") > 0L)
    assert(r.getAs[Double]("rpd_a") > 0.0 && r.getAs[Double]("rpd_b") > 0.0)
    assert(r.getAs[Double]("se_a") > 0.0 && r.getAs[Double]("se_b") > 0.0)
    val diff = r.getAs[Double]("diff")
    assert(diff === r.getAs[Double]("rpd_a") - r.getAs[Double]("rpd_b"))
    assert(math.signum(r.getAs[Double]("z")) === math.signum(diff))
    // A/B split is a hash coin flip on the same population: the two arms'
    // ratios agree to well within 5 combined SEs
    val se = math.sqrt(r.getAs[Double]("se_a") * r.getAs[Double]("se_a") +
      r.getAs[Double]("se_b") * r.getAs[Double]("se_b"))
    assert(math.abs(diff) <= 5 * se, s"diff=$diff se=$se")
  }

  test("q288 Wilson intervals bracket the rate; q289 MDE panel sane") {
    val rows = EventQueries.q288FunnelWilson(spark, sfDir).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val p = r.getAs[Double]("p_hat")
      val lo = r.getAs[Double]("wilson_lo")
      val hi = r.getAs[Double]("wilson_hi")
      assert(lo <= p && p <= hi, s"${r.getAs[String]("step")}: $lo $p $hi")
      assert(lo >= 0.0 && hi <= 1.0) // Wilson never leaves [0,1]
      assert(r.getAs[Long]("conv") <= r.getAs[Long]("n"))
    }
    // the composed step cannot convert better than its weakest leg
    val byStep = rows.map(r => r.getAs[String]("step") ->
      r.getAs[Double]("p_hat")).toMap
    assert(byStep("view_to_purchase") <=
      math.min(byStep("view_to_click"), 1.0) + 1e-12)
    val m = EventQueries.q289MdePanel(spark, sfDir).collect()(0)
    assert(m.getAs[Double]("mde_abs") > 0.0)
    assert(m.getAs[Double]("mde_rel") ===
      m.getAs[Double]("mde_abs") / m.getAs[Double]("p_pool"))
    assert(m.getAs[Long]("n_per_arm_10pct") > 0L)
  }

  test("q287 volume shipping: only the two nations, both directions") {
    val rows = CoreQueries.q287VolumeShipping(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r => (r.getAs[String]("supp_nation"),
      r.getAs[String]("cust_nation"))).toSet
    assert(pairs.subsetOf(Set(("NATION_1", "NATION_3"), ("NATION_3", "NATION_1"))))
    // sf0.001 happens to ship only one direction; both appear from sf0.01
    rows.foreach(r => assert(r.getAs[Long]("volume_e4") > 0L))
  }

  test("q283 Welch: t2 matches doubles, df within the classical bounds") {
    val r = AuditQueries.q283WelchTest(spark, sfDir).collect()(0)
    val n1 = r.getAs[Long]("n_returned")
    val n2 = r.getAs[Long]("n_kept")
    val df = r.getAs[Long]("df_e3") / 1000.0
    assert(df >= math.min(n1, n2) - 1 - 0.01 && df <= n1 + n2 - 2)
    // double-precision cross-check
    import org.apache.spark.sql.functions._
    val stats = graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag").isin("R", "N"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        avg(expr("CAST(ROUND(l_extendedprice*100) AS BIGINT)")).as("m"),
        var_samp(expr("CAST(ROUND(l_extendedprice*100) AS BIGINT)")).as("v"))
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3))).toMap
    val (nr, mr, vr) = stats("R"); val (nk, mk, vk) = stats("N")
    val t2Ref = math.pow(mr - mk, 2) / (vr / nr + vk / nk)
    val t2 = r.getAs[Long]("t2_e6") / 1e6
    assert(math.abs(t2 - t2Ref) <= 0.01 * math.max(t2Ref, 1.0),
      s"t2=$t2 ref=$t2Ref")
  }

  test("q284 sequential looks nest; final look squares the q127 z") {
    val rows = EventQueries.q284SequentialTest(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("look"))
    assert(rows.length === 5)
    rows.sliding(2).foreach { case Array(a, b) =>
      // cumulative looks: entrants and conversions only grow
      assert(a.getAs[Long]("n_a") <= b.getAs[Long]("n_a"))
      assert(a.getAs[Long]("conv_a") <= b.getAs[Long]("conv_a"))
      // OBF boundary tightens monotonically toward the final look
      assert(a.getAs[Double]("crit2") >= b.getAs[Double]("crit2"))
    }
    val last = rows.last
    val z127 = EventQueries.q127AbZtest(spark, sfDir).collect()(0)
      .getAs[Double]("z")
    assert(math.abs(last.getAs[Double]("z2") - z127 * z127) < 1e-9,
      s"final-look z2 must square q127's z")
    assert(math.abs(last.getAs[Double]("crit2") - 2.0403 * 2.0403) < 1e-12)
  }

  test("q282 Lloyd step: assignment partitions, SSE non-increasing") {
    val rows = SimilarityQueries.q282LloydStep(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ===
      graft.Tables.embeddings(spark, sfDir).count())
    rows.foreach { r =>
      val before = r.getAs[Long]("sse_before_e8")
      val after = r.getAs[Long]("sse_after_e8")
      // truncated means sit within 1 of the true minimizer per dim, so the
      // update can regress by at most n per dimension
      assert(after <= before + r.getAs[Long]("n_vecs") * 64,
        s"cid=${r.getAs[Long]("cid")}: before=$before after=$after")
      assert(after >= 0L && before >= 0L)
    }
    // the update must actually move at least one centroid off its seed
    assert(rows.map(_.getAs[Long]("shift_l1_e4")).sum > 0L)
  }

  test("q280 entropy rate: __ALL__ is the transition-weighted state mean") {
    val rows = EventQueries.q280EntropyRate(spark, sfDir).collect()
    val (all, states) = rows.partition(_.getAs[String]("state") == "__ALL__")
    assert(all.length === 1 && states.nonEmpty)
    states.foreach { r =>
      assert(r.getAs[Long]("h_bits_e6") >= 0L)
      // conditional entropy is at most log2(|alphabet|)
      assert(r.getAs[Long]("h_bits_e6") <=
        math.round(math.log(states.length.toDouble) / math.log(2) * 1e6) + 7000)
    }
    // the overall rate row aggregates the same integer terms: reproduce it
    val num = states.map(r =>
      BigInt(r.getAs[Long]("h_bits_e6")) * r.getAs[Long]("n_trans")).sum
    val den = states.map(r => BigInt(r.getAs[Long]("n_trans"))).sum
    val approx = (num / den).toLong
    val rate = all.head.getAs[Long]("h_bits_e6")
    // per-state h already floors once, so the recomposition drifts by at
    // most 1 unit per state
    assert(math.abs(rate - approx) <= states.length)
    assert(all.head.getAs[Long]("n_trans") === den.toLong)
  }

  test("q281 Theil decomposition: T = between + within up to LUT rounding") {
    val r = CoreQueries.q281TheilDecomposition(spark, sfDir).collect()(0)
    val t = r.getAs[Long]("t_total_e6")
    val b = r.getAs[Long]("t_between_e6")
    val w = r.getAs[Long]("t_within_e6")
    assert(t >= 0L && w >= 0L)
    // additive identity: exact in real arithmetic, LUT-rounded here
    assert(math.abs(t - b - w) <= 25000L, s"t=$t b=$b w=$w")
    // independent double-precision cross-check of T
    import org.apache.spark.sql.functions._
    val rev = graft.Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(sum(expr("CAST(ROUND(l_extendedprice*100) AS BIGINT)")).as("x"))
      .collect().map(_.getAs[Long]("x").toDouble)
    val n = rev.length.toDouble
    val x = rev.sum
    val tRef = rev.map(v => v * (math.log(v * n / x) / math.log(2))).sum / x
    assert(math.abs(t / 1e6 - tRef) < 0.02, s"t=${t / 1e6} ref=$tRef")
    assert(r.getAs[Long]("n_suppliers") === rev.length.toLong)
  }

  test("q278 entropy bounded by log2(V), KL nonnegative up to e6 rounding") {
    val rows = TextQueries.q278SourceEntropy(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Long]("entropy_e6")
      val v = r.getAs[Long]("v_types")
      assert(h >= 0L)
      // H ≤ log2(V); slack covers the ~0.006-bit/log LUT truncation error
      assert(h <= math.round(math.log(v.toDouble) / math.log(2) * 1e6) + 7000,
        s"source ${r.getAs[String]("source")}: H=$h V=$v")
      assert(r.getAs[Long]("kl_vs_corpus_e6") >= -12000L)
    }
  }

  test("q279 MI ranking: descending, nonnegative up to rounding, full top-k") {
    val rows = TextQueries.q279FeatureMi(spark, sfDir).collect()
    assert(rows.length === 20)
    val mis = rows.map(_.getAs[Long]("mi_contrib_e6"))
    assert(mis.sameElements(mis.sorted.reverse))
    // per-word MI is p(w)·KL(p(l|w) ‖ p(l)) ≥ 0 up to e6 rounding
    mis.foreach(m => assert(m >= -12000L))
  }

  test("q276 Naive Bayes: eval split is the hash bucket, accuracy beats chance") {
    val rows = TextQueries.q276NaiveBayes(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nEval = rows.map(_.getAs[Long]("n_eval")).sum
    // the eval set is exactly the ≥95% portable-hash bucket
    import org.apache.spark.sql.functions._
    val expected = graft.Tables.documents(spark, sfDir)
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") >= ((1L << 60) / 100) * 95)
      .count()
    assert(nEval === expected)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_eval"))
      assert(r.getAs[Long]("acc_e6") >= 0L && r.getAs[Long]("acc_e6") <= 1000000L)
    }
    // pooled accuracy must beat the 1-in-5 chance floor
    val correct = rows.map(_.getAs[Long]("n_correct")).sum
    assert(correct * 5 > nEval, s"pooled accuracy $correct/$nEval not above chance")
  }

  test("q273 kappa: chance correction only lowers agreement") {
    val r = TextQueries.q273CohensKappa(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_docs") ===
      graft.Tables.documents(spark, sfDir).count())
    val po = r.getAs[Long]("po_e6")
    val pe = r.getAs[Long]("pe_e6")
    val k = r.getAs[Long]("kappa_e6")
    assert(po >= 0L && po <= 1000000L)
    assert(pe > 0L && pe < 1000000L) // marginals overlap on real data
    // κ − p_o = p_e(p_o − 1)/(1 − p_e) ≤ 0: κ never exceeds raw agreement
    assert(k <= po)
    assert(k >= -1000000L && k <= 1000000L)
  }

  test("q275 t-closeness: bounded distances, groups partition the table") {
    val rows = CoreQueries.q275TCloseness(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Long]("tvd_e6")
      assert(t >= 0L && t <= 1000000L)
      assert((r.getAs[Int]("t_breach") == 1) === (t > 200000L))
    }
    assert(rows.map(_.getAs[Long]("n_g")).sum ===
      graft.Tables.customer(spark, sfDir).count())
  }

  test("q271 Spearman matches the built-in corr-over-avg-ranks to 1e-9") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rows = AuditQueries.q271Spearman(spark, sfDir).collect()
    assert(rows.length === 3)
    // independent formulation: avg ranks via two double windows + corr
    val li = graft.Tables.lineitem(spark, sfDir).select(
      col("l_returnflag").as("g"),
      expr("CAST(ROUND(l_quantity*100) AS BIGINT)").as("xc"),
      expr("CAST(ROUND(l_extendedprice*100) AS BIGINT)").as("yc"))
    def avgRank(v: String) = {
      val asc = Window.partitionBy(col("g")).orderBy(col(v))
      (rank().over(asc).cast("double") +
        (count(lit(1)).over(Window.partitionBy(col("g"), col(v))) - 1)
          .cast("double") / 2.0)
    }
    val expected = li
      .withColumn("rx", avgRank("xc")).withColumn("ry", avgRank("yc"))
      .groupBy(col("g")).agg(corr(col("rx"), col("ry")).as("rho"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val rho = r.getAs[Double]("rho_spearman")
      assert(rho >= -1.0 && rho <= 1.0)
      assert(math.abs(rho - expected(r.getAs[String]("l_returnflag"))) < 1e-9)
    }
    assert(rows.map(_.getAs[Long]("n_rows")).sum ===
      graft.Tables.lineitem(spark, sfDir).count())
  }

  test("q272 Kruskal-Wallis: tie correction only inflates H, sane bounds") {
    val r = AuditQueries.q272KruskalWallis(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("k_groups") === 5L)
    assert(r.getAs[Long]("n_total") ===
      graft.Tables.orders(spark, sfDir).count())
    val h = r.getAs[Long]("h_e6")
    val ht = r.getAs[Long]("h_tied_e6")
    assert(h >= 0L)
    assert(ht >= h) // dividing by a ≤1 correction can only grow H
    // H is bounded by N−1 (attained when every group is a distinct block)
    assert(ht <= (r.getAs[Long]("n_total") - 1) * 1000000L)
  }

  test("q277 Brown-Forsythe: W positive and groups complete") {
    val r = AuditQueries.q277BrownForsythe(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("k_groups") === 5L)
    assert(r.getAs[Long]("n_total") ===
      graft.Tables.orders(spark, sfDir).count())
    assert(r.getAs[Long]("w_e6") >= 0L)
  }

  test("q268 ANOVA identities: positive mean squares, eta2 within [0, 1e6]") {
    val r = AuditQueries.q268Anova(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("k_groups") === 5L)
    assert(r.getAs[Long]("f_e6") > 0L)
    val eta = r.getAs[Long]("eta2_e6")
    assert(eta >= 0L && eta <= 1000000L)
  }

  test("q266 BH rejects a superset of Holm and q267 ECE is bounded by MCE") {
    val bh = AuditQueries.q266BhFdr(spark, sfDir).collect()
    assert(bh.length === 25)
    bh.foreach { r =>
      // FDR control is uniformly less conservative than FWER control
      assert(r.getAs[Long]("reject_holm") <= r.getAs[Long]("reject_bh"))
    }
    val e = CurationQueries.q267Ece(spark, sfDir).collect()(0)
    assert(e.getAs[Long]("ece_e6") <= e.getAs[Long]("mce_e6"))
    assert(e.getAs[Long]("n_total") ===
      graft.Tables.documents(spark, sfDir).count())
  }

  test("q264 every ranked split weakly improves on the parent Gini") {
    val rows = AuditQueries.q264BestSplit(spark, sfDir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      // Gini concavity: a split's weighted impurity never exceeds the
      // parent's (floor-quantization only pushes further down)
      assert(r.getAs[Long]("weighted_e6") <= r.getAs[Long]("base_gini_e6"))
      assert(r.getAs[Long]("nl") + r.getAs[Long]("nr") ===
        graft.Tables.customer(spark, sfDir).count())
    }
  }

  test("q263 bloom audit has zero false negatives by construction") {
    val r = CoreQueries.q263BloomAudit(spark, sfDir).collect()(0)
    // THE bloom property: every true member passes; FPs are the only slack
    assert(r.getAs[Long]("n_pass") >= r.getAs[Long]("n_true"))
    assert(r.getAs[Long]("n_fp") ===
      r.getAs[Long]("n_pass") - r.getAs[Long]("n_true"))
    assert(r.getAs[Long]("n_pass") <= r.getAs[Long]("n_probe"))
  }

  test("q262 NDCG agrees with q217's population and stays in [0, 1e6]") {
    val n = GraphQueries.q262Ndcg(spark, sfDir).collect()(0)
    val r = GraphQueries.q217RankingMetrics(spark, sfDir).collect()(0)
    assert(n.getAs[Long]("n_users") === r.getAs[Long]("n_users"))
    val mean = n.getAs[Long]("mean_ndcg_e6")
    assert(mean >= 0L && mean <= 1000000L)
    assert(n.getAs[Long]("n_perfect") + n.getAs[Long]("n_zero") <=
      n.getAs[Long]("n_users"))
    // the inlined discount table is the canonical log2 sequence
    assert(GraphQueries.dcgDiscForTest.take(3) ===
      Seq(1000000L, 630930L, 500000L))
  }

  test("q261 croston outputs satisfy the fold identities") {
    val rows = CoreQueries.q261CrostonForecast(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (z, p, cro) = (r.getAs[Long]("z_e6"), r.getAs[Long]("p_e6"),
        r.getAs[Long]("croston_e6"))
      assert(p >= 1000000L, "smoothed interval can never drop below 1 week")
      assert(cro === (BigInt(z) * 1000000 / p).toLong)
      assert((r.getAs[String]("demand_class") == "smooth") === (p < 1320000L))
      if (r.getAs[Long]("n_weeks") === 1L)
        assert(p === 1000000L, "single arrival keeps the init interval")
    }
  }

  test("q257 top duplicated chunks carry consistent corpus totals") {
    val rows = CurationQueries.q257CdcChunks(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val occ = rows.map(_.getAs[Long]("occurrences"))
    assert(occ.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // the corpus carries exact duplicate docs, so some chunk repeats
    assert(occ.head >= 2L)
    rows.foreach { r =>
      assert(r.getAs[Long]("total_chunks") >= r.getAs[Long]("distinct_chunks"))
      assert(r.getAs[Long]("dup_rate_e6") >= 0L)
      assert(r.getAs[Long]("len") >= 1L)
    }
  }
}

/** Pulls q126's long-format profile into a keyed map for assertions. */
object EventQueriesProfileHelper {
  def profileMap(spark: org.apache.spark.sql.SparkSession, sfDir: String)
      : Map[String, (Long, Long, Long, String, String)] =
    FunctionQueries.q126ColumnProfile(spark, sfDir).collect().map { r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))
    }.toMap
}
