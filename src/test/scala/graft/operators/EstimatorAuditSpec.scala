package graft.operators

import graft.SparkSpec

/** Semantic certificates for the planner-statistics audit family
  * (q545–q548): the Selinger FK identity, pigeonhole bounds on hash
  * distributions, and label/formula consistency recomputed from the
  * reported columns.
  */
class EstimatorAuditSpec extends SparkSpec {

  private def rows(name: String) =
    graft.SparkEntry.queries(name)(spark, sfDir).collect()

  test("q537-q558: no cartesian product anywhere in the advisor families") {
    val names = graft.SparkEntry.queries.keys.filter { n =>
      val id = n.drop(1).takeWhile(_.isDigit)
      id.nonEmpty && id.toInt >= 537 && id.toInt <= 558
    }
    assert(names.size >= 18, s"expected the advisor families, got $names")
    names.foreach { n =>
      val p = graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$n plans a cartesian product:\n$p")
    }
  }

  test("q545: the Selinger estimate is exact on the FK join") {
    val r = rows("q545_join_card_estimate")
    assert(r.length == 3)
    val fk = r.find(_.getAs[String]("join_pair") == "lineitem_orders").get
    // |L ⋈ O| = |L|·|O| / max(ndv) is an identity when the key is an FK
    // onto O's primary key: ndv_L = ndv_O = |O|
    assert(fk.getAs[Long]("est_rows") == fk.getAs[Long]("actual_rows"))
    r.foreach { row =>
      assert(row.getAs[Long]("est_rows") >= 1)
      assert(row.getAs[Long]("actual_rows") >= 1)
      assert(row.getAs[Long]("est_vs_actual_e6") ==
        row.getAs[Long]("est_rows") * 1000000L /
          row.getAs[Long]("actual_rows"))
    }
  }

  test("q546: interpolation stays within the histogram's mass") {
    val r = rows("q546_selectivity_hist")
    assert(r.nonEmpty && r.length <= 6)
    val n = graft.Tables.orders(spark, sfDir).count()
    r.foreach { row =>
      assert(row.getAs[Long]("est_rows") >= 0)
      assert(row.getAs[Long]("est_rows") <= n)
      assert(row.getAs[Long]("actual_rows") >= 1)
      assert(row.getAs[Long]("lo") < row.getAs[Long]("hi"))
    }
  }

  test("q547: the schema FD holds; strength never exceeds 1.0") {
    val r = rows("q547_fd_discovery")
    assert(r.length == 6)
    val nk = r.find(_.getAs[String]("candidate") ==
      "nation.n_nationkey->n_regionkey").get
    assert(nk.getAs[Long]("fd_holds") == 1L)
    assert(nk.getAs[Long]("strength_e6") == 1000000L)
    r.foreach { row =>
      assert(row.getAs[Long]("strength_e6") <= 1000000L)
      assert(row.getAs[Long]("ndv_lhs") <= row.getAs[Long]("ndv_pair"))
      assert((row.getAs[Long]("fd_holds") == 1L) ==
        (row.getAs[Long]("ndv_lhs") == row.getAs[Long]("ndv_pair")))
    }
  }

  test("q552: the full-width row is the identity; recall never exceeds 1") {
    val r = rows("q552_mrl_truncation")
    assert(r.length == 4)
    val full = r.find(_.getAs[Long]("dims_kept") == 64L).get
    // truncating to all 64 dims IS the exact ranking — recall exactly 1.0
    assert(full.getAs[Long]("recall_e6") == 1000000L)
    assert(full.getAs[Long]("hits") ==
      full.getAs[Long]("n_probes") * full.getAs[Long]("k"))
    r.foreach { row =>
      assert(row.getAs[Long]("recall_e6") <= 1000000L)
      assert(row.getAs[Long]("hits") <=
        row.getAs[Long]("n_probes") * row.getAs[Long]("k"))
    }
  }

  test("q553: per-probe hits respect k; recall formula consistent") {
    val r = rows("q553_int8_recall")
    assert(r.length == 10)
    r.foreach { row =>
      val h = row.getAs[Long]("n_hits")
      assert(h >= 0 && h <= row.getAs[Long]("k"))
      assert(row.getAs[Long]("recall_e6") == h * 1000000L / 5L)
    }
  }

  test("q554: row conservation and the synthetic-drift deltas") {
    val r = rows("q554_table_diff")
    val byA = r.map(x => x.getAs[String]("action") -> x).toMap
    assert(byA.keySet == Set("insert", "delete", "update", "unchanged"))
    val aRows = r.head.getAs[Long]("a_rows")
    val bRows = r.head.getAs[Long]("b_rows")
    assert(bRows == aRows - byA("delete").getAs[Long]("n") +
      byA("insert").getAs[Long]("n"))
    // every update is exactly the +500c bump; unchanged rows carry no delta
    assert(byA("update").getAs[Long]("delta_c") ==
      byA("update").getAs[Long]("n") * 500L)
    assert(byA("unchanged").getAs[Long]("delta_c") == 0L)
    assert(byA("delete").getAs[Long]("delta_c") < 0L)
  }

  test("q555: fingerprints agree exactly on matching months") {
    val r = rows("q555_checksum_reconcile")
    assert(r.nonEmpty)
    // at least one month drifted (the synthetic rules guarantee changes)
    assert(r.exists(_.getAs[Long]("matches") == 0L))
    r.foreach { row =>
      val eq = row.getAs[Long]("n_a") == row.getAs[Long]("n_b") &&
        row.getAs[String]("fp_a") == row.getAs[String]("fp_b")
      assert((row.getAs[Long]("matches") == 1L) == eq)
    }
    // the fingerprint pass conserves both sides' row totals
    val diff = rows("q554_table_diff")
    assert(r.map(_.getAs[Long]("n_a")).sum == diff.head.getAs[Long]("a_rows"))
    assert(r.map(_.getAs[Long]("n_b")).sum == diff.head.getAs[Long]("b_rows"))
  }

  test("q556: every vector votes exactly once; confusion excludes self") {
    val r = rows("q556_label_noise")
    val total = graft.Tables.embeddings(spark, sfDir).count()
    assert(r.map(_.getAs[Long]("n")).sum == total)
    r.foreach { row =>
      assert(row.getAs[Long]("nn_agree") <= row.getAs[Long]("n"))
      assert(row.getAs[Long]("agree_e6") ==
        row.getAs[Long]("nn_agree") * 1000000L / row.getAs[Long]("n"))
      Option(row.getAs[java.lang.Long]("top_confusion")).foreach(tc =>
        assert(tc != row.getAs[Long]("label")))
      assert(row.getAs[Long]("confusion_n") <=
        row.getAs[Long]("n") - row.getAs[Long]("nn_agree"))
    }
  }

  test("q557: keys move ONLY to the new node — the rendezvous property") {
    val r = rows("q557_rendezvous_rebalance")
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("moved") == row.getAs[Long]("new_node_load"))
    assert(row.getAs[Long]("moved_e6") ==
      row.getAs[Long]("moved") * 1000000L / row.getAs[Long]("n_keys"))
    // the moved fraction tracks 1/13 (loose 2x band — it's a hash draw)
    val exp = row.getAs[Long]("expected_moved_e6")
    assert(row.getAs[Long]("moved_e6") >= exp / 2)
    assert(row.getAs[Long]("moved_e6") <= exp * 2)
    assert(row.getAs[Long]("max_load13") >= row.getAs[Long]("min_load13"))
  }

  test("q558: virtual nodes level the ring; loads respect pigeonhole") {
    val r = rows("q558_ring_balance")
    assert(r.length == 3)
    val byV = r.map(x => x.getAs[Long]("vnodes") -> x).toMap
    r.foreach { row =>
      assert(row.getAs[Long]("nodes_hit") >= 1)
      assert(row.getAs[Long]("nodes_hit") <= 12)
      assert(row.getAs[Long]("max_load") >= row.getAs[Long]("min_load"))
      // skew floors at 1.0e6 by pigeonhole over <= 12 nodes
      assert(row.getAs[Long]("skew_e6") >= 1000000L)
    }
    // 16 vnodes never balance worse than the raw ring
    assert(byV(16L).getAs[Long]("skew_e6") <= byV(1L).getAs[Long]("skew_e6"))
  }

  test("q559: debiasing identity and the corpus-level estimate quality") {
    val r = rows("q559_randomized_response")
    assert(r.nonEmpty)
    r.foreach { row =>
      val n = row.getAs[Long]("n")
      val rep = row.getAs[Long]("reported_cnt")
      assert(rep >= 0 && rep <= n)
      assert(row.getAs[Long]("err_e6") ==
        row.getAs[Long]("est_e6") - row.getAs[Long]("true_e6"))
      assert(row.getAs[Long]("epsilon_e6") == 1098612L)
    }
    // pooled over all nations the estimator tracks the truth within 10pp
    val n = r.map(_.getAs[Long]("n")).sum
    val t = r.map(_.getAs[Long]("true_cnt")).sum
    val rep = r.map(_.getAs[Long]("reported_cnt")).sum
    val est = (4 * rep - n).toDouble / (2 * n)
    assert(math.abs(est - t.toDouble / n) < 0.10,
      s"pooled RR estimate $est vs truth ${t.toDouble / n}")
  }

  test("q560: cost labels match the arg-min; FK estimates land exactly") {
    val r = rows("q560_join_order_cost")
    assert(r.length == 2)
    val minE = r.map(_.getAs[Long]("cost_est")).min
    val minA = r.map(_.getAs[Long]("cost_actual")).min
    r.foreach { row =>
      assert((row.getAs[Long]("est_picks") == 1L) ==
        (row.getAs[Long]("cost_est") == minE))
      assert((row.getAs[Long]("truth_picks") == 1L) ==
        (row.getAs[Long]("cost_actual") == minA))
      // both joins are FK joins, so the Selinger estimate is exact here
      assert(row.getAs[Long]("inter_est") == row.getAs[Long]("inter_actual"))
    }
    // the estimate must agree with the truth on the winner
    assert(r.forall(row => row.getAs[Long]("est_picks") ==
      row.getAs[Long]("truth_picks")))
  }

  test("q561: eager aggregation is an equivalence, not an approximation") {
    val r = rows("q561_eager_agg")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("equal") == 1L)
      assert(row.getAs[Long]("qty_lazy") == row.getAs[Long]("qty_eager"))
      // the rewrite strictly shrinks what crosses the join
      assert(row.getAs[Long]("rows_eager") < row.getAs[Long]("rows_lazy"))
    }
  }

  test("q563: max-min fairness — conservation, dominance, level equality") {
    val r = rows("q563_fair_share")
    assert(r.nonEmpty)
    val cap = r.head.getAs[Long]("capacity_c")
    val total = r.map(_.getAs[Long]("alloc_c")).sum
    assert(total == r.head.getAs[Long]("alloc_total_c"))
    assert(total == math.min(cap, r.map(_.getAs[Long]("demand_c")).sum))
    val (capped, uncapped) = r.partition(_.getAs[Long]("capped") == 1L)
    // uncapped tenants keep their full demand; capped never exceed it
    uncapped.foreach(row =>
      assert(row.getAs[Long]("alloc_c") == row.getAs[Long]("demand_c")))
    capped.foreach(row =>
      assert(row.getAs[Long]("alloc_c") <= row.getAs[Long]("demand_c")))
    if (capped.nonEmpty) {
      val allocs = capped.map(_.getAs[Long]("alloc_c"))
      // the water level: capped allocations are equal up to the residue
      assert(allocs.max - allocs.min <= 1)
      // no uncapped tenant sits above the level (max-min dominance)
      uncapped.foreach(row =>
        assert(row.getAs[Long]("demand_c") <= allocs.max))
    }
  }

  test("q564: k=0 is the identity; sizes conserve the user population") {
    val r = rows("q564_cohort_retention")
    assert(r.nonEmpty)
    val k0 = r.filter(_.getAs[Long]("k") == 0L)
    assert(k0.nonEmpty)
    k0.foreach { row =>
      assert(row.getAs[Long]("active") == row.getAs[Long]("cohort_size"))
      assert(row.getAs[Long]("rate_e6") == 1000000L)
    }
    r.foreach(row =>
      assert(row.getAs[Long]("active") <= row.getAs[Long]("cohort_size")))
    val users = graft.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(k0.map(_.getAs[Long]("cohort_size")).sum == users)
  }

  test("q565: the manifest partitions the corpus; sizes respect the recipe") {
    val r = rows("q565_binary_manifest")
    assert(r.nonEmpty && r.length <= 4)
    val docs = graft.Tables.documents(spark, sfDir).count()
    assert(r.map(_.getAs[Long]("n_blobs")).sum == docs)
    r.foreach { row =>
      // the synthesis recipe bounds every payload to [16, 63] bytes
      assert(row.getAs[Long]("min_bytes") >= 16)
      assert(row.getAs[Long]("max_bytes") <= 63)
      assert(row.getAs[Long]("total_bytes") >=
        row.getAs[Long]("n_blobs") * row.getAs[Long]("min_bytes"))
      assert(row.getAs[Long]("total_bytes") <=
        row.getAs[Long]("n_blobs") * row.getAs[Long]("max_bytes"))
      assert(BigInt(row.getAs[String]("content_fp")) > 0)
    }
  }

  test("q566: ESS never exceeds N and equals N only under uniformity") {
    val r = rows("q566_importance_ess")
    assert(r.nonEmpty)
    val n = r.map(_.getAs[Long]("n_docs")).sum
    val ess = r.head.getAs[Long]("ess")
    // Cauchy-Schwarz: (sum w)^2 <= n * sum w^2, so ESS <= N (floors only
    // pull it further down)
    assert(ess >= 1 && ess <= n)
    assert(r.head.getAs[Long]("ess_ratio_e6") == ess * 1000000L / n)
    val uniform = r.map(_.getAs[Long]("n_docs")).distinct.size == 1
    if (!uniform) assert(ess < n)
    r.foreach(row => assert(row.getAs[Long]("share_e6") <= 1000000L))
  }

  test("q567: rollup subtotals reconstruct exactly at every level") {
    val r = rows("q567_rollup_lattice")
    val detail = r.filter(_.getAs[Long]("lvl") == 0L)
    val regions = r.filter(_.getAs[Long]("lvl") == 1L)
    val grand = r.filter(_.getAs[Long]("lvl") == 3L)
    assert(detail.nonEmpty && regions.nonEmpty && grand.length == 1)
    // each region subtotal = sum of its nations' detail rows
    regions.foreach { reg =>
      val name = reg.getAs[String]("region_name")
      val kids = detail.filter(_.getAs[String]("region_name") == name)
      assert(reg.getAs[Long]("revenue_c") ==
        kids.map(_.getAs[Long]("revenue_c")).sum)
      assert(reg.getAs[Long]("n_orders") ==
        kids.map(_.getAs[Long]("n_orders")).sum)
    }
    // grand total = sum of region subtotals
    assert(grand.head.getAs[Long]("revenue_c") ==
      regions.map(_.getAs[Long]("revenue_c")).sum)
  }

  test("q568: the pivot partitions each year's revenue exactly") {
    val r = rows("q568_pivot_priorities")
    assert(r.nonEmpty)
    val cols = Seq("p1_c", "p2_c", "p3_c", "p4_c", "p5_c")
    r.foreach { row =>
      assert(cols.map(row.getAs[Long](_)).sum == row.getAs[Long]("total_c"))
      cols.foreach(c => assert(row.getAs[Long](c) >= 0))
    }
  }

  test("q569: the diff stream replays the target bit-for-bit") {
    val r = rows("q569_merge_replay")
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("fp_match") == 1L)
    assert(row.getAs[Long]("n_replayed") == row.getAs[Long]("n_target"))
    assert(row.getAs[String]("replay_fp") == row.getAs[String]("target_fp"))
    // the action counts agree with q554's classification
    val diff = rows("q554_table_diff")
      .map(x => x.getAs[String]("action") -> x.getAs[Long]("n")).toMap
    assert(row.getAs[Long]("n_ins") == diff("insert"))
    assert(row.getAs[Long]("n_upd") == diff("update"))
    assert(row.getAs[Long]("n_del") == diff("delete"))
  }

  test("q570: pivot and unpivot are mutual inverses on every cell") {
    val r = rows("q570_unpivot_roundtrip")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("roundtrip_ok") == 1L)
      assert(row.getAs[Long]("revenue_unpiv_c") ==
        row.getAs[Long]("revenue_direct_c"))
    }
    // the unpivot emits the full (year x priority) grid
    val years = r.map(_.getAs[Long]("yr")).distinct.size
    assert(r.length == years * 5)
  }

  test("q548: pigeonhole bounds and verdict consistency per candidate") {
    val r = rows("q548_distribution_advisor")
    assert(r.length == 6)
    r.foreach { row =>
      val n = row.getAs[Long]("n")
      val hit = row.getAs[Long]("distributions_hit")
      val maxR = row.getAs[Long]("max_rows")
      val skew = row.getAs[Long]("skew_e6")
      assert(hit >= 1 && hit <= 60)
      // pigeonhole: the largest of the hit distributions holds >= n/hit
      assert(maxR >= (n + hit - 1) / hit)
      // a level filter floors at exactly 1.0e6
      assert(skew >= 1000000L)
      assert(skew == maxR * 60L * 1000000L / n)
      val expected =
        if (row.getAs[Long]("ndv") < 600) "low_ndv"
        else if (skew > 2000000L) "skewed" else "good"
      assert(row.getAs[String]("verdict") == expected)
    }
  }

  test("q548: the stacked single-pass advisor equals the per-candidate plan") {
    import org.apache.spark.sql.functions._
    // a long candidate with NULLs, a timestamp candidate, and a second table
    val a = spark.range(0, 240).select(
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 37).as("k"),
      (lit(1700000000L) + (col("id") % 53) * 3600L).cast("timestamp").as("ts"))
    val b = spark.range(0, 150).select((col("id") * col("id") % 101).as("x"))
    val cands = Seq((a, Seq("a.k" -> "k", "a.ts" -> "ts")), (b, Seq("b.x" -> "x")))
    // the formulation the stacked plan replaced: per candidate, a groupBy
    // on the bucket plus a countDistinct, crossed
    val perCandidate = cands.flatMap { case (df, cs) => cs.map { case (label, c) =>
      val hashed = df.select((graft.functions.Text.portableHash(
        concat(lit("d|"), col(c).cast("string"))) % 60L).as("d"), col(c).as("v"))
      hashed.groupBy(col("d")).agg(count(lit(1)).as("rows"))
        .agg(count(lit(1)).as("distributions_hit"), sum(col("rows")).as("n"),
          max(col("rows")).as("max_rows"))
        .crossJoin(hashed.agg(countDistinct(col("v")).as("ndv")))
        .select(lit(label).as("candidate"), col("n"), col("ndv"),
          col("distributions_hit"), col("max_rows"))
    } }.reduce(_.unionAll(_))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("candidate", "n", "ndv", "distributions_hit", "max_rows")
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val got = sorted(EstimatorQueries.distributionStats(cands))
    assert(got === sorted(perCandidate))
    val byLabel = got.map(r => r.head -> r).toMap
    // NULL keys count in n and as their own distribution, never in ndv
    assert(byLabel("a.k")(1) === 240L)
    assert(byLabel("a.k")(2) === 37L)
    assert(byLabel("a.ts")(2) === 53L)
    assert(byLabel("b.x")(1) === 150L)
  }
}
