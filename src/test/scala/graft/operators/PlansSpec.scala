package graft.operators

import graft.SparkSpec

/** Physical-plan shape assertions — the 100 TB posture in executable form:
  * filters reach the parquet scan, projection pruning reaches ReadSchema,
  * dimensions broadcast, top-k avoids global sort, aggregation is
  * partial+final, and the hot paths stay inside WholeStageCodegen.
  */
class PlansSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q01: shipdate filter and column pruning are pushed to the scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
    assert(p.contains("partial_sum"), "aggregation must be partial+final")
  }

  test("q10: star join broadcasts dimensions and prunes the fact scan") {
    val p = plan("q10_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation+region must broadcast:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
      "fact scan must read only the 3 needed columns")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "date filter must push into the orders scan")
  }

  test("q30: TOP-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q30_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q11: pre-aggregated left join keeps partial aggregation map-side") {
    val p = plan("q11_left_join")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q15: semi join plans as a semi join, not a full join + distinct") {
    val p = plan("q15_semi_join")
    assert(p.contains("LeftSemi"), p)
  }

  test("q54: pair generation is join-free — one shuffle on the shingle hash") {
    val p = plan("q54_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    // the old self-join shape is gone; pairs come from the grouped doc list
    assert(p.contains("collect_list"), p)
    assert(p.contains("partial_count"), "pair counting must map-side combine")
  }

  test("q61: banded LSH joins on band keys, never cartesian") {
    val p = plan("q61_ann_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("band"), p)
  }

  test("q63: one banding pass, grouped pair generation, no signature self-join") {
    val p = plan("q63_cosine_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("collect_list"), "pairs must come from grouped members")
    // the r2 self-join computed the posexplode banding pipeline on BOTH
    // sides; the grouped shape runs it exactly once
    assert("posexplode".r.findAllIn(p).size === 1,
      s"banding must be computed once:\n$p")
  }

  test("q64: IVF assignment uses the O(1)-codegen expression, equi-join on cluster") {
    val p = plan("q64_ann_ivf")
    assert(p.contains("nearest_centroids"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("sort_array"),
      "probe selection must be the top-nprobe insertion, not a k-wide sort")
  }

  test("q09: portable HLL registers aggregate map-side at both stages") {
    val p = plan("q09_portable_hll")
    assert(p.contains("partial_max"), "register max must map-side combine")
    assert(p.contains("partial_sum"), "register sum must map-side combine")
    assert(!p.contains("Generate"), "no explode — the sketch is pure aggregation")
  }

  test("q47: group stats broadcast to the per-row standardize join") {
    val p = plan("q47_stat_composites")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("scalar layer stays inside WholeStageCodegen (no UDF breaks)") {
    val p = plan("q40_string_funcs")
    assert(p.contains("*("), s"codegen stage marker missing:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("q83: repetition metrics are map-only — no aggregate, join, or window") {
    val p = plan("q83_repetition_metrics")
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q85: decontamination probes a BROADCAST benchmark gram set") {
    val p = plan("q85_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark grams must broadcast, not shuffle the training stream:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q86: temperature resampling is sort-free (hash threshold, no rank)") {
    val p = plan("q86_temperature_resample")
    assert(!p.contains("Window"), s"no per-stratum window sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-language thresholds must broadcast:\n$p")
  }

  test("q89: range aggregate uses broadcast spine lookups, no pair join") {
    val p = plan("q89_range_agg_prefix")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both prefix lookups must broadcast:\n$p")
    // the whole point: no explode of interval x point candidates
    assert(!p.contains("posexplode"), p)
  }

  test("q97: interval overlap joins on bucket ids, never nested-loop") {
    val p = plan("q97_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"overlap must be the bucket equi-join, not BNLJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q98: weighted sample is TakeOrderedAndProject, not a global sort") {
    val p = plan("q98_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only exchange allowed is the small-input round-robin guard; a
    // global sort would show as a RangePartitioning exchange
    assert(!p.contains("RangePartitioning"),
      s"no range-partitioned global sort before the top-k:\n$p")
  }

  test("q99: classifier scoring is map-only inside codegen") {
    val p = plan("q99_hash_classifier")
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("q100: funnel counts five stages in one aggregate over labelled rows") {
    // the labelling pipeline ends in a localCheckpoint (lineage cut), so this
    // plan shows exactly the funnel arithmetic: ONE partial+final aggregate
    // feeding a stack unpivot — five stages never replay the pipeline. The
    // contamination probe's broadcast is asserted on q85, which shares it.
    val p = plan("q100_curation_funnel")
    assert("Generate stack".r.findAllIn(p).size === 1, s"stack unpivot expected:\n$p")
    assert(p.contains("partial_count"), "funnel aggregate must map-side combine")
    assert(!p.contains("CartesianProduct"), p)
    // aggregate census: funnel partial+final (2) + bin count (2) +
    // packed-token total (2) + the stage-5 grouped prefix device (its
    // value-range scalar, bucket rollup, prior rollup/sum, and bin
    // grouping) — a budget of 20 keeps "five stages share one aggregate"
    // pinned while allowing the device's fixed metadata passes
    assert("HashAggregate".r.findAllIn(p).size <= 20,
      s"stage counting must not multiply aggregates:\n$p")
  }

  test("q101: register max and merge both aggregate map-side") {
    val p = plan("q101_hll_rollup")
    assert(p.contains("partial_max"), "register max must map-side combine")
    assert(p.contains("partial_sum"), "estimator sum must map-side combine")
    assert(!p.contains("Generate"), "no explode — sketches are pure aggregation")
  }

  test("q105: each PageRank round is join + partial-agg over the cut edge list") {
    val p = plan("q105_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), "contribution sums must map-side combine")
    // the checkpointed edge list truncates lineage: the final plan must not
    // re-derive lineitem ⋈ orders once per iteration
    assert(!p.contains("l_orderkey"),
      s"edge derivation must be cut by the checkpoint, not replayed:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-25 must not global-sort the rank table")
  }

  test("q107: basket pairs are join-free; the order count broadcasts") {
    val p = plan("q107_copurchase")
    assert(p.contains("collect_list"), "pairs must come from grouped baskets")
    assert(!p.contains("CartesianProduct"),
      s"the scalar cross join must broadcast, not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar |orders| must ride a broadcast:\n$p")
    assert(p.contains("partial_count"), "support counting must map-side combine")
  }

  test("q108: one pass over events — the lead window subtree is not duplicated") {
    val p = plan("q108_markov_transitions")
    assert("lead\\(".r.findAllIn(p).size === 1,
      s"row totals must not self-join the event window subtree:\n$p")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q164: AUC windows run over the score rollup, not per-row ranks") {
    val p = plan("q164_auc")
    // the corpus aggregates (score rollup) run partial+final; the
    // cumulative windows sit above that tiny rollup — no global per-row
    // rank/sort of the corpus exists anywhere
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("rank("), "no per-row rank over the corpus")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q165: model and accuracy derive from one event pass — no join back") {
    val p = plan("q165_markov_eval")
    assert("events\\.parquet".r.findAllIn(p).size === 1,
      s"the (from,to) matrix must be built in a single event scan:\n$p")
    assert(!p.contains("Join"), "hits come from the argmax cell, not a join")
    assert(p.contains("partial_sum"), p)
  }

  test("q166: attribution is one event scan, two keyed windows, no union") {
    val p = plan("q166_ushape_attribution")
    assert("events\\.parquet".r.findAllIn(p).size === 1,
      s"direct purchases must ride the same pass as credited touches:\n$p")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), "final rollup aggregates map-side")
  }

  test("q175: both periods aggregate in one lineitem scan; part broadcasts") {
    val p = plan("q175_price_volume_mix")
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1,
      s"no period self-join — conditional sums share one scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q174: RFM banding broadcasts boundaries — no global ntile sort") {
    val p = plan("q174_rfm_segments")
    assert(!p.contains("ntile("), p)
    assert(p.contains("Broadcast"), "the 1-row boundary frame must broadcast")
    // the user rollup is checkpointed, so the events scan never repeats
    assert("events\\.parquet".r.findAllIn(p).isEmpty, p)
  }

  test("q171: backlog join is key-equi; balance rides the bucket device") {
    val p = plan("q171_backlog")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop allowed is the device's 1-row scalar stitch
    // (min/max range broadcast) — the r8 migration replaced the global
    // day window with the two-level bucket device
    assert(p.contains("pfx_bkt"),
      s"running balance must ride the two-level device:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_max"), p)
  }

  test("q177: separability is one explode pass into partial aggregation") {
    val p = plan("q177_class_separability")
    // the (label, dim) rollup is checkpointed — the embeddings explode
    // must not appear (and so cannot repeat) in the final plan
    assert("embeddings\\.parquet".r.findAllIn(p).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q91 production twin aggregates bottom-k partials map-side") {
    val p = EventQueries.q91SketchQuantilesProd(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_bottomkagg"),
      s"BottomKAgg must run partial+final:\n$p")
    assert(!p.contains("Window"), "no per-group sort in the production path")
  }

  test("q186/q187: session + repeat metrics are join-free single passes") {
    val p186 = plan("q186_session_quality")
    assert(!p186.contains("Join"), s"sessionization must not self-join:\n$p186")
    assert(p186.contains("partial_count"), "day rollup must map-side combine")
    val p187 = plan("q187_time_to_repeat")
    assert(!p187.contains("Join"),
      s"first/second purchase must pivot from one window, not a self-join:\n$p187")
    // exactly one Window exec; extra "Window" hits are WindowGroupLimit —
    // Spark pushing the rn<=2 filter into partial/final group limits
    assert("Window \\[".r.findAllIn(p187).size === 1, "one ranking window pass")
  }

  test("q188: moments and degree stats aggregate partially; scalar cross join only") {
    val p = plan("q188_assortativity")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), "co-moment sums must map-side combine")
    // the only nested-loop is the deliberate 1-row × 1-row scalar stitch
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("q189: wedge pairs come from the grouped neighbor list, anti-join prunes edges") {
    val p = plan("q189_link_prediction")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("collect_list"), "in-place pair generation, not a self-join")
    assert(p.contains("LeftAnti"), "existing edges must prune via anti-join")
  }

  test("q190: token stream aggregates map-side; head share joins back broadcast") {
    // the Zipf head is a rank-then-filter top-10 per source (group-limited,
    // pinned in the corpus-axis test) joined back to the plain rollup —
    // that ONE join must stay a broadcast of the |sources|-row head, never
    // a shuffle join of the vocabulary
    val p = plan("q190_lexical_diversity")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 1 &&
      !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"head join must broadcast:\n$p")
    assert(p.contains("partial_count"), "tf counting must map-side combine")
  }

  test("q195/q206: scalar stitches stay broadcast; sums partial-aggregate") {
    val p195 = plan("q195_hazard_curve")
    assert(!p195.contains("CartesianProduct"), p195)
    // two 1-row stitches may nested-loop: the corpus-end scalar and the
    // max-week scalar the spine explodes from — both broadcast singletons
    assert("BroadcastNestedLoopJoin".r.findAllIn(p195).size <= 2, p195)
    val p206 = plan("q206_return_outliers")
    assert(!p206.contains("CartesianProduct"), p206)
    assert(p206.contains("partial_sum") || p206.contains("partial_count"),
      "supplier rollup must map-side combine")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p206).size <= 1, p206)
  }

  test("q200/q204: one user-keyed window pass each, candidates join-free") {
    val p204 = plan("q204_attr_sensitivity")
    assert("Window \\[".r.findAllIn(p204).size === 1,
      s"all three windows must ride ONE last-touch pass:\n$p204")
    assert(!p204.contains("Join"), "no self-joins in the sensitivity panel")
    val p200 = plan("q200_sequence_patterns")
    assert(!p200.contains("CartesianProduct"), p200)
    assert(p200.contains("collect_list"),
      "pair generation must be the grouped in-place shape")
  }

  test("q213: rank filter pushes into WindowGroupLimit before the shuffle") {
    val p = plan("q213_group_topk")
    assert(p.contains("WindowGroupLimit"),
      s"top-k per group must run partial group limits map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q539/q209: rank-then-filter top-k stays WindowGroupLimit-protected") {
    // These two global rank()<=k sites are scale-safe ONLY because
    // InferWindowGroupLimit rewrites them to partial group limits before
    // the single-partition exchange — a Spark version bump or a refactor
    // that breaks the pattern would silently restore a corpus-wide funnel
    // (r7 verdict item 5). Pin the executed shape.
    // a GLOBAL rank()<=k rewrites to TakeOrderedAndProject (top-k without
    // a full sort); a PARTITIONED one to WindowGroupLimit — either marker
    // proves the funnel is gone, its absence means a corpus-wide sort
    def protected_(p: String) =
      p.contains("WindowGroupLimit") || p.contains("TakeOrderedAndProject")
    val p539 = plan("q539_rice_postings")
    assert(protected_(p539),
      s"q539 df-rank top-10 must run as a pushed group/global limit:\n$p539")
    val p209 = plan("q209_skew_plan")
    assert(protected_(p209),
      s"q209 skew-rank top-k must run as a pushed group/global limit:\n$p209")
  }

  test("corpus-axis windows: q69 group-limited, q87/q190 device-bucketed") {
    // lang/source are LOW-cardinality keys on the axis that grows to
    // 100 TB — a window partitioned only by them funnels a corpus-sized
    // group through one task. q69's per-lang top-50 must keep the
    // WindowGroupLimit rewrite; q190's Zipf head is rank-then-filter and
    // must group-limit too; q87/q100's packing prefix sums ride the
    // grouped bucket device, so every surviving Window must be
    // pfx_bkt-partitioned.
    assert(plan("q69_stratified_sample").contains("WindowGroupLimit"),
      "q69 per-lang hash top-50 must run partial group limits map-side")
    val p190 = plan("q190_lexical_diversity")
    assert(p190.contains("WindowGroupLimit"),
      s"q190 Zipf head must run partial group limits map-side:\n$p190")
    for (q <- Seq("q87_sequence_packing", "q100_curation_funnel")) {
      // q100 also runs a legitimate fine-grain md5(text) dedup window, so
      // the rule is: any window touching the lang key must be the device's
      // (lang, pfx_bkt) inner pass, never lang alone
      val windows = "Window \\[[^\\n]*".r.findAllIn(plan(q)).toSeq
      assert(windows.nonEmpty && windows.filter(_.contains("lang#"))
          .forall(_.contains("pfx_bkt")),
        s"$q lang-keyed windows must stay bucket-partitioned:\n${windows.mkString("\n")}")
    }
  }

  test("q202/q205: per-key ranking is partitioned, dispersion joins nothing") {
    val p202 = plan("q202_recsys_eval")
    assert(!p202.contains("CartesianProduct"), p202)
    assert(p202.contains("collect_list"), "basket pairs stay in-place")
    val p205 = plan("q205_price_dispersion")
    assert(!p205.contains("CartesianProduct"), p205)
    // the median reads off the two-level rank selection over the
    // (part, unit_c) rollup — never a per-group percentile sort-aggregate
    // that buffers every raw unit price per part (no partial agg, no
    // codegen; 19 s at sf0.1 before the rewrite)
    assert(!p205.toLowerCase.contains("percentile"),
      s"median must come from rank selection, not percentile_disc:\n$p205")
    assert(p205.contains("partial_count") || p205.contains("partial_sum"),
      s"the unit-price rollup must partial-aggregate map-side:\n$p205")
  }
  test("q218/q219: FD rollups partial-aggregate; IND joins distinct-reduced sides") {
    val fd = plan("q218_fd_audit")
    assert(fd.contains("partial_count") || fd.contains("partial_sum"), fd)
    val ind = plan("q219_ind_scan")
    // containment joins run on DISTINCT-reduced key sets, never fact rows
    assert(ind.contains("HashAggregate"), ind)
    assert(!ind.contains("CartesianProduct"), ind)
  }

  test("q221/q222: corpus text passes shuffle once per key, scalars broadcast") {
    val pmi = plan("q221_pmi_collocations")
    assert(pmi.contains("partial_count"), "bigram counts must map-side combine")
    assert(pmi.contains("BroadcastNestedLoopJoin") ||
      pmi.contains("BroadcastExchange"), "the 1-row token total must broadcast")
    assert(!pmi.contains("CartesianProduct"), pmi)
    val heaps = plan("q222_heaps_growth")
    // running distinct is the first-occurrence rollup, not a re-scan per prefix
    assert(heaps.contains("partial_min") || heaps.contains("min("), heaps)
    assert(!heaps.contains("CartesianProduct"), heaps)
  }

  test("q226/q224: ten-bin calibration rollup and per-source quantile agg") {
    val cal = plan("q226_calibration")
    assert(cal.contains("partial_count") || cal.contains("partial_sum"), cal)
    assert(!cal.contains("CartesianProduct"), cal)
    val qm = plan("q224_quantile_map")
    // the pooled 11-quantile row broadcasts to the per-source rows
    assert(qm.contains("BroadcastExchange") ||
      qm.contains("BroadcastHashJoin"), qm)
  }

  test("q228: triple explode runs over PRUNED baskets behind a broadcast filter") {
    val p = plan("q228_frequent_triples")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the frequent-item filter must broadcast into the incidence scan")
    assert(p.contains("collect_list"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q229/q230: probe batch broadcasts; bitmap grains reuse the checkpoint") {
    val rp = plan("q229_rp_recall")
    assert(rp.contains("BroadcastNestedLoopJoin") ||
      rp.contains("BroadcastExchange"), "the 10-probe batch must broadcast")
    val bm = graft.SparkEntry.queries("q230_bitmap_distinct")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // both grains read the localCheckpointed level-1 words, not the corpus
    assert("Scan ExistingRDD".r.findAllIn(bm).size >= 2, bm)
    assert(!bm.toLowerCase.contains("parquet"),
      "no grain may rescan the event corpus")
  }

  test("q252: replicate expansion is one Generate; replicate means combine map-side") {
    val p = plan("q252_poisson_bootstrap")
    // one digest per order seeds all R draws; the only expansion is the
    // posexplode of the precomputed draw array
    assert("Generate posexplode".r.findAllIn(p).size === 1,
      s"exactly the one-level R-fold explode:\n$p")
    assert("md5".r.findAllIn(p).size <= 2, // one per branch, never per draw
      s"the digest must not replicate with R:\n$p")
    assert(p.contains("partial_sum"), "replicate sums must map-side combine")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q253: the attribution result is control-plane metadata (literal frame)") {
    val p = plan("q253_removal_effect")
    // the event pass ran eagerly into the driver DP; the returned frame is
    // a literal — no distributed stage replays per consumer
    assert(p.contains("LocalTableScan"), p)
  }

  test("q254: uplift curve is windows over rollups — no join, no cartesian") {
    val p = plan("q254_qini_uplift")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_sum"), "user rollup must map-side combine")
  }

  test("q256/q255: blocking and diversity run as stacked aggregates, no UDF") {
    val p6 = plan("q256_phonetic_blocking")
    // phonetic keys are pure Catalyst HOFs — no Python/Scala UDF seam
    assert(!p6.contains("BatchEvalPython") && !p6.contains("UDF"), p6)
    assert(p6.contains("partial_count"), p6)
    val p5 = plan("q255_l_diversity")
    // second-level group keys prefix the first's, so the QI shuffle is reused
    assert("hashpartitioning".r.findAllIn(p5).size <= 2, p5)
  }

  test("q257: chunk windows and chunk rollup share the doc_id shuffle") {
    val p = plan("q257_cdc_chunks")
    // one doc_id exchange feeds boundary window, in-chunk rank AND the
    // (doc, chunk) rollup (subset-clustering); sig rollup adds the second;
    // the single-row summary agg adds its own single-partition exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"windows + chunk rollup must reuse the doc_id partitioning:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must not global-sort the chunk table")
  }

  test("q261: sequential smoothing is a partition-local array fold — no driver loop") {
    val p = plan("q261_croston_forecast")
    // per-series state lives inside the aggregate HOF over the collected
    // arrival array: two rollup shuffles, zero joins, zero LocalTableScan
    assert(p.contains("collect_list") && p.contains("aggregate("), p)
    assert(!p.contains("LocalTableScan") && !p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("q258: date filter reaches the orders scan; anti join stays anti") {
    val p = plan("q258_dormant_capital")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"recency filter must push into the orders scan:\n$p")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q271/q272: rank maps build on rollups, co-moments combine map-side") {
    val p = plan("q271_spearman")
    // the fact joins two VALUE-keyed rank maps — no corpus-wide rank window
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), "rollups must partial-aggregate")
    assert(p.contains("partial_sum"), "co-moments must map-side combine")
    val k = plan("q272_kruskal_wallis")
    // the one ordered window runs over the distinct-price ROLLUP, after a
    // partial+final aggregate — never over raw order rows
    assert(k.contains("partial_sum"), k)
    assert(!k.contains("CartesianProduct") || k.contains("BroadcastNestedLoopJoin"),
      "scalar stitches must broadcast")
  }

  test("q276: eval tokens join the pivoted model once, scalars broadcast") {
    val p = plan("q276_naive_bayes")
    // one model join keyed by word — never |langs| copies of the stream
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the two scalar stitches may nest-loop:\n$p")
    assert(p.contains("partial_sum"), "surprisal sums must map-side combine")
  }

  test("q278/q279: one token shuffle each; marginals fold from the rollup") {
    for (q <- Seq("q278_source_entropy", "q279_feature_mi")) {
      val p = plan(q)
      assert("Generate explode".r.findAllIn(p).size <= 1,
        s"$q must explode the token stream once:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("q285/q286/q287: snowflake dims broadcast, date filter reaches the scan") {
    val p = plan("q285_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"part + nation/region legs + supplier-nation must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val t = plan("q286_top_supplier")
    assert(t.contains("GreaterThanOrEqual(l_shipdate"),
      s"quarter filter must push into the lineitem scan:\n$t")
    assert(t.contains("partial_sum"), t)
    val v = plan("q287_volume_shipping")
    assert(v.contains("BroadcastHashJoin"), v)
    assert(!v.contains("BroadcastNestedLoopJoin"),
      "the disjunctive pair predicate must not fall off the hash-join path")
  }

  test("q282/q284: bounded k fan-out assign; looks fold from one pass") {
    val p = plan("q282_lloyd_step")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), "distance sums must map-side combine")
    val q = plan("q284_sequential_test")
    // five looks = one per-user pass + one scalar fold + a 5-row Generate;
    // the event table must appear in exactly one aggregation pipeline
    assert("Generate explode".r.findAllIn(q).size === 1, q)
    assert(!q.contains("CartesianProduct"), q)
  }

  test("q280/q281: single lead pass; Theil folds ride broadcasts") {
    val p = plan("q280_entropy_rate")
    // the term rollup is checkpointed: the union's two grains must NOT
    // replay the corpus lead pass, so no Window survives in the final plan
    assert(!p.contains("Window"), s"grains must read the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val t = plan("q281_theil_decomposition")
    assert(t.contains("BroadcastHashJoin") || t.contains("BroadcastNestedLoopJoin"),
      s"supplier dim and scalars must broadcast:\n$t")
    assert(!t.contains("CartesianProduct"), t)
  }

  test("q293: query terms broadcast; top-k is TakeOrdered, not a global sort") {
    val p = plan("q293_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"the 3-term query frame must broadcast:\n$p")
    assert(p.contains("partial_count"), "tf rollup must map-side combine")
  }

  test("q294/q300: regression sums fold from rollups — no corpus join or sort") {
    val p = plan("q294_powerlaw_fit")
    assert(p.contains("partial_count"), "frequency rollup must map-side combine")
    assert(!p.contains("SortMergeJoin"), s"no corpus-scale join:\n$p")
    assert(!p.contains("ScalaUDF"), "log2e6 must stay a codegen expression")
    val c = plan("q300_cuped")
    assert(c.contains("partial_sum"), "CUPED power sums must map-side combine")
    assert(!c.contains("SortMergeJoin"), s"midpoint scalar must broadcast:\n$c")
  }

  test("q295/q297: rank statistics window only metadata-sized rollups") {
    val p = plan("q295_mann_whitney")
    // the corpus-scale rank map is the two-level bucket construction: the
    // only unpartitioned window orders the bucket rollup
    assert(p.contains("bkt"), s"doubled ranks must use the bucket prefix:\n$p")
    assert(p.contains("PushedFilters: [In(o_orderpriority"),
      s"the two-arm filter must reach the scan:\n$p")
    val a = plan("q297_pr_curve")
    assert(a.contains("partial_sum"), "user rollup must map-side combine")
    assert(!a.contains("CartesianProduct"), a)
  }

  test("q299: DBSCAN neighbors join on grid cells, never cartesian") {
    val p = plan("q299_dbscan_census")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidates must equi-join on the cell key:\n$p")
  }

  test("q302: precedence pairs join inside the user key — one corpus shuffle pair") {
    val p = plan("q302_seq_patterns")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_min"), "first-occurrence rollup must map-side combine")
  }

  test("q303: candidate distances fan out k per row off a broadcast seed frame") {
    val p = plan("q303_silhouette")
    assert(p.contains("BroadcastHashJoin"), s"seed frame must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q304/q306/q308: user/day rollups fold map-side, scalars broadcast") {
    val c = plan("q304_cem_att")
    assert(c.contains("partial_sum"), "stratum rollup must map-side combine")
    assert(!c.contains("SortMergeJoin"), s"no corpus-scale join in CEM:\n$c")
    val d = plan("q306_seasonal_decomp")
    assert(d.contains("partial_count"), "day rollup must map-side combine")
    assert(d.contains("BroadcastHashJoin") || d.contains("BroadcastNestedLoopJoin"),
      s"the day-of-week seasonal frame must broadcast:\n$d")
    val i = plan("q308_ips_offpolicy")
    assert(!i.contains("CartesianProduct"), i)
    assert(i.contains("BroadcastHashJoin"),
      s"policy and per-stratum frames must broadcast:\n$i")
  }

  test("q315/q318: pairs generate in place; factor folds ride broadcasts") {
    val p = plan("q315_fellegi_sunter")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"only the 1-row u-scalar may nest:\n$p")
    assert(p.contains("collect_list"),
      "block pairs must generate in place from the grouped member list")
    val a = plan("q318_als_step")
    assert(a.contains("partial_sum"), "factor folds must map-side combine")
    assert(a.contains("BroadcastHashJoin") || a.contains("BroadcastNestedLoopJoin"),
      s"the user-factor join keys on user_id; Σu² broadcasts:\n$a")
  }

  test("q319/q321/q325: constants inline, folds combine map-side, no UDF") {
    val p = plan("q319_periodogram")
    assert(p.contains("partial_sum"), "trig folds must map-side combine")
    assert(!p.contains("ScalaUDF"), "trig must be inlined CASE literals")
    val q = plan("q321_pacf")
    assert(!q.contains("ScalaUDF") && !q.contains("CartesianProduct"), q)
    val r = plan("q325_psi_drift")
    assert(r.contains("BroadcastHashJoin") || r.contains("BroadcastNestedLoopJoin"),
      s"decile cutpoints must broadcast:\n$r")
    assert(!r.contains("ScalaUDF"), "log2 must stay inlined")
  }

  test("q326: lattice neighbor join keys on cells; checkpoint feeds both folds") {
    val p = plan("q326_morans_i")
    assert(!p.contains("CartesianProduct"), p)
    // the neighbor join is an EQUI-join on the cell key (hash or merge);
    // the only nested-loop is the 1-row scalar cross at the finish
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"neighbors must equi-join:\n$p")
  }

  test("q327-q331: contingency folds stay metadata-side; cutpoints broadcast") {
    val k = plan("q327_kendall_tau")
    assert(k.contains("partial_count"), "cell rollup must map-side combine")
    // the C/D pair join runs on the ≤500-row cell frame — the corpus never
    // appears on either side of a non-equi join
    assert(k.contains("BroadcastNestedLoopJoin") || k.contains("BroadcastHashJoin"),
      s"cell pairs must broadcast, never shuffle:\n$k")
    val r = plan("q328_raking")
    assert(r.contains("BroadcastHashJoin"),
      s"sweep factors must broadcast onto the cell frame:\n$r")
    val m = plan("q329_mobility")
    assert(m.contains("BroadcastNestedLoopJoin") || m.contains("BroadcastHashJoin"),
      s"quintile cutpoints must broadcast:\n$m")
    val c = plan("q330_conformal")
    assert(c.contains("partial_count"), "day rollup must map-side combine")
    assert(!c.contains("CartesianProduct"), c)
    val l = plan("q331_logloss_hl")
    assert(!l.contains("ScalaUDF"), "log2 must stay inlined")
    assert(l.contains("partial_count") || l.contains("partial_sum"),
      "bin rollup must map-side combine")
  }

  test("q307: Pettitt walk runs over the day rollup with a broadcast scalar") {
    val p = plan("q307_pettitt_changepoint")
    assert(p.contains("partial_sum"), "day rollup must map-side combine")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the n scalar must broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"the purchase filter must reach the scan:\n$p")
  }

  // ---------------- r8/r9 scale-guard pins (r8 verdict item 7): a Spark
  // bump or refactor must not silently restore the funnel/broadcast shapes
  // these optimizations removed.

  test("parallelizedBy: no exchange added when splits already cover the cores") {
    import org.apache.spark.sql.functions._
    val cores = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000).repartition(cores + 2)
      .select(col("id"), (col("id") * 2).as("v"))
    val spread = graft.Tables.parallelizedBy(wide, col("id"))
    assert(spread.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange")) ===
      wide.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange")),
      "parallelizedBy must be a NO-OP once the input has >= cores splits")
    // and it DOES add the hash exchange on a single-split input
    val narrow = spark.range(0, 1000).coalesce(1)
      .select(col("id"), (col("id") * 2).as("v"))
    assert(graft.Tables.parallelizedBy(narrow, col("id"))
        .queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
      "single-split inputs must spread by the unique key")
  }

  test("q271: the corpus-scale price rank map joins shuffle_hash, never broadcast") {
    val p = plan("q271_spearman")
    assert(p.contains("ShuffledHashJoin"),
      s"price rank-map join must stay ShuffledHashJoin:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the fact side must never stream against a broadcast:\n$p")
  }

  test("q65: the shuffle branch of the verify decoration never broadcasts docs") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 64).select(col("id").as("doc_id"),
      array(col("id"), col("id") + 1).as("arr"), lit(2).as("n_sh"))
    val cands = spark.range(0, 64).select(col("id").as("doc_a"),
      (col("id") + 1).as("doc_b"))
    val shuffled = TextQueries.verifyDecorate(cands, docs, useBroadcast = false)
      .queryExecution.executedPlan.toString
    assert(shuffled.contains("ShuffledHashJoin"),
      s"gate-off branch must shuffle-hash the docs probes:\n$shuffled")
    assert(!shuffled.contains("BroadcastExchange"),
      s"gate-off branch must never broadcast the per-document frame:\n$shuffled")
    val bcast = TextQueries.verifyDecorate(cands, docs, useBroadcast = true)
      .queryExecution.executedPlan.toString
    assert(bcast.contains("BroadcastHashJoin"),
      s"gate-on branch must broadcast:\n$bcast")
  }

  // Batched-aggregate shapes: each batch of aggregates over one input
  // shares a pass. The exchange counts pin the plans of the final action.

  private def exchanges(p: String): Int =
    p.linesIterator.count(_.contains("Exchange "))

  test("q548: one scan per table, stacked candidates, no broadcast") {
    val p = plan("q548_distribution_advisor")
    assert("FileScan parquet".r.findAllIn(p).size === 2,
      s"orders and lineitem must be read once each:\n$p")
    assert(!p.contains("BroadcastExchange"), p)
    assert("Generate explode".r.findAllIn(p).size === 2, p)
    // (candidate, v), (candidate, d), candidate, and the 6-row sort
    assert(exchanges(p) === 4, p)
  }

  test("q470: keyed windows and one moment fold, no checkpoint, no broadcast") {
    val p = plan("q470_tukey_nonadditivity")
    assert(!p.contains("ExistingRDD"), p)
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the 60-cell rollup, the mo and g windows, the global fold
    assert(exchanges(p) === 4, p)
  }

  test("q274 / hitsInt: round 1 plans no join; final plan exchanges pinned") {
    import org.apache.spark.sql.execution.QueryExecution
    val ckPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") ckPlans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      Graph.hitsInt(Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("hub", "auth"), 1)
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(
        spark.sparkContext, 10000L)
    } finally spark.listenerManager.unregister(listener)
    // the edge checkpoint, then round 1's authority and hub half-steps
    val cks = ckPlans.toArray.map(_.toString)
    assert(cks.length === 3, cks.mkString("\n\n"))
    assert(!cks(1).contains("Join"), s"round-1 authorities need no join:\n${cks(1)}")
    assert(cks(2).contains("Join"), cks(2))
    // the final action only reads the two checkpointed score frames
    assert(exchanges(plan("q274_hits")) === 0, plan("q274_hits"))
  }

  test("q68: clusters' final plan reads the checkpointed labels only") {
    val p = plan("q68_dedup_clusters")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.toLowerCase.contains("parquet"), p)
    assert(exchanges(p) === 0, p)
  }
}
