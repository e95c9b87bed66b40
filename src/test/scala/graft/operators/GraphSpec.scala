package graft.operators

import graft.SparkSpec

/** PageRank must agree with a driver-side integer reference implementation
  * on hand-built graphs, and q105's shape invariants must hold on testdata.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: the same integer fixed-point recurrence, computed serially. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.map(_._1).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val sums = edges
        .map { case (u, v) => v -> r(u) / outdeg(u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map(n => n -> (150000L + 85L * sums.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRankInt(edges.toDF("src", "dst"), iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap

  /** Serial reference for HITS: same L1-normalized integer half-steps. */
  private def refHits(edges: Seq[(Long, Long)], iters: Int)
      : (Map[Long, BigInt], Map[Long, BigInt]) = {
    val S = BigInt(1000000000000L)
    var h: Map[Long, BigInt] = edges.map(_._1).distinct.map(_ -> S).toMap
    var a: Map[Long, BigInt] = edges.map(_._2).distinct.map(_ -> S).toMap
    for (_ <- 1 to iters) {
      val araw = edges.groupBy(_._2).view
        .mapValues(_.map(e => h(e._1)).sum).toMap
      val atot = araw.values.sum
      a = araw.view.mapValues(v => v * S / atot).toMap
      val hraw = edges.groupBy(_._1).view
        .mapValues(_.map(e => a(e._2)).sum).toMap
      val htot = hraw.values.sum
      h = hraw.view.mapValues(v => v * S / htot).toMap
    }
    (h, a)
  }

  test("HITS matches the serial reference and conserves L1 mass") {
    // two hubs share authority 10; hub 1 also owns 11,12 (the stronger hub)
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 13L))
    val (hubsDf, authsDf) = Graph.hitsInt(edges.toDF("hub", "auth"), 2)
    val hubs = hubsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val auths = authsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (refH, refA) = refHits(edges, 2)
    assert(hubs === refH.view.mapValues(_.toLong).toMap)
    assert(auths === refA.view.mapValues(_.toLong).toMap)
    // shared authority 10 collects from both hubs: it must dominate
    assert(auths(10L) === auths.values.max)
    assert(hubs(1L) > hubs(2L))
    // L1 normalization: total mass within |nodes| floor-truncations of 1e12
    assert(math.abs(hubs.values.sum - 1000000000000L) <= hubs.size)
    assert(math.abs(auths.values.sum - 1000000000000L) <= auths.size)
  }

  test("matches the serial reference on a directed triangle with a tail") {
    // 1→2→3→1 cycle plus 4→1 (4 receives only the damping floor)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    for (iters <- Seq(1, 3, 5))
      assert(run(edges, iters) === refRanks(edges, iters), s"iters=$iters")
  }

  test("matches the serial reference on a hub-and-spoke graph") {
    // hub 1 points at 5 spokes, every spoke points back: outdeg(1)=5 splits
    // its rank while each spoke forwards everything to the hub
    val edges = (2L to 6L).flatMap(sp => Seq((1L, sp), (sp, 1L)))
    val got = run(edges, 3)
    assert(got === refRanks(edges, 3))
    // the hub strictly outranks every spoke
    assert((2L to 6L).forall(sp => got(1L) > got(sp)))
    // symmetric spokes rank identically
    assert((2L to 6L).map(got).toSet.size === 1)
  }

  test("rank mass is conserved up to integer-division truncation") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val got = run(edges, 3)
    val n = got.size
    // each round loses < 1 micro-unit per edge-division + per-node damping
    // rounding; total stays within that slack of the initial mass n * 1e6
    val total = got.values.sum
    assert(total <= n * 1000000L)
    assert(total >= n * 1000000L - 3 * (edges.size + n))
  }

  test("random directed graphs: distributed ranks equal the serial reference") {
    val gen = org.scalacheck.Gen.listOfN(40,
      org.scalacheck.Gen.zip(org.scalacheck.Gen.choose(1L, 15L),
        org.scalacheck.Gen.choose(1L, 15L)))
    val seed0 = org.scalacheck.rng.Seed(11L)
    Iterator.iterate(seed0)(_.next)
      .map(s => gen.apply(org.scalacheck.Gen.Parameters.default, s))
      .collect { case Some(es) => es }.take(5).foreach { es =>
        val edges = es.filter(p => p._1 != p._2).distinct
        assert(run(edges, 3) === refRanks(edges, 3), edges)
      }
  }

  test("personalized weighted ranks match the serial recurrence; seeds dominate") {
    import spark.implicits._
    def refPersonal(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
        iters: Int): Map[Long, Long] = {
      val wtot = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val nodes = edges.map(_._1).distinct
      val nV = nodes.size
      val nS = nodes.count(seeds)
      val boost = nodes.map(n =>
        n -> (if (seeds(n)) 150000L * nV / nS else 0L)).toMap
      var r = boost
      for (_ <- 1 to iters) {
        val sums = edges.map { case (u, v, w) => v -> r(u) * w / wtot(u) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        r = nodes.map(n =>
          n -> (boost(n) + 85L * sums.getOrElse(n, 0L) / 100L)).toMap
      }
      r
    }
    // seed 1 in a weighted chain 1↔2↔3↔4: affinity must decay with distance
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L),
      (3L, 4L, 1L), (4L, 3L, 1L))
    val got = Graph.personalizedPageRankInt(
        edges.toDF("src", "dst", "w"), Seq(1L).toDF("id"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refPersonal(edges, Set(1L), 3))
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > got(4L),
      "affinity must decay with distance from the seed")
  }

  test("seed hygiene: duplicates are harmless, a disjoint seed set raises") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 2L), (2L, 1L, 2L), (2L, 3L, 1L), (3L, 2L, 1L))
    def run(seedIds: Seq[Long]) =
      Graph.personalizedPageRankInt(edges.toDF("src", "dst", "w"),
          seedIds.toDF("id"), 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a repeated seed id must not inflate |V| or double-count mass
    assert(run(Seq(1L, 1L, 1L)) === run(Seq(1L)))
    // a seed set that misses the graph raises in-plan, never NULL ranks
    val ex = intercept[Exception] { run(Seq(99L)) }
    assert(ex.getMessage.contains("no seed id appears"), ex.getMessage)
  }

  test("triangle census equals a brute-force count of the rule graph") {
    import org.apache.spark.sql.functions.col
    val edges = GraphQueries.q107Copurchase(spark, sfDir)
      .select(col("part_a"), col("part_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(p => Seq(p._1, p._2))
    val adj = nodes.map(n =>
      n -> edges.collect { case (a, b) if a == n => b
                           case (a, b) if b == n => a }).toMap
    // each triangle a<b<c is found exactly once: at edge (a,b) via common
    // neighbour c > b
    val tri = edges.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(_ > b).toLong
    }.sum
    val wedges = nodes.toSeq.map(n => adj(n).size.toLong)
      .map(d => d * (d - 1) / 2).sum
    val row = GraphQueries.q115TriangleCensus(spark, sfDir).collect()(0)
    assert(row.getLong(0) === nodes.size && row.getLong(1) === edges.size)
    assert(row.getLong(2) === wedges && row.getLong(3) === tri)
    if (wedges > 0)
      assert(math.abs(row.getDouble(4) - 3.0 * tri / wedges) < 1e-12)
  }

  test("q105 ranks the full node set and orders deterministically") {
    val out = GraphQueries.q105PageRank(spark, sfDir).collect()
    assert(out.length === 25)
    val ranks = out.map(_.getLong(2))
    assert(ranks.sameElements(ranks.sortBy(-_)), "descending by rank")
    assert(ranks.forall(_ >= 150000L), "damping floor")
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("supplier", "customer")))
  }

  /** Serial k-core reference: peel to the true fixpoint, however many
    * rounds that takes.
    */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var changed = true
    while (changed) {
      val keep = adj.filter(_._2.size >= k).keySet
      changed = keep.size != adj.size
      adj = adj.collect { case (n, ns) if keep(n) => n -> (ns & keep) }.toMap
    }
    adj.view.mapValues(_.size).toMap
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int, rounds: Int) =
    Graph.kCore(edges.toDF("u", "v"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap

  test("k-core matches the serial peel on hand graphs") {
    // K4 (every node degree 3) + a pendant chain that must peel away
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L))
    assert(runKCore(k4 ++ chain, 3, 8) === refKCore(k4 ++ chain, 3))
    assert(runKCore(k4 ++ chain, 3, 8).keySet === Set(1L, 2L, 3L, 4L))
    // a 6-cycle is its own 2-core but has no 3-core at all
    val cycle = (1L to 6L).map(i => (i, i % 6 + 1))
    assert(runKCore(cycle, 2, 8) === refKCore(cycle, 2))
    assert(runKCore(cycle, 3, 8) === Map.empty)
  }

  test("k-core matches the serial peel on random graphs") {
    val gen = org.scalacheck.Gen.listOfN(30,
      org.scalacheck.Gen.zip(org.scalacheck.Gen.choose(1L, 12L),
        org.scalacheck.Gen.choose(1L, 12L)))
    Iterator.iterate(org.scalacheck.rng.Seed(7L))(_.next)
      .map(s => gen.apply(org.scalacheck.Gen.Parameters.default, s))
      .collect { case Some(es) => es }.take(5).foreach { es =>
        val edges = es.filter(p => p._1 != p._2)
          .map(p => (p._1 min p._2, p._1 max p._2)).distinct
        // 12 nodes peel in at most 12 rounds; budget matches
        assert(runKCore(edges, 3, 12) === refKCore(edges, 3), edges)
      }
  }

  test("q122's round budget reaches the k-core fixpoint on testdata") {
    import org.apache.spark.sql.functions.col
    // one extra round changes nothing: the fixed budget landed the fixpoint
    val at = GraphQueries.q122KCore(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val beyond = Graph.kCore(
        GraphQueries.copurchaseEdges(spark, sfDir)
          .select(col("part_a").as("u"), col("part_b").as("v")), 3, 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at === beyond, "8 rounds must already be the fixpoint")
  }

  test("q188 assortativity equals the serial Newman estimator on testdata") {
    import org.apache.spark.sql.functions.col
    val edges = GraphQueries.copurchaseEdges(spark, sfDir)
      .select(col("part_a"), col("part_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val xy = edges.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val m = BigInt(xy.length)
    val sx = xy.map(p => BigInt(p._1)).sum
    val sxy = xy.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = xy.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val expect = (m * sxy - sx * sx).toDouble / (m * sxx - sx * sx).toDouble
    val r = GraphQueries.q188DegreeAssortativity(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_edges") === edges.length.toLong)
    assert(r.getAs[Long]("n_nodes") === deg.size.toLong)
    assert(r.getAs[Long]("max_deg") === deg.values.max)
    assert(r.getAs[Double]("assortativity") === expect)
    assert(math.abs(r.getAs[Double]("assortativity")) <= 1.0)
  }

  test("q202 recommender eval: bounds hold and beat a k-random baseline") {
    import org.apache.spark.sql.functions.col
    val r = GraphQueries.q202RecsysEval(spark, sfDir).collect()(0)
    val (n, hits) = (r.getAs[Long]("n_test_pairs"), r.getAs[Long]("n_hits"))
    assert(n > 0, "test period must contain co-purchases")
    assert(hits >= 0 && hits <= n)
    assert(r.getAs[Long]("hit_rate_e6") === hits * 1000000L / n)
    assert(r.getAs[Int]("k") === 5)
  }

  test("q189 link prediction: no existing edges, exact CN/Jaccard recount") {
    import org.apache.spark.sql.functions.col
    val edges = GraphQueries.copurchaseEdges(spark, sfDir)
      .select(col("part_a"), col("part_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = GraphQueries.q189LinkPrediction(spark, sfDir).collect()
    assert(rows.nonEmpty, "sf0.001 co-purchase graph must yield candidates")
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      assert(a < b, "canonical order")
      assert(!edges.contains((a, b)), s"($a,$b) already an edge")
      val cn = r.getAs[Long]("common_neighbors")
      // recount common neighbors RESTRICTED to capped enumerating nodes
      val expectCn = (adj(a) & adj(b))
        .count(w => adj(w).size >= 2 && adj(w).size <= 64)
      assert(cn === expectCn.toLong, s"($a,$b)")
      assert(r.getAs[Long]("deg_a") === adj(a).size.toLong)
      assert(r.getAs[Long]("deg_b") === adj(b).size.toLong)
      assert(r.getAs[Long]("jaccard_e6") ===
        cn * 1000000L / (adj(a).size + adj(b).size - cn))
      assert(r.getAs[Long]("pref_attach") ===
        adj(a).size.toLong * adj(b).size)
    }
  }
  test("q217 ranking metrics: exact-arithmetic invariants vs q202") {
    val m = GraphQueries.q217RankingMetrics(spark, sfDir).collect()(0)
    val nUsers = m.getAs[Long]("n_users")
    val mrr = m.getAs[Long]("mrr_e6")
    val p1 = m.getAs[Long]("p_at_1_e6")
    val rec10 = m.getAs[Long]("recall_at_10_e6")
    assert(nUsers > 0)
    // every metric is an e6 fraction
    Seq(mrr, p1, m.getAs[Long]("p_at_3_e6"), m.getAs[Long]("p_at_10_e6"),
      rec10).foreach(v => assert(v >= 0L && v <= 1000000L))
    // a user's reciprocal rank is 1 exactly when the rank-1 rec is
    // relevant, so MRR dominates precision@1 (floor rounding can only
    // shave the same e6 units from both)
    assert(mrr >= p1)
  }

  test("q228 triples: Apriori monotonicity against the pair supports") {
    val tri = GraphQueries.q228FrequentTriples(spark, sfDir).collect()
    val pairs = GraphQueries.copurchaseEdges(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        r.getAs[Long]("n_ab")).toMap
    tri.foreach { r =>
      val (a, b, c) = (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"))
      val sup = r.getAs[Long]("support")
      assert(a < b && b < c)
      // every 2-subset of a frequent triple is at least as frequent
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        assert(pairs.getOrElse(p, 0L) >= sup, s"pair $p under triple $sup")
      }
    }
  }
  test("q233 spreading labels only unlabeled nodes; q234 distances are metric") {
    val rows = GraphQueries.q233LabelSpreading(spark, sfDir)
      .collect().map(r => r.getAs[Int]("round") ->
        (r.getAs[Long]("n_labeled"), r.getAs[Long]("n_correct"))).toMap
    rows.values.foreach { case (n, c) => assert(c >= 0L && c <= n) }
    assert(rows.keySet === Set(1, 2))
    val sp = GraphQueries.q234ShortestPaths(spark, sfDir).collect()
    assert(sp.nonEmpty && sp.length <= 25)
    val ds = sp.map(_.getAs[Long]("dist_e6"))
    // sorted ascending, strictly positive (anchor itself excluded)
    assert(ds.forall(_ > 0L))
    assert(ds.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("an observed HITS total splices as plain digits or fails loudly") {
    assert(Graph.scale0Literal(new java.math.BigDecimal("123456789012345678901234")) ===
      "123456789012345678901234")
    // a fractional scale or a double would change the fixed-point division
    intercept[IllegalArgumentException] {
      Graph.scale0Literal(new java.math.BigDecimal("12.50"))
    }
    intercept[IllegalArgumentException](Graph.scale0Literal(1.0e12))
  }
}
