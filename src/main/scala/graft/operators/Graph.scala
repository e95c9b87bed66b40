package graft.operators

import graft.functions.Exact._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — the Pregel-style shapes
  * (PageRank here, connected components in [[NearDup]]) a relational engine
  * needs once dedup/link data is modelled as edges.
  *
  * All rank arithmetic is EXACT integer fixed-point (micro-units with
  * integer division), not IEEE doubles: a floating PageRank sums
  * contributions in partition order, so two engines (or two runs with
  * different partitioning) disagree in the low bits and a bit-exact oracle
  * comparison is impossible. Integer sums are associative, so the result is
  * identical on Spark, DuckDB, and any partitioning — the same
  * determinism-by-construction rule the money queries use (integer cents).
  *
  * Scale shape per iteration: one join of the (static) out-degree-annotated
  * edge list to the current ranks on src — a shuffle keyed by src — plus one
  * sum aggregation keyed by dst. The edge list is checkpointed once and
  * reused every round; rank frames stay narrow (id, r). This is exactly the
  * join-agg round a 1000-executor Pregel step lowers to, with AQE free to
  * coalesce or skew-split each round independently.
  */
object Graph {

  /** Integer fixed-point PageRank over a directed edge list (src, dst).
    *
    * Ranks start at 1e6 micro-units per node; each round every node keeps
    * the damping floor (1-d) = 0.15 and receives d = 0.85 of the sum of its
    * in-neighbours' rank-over-out-degree, all in integer arithmetic:
    *
    *   r'(v) = 150000 + (85 * Σ_{u→v} (r(u) div outdeg(u))) div 100
    *
    * Nodes only appear if they have at least one out-edge (a dangling node
    * has no row in the out-degree table; feed a symmetrized edge list if
    * every vertex must be ranked, as q105 does). Fixed iteration count —
    * PageRank converges geometrically and analytics pipelines run a known
    * budget rather than a convergence probe per round.
    *
    * Overflow headroom: per-node rank is bounded by the total mass
    * N * 1e6, so the 85× step fits int64 while N < ~1e11 vertices.
    */
  def pageRankInt(edges: DataFrame, iters: Int = 3): DataFrame = {
    // ONE materialization cuts the edge-derivation lineage: the node set
    // and every iteration re-read the degree-annotated blocks instead of
    // replaying however the caller built the graph (e.g. a multi-table
    // join) per round. Inside the checkpoint job the derivation feeds both
    // the degree aggregate and the join probe — Spark reuses the exchange.
    val e = edges.toDF("src", "dst")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = e.join(deg, "src").localCheckpoint()
    // recomputed per round from the checkpointed blocks — measured cheaper
    // than materializing it as its own job
    val nodes = edgesDeg.select(col("src").as("id")).distinct()
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      val sums = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("id"))
        .select(col("dst"), expr("r div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
      ranks = nodes
        .join(sums, nodes("id") === sums("dst"), "left")
        .select(col("id"),
          (lit(150000L) + expr("85 * coalesce(s, 0L) div 100")).as("r"))
    }
    ranks
  }

  /** Personalized, WEIGHTED PageRank in the same exact integer fixed-point
    * scheme: the teleport mass returns only to `seeds` (so ranks measure
    * proximity to the seed set — the "related items" recsys shape), and a
    * node distributes rank to its out-neighbours proportionally to integer
    * edge weights:
    *
    *   r'(v) = [v ∈ seeds] * 150000·|V|/|S|  +
    *           (85 * Σ_{u→v} ((r(u) * w(u,v)) div W(u))) div 100
    *
    * where W(u) is u's total outgoing weight. All integer: the weighted
    * split uses one multiply before the division, so precision loss is
    * ≤ 1 micro-unit per edge per round, identical in every engine. The
    * seed boost scales by |V|/|S| so total mass stays ≈ |V|·1e6 like the
    * uniform variant. Same per-round join+sum shape as [[pageRankInt]].
    *
    * Overflow headroom: r(u) * w(u,v) must fit int64 — ranks are bounded
    * by total mass N·1e6, so weights up to ~10^18/(N·1e6) are safe
    * (e.g. weights ≤ 10^6 for N ≤ 10^6 nodes; scale weights down first
    * for larger graphs).
    *
    * As with [[pageRankInt]], nodes appear only via out-edges — feed a
    * symmetrized edge list (as q116 does) if sinks must be ranked; a seed
    * with no out-edge otherwise silently leaves the seed set. A seed set
    * that misses the node set entirely raises in-plan rather than
    * returning NULL ranks.
    */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3): DataFrame = {
    val e = edges.toDF("src", "dst", "w")
    val wtot = e.groupBy(col("src")).agg(sum(col("w")).as("wtot"))
    val edgesW = e.join(wtot, "src").localCheckpoint()
    val nodes = edgesW.select(col("src").as("id")).distinct()
    // seeds deduplicated: a repeated id would multiply node rows through
    // the join, inflating |V| and double-counting that node's mass
    val seeded = nodes.join(
      seeds.toDF("id").distinct().withColumn("is_seed", lit(1L)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    // |V| and |S| ride a broadcast scalar — the boost expression needs both
    val counts = seeded.agg(count(lit(1)).as("n_v"), sum(col("is_seed")).as("n_s"))
    val base = seeded.crossJoin(broadcast(counts))
      .select(col("id"),
        (col("is_seed") * expr(
          """if(n_s = 0,
            |  raise_error('personalized PageRank: no seed id appears in the node set'),
            |  150000L * n_v div n_s)""".stripMargin)).as("boost"))
    var ranks = base.select(col("id"), col("boost").as("r"))
    for (_ <- 1 to iters) {
      val sums = edgesW
        .join(ranks, edgesW("src") === ranks("id"))
        .select(col("dst"), expr("r * w div wtot").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
      ranks = base
        .join(sums, base("id") === sums("dst"), "left")
        .select(col("id"),
          (col("boost") + expr("85 * coalesce(s, 0L) div 100")).as("r"))
    }
    ranks
  }

  /** HITS hubs and authorities over a directed bipartite edge list
    * (hub, auth) in the same exact integer fixed-point discipline as
    * [[pageRankInt]]: each half-step sums the opposite side's scores along
    * edges (associative integer sums — partition-order-free), then
    * L1-normalizes to total mass 10¹² by one exact floor division per node
    * (the classical L2 normalization needs a square root PER ITERATION,
    * which would compound non-portable rounding; L1 keeps the same fixed
    * point direction and stays in integers). Scores are ≤ 10¹² by
    * construction (a node's raw sum never exceeds the total).
    *
    * Plan: per round two edge-keyed join+sum shuffles, each checkpointed
    * with its L1 total observed in the same job — the Pregel half-step
    * pair. Round 1's authority half-step needs no join: every starting hub
    * score is the same 10¹², so a_raw = 10¹² · in-degree is one
    * groupBy(auth) over the edges. Raw sums and the normalization
    * products run in DECIMAL(38,0): Σ over 10¹² edges of 10¹²-scaled
    * scores passes int64 long before the graph is interesting.
    *
    * Returns (hubs(hub, h), auths(auth, a)) after `iters` full
    * authority-then-hub rounds.
    */
  def hitsInt(edges: DataFrame, iters: Int = 2): (DataFrame, DataFrame) = {
    val e = edges.toDF("hub", "auth").localCheckpoint()
    var hubs = e.select(col("hub")).distinct()
      .withColumn("h", lit(1000000000000L))
    var auths: DataFrame = e.select(col("auth")).distinct()
      .withColumn("a", lit(1000000000000L))
    // Each raw-sum frame needs (a) a lineage cut — it is read by its own
    // normalization and the next half-step's edge join, and without the
    // cut the edge join re-derives 2^(2·iters) times (measured 8.5 s →
    // 3.8 s at sf0.1) — and (b) its L1 total. The total rides the
    // CHECKPOINT job itself via observe() (bounded metadata: one decimal
    // scalar), so a half-step is ONE Spark job instead of checkpoint +
    // separate total aggregation — half the per-round job count (r9,
    // guide §2.6 round-cost reduction). The literal total is cast back to
    // DECIMAL(38,0), so the floor-division expression is typed exactly as
    // the old broadcast-scalar cross join and the fixed-point values are
    // bit-identical (oracle-pinned).
    def normalized(raw: DataFrame, key: String, rawCol: String,
        out: String): DataFrame = {
      val obs = org.apache.spark.sql.Observation()
      val ck = raw.observe(obs, sum(col(rawCol)).as("tot")).localCheckpoint()
      val tot = Option(obs.get("tot")).map(scale0Literal).getOrElse("NULL")
      ck.select(col(key),
        expr(fdiv(s"$rawCol * 1000000000000",
          s"CAST($tot AS DECIMAL(38,0))")).cast("long").as(out))
    }
    for (i <- 1 to iters) {
      // round 1: Σ over a node's hubs of the same 10¹² start score is
      // 10¹² · in-degree — the hub set and its join drop out (an edge with
      // a NULL hub never matched a hub row, so it is left out here too)
      val araw = (if (i == 1) e.filter(col("hub").isNotNull)
          .groupBy(col("auth"))
          .agg(sum(lit(1000000000000L).cast(dec)).as("a_raw"))
        else e.join(hubs, "hub").groupBy(col("auth"))
          .agg(sum(col("h").cast(dec)).as("a_raw")))
      auths = normalized(araw, "auth", "a_raw", "a")
      val hraw = e.join(auths, "auth").groupBy(col("hub"))
        .agg(sum(col("a").cast(dec)).as("h_raw"))
      hubs = normalized(hraw, "hub", "h_raw", "h")
    }
    (hubs, auths)
  }

  /** The SQL literal of an observed DECIMAL(38,0) total: its plain digits.
    * Anything else — a fractional scale, a double — would splice a
    * fractional or scientific-notation literal into the fixed-point
    * division and silently change its result, so it fails instead.
    */
  private[operators] def scale0Literal(v: Any): String = v match {
    case d: java.math.BigDecimal if d.scale == 0 => d.toBigInteger.toString
    case other => throw new IllegalArgumentException(
      s"expected a scale-0 java.math.BigDecimal total, got $other" +
        s" (${other.getClass.getName})")
  }

  /** k-core of an undirected graph by fixed-round simultaneous peeling:
    * each round drops every node whose degree in the surviving induced
    * subgraph is below k, then recomputes. Peeling is monotone (a dropped
    * node never returns), so once the fixpoint is reached further rounds
    * are no-ops and a generous fixed `rounds` budget returns the true
    * k-core; fixed rounds keep the recursion expressible as unrolled SQL
    * CTEs for bit-exact cross-engine checking (the q105 pattern). Worst
    * case (a long path peeled one end at a time) needs O(|V|) rounds —
    * real co-occurrence graphs collapse in a handful (GraphSpec asserts
    * the budget).
    *
    * Input `edges` must be one row per undirected edge (u < v); both
    * directions are derived internally. Returns survivors as (id, deg) —
    * deg is the node's degree within the final induced subgraph. Each
    * round is one degree aggregation (shuffle on node id) plus two
    * semi-joins restricting the (checkpointed, never re-derived) edge
    * list to the shrinking survivor set — broadcastable as soon as the
    * survivor frame drops under the AQE threshold.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val e0 = edges.toDF("u", "v").localCheckpoint()
    val bi = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
    def degrees(g: DataFrame): DataFrame =
      g.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
    // the survivor frame is referenced TWICE per round (once per edge
    // endpoint), so an unmaterialized lineage would double every round —
    // 2^rounds copies of round 1 in the final plan. Each round therefore
    // materializes its (small, shrinking) survivor set; this is the
    // standard per-iteration lineage cut, unlike PageRank where the rank
    // frame is consumed once per round and the chain stays linear.
    //
    // EARLY EXIT (r9): peeling is monotone — survivors(i+1) ⊆ survivors(i)
    // — so an unchanged survivor COUNT means an unchanged SET, i.e. the
    // fixpoint: every remaining budgeted round is a no-op and is skipped
    // with a bit-identical result (same set ⇒ same induced subgraph ⇒ same
    // degrees). The count rides the checkpoint job itself via observe()
    // (bounded metadata, one long), so convergence detection costs zero
    // extra jobs and the query stops paying per-round job latency the
    // moment the core settles (guide §2.6 round-cost reduction).
    def materialize(n: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = n.observe(obs, count(lit(1)).as("n")).localCheckpoint()
      (ck, obs.get("n").asInstanceOf[Long])
    }
    var (nodes, nAlive) = materialize(degrees(bi))
    var round = 2
    var converged = false
    while (round <= rounds && !converged) {
      val induced = bi.join(nodes.select(col("u")), Seq("u"))
        .join(nodes.select(col("u").as("v")), Seq("v"))
      val (nxt, n2) = materialize(degrees(induced))
      converged = n2 == nAlive
      nodes = nxt
      nAlive = n2
      round += 1
    }
    nodes.select(col("u").as("id"), col("deg"))
  }
}
