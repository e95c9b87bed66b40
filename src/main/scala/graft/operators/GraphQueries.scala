package graft.operators

import graft.{Q, Tables}
import graft.functions.Exact._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the star schema: the supply network ranked as a
  * graph. Nodes are suppliers and customers; an undirected edge links a
  * supplier to every customer it shipped to (via lineitem ⋈ orders).
  * Supplier and customer keys overlap numerically, so nodes are tagged into
  * one id space: supplier k → 2k, customer k → 2k+1.
  */
object GraphQueries {

  private val PrIters = 3

  /** q105: PageRank centrality of the supply network — which suppliers and
    * customers sit at the centre of the order flow. Symmetrized bipartite
    * edges (so no node dangles), [[Graph.pageRankInt]] exact integer
    * fixed-point ranks, top 25 by rank with id as the deterministic
    * tie-break. The oracle unrolls the three iterations as chained CTEs —
    * integer arithmetic makes every engine agree bit-for-bit.
    */
  val q105PageRank: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    // pairs is consumed by BOTH union directions, and pageRankInt's degree
    // join + node set read the union twice more — checkpoint the (small,
    // post-distinct) pair list so the fact join runs once, not per consumer
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"),
        (col("o_custkey") * 2 + 1).as("dst"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRankInt(edges, PrIters)
      .orderBy(col("r").desc, col("id"))
      .limit(25)
      .select(
        when(col("id") % 2 === 0, lit("supplier"))
          .otherwise(lit("customer")).as("node_kind"),
        expr("id div 2").as("node_key"),
        col("r").as("rank_micro"))
  }

  val q105Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT 2 * l_suppkey AS src, 2 * o_custkey + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |s1 AS (SELECT e.dst AS id, SUM(r0.r // d.outdeg) AS s
      |       FROM edges e JOIN r0 ON e.src = r0.id JOIN deg d ON d.src = e.src
      |       GROUP BY e.dst),
      |r1 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s1 ON n.id = s1.id),
      |s2 AS (SELECT e.dst AS id, SUM(r1.r // d.outdeg) AS s
      |       FROM edges e JOIN r1 ON e.src = r1.id JOIN deg d ON d.src = e.src
      |       GROUP BY e.dst),
      |r2 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s2 ON n.id = s2.id),
      |s3 AS (SELECT e.dst AS id, SUM(r2.r // d.outdeg) AS s
      |       FROM edges e JOIN r2 ON e.src = r2.id JOIN deg d ON d.src = e.src
      |       GROUP BY e.dst),
      |r3 AS (SELECT n.id, CAST(150000 + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s3 ON n.id = s3.id),
      |top AS (SELECT id, r FROM r3 ORDER BY r DESC, id LIMIT 25)
      |SELECT CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_kind,
      |  id // 2 AS node_key, r AS rank_micro
      |FROM top""".stripMargin

  private val MinSupport = 2

  /** Basket-size cap — the same construction-time fan-out bound as the text
    * side's DfCap: a basket of m items emits m(m-1)/2 pairs, so a degenerate
    * mega-basket is a quadratic blowup on one key. TPC-H orders hold ≤ 13
    * lines, making the cap a pure no-op here (the oracle applies it too),
    * but the operator carries its bound by construction, not by luck.
    */
  private val BasketCap = 1000

  /** Distinct (order, part) incidence — the bipartite graph both q107 and
    * q115 project.
    */
  private def orderItems(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()

  /** The supported co-purchase edge list (part_a < part_b, co-order count ≥
    * [[MinSupport]]) — q107 decorates it into rules, q115 counts its
    * triangles.
    */
  private[operators] def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    orderItems(s, dir).groupBy(col("o"))
      .agg(sort_array(collect_list(col("p"))).as("parts"))
      .filter(size(col("parts")).between(2, BasketCap))
      .select(graft.functions.Pairs.inPlace(col("parts"), (x, y) =>
        struct(x.as("part_a"), y.as("part_b"))).as("pr"))
      .select(col("pr.part_a"), col("pr.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinSupport)

  /** q107: association rules from the weighted bipartite projection of the
    * order–part graph — parts co-ordered in the same order, with support,
    * directional confidence, and lift (the market-basket staple). Pair
    * generation is the grouped in-place i<j shape shared with the Jaccard
    * family: one shuffle keyed by order, per-order fan-out bounded by the
    * line-count cap squared (orders have bounded line counts by schema, the
    * analog of the text side's DfCap) — never a part×part cartesian. Lift's
    * numerator and denominator are exact integer products; the one division
    * is a single IEEE op, so the oracle matches bit-for-bit.
    */
  val q107Copurchase: Q = (s, dir) => {
    val items = orderItems(s, dir)
    // scalar |orders| rides a broadcast cross join — no driver-side action
    val nOrders = items.select(countDistinct(col("o")).as("n_orders"))
    val partFreq = items.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    copurchaseEdges(s, dir)
      .join(partFreq.select(col("p").as("part_a"), col("n_p").as("n_a")), "part_a")
      .join(partFreq.select(col("p").as("part_b"), col("n_p").as("n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("n_a")).as("conf_a_to_b"),
        (col("n_ab").cast("double") / col("n_b")).as("conf_b_to_a"),
        ((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b"))).as("lift"))
  }

  /** Shared oracle CTEs producing the supported co-purchase edge list
    * (`pairs`) — the SQL twin of [[copurchaseEdges]].
    */
  private def edgesCtes: String =
    s"""items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |capped AS (
      |  SELECT o FROM items GROUP BY o
      |  HAVING COUNT(*) BETWEEN 2 AND $BasketCap),
      |pairs AS (
      |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
      |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |  WHERE a.o IN (SELECT o FROM capped)
      |  GROUP BY a.p, b.p
      |  HAVING COUNT(*) >= $MinSupport)""".stripMargin

  def q107Sql: String =
    s"""WITH $edgesCtes,
      |n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM items),
      |freq AS (SELECT p, COUNT(*) AS n_p FROM items GROUP BY p)
      |SELECT part_a, part_b, n_ab, fa.n_p AS n_a, fb.n_p AS n_b,
      |  CAST(n_ab AS DOUBLE) / fa.n_p AS conf_a_to_b,
      |  CAST(n_ab AS DOUBLE) / fb.n_p AS conf_b_to_a,
      |  CAST(n_ab * n_orders AS DOUBLE) / (fa.n_p * fb.n_p) AS lift
      |FROM pairs
      |JOIN freq fa ON part_a = fa.p
      |JOIN freq fb ON part_b = fb.p
      |CROSS JOIN n""".stripMargin

  /** q115: triangle census of the co-purchase graph — triangle count and
    * global clustering coefficient, the cohesion metrics next to q105's
    * centrality. Uses DEGREE ORIENTATION (Schank–Wagner): every edge points
    * from its lower-(degree, id) endpoint to the higher, so wedges are
    * enumerated at their lowest-degree vertex and per-vertex fan-out is
    * bounded by oriented out-degree ≤ √(2·|E|) — the bound that makes
    * distributed triangle counting survive power-law graphs, where a naive
    * hub-centred wedge join is quadratic in the hub degree. Closure is one
    * equi-join of wedges against the canonical edge list. All counts are
    * exact integers; the clustering coefficient is a single IEEE division.
    */
  val q115TriangleCensus: Q = (s, dir) => {
    // the edge list is consumed by degree counting, both wedge sides, the
    // closure join, and the edge count — materialize the (small,
    // support-filtered) frame once instead of trusting exchange reuse to
    // dedupe eight copies of the basket-explode derivation
    val e = copurchaseEdges(s, dir)
      .select(col("part_a").as("u"), col("part_b").as("v"))
      .localCheckpoint()
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val aLower = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val oriented = withDeg.select(
      when(aLower, col("u")).otherwise(col("v")).as("lo"),
      when(aLower, col("v")).otherwise(col("u")).as("hi"))
    val wedges = oriented.as("a").join(oriented.as("b"),
        col("a.lo") === col("b.lo") && col("a.hi") < col("b.hi"))
      .select(col("a.hi").as("x"), col("b.hi").as("y"))
    val tris = wedges.join(e.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    nodeStats
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise((col("n_triangles") * lit(3L)).cast("double") /
            col("n_wedges")).as("global_cc"))
  }

  def q115Sql: String =
    s"""WITH $edgesCtes,
      |e AS (SELECT part_a AS u, part_b AS v FROM pairs),
      |deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |oriented AS (
      |  SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS lo,
      |         CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS hi
      |  FROM e JOIN deg da ON e.u = da.n JOIN deg db ON e.v = db.n),
      |wedges AS (
      |  SELECT a.hi AS x, b.hi AS y FROM oriented a
      |  JOIN oriented b ON a.lo = b.lo AND a.hi < b.hi),
      |tris AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM wedges JOIN e ON wedges.x = e.u AND wedges.y = e.v),
      |ns AS (
      |  SELECT COUNT(*) AS n_nodes,
      |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
      |ne AS (SELECT COUNT(*) AS n_edges FROM e)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  CASE WHEN n_wedges = 0 THEN 0.0
      |       ELSE CAST(n_triangles * 3 AS DOUBLE) / n_wedges END AS global_cc
      |FROM ns CROSS JOIN ne CROSS JOIN tris""".stripMargin

  /** q116: related products by personalized, weighted PageRank — rank mass
    * teleports only to one brand's parts and flows along co-purchase edges
    * proportionally to co-order counts, so high-rank parts are those most
    * reachable from the brand through actual purchasing behaviour: the
    * recsys "related items" query. [[Graph.personalizedPageRankInt]]'s
    * integer fixed-point arithmetic keeps the three-iteration oracle
    * bit-exact; top 50 with id tie-break.
    */
  val q116RelatedProducts: Q = (s, dir) => {
    // both union directions re-derive the pair-generation pipeline, and the
    // rank device's weight join reads it again — checkpoint the (supported,
    // small) edge list once
    val e = copurchaseEdges(s, dir).localCheckpoint()
    val edges = e.select(col("part_a").as("src"), col("part_b").as("dst"),
        col("n_ab").as("w"))
      .union(e.select(col("part_b").as("src"), col("part_a").as("dst"),
        col("n_ab").as("w")))
    val seeds = Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
    Graph.personalizedPageRankInt(edges, seeds, PrIters)
      .orderBy(col("r").desc, col("id"))
      .limit(50)
      .select(col("id").as("part_key"), col("r").as("affinity_micro"))
  }

  def q116Sql: String = {
    def step(prev: String, cur: String) =
      s"""s$cur AS (
         |  SELECT e.dst AS id, SUM(r$prev.r * e.w // wt.wtot) AS s
         |  FROM ew e JOIN r$prev ON e.src = r$prev.id
         |  JOIN wt ON wt.src = e.src
         |  GROUP BY e.dst),
         |r$cur AS (
         |  SELECT b.id, CAST(b.boost + (85 * COALESCE(s$cur.s, 0)) // 100 AS BIGINT) AS r
         |  FROM base b LEFT JOIN s$cur ON b.id = s$cur.id)""".stripMargin
    s"""WITH $edgesCtes,
      |ew AS (
      |  SELECT part_a AS src, part_b AS dst, n_ab AS w FROM pairs
      |  UNION ALL SELECT part_b, part_a, n_ab FROM pairs),
      |wt AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wtot FROM ew GROUP BY src),
      |nodes AS (SELECT DISTINCT src AS id FROM ew),
      |sd AS (
      |  SELECT n.id,
      |    CASE WHEN p.p_partkey IS NOT NULL THEN 1 ELSE 0 END AS is_seed
      |  FROM nodes n LEFT JOIN (
      |    SELECT p_partkey FROM part WHERE p_brand = 'Brand#1') p
      |    ON n.id = p.p_partkey),
      |cnt AS (
      |  SELECT COUNT(*) AS n_v, CAST(SUM(is_seed) AS BIGINT) AS n_s FROM sd),
      |base AS (
      |  SELECT id, CAST(is_seed * ((150000 * n_v) // n_s) AS BIGINT) AS boost
      |  FROM sd CROSS JOIN cnt),
      |r0 AS (SELECT id, boost AS r FROM base),
      |${step("0", "1")},
      |${step("1", "2")},
      |${step("2", "3")},
      |top AS (SELECT id, r FROM r3 ORDER BY r DESC, id LIMIT 50)
      |SELECT id AS part_key, r AS affinity_micro FROM top""".stripMargin
  }

  private val CoreK = 3
  private val CoreRounds = 8

  /** q122: k-core decomposition of the co-purchase graph (k = [[CoreK]]) —
    * the cohesive subgraph where every surviving part co-sells with at
    * least k other survivors, the standard noise-robust community core
    * next to q115's triangle census. Computed by [[CoreRounds]] rounds of
    * simultaneous peeling (drop all nodes of degree < k, recompute): the
    * peel is monotone, so once the fixpoint is reached every further round
    * is a no-op and a generous fixed round count IS the k-core — fixed
    * rounds keep the oracle expressible as unrolled CTEs exactly like
    * q105's PageRank iterations (GraphSpec asserts the fixpoint lands
    * within budget). See [[Graph.kCore]] for the per-round plan shape;
    * the checkpoint inside it keeps eight rounds from re-deriving the
    * basket explode.
    */
  val q122KCore: Q = (s, dir) =>
    Graph.kCore(
        copurchaseEdges(s, dir)
          .select(col("part_a").as("u"), col("part_b").as("v")),
        CoreK, CoreRounds)
      .select(col("id").as("part_key"), col("deg").as("core_degree"))

  def q122Sql: String = {
    def round(prev: String, cur: String) =
      s"""e$cur AS (
         |  SELECT bi.u, bi.v FROM bi
         |  JOIN n$prev a ON bi.u = a.u JOIN n$prev b ON bi.v = b.u),
         |n$cur AS MATERIALIZED (
         |  SELECT u, COUNT(*) AS deg FROM e$cur
         |  GROUP BY u HAVING COUNT(*) >= $CoreK)""".stripMargin
    val rounds = (2 to CoreRounds)
      .map(i => round((i - 1).toString, i.toString)).mkString(",\n")
    s"""WITH $edgesCtes,
      |e AS (SELECT part_a AS u, part_b AS v FROM pairs),
      |bi AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |n1 AS MATERIALIZED (
      |  SELECT u, COUNT(*) AS deg FROM bi
      |  GROUP BY u HAVING COUNT(*) >= $CoreK),
      |$rounds
      |SELECT u AS part_key, deg AS core_degree FROM n$CoreRounds""".stripMargin
  }

  // ---------------------------------------------- q143: BFS reachability

  /** Bounded BFS depth; enough hops to cover the co-purchase graph's small
    * diameter at test SFs while keeping the unrolled oracle readable.
    */
  val BfsMaxHops = 3

  /** Hop-distance BFS from a seed set (one brand's parts) over the
    * co-purchase graph — SEMI-NAIVE delta iteration, the evaluation shape
    * recursive queries need at scale: each round joins only the FRONTIER
    * (vertices first reached last round) against the edge list, and an
    * anti-join against the known set keeps every vertex's first (= minimal)
    * hop count — never re-deriving settled vertices, so total work is
    * Σ frontier×degree rather than rounds×|reached|×degree, the difference
    * between semi-naive and naive Datalog evaluation. Lineage is cut per
    * round (localCheckpoint) exactly like q105's PageRank loop. The oracle
    * unrolls the same rounds as CTEs.
    */
  val q143BfsReach: Q = (s, dir) => {
    val edges = copurchaseEdges(s, dir).select(col("part_a"), col("part_b"))
    val und = edges.select(col("part_a").as("src"), col("part_b").as("dst"))
      .unionByName(
        edges.select(col("part_b").as("src"), col("part_a").as("dst")))
      .localCheckpoint()
    val seeds = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey").as("part"))
    var dist = seeds.withColumn("hops", lit(0)).localCheckpoint()
    var frontier = dist.select(col("part"))
    for (h <- 1 to BfsMaxHops) {
      val next = frontier.withColumnRenamed("part", "src")
        .join(und, "src")
        .select(col("dst").as("part")).distinct()
        .join(dist, Seq("part"), "left_anti")
        .localCheckpoint()
      dist = dist.unionByName(next.withColumn("hops", lit(h)))
        .localCheckpoint()
      frontier = next
    }
    dist
  }

  def q143Sql: String = {
    def round(prev: String, cur: String, known: Seq[String]): String = {
      val notKnown = known.map(k => s"SELECT part FROM $k").mkString(" UNION ")
      s"""f$cur AS (
         |  SELECT DISTINCT und.dst AS part
         |  FROM und JOIN d$prev ON und.src = d$prev.part),
         |d$cur AS (
         |  SELECT part FROM f$cur WHERE part NOT IN ($notKnown))""".stripMargin
    }
    val rounds = (1 to BfsMaxHops).map(h =>
      round((h - 1).toString, h.toString,
        (0 until h).map(i => s"d$i"))).mkString(",\n")
    val select = (0 to BfsMaxHops).map(h =>
      s"SELECT part, CAST($h AS INT) AS hops FROM d$h")
      .mkString("\nUNION ALL ")
    s"""WITH $edgesCtes,
      |und AS (SELECT part_a AS src, part_b AS dst FROM pairs
      |        UNION ALL SELECT part_b, part_a FROM pairs),
      |d0 AS (SELECT p_partkey AS part FROM part WHERE p_brand = 'Brand#1'),
      |$rounds
      |$select""".stripMargin
  }

  // ---------------------------------------- q249: rec coverage / exposure

  /** q249: recommendation coverage and exposure-concentration diagnostics —
    * the accuracy-orthogonal half of recommender evaluation (q217/q202
    * grade relevance; this grades the CATALOG's treatment): how much of
    * the catalog ever appears in a top-k list, what share of all exposure
    * slots the ten most-exposed parts absorb, and the exposure Gini over
    * the WHOLE catalog (zero-exposure parts included — excluding them
    * hides exactly the popularity bias this measures). Gini uses q160's
    * exact rank identity (2·Σrᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ), e6-quantized,
    * with the rank window over the per-part exposure rollup (|catalog|
    * rows, not the rec stream) and DECIMAL(38,0) on the Σrᵢxᵢ
    * cross-product. One summary row.
    */
  val q249RecCoverage: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = copurchaseEdges(s, dir)
    val dir2 = e.select(col("part_a").as("a"), col("part_b").as("b"), col("n_ab"))
      .unionByName(e.select(col("part_b").as("a"), col("part_a").as("b"), col("n_ab")))
    val recs = dir2
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("n_ab").desc, col("b"))))
      .filter(col("rk") <= RecK)
      .select(col("b").as("part"))
    // checkpoint ONCE: the co-purchase candidate stream above is the
    // expensive part, and rank + top-10 both consume this rollup
    val exposure = Tables.part(s, dir).select(col("p_partkey").as("part"))
      .join(recs.groupBy(col("part")).agg(count(lit(1)).as("x")),
        Seq("part"), "left")
      .select(col("part"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint()
    // exposure rank via the two-level Prefix device (|parts| rollup — a
    // global row_number window funnels it through one task); the top-10
    // slice plans as TakeOrderedAndProject instead of a ranked window
    val ranked = Prefix.rowNumber(exposure, "x", Seq("part"), "r",
      materialize = false)
    val top10 = exposure.orderBy(col("x").desc, col("part")).limit(10)
      .agg(sum(col("x")).as("top10_x"))
    ranked.agg(count(lit(1)).as("n_catalog"),
        sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_recommended"),
        sum(col("x")).as("total_x"),
        sum((col("r").cast("decimal(38,0)")) * col("x")).as("rx_dec"))
      .crossJoin(broadcast(top10))
      .select(col("n_catalog"), col("n_recommended"),
        expr("n_recommended * 1000000 DIV n_catalog").as("coverage_e6"),
        col("total_x"),
        expr("""CAST((2 * rx_dec - CAST(n_catalog + 1 AS DECIMAL(38,0))
               |  * total_x) * 1000000
               |  DIV (CAST(n_catalog AS DECIMAL(38,0)) * total_x)
               |  AS BIGINT)""".stripMargin).as("exposure_gini_e6"),
        expr("top10_x * 1000000 DIV total_x").as("top10_share_e6"))
  }

  def q249Sql: String =
    s"""WITH $edgesCtes,
       |dir2 AS (
       |  SELECT part_a AS a, part_b AS b, n_ab FROM pairs
       |  UNION ALL SELECT part_b, part_a, n_ab FROM pairs),
       |recs AS (
       |  SELECT b AS part FROM (
       |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY n_ab DESC, b) AS rk FROM dir2) t
       |  WHERE rk <= $RecK),
       |expo AS (
       |  SELECT p_partkey AS part, COALESCE(c.x, 0) AS x
       |  FROM part LEFT JOIN (
       |    SELECT part, COUNT(*) AS x FROM recs GROUP BY part) c
       |    ON p_partkey = c.part),
       |ranked AS (
       |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, part) AS r FROM expo),
       |top10 AS (
       |  SELECT CAST(SUM(x) AS BIGINT) AS top10_x FROM (
       |    SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, part) AS tr
       |    FROM expo) t WHERE tr <= 10)
       |SELECT COUNT(*) AS n_catalog,
       |  CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_recommended,
       |  CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
       |    AS BIGINT) AS coverage_e6,
       |  CAST(SUM(x) AS BIGINT) AS total_x,
       |  CAST((2 * SUM(CAST(r AS HUGEINT) * x)
       |    - CAST(COUNT(*) + 1 AS HUGEINT) * SUM(x)) * 1000000
       |    // (CAST(COUNT(*) AS HUGEINT) * SUM(x)) AS BIGINT)
       |    AS exposure_gini_e6,
       |  CAST(top10_x * 1000000 // SUM(x) AS BIGINT) AS top10_share_e6
       |FROM ranked CROSS JOIN top10
       |GROUP BY top10_x""".stripMargin

  // ---------------------------------------- q247: sequential brand rules

  /** Minimum customers supporting a q247 sequential rule. */
  private val SeqMinSup = 5

  /** q247: sequential association rules at BRAND grain — "customers who
    * bought brand A later bought brand B": the cross-order complement of
    * q107's same-basket rules and q200's event-type sequences. Working at
    * brand grain is the scale design: a customer's (earlier, later)
    * crossover pairs are bounded by |brands|² (≤ 625) regardless of how
    * many orders they place — the per-customer DISTINCT (brand, first/last
    * date) rollup collapses order volume before any pair forms. Support =
    * customers with the A-then-B crossover (strictly later date),
    * confidence = support / customers who ever bought A, both exact
    * integers; top 25 rules by support with lexicographic tie-break.
    */
  val q247SequentialRules: Q = (s, dir) => {
    // the crossover self-join + distinct is CPU-dense on byte-small rows
    // (profiled: 14 s CPU coalesced onto 8 tasks over a 9 MB read at
    // sf0.1); see Tuning.cpuDenseShuffles (inert at scale)
    graft.Tuning.cpuDenseShuffles(s)
    // the broadcast-join + (cust, brand) rollup map stage ran on the scan's
    // single split (guide §2.5); spread by the join key — no-op at scale
    val li = Tables.parallelizedBy(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
      col("l_orderkey"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    val custBrand = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("brand"))
      .agg(min(col("o_orderdate")).as("first_dt"),
        max(col("o_orderdate")).as("last_dt"))
      .localCheckpoint()
    val pairs = custBrand.select(col("cust"), col("brand").as("brand_a"),
        col("first_dt"))
      .join(custBrand.select(col("cust"), col("brand").as("brand_b"),
        col("last_dt")), "cust")
      .filter(col("brand_a") =!= col("brand_b") &&
        col("last_dt") > col("first_dt"))
      .select(col("cust"), col("brand_a"), col("brand_b"))
      .distinct()
    val aBuyers = custBrand.groupBy(col("brand").as("brand_a"))
      .agg(count(lit(1)).as("n_a_buyers"))
    pairs.groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= SeqMinSup)
      .join(broadcast(aBuyers), "brand_a")
      .select(col("brand_a"), col("brand_b"), col("support"),
        col("n_a_buyers"),
        expr("support * 1000000 DIV n_a_buyers").as("confidence_e6"))
      .orderBy(col("support").desc, col("brand_a"), col("brand_b"))
      .limit(25)
  }

  val q247Sql: String =
    s"""WITH cb AS (
       |  SELECT o_custkey AS cust, p_brand AS brand,
       |    MIN(o_orderdate) AS first_dt, MAX(o_orderdate) AS last_dt
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT DISTINCT a.cust, a.brand AS brand_a, b.brand AS brand_b
       |  FROM cb a JOIN cb b ON a.cust = b.cust
       |  WHERE a.brand <> b.brand AND b.last_dt > a.first_dt),
       |ab AS (
       |  SELECT brand AS brand_a, COUNT(*) AS n_a_buyers FROM cb GROUP BY 1)
       |SELECT brand_a, brand_b, COUNT(*) AS support, n_a_buyers,
       |  CAST(COUNT(*) * 1000000 // n_a_buyers AS BIGINT) AS confidence_e6
       |FROM pairs JOIN ab USING (brand_a)
       |GROUP BY brand_a, brand_b, n_a_buyers
       |HAVING COUNT(*) >= $SeqMinSup
       |ORDER BY support DESC, brand_a, brand_b
       |LIMIT 25""".stripMargin

  // ---------------------------------------- q233: label spreading (semi-sup)

  /** q233: semi-supervised label spreading over the co-purchase graph, run
    * as an EVALUATION (the q165/q202 protocol): 10% of parts keep their
    * catalog brand as seed labels (p_partkey % 10 = 0 — a deterministic
    * holdout), labels spread for two rounds of weighted-majority votes
    * (vote mass = co-purchase count; argmax per node with lexicographic
    * label tie-break), and each round reports how many nodes it newly
    * labeled and how often the spread label equals the held-out catalog
    * brand. Exact throughout: integer vote sums, ROW_NUMBER argmax, e6
    * accuracy by integer division.
    *
    * Scale shape per round: one join of the edge list to the labeled
    * frontier (shuffle on src), one (node, label) vote rollup, one ranking
    * window partitioned by node — the Pregel step lowered to
    * relational form, same as [[Graph.pageRankInt]]; the anti-join keeps
    * rounds semi-naive (settled nodes never recompute).
    */
  val q233LabelSpreading: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // checkpoint BEFORE the symmetrizing union (r8): both branches re-ran
    // the pair-generation reduce; the swap projection itself is trivial
    val e = copurchaseEdges(s, dir).localCheckpoint()
    val und = e.select(col("part_a").as("src"), col("part_b").as("dst"), col("n_ab"))
      .unionByName(e.select(col("part_b").as("src"), col("part_a").as("dst"), col("n_ab")))
      .localCheckpoint()
    val parts = Tables.part(s, dir)
      .select(col("p_partkey").as("part"), col("p_brand").as("brand"))
    val seeds = parts.filter(col("part") % 10 === 0)
      .select(col("part"), col("brand").as("label"))
    def spread(labeled: org.apache.spark.sql.DataFrame) = {
      val votes = und.join(labeled.withColumnRenamed("part", "src"), "src")
        .groupBy(col("dst").as("part"), col("label"))
        .agg(sum(col("n_ab")).as("votes"))
      val w = Window.partitionBy(col("part"))
        .orderBy(col("votes").desc, col("label"))
      votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("part"), col("label"))
        .join(labeled, Seq("part"), "left_anti")
        .localCheckpoint()
    }
    val r1 = spread(seeds)
    val r2 = spread(seeds.unionByName(r1))
    def eval(round: Int, labeled: org.apache.spark.sql.DataFrame) =
      labeled.join(parts, "part")
        .agg(count(lit(1)).as("n_labeled"),
          sum(when(col("label") === col("brand"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(lit(round).as("round"), col("n_labeled"), col("n_correct"),
          expr("n_correct * 1000000 DIV n_labeled").as("accuracy_e6"))
    eval(1, r1).unionByName(eval(2, r2)).orderBy(col("round"))
  }

  def q233Sql: String = {
    def spreadCte(cur: String, labeledSql: String): String =
      s"""v$cur AS (
         |  SELECT und.dst AS part, l.label, CAST(SUM(und.n_ab) AS BIGINT) AS votes
         |  FROM und JOIN ($labeledSql) l ON und.src = l.part
         |  GROUP BY 1, 2),
         |a$cur AS (
         |  SELECT part, label FROM (
         |    SELECT part, label, ROW_NUMBER() OVER (PARTITION BY part
         |      ORDER BY votes DESC, label) AS rk FROM v$cur) t
         |  WHERE rk = 1),
         |r$cur AS (
         |  SELECT part, label FROM a$cur
         |  WHERE part NOT IN (SELECT part FROM ($labeledSql) k))""".stripMargin
    s"""WITH $edgesCtes,
       |und AS (
       |  SELECT part_a AS src, part_b AS dst, n_ab FROM pairs
       |  UNION ALL SELECT part_b, part_a, n_ab FROM pairs),
       |seeds AS (
       |  SELECT p_partkey AS part, p_brand AS label FROM part
       |  WHERE p_partkey % 10 = 0),
       |${spreadCte("1", "SELECT part, label FROM seeds")},
       |${spreadCte("2",
      "SELECT part, label FROM seeds UNION ALL SELECT part, label FROM r1")}
       |SELECT round, n_labeled, n_correct,
       |  CAST(n_correct * 1000000 // n_labeled AS BIGINT) AS accuracy_e6
       |FROM (
       |  SELECT 1 AS round, COUNT(*) AS n_labeled,
       |    CAST(SUM(CASE WHEN r1.label = p.p_brand THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_correct
       |  FROM r1 JOIN part p ON r1.part = p.p_partkey
       |  UNION ALL
       |  SELECT 2, COUNT(*),
       |    CAST(SUM(CASE WHEN r2.label = p.p_brand THEN 1 ELSE 0 END)
       |      AS BIGINT)
       |  FROM r2 JOIN part p ON r2.part = p.p_partkey) t
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------- q234: bounded shortest paths

  /** Relaxation rounds for q234 (Bellman-Ford over the small-diameter
    * co-purchase graph; paths longer than this stay at their best-so-far).
    */
  private val SpRounds = 3

  /** q234: weighted shortest paths by bounded Bellman-Ford — the
    * "affinity distance" ranking from an anchor part over the co-purchase
    * graph, with edge cost 10⁶ DIV n_ab (stronger co-purchase = cheaper
    * hop, the standard similarity→distance flip, exact by construction).
    * Each of the [[SpRounds]] rounds relaxes EVERY edge against the
    * current distance table and keeps the per-node minimum — the
    * join-agg lowering of Bellman-Ford, whose round count bounds path
    * length exactly like q143 bounds hop count. Top 25 nearest by
    * (distance, part), anchor excluded.
    *
    * The anchor is data-derived but deterministic: the smallest part key
    * in the edge list — mirrored verbatim in the oracle as a scalar
    * subquery.
    */
  val q234ShortestPaths: Q = (s, dir) => {
    // both orientations IN PLACE — one co-purchase derivation, not two
    // union branches (Pairs.bothOrientations, r9)
    val und = graft.functions.Pairs.bothOrientations(
        copurchaseEdges(s, dir)
          .select(col("part_a").as("src"), col("part_b").as("dst"),
            expr("1000000 DIV n_ab").as("cost")),
        "src", "dst", "cost")
      .localCheckpoint()
    val anchor = und.agg(min(col("src")).as("part"))
    var dist = anchor.withColumn("d", lit(0L)).localCheckpoint()
    for (_ <- 1 to SpRounds) {
      val relaxed = und
        .join(dist.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), (col("d") + col("cost")).as("d"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("part")).agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    dist.join(anchor.withColumnRenamed("part", "a"),
        col("part") === col("a"), "left_anti")
      .orderBy(col("d"), col("part"))
      .limit(25)
      .select(col("part"), col("d").as("dist_e6"))
  }

  def q234Sql: String = {
    def round(prev: String, cur: String): String =
      s"""d$cur AS (
         |  SELECT part, MIN(d) AS d FROM (
         |    SELECT part, d FROM d$prev
         |    UNION ALL
         |    SELECT und.dst AS part, d$prev.d + und.cost AS d
         |    FROM und JOIN d$prev ON und.src = d$prev.part) t
         |  GROUP BY part)""".stripMargin
    val rounds = (1 to SpRounds).map(h => round((h - 1).toString, h.toString))
      .mkString(",\n")
    s"""WITH $edgesCtes,
       |und AS (
       |  SELECT part_a AS src, part_b AS dst,
       |    CAST(1000000 // n_ab AS BIGINT) AS cost FROM pairs
       |  UNION ALL
       |  SELECT part_b, part_a, CAST(1000000 // n_ab AS BIGINT) FROM pairs),
       |anchor AS (SELECT MIN(src) AS part FROM und),
       |d0 AS (SELECT part, CAST(0 AS BIGINT) AS d FROM anchor),
       |$rounds
       |SELECT part, d AS dist_e6
       |FROM d$SpRounds
       |WHERE part <> (SELECT part FROM anchor)
       |ORDER BY d, part
       |LIMIT 25""".stripMargin
  }

  // ------------------------------------------- q188: degree assortativity

  /** q188: graph topology panel — node/edge counts, degree extremes, leaf
    * share, and the degree assortativity coefficient of the co-purchase
    * graph (Newman's r: do well-connected parts co-occur with other
    * well-connected parts, or with the periphery?). Assortativity is the
    * Pearson correlation of endpoint degrees over the DIRECTED edge list
    * (each undirected edge contributes both orientations — the standard
    * symmetrized estimator, which makes Σx = Σy and Σx² = Σy²), computed
    * from EXACT integer co-moments in DECIMAL(38,0)/HUGEINT exactly like
    * q117: r = (M·Σxy − Σx²) / (M·Σx² − (Σx)²), one division at the end.
    * Scale: two broadcast-able degree joins against the edge list, then a
    * scalar aggregate — no new shuffle beyond the q107/q115 edge
    * derivation it shares.
    */
  val q188DegreeAssortativity: Q = (s, dir) => {
    // the edge rollup feeds deg, both decoration joins, and the symmetrized
    // union — checkpoint it once instead of re-deriving per reference
    val e = copurchaseEdges(s, dir).localCheckpoint()
    val deg = e.select(col("part_a").as("n")).union(e.select(col("part_b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val directed = e
      .join(deg.select(col("n").as("part_a"), col("deg").as("da")), "part_a")
      .join(deg.select(col("n").as("part_b"), col("deg").as("db")), "part_b")
      .select(col("da"), col("db"))
    // in place, not union-of-flips: directed's two degree joins would
    // otherwise run once per branch (r9)
    val sym = graft.functions.Pairs.bothOrientations(directed, "da", "db")
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"),
      sum((col("deg") === 1).cast("long")).as("n_leaves"))
    val moments = sym.agg(count(lit(1)).cast(dec).as("m"),
      sum(col("da").cast(dec)).as("sx"),
      sum((col("da") * col("db")).cast(dec)).as("sxy"),
      sum((col("da") * col("da")).cast(dec)).as("sxx"))
    degStats.crossJoin(broadcast(moments))
      .select(col("n_nodes"), (col("m") / 2).cast("long").as("n_edges"),
        col("min_deg"), col("max_deg"), col("n_leaves"),
        ((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
          (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  def q188Sql: String =
    s"""WITH $edgesCtes,
      |deg AS (
      |  SELECT n, COUNT(*) AS deg FROM (
      |    SELECT part_a AS n FROM pairs UNION ALL SELECT part_b FROM pairs)
      |  GROUP BY n),
      |directed AS (
      |  SELECT da.deg AS x, db.deg AS y
      |  FROM pairs e
      |  JOIN deg da ON da.n = e.part_a
      |  JOIN deg db ON db.n = e.part_b),
      |sym AS (SELECT x, y FROM directed UNION ALL SELECT y, x FROM directed),
      |mo AS (
      |  SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(x*y) AS sxy, SUM(x*x) AS sxx
      |  FROM sym),
      |ds AS (
      |  SELECT COUNT(*) AS n_nodes, MIN(deg) AS min_deg, MAX(deg) AS max_deg,
      |    CAST(SUM(CASE WHEN deg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaves
      |  FROM deg)
      |SELECT n_nodes, CAST(m / 2 AS BIGINT) AS n_edges, min_deg, max_deg,
      |  n_leaves,
      |  CAST(CAST(m * sxy - sx * sx AS VARCHAR) AS DOUBLE) /
      |    CAST(CAST(m * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS assortativity
      |FROM ds, mo""".stripMargin

  // ------------------------------------------- q189: link prediction

  /** Neighbor-list cap for candidate generation: nodes with more than this
    * many neighbors contribute no candidate pairs (hub posting lists are
    * the quadratic risk — the same DfCap/BandCap posture as the text side).
    */
  private val NbrCap = 64

  /** Minimum common-neighbor count for a reported candidate pair. */
  private val MinCommon = 2

  /** q189: link prediction over the co-purchase graph — for part pairs NOT
    * yet co-purchased, score the likelihood of a future edge by common
    * neighbors, neighborhood Jaccard, and preferential attachment
    * (du·dv) — the classic unsupervised link-prediction triple. Candidates
    * enumerate at their shared neighbor via the grouped in-place i<j
    * generator over the SORTED neighbor list (one explode, fan-out ≤
    * NbrCap²/2 per node by construction), aggregate to common-neighbor
    * counts, anti-join the existing edge list, then decorate with exact
    * integer degrees; Jaccard is one e6 integer division on nonnegative
    * operands. Scale: identical posture to q115's wedge enumeration —
    * bounded fan-out, one aggregation keyed by the candidate pair.
    */
  val q189LinkPrediction: Q = (s, dir) => {
    // referenced by und (twice), the degree rollup, and the anti-join —
    // one checkpoint of the derived edge list, not four derivations
    val e = copurchaseEdges(s, dir).localCheckpoint()
    val und = e.select(col("part_a").as("u"), col("part_b").as("v"))
      .union(e.select(col("part_b").as("u"), col("part_a").as("v")))
    val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
    val wedges = und.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .filter(size(col("nbrs")).between(2, NbrCap))
      .select(graft.functions.Pairs.inPlace(col("nbrs"), (x, y) =>
        struct(x.as("a"), y.as("b"))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
    val cn = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= MinCommon)
    cn.join(e, cn("a") === e("part_a") && cn("b") === e("part_b"), "left_anti")
      .join(deg.select(col("n").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common_neighbors"),
        col("deg_a"), col("deg_b"),
        expr("common_neighbors * 1000000 DIV (deg_a + deg_b - common_neighbors)")
          .as("jaccard_e6"),
        (col("deg_a") * col("deg_b")).as("pref_attach"))
  }

  def q189Sql: String =
    s"""WITH $edgesCtes,
      |und AS (SELECT part_a AS u, part_b AS v FROM pairs
      |        UNION ALL SELECT part_b, part_a FROM pairs),
      |deg AS (SELECT u AS n, COUNT(*) AS deg FROM und GROUP BY u),
      |adj AS (SELECT u, v FROM und
      |        WHERE u IN (SELECT n FROM deg WHERE deg BETWEEN 2 AND $NbrCap)),
      |cand AS (
      |  SELECT x.v AS a, y.v AS b, COUNT(*) AS common_neighbors
      |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v
      |  GROUP BY x.v, y.v
      |  HAVING COUNT(*) >= $MinCommon),
      |new_pairs AS (
      |  SELECT c.* FROM cand c
      |  LEFT JOIN pairs p ON p.part_a = c.a AND p.part_b = c.b
      |  WHERE p.part_a IS NULL)
      |SELECT a, b, common_neighbors, da.deg AS deg_a, db.deg AS deg_b,
      |  CAST(common_neighbors * 1000000
      |    // (da.deg + db.deg - common_neighbors) AS BIGINT) AS jaccard_e6,
      |  da.deg * db.deg AS pref_attach
      |FROM new_pairs
      |JOIN deg da ON da.n = a
      |JOIN deg db ON db.n = b""".stripMargin

  // ------------------------------------------- q202: recommender evaluation

  /** Recommendations kept per source part in the q202 evaluation. */
  private val RecK = 5

  /** Temporal split date: train on orders strictly before, test on the rest
    * (reuses CoreQueries' snapshot instant so the corpus splits match).
    */
  private def recCutoff = CoreQueries.SnapshotCutoff

  /** q202: offline recommender evaluation — the leak-free hit-rate@k
    * protocol: train co-purchase counts on orders BEFORE the cutoff date,
    * recommend each part's top-[[RecK]] co-purchased partners (count desc,
    * id tiebreak — one window over the train edge list), then score
    * against co-purchases that actually happened in TEST-period orders:
    * a directional test pair (a,b) hits when b is in a's top-k. One
    * summary row: directional pairs, hits, hit-rate, and the evaluated-k.
    * The time split makes it honest (no test leakage into training edges);
    * both edge derivations are the bounded q107 in-place pair shape, and
    * the scoring join is test-pairs × recommendations on (a,b) — never a
    * part×part product.
    */
  val q202RecsysEval: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    def itemsIn(test: Boolean) = {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
      val cond = if (test) col("o_orderdate") >= lit(recCutoff).cast("timestamp")
        else col("o_orderdate") < lit(recCutoff).cast("timestamp")
      Tables.lineitem(s, dir)
        .join(o.filter(cond), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
    }
    def edges(items: org.apache.spark.sql.DataFrame) = items
      .groupBy(col("o")).agg(sort_array(collect_list(col("p"))).as("parts"))
      .filter(size(col("parts")).between(2, BasketCap))
      .select(graft.functions.Pairs.inPlace(col("parts"), (x, y) =>
        struct(x.as("part_a"), y.as("part_b"))).as("pr"))
      .select(col("pr.part_a"), col("pr.part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
    def directional(e: org.apache.spark.sql.DataFrame) =
      graft.functions.Pairs.bothOrientations(
        e.select(col("part_a").as("a"), col("part_b").as("b"), col("n_ab")),
        "a", "b", "n_ab")
    val train = directional(edges(itemsIn(test = false)))
    val recs = train
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("n_ab").desc, col("b"))))
      .filter(col("rk") <= RecK)
      .select(col("a"), col("b"))
    val testPairs = directional(edges(itemsIn(test = true)))
      .select(col("a"), col("b"))
    testPairs
      .join(recs.withColumn("hit", lit(1L)), Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_test_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("n_test_pairs"), col("n_hits"), lit(RecK).as("k"),
        expr("n_hits * 1000000 DIV n_test_pairs").as("hit_rate_e6"))
  }

  def q202Sql: String = {
    def edgeCte(name: String, cmp: String) =
      s"""${name}_items AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderdate $cmp TIMESTAMP '$recCutoff 00:00:00'),
         |${name}_baskets AS (
         |  SELECT o, LIST_SORT(LIST(p)) AS parts FROM ${name}_items
         |  GROUP BY o HAVING COUNT(*) BETWEEN 2 AND $BasketCap),
         |${name}_pairs AS (
         |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
         |  FROM ${name}_items a JOIN ${name}_items b
         |    ON a.o = b.o AND a.p < b.p
         |  WHERE a.o IN (SELECT o FROM ${name}_baskets)
         |  GROUP BY 1, 2),
         |${name}_dir AS (
         |  SELECT part_a AS a, part_b AS b, n_ab FROM ${name}_pairs
         |  UNION ALL SELECT part_b, part_a, n_ab FROM ${name}_pairs)""".stripMargin
    s"""WITH ${edgeCte("tr", "<")},
       |${edgeCte("te", ">=")},
       |recs AS (
       |  SELECT a, b FROM (
       |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY n_ab DESC, b) AS rk
       |    FROM tr_dir) t
       |  WHERE rk <= $RecK)
       |SELECT COUNT(*) AS n_test_pairs,
       |  CAST(SUM(CASE WHEN r.b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  CAST($RecK AS INT) AS k,
       |  CAST(SUM(CASE WHEN r.b IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS hit_rate_e6
       |FROM te_dir t LEFT JOIN recs r ON t.a = r.a AND t.b = r.b""".stripMargin
  }

  // ------------------------------------------- q228: frequent triples

  /** Minimum support for a q228 itemset (items, pairs, and triples). */
  private val TripleMinSup = 2

  /** q228: frequent 3-itemsets — the A-priori level beyond q107's pairs,
    * implemented as staged candidate PRUNING (the algorithm's whole point
    * at scale): pass 1 counts item supports; baskets are then REWRITTEN to
    * their frequent items only (every subset of a frequent triple is
    * frequent — Apriori monotonicity — so infrequent items can't appear in
    * any answer); pass 2 generates i<j<k triples IN PLACE from each
    * pruned basket (the [[graft.functions.Pairs]] shape nested one level
    * deeper) and counts them. Fan-out is m'³/6 per basket where m' counts
    * only FREQUENT items — the pruning, plus [[BasketCap]], is the bound
    * by construction; the unpruned explode would cube raw basket width.
    * Top 25 by support with full lexicographic tie-break.
    */
  val q228FrequentTriples: Q = (s, dir) => {
    val items = orderItems(s, dir)
    val freq = items.groupBy(col("p")).agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= TripleMinSup)
      .select(col("p"))
    val pruned = items.join(broadcast(freq), Seq("p"))
      .groupBy(col("o")).agg(sort_array(collect_list(col("p"))).as("parts"))
      .filter(size(col("parts")).between(3, BasketCap))
    val triples = pruned.select(explode(expr(
      """flatten(flatten(transform(parts, (x, i) ->
        |  transform(slice(parts, i + 2, size(parts)), (y, j) ->
        |    transform(slice(parts, i + j + 3, size(parts)),
        |      z -> struct(x AS a, y AS b, z AS c))))))""".stripMargin))
      .as("t"))
      .select(col("t.a"), col("t.b"), col("t.c"))
    triples.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= TripleMinSup)
      .orderBy(col("support").desc, col("a"), col("b"), col("c"))
      .limit(25)
  }

  val q228Sql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |freq AS (
       |  SELECT p FROM items GROUP BY p HAVING COUNT(*) >= $TripleMinSup),
       |pruned AS (
       |  SELECT o, p FROM items WHERE p IN (SELECT p FROM freq)),
       |sized AS (
       |  SELECT o FROM pruned GROUP BY o
       |  HAVING COUNT(*) BETWEEN 3 AND $BasketCap),
       |tri AS (
       |  SELECT a.p AS a, b.p AS b, c.p AS c
       |  FROM pruned a
       |  JOIN pruned b ON a.o = b.o AND a.p < b.p
       |  JOIN pruned c ON b.o = c.o AND b.p < c.p
       |  WHERE a.o IN (SELECT o FROM sized))
       |SELECT a, b, c, COUNT(*) AS support
       |FROM tri GROUP BY a, b, c
       |HAVING COUNT(*) >= $TripleMinSup
       |ORDER BY support DESC, a, b, c
       |LIMIT 25""".stripMargin

  // ------------------------------------------- q217: ranking-metric panel

  /** Recommendation-list depth evaluated by the q217 ranking metrics. */
  private val RankK = 10

  // -- shared rec-evaluation builders (q217 MRR/P@k panel, q262 NDCG) --

  /** Distinct (order, part) incidences on one side of the temporal split. */
  private def recItems(s: org.apache.spark.sql.SparkSession, dir: String,
      test: Boolean) = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
    val cond = if (test) col("o_orderdate") >= lit(recCutoff).cast("timestamp")
      else col("o_orderdate") < lit(recCutoff).cast("timestamp")
    Tables.lineitem(s, dir)
      .join(o.filter(cond), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
  }

  /** Co-occurrence pair counts from capped baskets (in-place i<j pairs). */
  private def recPairEdges(items: org.apache.spark.sql.DataFrame) = items
    .groupBy(col("o")).agg(sort_array(collect_list(col("p"))).as("parts"))
    .filter(size(col("parts")).between(2, BasketCap))
    .select(graft.functions.Pairs.inPlace(col("parts"), (x, y) =>
      struct(x.as("part_a"), y.as("part_b"))).as("pr"))
    .select(col("pr.part_a"), col("pr.part_b"))
    .groupBy(col("part_a"), col("part_b"))
    .agg(count(lit(1)).as("n_ab"))

  /** Both directions of the undirected co-occurrence edge list — in place
    * (Pairs.bothOrientations), so the pair-generation pipeline upstream is
    * derived once, not once per union branch (r9).
    */
  private def recDirectional(e: org.apache.spark.sql.DataFrame) =
    graft.functions.Pairs.bothOrientations(
      e.select(col("part_a").as("a"), col("part_b").as("b"), col("n_ab")),
      "a", "b", "n_ab")

  /** q217: ranking-metrics panel — MRR, precision@{1,3,10} and recall@10
    * for the q202 recommender under the same leak-free temporal split.
    * q202 answers "did ANY top-k rec co-occur?"; this grades WHERE in the
    * list the relevant items landed, which is what distinguishes two
    * recommenders with equal hit rate. All metrics are exact integers:
    * reciprocal ranks and per-user ratios are e6-quantized with integer
    * division (floor twice, identically in both engines) — no float mean.
    * NDCG lives in q262: its log2 discount is a libm call that is not
    * bit-portable as an EXPRESSION, so q262 inlines the k discounts as
    * shared e6 literals instead (the q61 plane-matrix pattern).
    *
    * Plan shape: the ranked rec list is ONE window over the train edges
    * (rk ≤ [[RankK]] kept), hits are a pair-keyed join of test pairs to
    * recs (never a part×part product), and the per-user rollup runs on
    * |test users| rows. At 100 TB each stage shuffles once on its key.
    */
  val q217RankingMetrics: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val recs = recDirectional(recPairEdges(recItems(s, dir, test = false)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("n_ab").desc, col("b"))))
      .filter(col("rk") <= RankK)
      .select(col("a"), col("b"), col("rk"))
    val relevant = recDirectional(recPairEdges(recItems(s, dir, test = true)))
      .select(col("a"), col("b"))
    // LEFT-JOIN-FIRST (r9): the old shape consumed `relevant` twice (per-
    // user relevance rollup + inner hit join) and re-derived the whole test
    // pair pipeline per consumer (materializing it was counter-measured
    // worse in r8 — the list is big). One left join then ONE per-user
    // rollup computes nrel and the hit columns in a single pass: min/count
    // skip nulls and the when() conditions are null-false, so every value
    // is identical to the perUserRel⟕hits formulation. Also one fewer
    // shuffle of `relevant` (no separate nrel exchange).
    // rk must be re-projected through when(isNotNull): row_number()'s
    // non-nullable metadata survives the left join in the expression tree,
    // and codegen then elides null checks on unmatched rows and reads a
    // stale value slot (caught live in q262's element_at — the comparisons
    // here are one optimizer change away from the same misread).
    val perUser = relevant.join(recs, Seq("a", "b"), "left")
      .select(col("a"), when(col("rk").isNotNull, col("rk")).as("rk"))
      .groupBy(col("a"))
      .agg(count(lit(1)).as("nrel"),
        min(col("rk")).as("first_rk"),
        sum(when(col("rk") <= 1, 1L).otherwise(0L)).as("h1"),
        sum(when(col("rk") <= 3, 1L).otherwise(0L)).as("h3"),
        count(col("rk")).as("h10"))
    perUser
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("first_rk").isNotNull,
          expr("1000000 DIV first_rk")).otherwise(0L)).as("sum_rr_e6"),
        sum(col("h1")).as("sh1"),
        sum(col("h3")).as("sh3"),
        sum(col("h10")).as("sh10"),
        sum(expr("h10 * 1000000 DIV nrel")).as("sum_rec_e6"))
      // DECIMAL on the e6 numerators: hit counts track user counts, and
      // count x 1e6 wraps int64 in the 10^13-user range
      .select(col("n_users"),
        expr("sum_rr_e6 DIV n_users").as("mrr_e6"),
        expr("CAST(CAST(sh1 AS DECIMAL(38,0)) * 1000000 DIV n_users AS BIGINT)")
          .as("p_at_1_e6"),
        expr("CAST(CAST(sh3 AS DECIMAL(38,0)) * 1000000 DIV (3 * n_users) AS BIGINT)")
          .as("p_at_3_e6"),
        expr(s"CAST(CAST(sh10 AS DECIMAL(38,0)) * 1000000 DIV ($RankK * n_users) AS BIGINT)")
          .as("p_at_10_e6"),
        expr("sum_rec_e6 DIV n_users").as("recall_at_10_e6"))
  }

  /** Shared oracle CTE block: train/test co-occurrence edges (q217, q262). */
  private def recEdgeCte(name: String, cmp: String) =
    s"""${name}_items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate $cmp TIMESTAMP '$recCutoff 00:00:00'),
       |${name}_baskets AS (
       |  SELECT o, LIST_SORT(LIST(p)) AS parts FROM ${name}_items
       |  GROUP BY o HAVING COUNT(*) BETWEEN 2 AND $BasketCap),
       |${name}_pairs AS (
       |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
       |  FROM ${name}_items a JOIN ${name}_items b
       |    ON a.o = b.o AND a.p < b.p
       |  WHERE a.o IN (SELECT o FROM ${name}_baskets)
       |  GROUP BY 1, 2),
       |${name}_dir AS (
       |  SELECT part_a AS a, part_b AS b, n_ab FROM ${name}_pairs
       |  UNION ALL SELECT part_b, part_a, n_ab FROM ${name}_pairs)""".stripMargin

  def q217Sql: String = {
    def edgeCte(name: String, cmp: String) = recEdgeCte(name, cmp)
    s"""WITH ${edgeCte("tr", "<")},
       |${edgeCte("te", ">=")},
       |recs AS (
       |  SELECT a, b, rk FROM (
       |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY n_ab DESC, b) AS rk
       |    FROM tr_dir) t
       |  WHERE rk <= $RankK),
       |rel AS (SELECT a, b FROM te_dir),
       |per_rel AS (SELECT a, COUNT(*) AS nrel FROM rel GROUP BY a),
       |hits AS (
       |  SELECT rel.a, MIN(rk) AS first_rk,
       |    SUM(CASE WHEN rk <= 1 THEN 1 ELSE 0 END) AS h1,
       |    SUM(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS h3,
       |    COUNT(*) AS h10
       |  FROM rel JOIN recs ON rel.a = recs.a AND rel.b = recs.b
       |  GROUP BY rel.a),
       |roll AS (
       |  SELECT COUNT(*) AS n_users,
       |    SUM(CASE WHEN first_rk IS NOT NULL
       |        THEN 1000000 // first_rk ELSE 0 END) AS sum_rr_e6,
       |    SUM(COALESCE(h1, 0)) AS sh1,
       |    SUM(COALESCE(h3, 0)) AS sh3,
       |    SUM(COALESCE(h10, 0)) AS sh10,
       |    SUM(COALESCE(h10, 0) * 1000000 // nrel) AS sum_rec_e6
       |  FROM per_rel LEFT JOIN hits USING (a))
       |SELECT n_users,
       |  CAST(sum_rr_e6 // n_users AS BIGINT) AS mrr_e6,
       |  CAST(CAST(sh1 AS HUGEINT) * 1000000 // n_users AS BIGINT) AS p_at_1_e6,
       |  CAST(CAST(sh3 AS HUGEINT) * 1000000 // (3 * n_users) AS BIGINT) AS p_at_3_e6,
       |  CAST(CAST(sh10 AS HUGEINT) * 1000000 // ($RankK * n_users) AS BIGINT) AS p_at_10_e6,
       |  CAST(sum_rec_e6 // n_users AS BIGINT) AS recall_at_10_e6
       |FROM roll""".stripMargin
  }

  // ------------------------------------------- q262: NDCG panel

  /** e6-quantized log2 rank discounts 10⁶/log₂(r+1), r = 1..RankK — computed
    * ONCE here and inlined as literals into BOTH the engine expression and
    * the oracle SQL (the q61 plane-matrix pattern), which is what makes a
    * log-based metric bit-portable: the libm call happens at PLAN-BUILD
    * time, never per row in either engine.
    */
  private val DcgDisc: Seq[Long] = (1 to RankK).map(r =>
    Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))

  /** Ideal-DCG prefix sums: IDCG for a user with k relevant items. */
  private val DcgCum: Seq[Long] = DcgDisc.scanLeft(0L)(_ + _).tail

  /** Test hook: the discount table, for pinning the canonical constants. */
  def dcgDiscForTest: Seq[Long] = DcgDisc

  /** q262: NDCG@10 for the q202/q217 recommender — the graded-position
    * metric q217's exact-arithmetic panel pointed at: binary-relevance DCG
    * over the inlined discount table, IDCG from the prefix-sum table at
    * min(nrel, k), per-user ndcg = dcg·10⁶ DIV idcg (dcg ≤ idcg by
    * construction, so the ratio is a proper [0, 10⁶] integer). Rollup
    * reports the user count, mean NDCG, perfect lists and complete misses.
    *
    * Plan shape is q217's: pair-keyed hit join, |test users| rollup,
    * discount lookup is an element_at into a 10-literal array — free.
    */
  val q262Ndcg: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val recs = recDirectional(recPairEdges(recItems(s, dir, test = false)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("n_ab").desc, col("b"))))
      .filter(col("rk") <= RankK)
      .select(col("a"), col("b"), col("rk"))
    val relevant = recDirectional(recPairEdges(recItems(s, dir, test = true)))
      .select(col("a"), col("b"))
    val discArr = array(DcgDisc.map(lit): _*)
    val cumArr = array(DcgCum.map(lit): _*)
    // LEFT-JOIN-FIRST (r9, the q217 rewrite): one derivation of the test
    // pair list, one per-user rollup computing nrel AND the dcg sum —
    // element_at of a null rk is null and sum skips nulls, so the coalesced
    // dcg is identical to the perUserRel⟕dcg formulation.
    // the explicit isNotNull guard is LOAD-BEARING: rk is row_number(),
    // whose non-nullable metadata survives the left join in the expression
    // tree, so an unguarded element_at(discArr, rk) compiles WITHOUT a
    // null check and reads a stale slot (the last discount) on unmatched
    // rows — measured returning disc=289065 for every miss. when() forces
    // nullable semantics and the miss contributes NULL (skipped by sum).
    val dcg = relevant.join(recs, Seq("a", "b"), "left")
      .select(col("a"), when(col("rk").isNotNull,
        element_at(discArr, col("rk").cast("int"))).as("disc"))
      .groupBy(col("a")).agg(count(lit(1)).as("nrel"),
        sum(col("disc")).as("dcg_e6"))
    dcg
      .select(coalesce(col("dcg_e6"), lit(0L)).as("dcg_e6"),
        element_at(cumArr, least(col("nrel"), lit(RankK.toLong)).cast("int"))
          .as("idcg_e6"))
      .withColumn("ndcg_e6",
        expr("CAST(CAST(dcg_e6 AS DECIMAL(38,0)) * 1000000 DIV idcg_e6 AS BIGINT)"))
      .agg(count(lit(1)).as("n_users"),
        expr("CAST(SUM(CAST(ndcg_e6 AS DECIMAL(38,0))) DIV COUNT(*) AS BIGINT)")
          .as("mean_ndcg_e6"),
        sum(when(col("ndcg_e6") >= 1000000L, 1L).otherwise(0L))
          .as("n_perfect"),
        sum(when(col("dcg_e6") === 0L, 1L).otherwise(0L)).as("n_zero"))
  }

  def q262Sql: String = {
    // CASE ladders instead of list-literal subscripting `([...])[i]`:
    // list subscripting of a literal is not portable across DuckDB
    // releases (driver-gate hash mismatch in round 4).
    val d = "CASE CAST(rk AS INT) " + DcgDisc.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
      .mkString(" ") + " ELSE 0 END"
    val c = s"CASE CAST(LEAST(nrel, $RankK) AS INT) " + DcgCum.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
      .mkString(" ") + " ELSE 0 END"
    s"""WITH ${recEdgeCte("tr", "<")},
       |${recEdgeCte("te", ">=")},
       |recs AS (
       |  SELECT a, b, rk FROM (
       |    SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY n_ab DESC, b) AS rk
       |    FROM tr_dir) t
       |  WHERE rk <= $RankK),
       |rel AS (SELECT a, b FROM te_dir),
       |per_rel AS (SELECT a, COUNT(*) AS nrel FROM rel GROUP BY a),
       |dcg AS (
       |  SELECT rel.a, SUM($d) AS dcg_e6
       |  FROM rel JOIN recs ON rel.a = recs.a AND rel.b = recs.b
       |  GROUP BY rel.a),
       |per AS (
       |  SELECT COALESCE(dcg_e6, 0) AS dcg_e6,
       |    $c AS idcg_e6
       |  FROM per_rel LEFT JOIN dcg USING (a)),
       |scored AS (
       |  SELECT dcg_e6,
       |    CAST(CAST(dcg_e6 AS HUGEINT) * 1000000 // idcg_e6 AS BIGINT)
       |      AS ndcg_e6
       |  FROM per)
       |SELECT COUNT(*) AS n_users,
       |  CAST(SUM(ndcg_e6) // COUNT(*) AS BIGINT) AS mean_ndcg_e6,
       |  CAST(SUM(CASE WHEN ndcg_e6 >= 1000000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_perfect,
       |  CAST(SUM(CASE WHEN dcg_e6 = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_zero
       |FROM scored""".stripMargin
  }

  // ----------------------------------------- q274: HITS hubs/authorities

  /** Top-list sizes for the HITS report. */
  private val HitsTopK = 15
  private val HitsIters = 2

  /** q274: HITS over the customer→part purchase graph — hubs are customers
    * whose baskets concentrate on authoritative parts, authorities are
    * parts bought by the strongest hubs (the mutually-reinforcing pair
    * PageRank's single score conflates; on a bipartite purchase graph this
    * is the classic "core shoppers / flagship products" decomposition).
    * [[Graph.hitsInt]] runs the authority↔hub rounds in exact L1-normalized
    * integer fixed-point, so the unrolled-CTE oracle matches bit-for-bit.
    * Output: top 15 of each side with a role tag, deterministic key
    * tie-break.
    */
  val q274Hits: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("hub"), col("l_partkey").as("auth"))
      .distinct()
    val (hubs, auths) = Graph.hitsInt(edges, HitsIters)
    val topA = auths.orderBy(col("a").desc, col("auth")).limit(HitsTopK)
      .select(lit("part_authority").as("role"), col("auth").as("node_key"),
        col("a").as("score_e12"))
    val topH = hubs.orderBy(col("h").desc, col("hub")).limit(HitsTopK)
      .select(lit("customer_hub").as("role"), col("hub").as("node_key"),
        col("h").as("score_e12"))
    topA.unionAll(topH)
  }

  /** Oracle generated by unrolling [[HitsIters]] rounds — the q105
    * chained-CTE pattern; HUGEINT keeps the 10¹²-scaled products exact.
    */
  val q274Sql: String = {
    val rounds = (1 to HitsIters).map { i =>
      val hPrev = if (i == 1) "hub0" else s"h${i - 1}"
      s"""ar$i AS (SELECT auth, SUM(h) AS a_raw
         |  FROM edges JOIN $hPrev USING (hub) GROUP BY auth),
         |at$i AS (SELECT SUM(a_raw) AS tot FROM ar$i),
         |a$i AS (SELECT auth, a_raw * 1000000000000 // tot AS a
         |  FROM ar$i CROSS JOIN at$i),
         |hr$i AS (SELECT hub, SUM(a) AS h_raw
         |  FROM edges JOIN a$i USING (auth) GROUP BY hub),
         |ht$i AS (SELECT SUM(h_raw) AS tot FROM hr$i),
         |h$i AS (SELECT hub, h_raw * 1000000000000 // tot AS h
         |  FROM hr$i CROSS JOIN ht$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS hub, l_partkey AS auth
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |hub0 AS (
       |  SELECT DISTINCT hub, CAST(1000000000000 AS HUGEINT) AS h
       |  FROM edges),
       |$rounds,
       |ta AS (SELECT 'part_authority' AS role, auth AS node_key,
       |    CAST(a AS BIGINT) AS score_e12
       |  FROM a$HitsIters ORDER BY a DESC, auth LIMIT $HitsTopK),
       |th AS (SELECT 'customer_hub' AS role, hub AS node_key,
       |    CAST(h AS BIGINT) AS score_e12
       |  FROM h$HitsIters ORDER BY h DESC, hub LIMIT $HitsTopK)
       |SELECT * FROM ta UNION ALL SELECT * FROM th""".stripMargin
  }

  // ----------------- q341: modularity of the brand partition

  /** q341: Newman–Girvan modularity of the BRAND partition over the
    * co-purchase graph — the quality score for a given community
    * assignment, the missing evaluation next to q115's cohesion census
    * and q188's assortativity (assortativity asks "do like nodes LINK?",
    * modularity asks "is this PARTITION better than chance?"). For each
    * community c over the [[copurchaseEdges]] graph (unweighted,
    * support ≥ MinSupport),
    *
    *   Q_c = m_c/m − (d_c/2m)²  =  (4·m·m_c − d_c²) / (4m²)
    *
    * — one exact integer fraction per community, e12-floored with the
    * SIGNED division spelling (contributions go negative when a brand's
    * degree mass outruns its internal edges); Q = Σ_c Q_c is the global
    * score and ships as the per-row running total's final value by
    * construction (Σ d_c = 2m and Σ m_c ≤ m are the built-in checks).
    *
    * Plan: the bounded in-place pair generation of the shared edge list
    * (BasketCap), two broadcast joins against the part dim for brands,
    * one 25-row rollup, a broadcast 1-row total. No new shuffles beyond
    * the edge list's own.
    */
  val q341Modularity: Q = (s, dir) => {
    val brands = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"))
    val e = copurchaseEdges(s, dir)
      .join(broadcast(brands.select(col("p_partkey").as("part_a"),
        col("p_brand").as("brand_a"))), "part_a")
      .join(broadcast(brands.select(col("p_partkey").as("part_b"),
        col("p_brand").as("brand_b"))), "part_b")
    // per-community: internal edges and degree mass (each edge adds one
    // degree to each endpoint's community)
    val byC = e.select(col("brand_a").as("c"),
        when(col("brand_a") === col("brand_b"), 1L).otherwise(0L).as("m_in"),
        lit(1L).as("d"))
      .unionAll(e.select(col("brand_b").as("c"), lit(0L).as("m_in"),
        lit(1L).as("d")))
      .groupBy(col("c"))
      .agg(sum(col("m_in")).cast(dec).as("mc"), sum(col("d")).cast(dec).as("dc"))
    val m = byC.agg((sum(col("dc")).cast(dec) / 2).cast(dec).as("m"))
    byC.crossJoin(broadcast(m))
      .select(col("c").as("brand"),
        col("mc").cast("long").as("m_in"),
        col("dc").cast("long").as("d_sum"),
        expr(sdivBigint("(4 * m * mc - dc * dc) * 1000000000000", "4 * m * m"))
          .as("contrib_e12"))
      .orderBy(col("brand"))
  }

  def q341Sql: String =
    s"""WITH $edgesCtes,
      |e AS (
      |  SELECT pa.p_brand AS brand_a, pb.p_brand AS brand_b
      |  FROM pairs
      |  JOIN part pa ON part_a = pa.p_partkey
      |  JOIN part pb ON part_b = pb.p_partkey),
      |by_c AS (
      |  SELECT c, CAST(SUM(m_in) AS HUGEINT) AS mc,
      |    CAST(SUM(d) AS HUGEINT) AS dc
      |  FROM (
      |    SELECT brand_a AS c,
      |      CASE WHEN brand_a = brand_b THEN 1 ELSE 0 END AS m_in, 1 AS d
      |    FROM e
      |    UNION ALL
      |    SELECT brand_b AS c, 0 AS m_in, 1 AS d FROM e) u
      |  GROUP BY c),
      |m AS (SELECT SUM(dc) // 2 AS m FROM by_c)
      |SELECT c AS brand, CAST(mc AS BIGINT) AS m_in,
      |  CAST(dc AS BIGINT) AS d_sum,
      |  CAST(CASE WHEN 4 * m * mc - dc * dc >= 0 THEN 1 ELSE -1 END *
      |    (ABS((4 * m * mc - dc * dc) * 1000000000000) // (4 * m * m))
      |    AS BIGINT) AS contrib_e12
      |FROM by_c CROSS JOIN m
      |ORDER BY brand""".stripMargin

  // -------------- q394: rich-club coefficient of the co-purchase graph

  /** Degree thresholds for the rich-club ladder. */
  val RichClubKs: Seq[Int] = Seq(2, 4, 8, 16)

  /** q394: the rich-club coefficient — do HIGH-DEGREE parts co-purchase
    * with EACH OTHER more densely than chance? φ(k) = 2·E_k/(N_k(N_k−1))
    * over the subgraph of nodes with degree > k, evaluated on the
    * [[RichClubKs]] ladder: a rising φ(k) is the "core elite" structure
    * that q188's assortativity summarizes in one number and q122's
    * k-core carves by membership. Degrees come off the shared edge list;
    * each rung is one broadcast semi-filter of the edges by the rich
    * set — candidate work bounded by the edge count, never re-derived.
    *
    * Plan: the bounded edge list once (checkpointed) → degree rollup →
    * per-rung broadcast filters and 1-row folds, unioned (4 metadata
    * rows).
    */
  val q394RichClub: Q = (s, dir) => {
    val edges = copurchaseEdges(s, dir)
      .select(col("part_a"), col("part_b")).localCheckpoint()
    val deg = edges.select(col("part_a").as("p"))
      .unionAll(edges.select(col("part_b").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val rungs = RichClubKs.map { k =>
      val rich = deg.filter(col("d") > k).select(col("p"))
      val nK = rich.agg(count(lit(1)).cast(dec).as("n_k"))
      val eK = edges
        .join(broadcast(rich.select(col("p").as("part_a"))), Seq("part_a"))
        .join(broadcast(rich.select(col("p").as("part_b"))), Seq("part_b"))
        .agg(count(lit(1)).cast(dec).as("e_k"))
      eK.crossJoin(broadcast(nK))
        .select(lit(k.toLong).as("k"), col("n_k").cast("long").as("n_nodes"),
          col("e_k").cast("long").as("n_edges"),
          when(col("n_k") >= 2,
            expr(fdiv("e_k * 2 * 1000000", "n_k * (n_k - 1)")).cast("long"))
            .otherwise(lit(null)).as("phi_e6"))
    }
    rungs.reduce(_ unionAll _).orderBy(col("k"))
  }

  def q394Sql: String = {
    val rung = RichClubKs.map { k =>
      s"""SELECT $k AS k,
         |  (SELECT COUNT(*) FROM rich_$k) AS n_nodes,
         |  (SELECT COUNT(*) FROM pairs e
         |     WHERE e.part_a IN (SELECT p FROM rich_$k)
         |       AND e.part_b IN (SELECT p FROM rich_$k)) AS n_edges,
         |  CASE WHEN (SELECT COUNT(*) FROM rich_$k) >= 2 THEN
         |    CAST((SELECT COUNT(*) FROM pairs e
         |       WHERE e.part_a IN (SELECT p FROM rich_$k)
         |         AND e.part_b IN (SELECT p FROM rich_$k))
         |      * 2 * 1000000 //
         |      ((SELECT CAST(COUNT(*) AS HUGEINT) FROM rich_$k) *
         |       ((SELECT COUNT(*) FROM rich_$k) - 1)) AS BIGINT)
         |    ELSE NULL END AS phi_e6""".stripMargin
    }.mkString("\nUNION ALL\n")
    val richCtes = RichClubKs.map(k =>
      s"rich_$k AS (SELECT p FROM deg WHERE d > $k)").mkString(",\n")
    s"""WITH $edgesCtes,
      |deg AS (
      |  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT part_a AS p FROM pairs
      |    UNION ALL SELECT part_b AS p FROM pairs) u
      |  GROUP BY p),
      |$richCtes
      |SELECT * FROM ($rung) ORDER BY k""".stripMargin
  }

  // ------- q415: seeded Brandes betweenness on the co-purchase graph

  /** Betweenness seed-sample size (top-degree pivots, deterministic)
    * and the hop bound shared with q143's BFS.
    */
  val BetwSeedK = 4
  val BetwDepth = 3

  /** q415: betweenness centrality by the Brandes algorithm — the one
    * classical centrality the graph family still lacked: degree (q188)
    * counts neighbors, PageRank (q105) counts endorsement flow, but
    * brokerage — "which parts sit ON the shortest paths between other
    * parts" — needs the Brandes two-pass: a forward BFS that counts
    * shortest paths (σ accumulates over frontier predecessors — the
    * semi-naive shape of q143, now keyed by (seed, node)), then a
    * BACKWARD dependency sweep δ(v) = Σ_succ (σ_v/σ_w)(1 + δ(w))
    * unrolled from the deepest layer, each edge term one e6 floor
    * division (both engines identical). Exact all-pairs Brandes is
    * O(V·E) — the standard at-scale posture is pivot SAMPLING, here the
    * [[BetwSeedK]] top-degree pivots (deterministic tiebreak), depth-
    * bounded at [[BetwDepth]] like every traversal in this file.
    *
    * Plan: forward = [[BetwDepth]] frontier×edge joins keyed by
    * (seed, node) with per-round checkpoints; backward = layer-to-layer
    * keyed joins; TakeOrdered(20) tail. No cartesians, no global sort.
    */
  val q415Betweenness: Q = (s, dir) => {
    // both orientations IN PLACE (Pairs.bothOrientations): the union-of-
    // flipped-projections idiom re-ran the whole co-purchase pipeline once
    // per branch inside this checkpoint job (r9)
    val und = graft.functions.Pairs.bothOrientations(
        copurchaseEdges(s, dir)
          .select(col("part_a").as("src"), col("part_b").as("dst")),
        "src", "dst")
      .localCheckpoint()
    val seeds = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src")).limit(BetwSeedK)
      .select(col("src").as("seed"))
    var layers = Vector(
      seeds.select(col("seed"), col("seed").as("part"), lit(1L).as("sigma"))
        .localCheckpoint())
    var settled = layers(0)
    for (_ <- 1 to BetwDepth) {
      val nxt = layers.last.select(col("seed"), col("part").as("v"),
        col("sigma"))
        .join(und, col("v") === col("src"))
        .groupBy(col("seed"), col("dst").as("part"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled.select(col("seed"), col("part")), Seq("seed", "part"),
          "left_anti")
        .localCheckpoint()
      layers = layers :+ nxt
      // plain union of ALREADY-CHECKPOINTED layers: re-deriving it is a
      // narrow re-read, and dropping its own checkpoint saves one blocking
      // job per forward round (r9)
      settled = settled.unionByName(nxt)
    }
    var deltas = Vector.empty[org.apache.spark.sql.DataFrame]
    var deeperDelta: Option[org.apache.spark.sql.DataFrame] = None
    for (d <- (BetwDepth - 1) to 1 by -1) {
      val w0 = layers(d + 1).select(col("seed"), col("part").as("wpart"),
        col("sigma").as("wsigma"))
      val w = (deeperDelta match {
        case Some(dd) => w0.join(dd.select(col("seed"),
          col("part").as("wpart"), col("delta").as("wdelta")),
          Seq("seed", "wpart"), "left")
          .select(col("seed"), col("wpart"), col("wsigma"),
            coalesce(col("wdelta"), lit(0L)).as("wdelta"))
        case None => w0.withColumn("wdelta", lit(0L))
      }).withColumnRenamed("seed", "wseed")
      val dl = layers(d).select(col("seed"), col("part"), col("sigma"))
        .join(und, col("part") === col("src"))
        .join(w, col("seed") === col("wseed") && col("dst") === col("wpart"))
        .select(col("seed"), col("part"),
          expr(fdivBigint("sigma * (1000000 + wdelta)", "wsigma")).as("term"))
        .groupBy(col("seed"), col("part"))
        .agg(sum(col("term")).as("delta"))
        .localCheckpoint()
      deltas = deltas :+ dl
      deeperDelta = Some(dl)
    }
    deltas.reduce(_.unionByName(_))
      .groupBy(col("part")).agg(sum(col("delta")).as("bc_e6"))
      .orderBy(col("bc_e6").desc, col("part")).limit(20)
  }

  def q415Sql: String = {
    val fwd = (1 to BetwDepth).map { d =>
      val known = (0 until d).map(i => s"SELECT seed, part FROM f$i")
        .mkString(" UNION ALL ")
      s"""f$d AS (
         |  SELECT g.seed, g.part, g.sigma FROM (
         |    SELECT f.seed, und.dst AS part, SUM(f.sigma) AS sigma
         |    FROM f${d - 1} f JOIN und ON und.src = f.part
         |    GROUP BY f.seed, und.dst) g
         |  LEFT JOIN ($known) k ON k.seed = g.seed AND k.part = g.part
         |  WHERE k.part IS NULL)""".stripMargin
    }.mkString(",\n")
    val bwd = ((BetwDepth - 1) to 1 by -1).map { d =>
      val wdelta =
        if (d == BetwDepth - 1) "0"
        else s"COALESCE(dd${d + 1}.delta, 0)"
      val ddJoin =
        if (d == BetwDepth - 1) ""
        else
          s"\n  LEFT JOIN dd${d + 1} ON dd${d + 1}.seed = w.seed" +
            s" AND dd${d + 1}.part = w.part"
      s"""dd$d AS (
         |  SELECT v.seed, v.part,
         |    SUM(v.sigma * (1000000 + $wdelta) // w.sigma) AS delta
         |  FROM f$d v
         |  JOIN und ON und.src = v.part
         |  JOIN f${d + 1} w ON w.seed = v.seed AND w.part = und.dst$ddJoin
         |  GROUP BY v.seed, v.part)""".stripMargin
    }.mkString(",\n")
    val bcUnion = ((BetwDepth - 1) to 1 by -1)
      .map(d => s"SELECT part, delta FROM dd$d").mkString(" UNION ALL ")
    s"""WITH $edgesCtes,
      |und AS (SELECT part_a AS src, part_b AS dst FROM pairs
      |        UNION ALL SELECT part_b, part_a FROM pairs),
      |f0 AS (
      |  SELECT src AS seed, src AS part, CAST(1 AS BIGINT) AS sigma
      |  FROM (SELECT src, COUNT(*) AS deg FROM und GROUP BY src
      |        ORDER BY deg DESC, src LIMIT $BetwSeedK)),
      |$fwd,
      |$bwd
      |SELECT part, CAST(SUM(delta) AS BIGINT) AS bc_e6
      |FROM ($bcUnion)
      |GROUP BY part ORDER BY bc_e6 DESC, part LIMIT 20""".stripMargin
  }

  // ------------- q500: minimum spanning tree of the co-purchase core

  /** Vertex count of the q500 MST core (top parts by line count). */
  val MstK = 20

  /** q500: Prim's minimum spanning tree over the top-[[MstK]]
    * co-purchase core — the graph family's missing SKELETON operator
    * (components q68/q95, PageRank, HITS, k-core, betweenness all
    * exist; none exposes the cheapest connected backbone): vertices
    * are the 20 highest-volume parts, the distance between two parts
    * shrinks with their order co-occurrence (10⁹ div (1+count), the
    * complete K₂₀ so connectivity is guaranteed), and every edge packs
    * (dist, a, b) into ONE integer key so min-selection carries its
    * own deterministic tie-break. The engine replays Prim as a driver
    * fold over the 190-cell matrix (bounded top-k grain); the oracle
    * replays the SAME algorithm as 19 UNROLLED plain CTE layers —
    * aggregate + join + IN over a growing tree CTE, zero exotic
    * constructs — so both engines trace identical picks even where
    * the MST is non-unique.
    *
    * Plan: one lineitem rollup → top-20 → tiny basket self-join →
    * 190-cell matrix → metadata fold.
    */
  val q500MstBackbone: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val top = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_partkey")).limit(MstK)
      .withColumn("v", row_number().over(
        Window.orderBy(col("n").desc, col("l_partkey"))))
      .select(col("l_partkey"), col("v"))
      .localCheckpoint()
    val tagged = li.join(broadcast(top), "l_partkey")
      .select(col("l_orderkey"), col("v"))
    val co = tagged.as("x").join(tagged.as("y"), "l_orderkey")
      .filter(col("x.v") < col("y.v"))
      .groupBy(col("x.v").as("a"), col("y.v").as("b"))
      .agg(countDistinct(col("l_orderkey")).as("cnt"))
    val lat = top.select(col("v").as("a"))
      .crossJoin(broadcast(top.select(col("v").as("b"))))
      .filter(col("a") < col("b"))
      .join(co, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        expr("1000000000 div (1 + coalesce(cnt, 0))").as("dist"))
      .withColumn("key", col("dist") * 1024L + col("a") * 32L + col("b"))
    val edges = lat.collect()
      .map(r => (r.getAs[Int]("a").toLong, r.getAs[Int]("b").toLong,
        r.getAs[Long]("dist"), r.getAs[Long]("key")))
    val inTree = scala.collection.mutable.Set(1L)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (1 until MstK).foreach { step =>
      val cand = edges.filter { case (a, b, _, _) =>
        inTree(a) != inTree(b) }
      val k = cand.map(_._4).min
      val (a, b, _, _) = cand.find(_._4 == k).get
      inTree += (if (inTree(a)) b else a)
      picks += ((step.toLong, k))
    }
    val total = picks.map(_._2 / 1024L).sum
    import s.implicits._
    picks.toSeq.map { case (st, k) =>
      (st, (k % 1024L) / 32L, k % 32L, k / 1024L, total) }
      .toDF("step", "a", "b", "dist", "total_dist")
  }

  val q500Sql: String = {
    // LIST-state recursive walk (the proven q437/q440 device): the 380
    // directed edges pack (u, w, key) into one BIGINT each and ride the
    // walk as a list computed ONCE, so no CTE is referenced twice —
    // chained-CTE formulations inline exponentially in DuckDB (the
    // first draft re-scanned lineitem per level, 456 s). The per-step
    // min is list_min over a filter/transform pair on carried state —
    // lambdas over walk-state lists, no subqueries inside them.
    val p45 = 35184372088832L // 2^45 (u field)
    val p40 = 1099511627776L // 2^40 (w field; key < 2^40)
    val kk =
      s"""list_min(list_transform(list_filter(w.eds,
         | x -> list_contains(w.tree, x // $p45)
         |  AND NOT list_contains(w.tree, (x // $p40) % 32)),
         | x -> x % $p40))""".stripMargin.replace("\n", " ")
    s"""WITH RECURSIVE t20 AS (
      |  SELECT l_partkey,
      |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS v
      |  FROM lineitem GROUP BY l_partkey
      |  ORDER BY COUNT(*) DESC, l_partkey LIMIT $MstK),
      |tagged AS (
      |  SELECT l_orderkey, v FROM lineitem JOIN t20 USING (l_partkey)),
      |co AS (
      |  SELECT x.v AS a, y.v AS b,
      |    CAST(COUNT(DISTINCT x.l_orderkey) AS BIGINT) AS cnt
      |  FROM tagged x JOIN tagged y
      |    ON x.l_orderkey = y.l_orderkey AND x.v < y.v
      |  GROUP BY 1, 2),
      |lat AS (
      |  SELECT va.v AS a, vb.v AS b,
      |    1000000000 // (1 + COALESCE(cnt, 0)) AS dist
      |  FROM t20 va JOIN t20 vb ON va.v < vb.v
      |  LEFT JOIN co ON co.a = va.v AND co.b = vb.v),
      |ed AS (
      |  SELECT a AS u, b AS w, dist * 1024 + a * 32 + b AS key FROM lat
      |  UNION ALL
      |  SELECT b AS u, a AS w, dist * 1024 + a * 32 + b AS key FROM lat),
      |init AS (
      |  SELECT list(CAST(u AS BIGINT) * $p45 + CAST(w AS BIGINT) * $p40
      |      + key ORDER BY u, w) AS eds
      |  FROM ed),
      |walk AS (
      |  SELECT CAST(1 AS BIGINT) AS step,
      |    [CAST(1 AS BIGINT)] AS tree,
      |    CAST([] AS BIGINT[]) AS ks, eds
      |  FROM init
      |  UNION ALL
      |  SELECT w.step + 1,
      |    list_append(w.tree,
      |      CASE WHEN list_contains(w.tree, ($kk % 1024) // 32)
      |        THEN $kk % 32 ELSE ($kk % 1024) // 32 END),
      |    list_append(w.ks, $kk),
      |    w.eds
      |  FROM walk w WHERE w.step < $MstK),
      |fin AS (SELECT ks FROM walk WHERE step = $MstK),
      |spine AS (SELECT UNNEST(range(1, $MstK)) AS step),
      |picks AS (
      |  SELECT step, ks[CAST(step AS INT)] AS k
      |  FROM fin CROSS JOIN spine),
      |tot AS (SELECT SUM(k // 1024) AS total_dist FROM picks)
      |SELECT CAST(step AS BIGINT) AS step,
      |  CAST((k % 1024) // 32 AS BIGINT) AS a,
      |  CAST(k % 32 AS BIGINT) AS b,
      |  CAST(k // 1024 AS BIGINT) AS dist,
      |  CAST(total_dist AS BIGINT) AS total_dist
      |FROM picks CROSS JOIN tot
      |ORDER BY step""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "q500_mst_backbone" -> q500MstBackbone,
    "q415_betweenness" -> q415Betweenness,
    "q394_rich_club" -> q394RichClub,
    "q341_modularity" -> q341Modularity,
    "q274_hits" -> q274Hits,
    "q262_ndcg" -> q262Ndcg,
    "q217_ranking_metrics" -> q217RankingMetrics,
    "q228_frequent_triples" -> q228FrequentTriples,
    "q233_label_spreading" -> q233LabelSpreading,
    "q247_sequential_rules" -> q247SequentialRules,
    "q249_rec_coverage" -> q249RecCoverage,
    "q234_shortest_paths" -> q234ShortestPaths,
    "q202_recsys_eval" -> q202RecsysEval,
    "q188_assortativity" -> q188DegreeAssortativity,
    "q189_link_prediction" -> q189LinkPrediction,
    "q143_bfs_reach" -> q143BfsReach,
    "q122_kcore" -> q122KCore,
    "q105_pagerank" -> q105PageRank,
    "q107_copurchase" -> q107Copurchase,
    "q115_triangle_census" -> q115TriangleCensus,
    "q116_related_products" -> q116RelatedProducts)

  def oracles: Map[String, String] = Map(
    "q500_mst_backbone" -> q500Sql,
    "q415_betweenness" -> q415Sql,
    "q394_rich_club" -> q394Sql,
    "q341_modularity" -> q341Sql,
    "q274_hits" -> q274Sql,
    "q217_ranking_metrics" -> q217Sql,
    "q262_ndcg" -> q262Sql,
    "q228_frequent_triples" -> q228Sql,
    "q233_label_spreading" -> q233Sql,
    "q247_sequential_rules" -> q247Sql,
    "q249_rec_coverage" -> q249Sql,
    "q234_shortest_paths" -> q234Sql,
    "q202_recsys_eval" -> q202Sql,
    "q188_assortativity" -> q188Sql,
    "q189_link_prediction" -> q189Sql,
    "q143_bfs_reach" -> q143Sql,
    "q122_kcore" -> q122Sql,
    "q105_pagerank" -> q105Sql,
    "q107_copurchase" -> q107Sql,
    "q115_triangle_census" -> q115Sql,
    "q116_related_products" -> q116Sql)
}
