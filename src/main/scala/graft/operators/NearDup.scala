package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate cluster resolution: turn undirected candidate pairs (the
  * output of the MinHash/SimHash/cosine dedup queries) into connected
  * components, each labelled by its minimum member id — the canonical
  * keep-one-representative step of a dedup pipeline.
  *
  * Algorithm: iterative minimum-label propagation on DataFrames — per round
  * every node adopts the smallest label among itself and its neighbours'
  * labels, so labels flood one hop per round and the loop stops at the first
  * round with no change (≤ graph diameter rounds). Near-dup components are
  * diameter-bounded in practice (duplicates of a document collide with each
  * other), so a handful of rounds suffices; pathological chain topologies
  * would want the pointer-doubling large-star/small-star formulation
  * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
  * 2014) — `maxIters` is the honest guard, and hitting it raises rather
  * than returning a half-converged labelling.
  *
  * Scale shape per round: one join of edges to labels on dst (both keyed
  * shuffles, AQE-coalesced) + one aggregation; lineage is cut each round
  * with localCheckpoint so plan depth stays constant.
  */
object NearDup {

  /** Resolve pairs (a, b) — undirected, any orientation — into
    * (id, cluster_rep). Only ids appearing in pairs are returned (singletons
    * are trivially their own cluster).
    *
    * Plan: both orientations, deduplicated and checkpointed → round 1 as
    * ONE aggregation, rep = least(src, min(dst)) per src (every node's
    * starting label is itself, so this is exactly the first propagation
    * round, with no separate identity-label init or join) → one join+agg
    * round per further hop. `maxIters` counts label rounds INCLUDING that
    * folded first round: a labelling that still changes in round
    * `maxIters` raises.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 16): DataFrame = {
    // both orientations IN PLACE (Pairs.bothOrientations): the old
    // union-of-flips re-ran the whole candidate-pair pipeline (the MinHash
    // banding in q68/q199) once per branch inside this checkpoint job (r9)
    val directed = graft.functions.Pairs.bothOrientations(
        pairs.toDF("a", "b").select(col("a").as("src"), col("b").as("dst")),
        "src", "dst")
      .distinct()
      .localCheckpoint()
    // round 1 folded into the label init: each id's neighbour minimum
    // against its own id; the changed count rides the checkpoint job
    val obs1 = org.apache.spark.sql.Observation()
    var labels = directed.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("rep"))
      .withColumnRenamed("src", "id")
      .observe(obs1, sum((col("rep") =!= col("id")).cast("long"))
        .as("changed"))
      .localCheckpoint()
    // the eagerly-checkpointed frame backing the current labels: superseded
    // generations are unpersisted each round (a localCheckpoint truncates
    // lineage, so the latest backing must stay cached for the result)
    var backing = labels
    var iters = 1
    var converged = Option(obs1.get("changed")).forall(_ == 0L)
    while (!converged && iters < maxIters) {
      val nbrMin = directed
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("rep")).as("nbr_rep"))
      // the changed-label count rides the checkpoint job itself via
      // observe() (bounded metadata: one long), so a round is ONE Spark job
      // — the former filter(...).isEmpty convergence scan was a second job
      // per round (r9, guide §2.6 round-cost reduction)
      val obs = org.apache.spark.sql.Observation()
      val step = labels.withColumnRenamed("rep", "old")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nbr_rep"), col("old"))).as("rep"))
        .observe(obs, sum((col("rep") =!= col("old")).cast("long"))
          .as("changed"))
        .localCheckpoint()
      converged = Option(obs.get("changed")).forall(_ == 0L)
      labels = step.select(col("id"), col("rep"))
      backing.unpersist()
      backing = step
      iters += 1
    }
    require(converged,
      s"label propagation did not converge in $maxIters rounds — component " +
        "diameter exceeds the bound; raise maxIters or use pointer doubling")
    val out = labels.select(col("id"), col("rep").as("cluster_rep"))
    directed.unpersist()
    out
  }

  /** Connected components by alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    * 2014) — the logarithmic-round scale path next to [[clusters]]'s one-hop
    * label propagation. Propagation needs diameter-many rounds (a length-n
    * chain of near-dup shingles costs n shuffles); star contraction halves
    * component height per round pair, so even pathological chains converge in
    * O(log n) rounds — the formulation a 100 TB dedup graph wants when
    * component shape is not diameter-bounded by construction.
    *
    * Per round: large-star hangs every strictly-larger neighbour of each node
    * under the minimum of its closed neighbourhood; small-star re-hangs each
    * node's smaller-or-equal neighbourhood under its minimum. Both are ONE
    * window-min plus a projection over the edge stream — no collect_list of
    * neighbourhoods, so a high-degree hub never materializes its adjacency in
    * a single row. Fixpoint = the edge set is a star forest (depth-1 stars
    * centred on component minima), detected structurally — one role
    * aggregation per round, not an edge-set diff.
    */
  def clustersStar(pairs: DataFrame, maxIters: Int = 24): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    var edges = canon(pairs.toDF("u", "v")).localCheckpoint()
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // large-star over the bidirected adjacency: m = min(N(x) ∪ {x}); emit
      // (m, w) for every neighbour w > x. m ≤ x < w, so output is canonical.
      val bi = edges.select(col("u").as("x"), col("v").as("nbr"))
        .union(edges.select(col("v").as("x"), col("u").as("nbr")))
      val large = bi
        .withColumn("m", least(col("x"),
          min(col("nbr")).over(Window.partitionBy(col("x")))))
        .filter(col("nbr") > col("x"))
        .select(col("m").as("u"), col("nbr").as("v"))
        .distinct()
      // small-star on canonical edges: for each hub v its neighbours u are
      // all smaller; m = min of them. Re-hang every u (and v itself) on m.
      // Both re-hang rows ride ONE explode (r9): the former union of two
      // projections re-ran the large-star window pipeline once per branch.
      val withM = large
        .withColumn("m", min(col("u")).over(Window.partitionBy(col("v"))))
      val small = canon(
        withM.select(explode(array(
            struct(col("m").as("u"), col("u").as("v")),
            struct(col("m").as("u"), col("v").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v")))
        .localCheckpoint()
      // Fixpoint test in ONE job: the contraction is complete exactly when
      // the edge set is a star forest — every leaf v hangs off a single
      // centre u and no centre is itself a leaf. (⇔ fixpoint: both star
      // rounds map a depth-1 star to itself, while any multi-parent leaf or
      // centre-that-is-a-leaf keeps contracting.) One role aggregation
      // replaces the former count + exceptAll pair of jobs per round, and
      // fires a round earlier than edge-set-unchanged.
      val roles = small.select(col("v").as("id"),
          lit(1L).as("leaf_deg"), lit(0).as("centre"))
        .union(small.select(col("u").as("id"),
          lit(0L).as("leaf_deg"), lit(1).as("centre")))
        .groupBy(col("id"))
        .agg(sum(col("leaf_deg")).as("leaf_deg"), max(col("centre")).as("centre"))
      converged = roles.filter(col("leaf_deg") > 1 ||
        (col("leaf_deg") === 1 && col("centre") === 1)).isEmpty
      edges.unpersist()
      edges = small
      iters += 1
    }
    require(converged,
      s"star contraction did not converge in $maxIters rounds")
    // fixpoint is a star forest: every v hangs directly off its component
    // minimum u; centres label themselves.
    val out = edges.select(col("v").as("id"), col("u").as("rep"))
      .union(edges.select(col("u").as("id"), col("u").as("rep")))
      .groupBy(col("id")).agg(min(col("rep")).as("cluster_rep"))
    out
  }
}
