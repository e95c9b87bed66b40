package graft.operators

import graft.{Q, Tables}
import graft.functions.{Pairs, Vectors}
import graft.functions.Exact._
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Two paths:
  *  - brute-force exact top-k (the correctness baseline): probe set ⨯
  *    candidates with a broadcast of the (small) probe side — at scale the
  *    probe batch is what's broadcast, candidates stream by partition;
  *  - LSH-bucketed (the 100 TB path): random-hyperplane signatures bucket the
  *    space; each probe only scans its bucket, turning ANN into an equi-join.
  */
object SimilarityQueries {

  private val K = 5

  /** Exact brute-force cosine top-k for a 10-probe batch. Output is rank-only
    * (ints), so the result is robust to last-ulp float noise.
    */
  val q60KnnBrute: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
        col("nrm").as("probe_nrm"))
    // norms are precomputed per row (identical arithmetic, evaluated once);
    // each pair costs a single codegen'd dot product
    val sims = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("embedding"), col("probe_vec")) /
          (col("nrm") * col("probe_nrm"))).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"))
  }

  /** Embedding norm/label rollup: per-row sequential-fold norms (exact given
    * identical IEEE order), rounded per row to exact integer cents before the
    * rollup so the sum is int64 arithmetic — engine-exact (a decimal/double
    * fold would be summation-order-sensitive).
    */
  val q62NormStats: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    e.select(col("label"), col("vec_id"),
        round(Vectors.norm(col("embedding")) * 100, 0).cast("long").as("nrm_c"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("nrm_c")).as("total_norm_c"),
        min(col("vec_id")).as("min_vec"),
        max(col("vec_id")).as("max_vec"))
  }

  // ------------------------------- q177: class separability (Fisher-style)

  /** q177: embedding-space class separability — per label, the mean squared
    * radius around the class centroid (within-class scatter) and the
    * squared distance from the class centroid to the global centroid
    * (between-class), plus their Fisher-style ratio: the "are these labels
    * actually separable clusters?" diagnostic run before training on a
    * labelled embedding table (and the exact-arithmetic cousin of what
    * q88 measures against the IVF quantizer).
    *
    * Exactness at any scale: components quantize per ROW to e4 integers
    * (float→double→round, identical in both engines), centroids are
    * sign-factored truncating integer divisions at the same e4 resolution
    * — deliberately DEFINED as integer centroids so every downstream term
    * (Σ(q−c)² via the ss − 2cs + nc² identity, per-dim centroid diffs) is
    * bounded integer arithmetic forever: no (n·N)²-scaled cross-products
    * that overflow DECIMAL(38,0) at cluster scale. Scatter sums accumulate
    * in DECIMAL; ratios are truncating e6 divisions.
    *
    * Plan: one posexplode pass → (label, dim) rollup (|labels|·64 rows);
    * the global per-dim rollup and the join back are metadata-sized.
    */
  val q177ClassSeparability: Q = (s, dir) => {
    val qv = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("label"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
    val ld = qv.groupBy(col("label"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum((col("q") * col("q")).cast(dec)).as("ss"))
      // the |labels|·dim rollup feeds the global rollup AND the join —
      // checkpoint so the corpus explode runs once
      .localCheckpoint()
    val gd = ld.groupBy(col("d"))
      .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
    val cent = ld.join(gd, "d")
      .withColumn("c_ld", expr(sdivDivCases("s", "n")))
      .withColumn("c_gd", expr(sdivDivCases("gs", "gn")))
      .withColumn("diff", col("c_ld") - col("c_gd"))
      .withColumn("term",
        col("ss") - (lit(2L) * col("c_ld")).cast(dec) * col("s").cast(dec) +
          col("n").cast(dec) * col("c_ld").cast(dec) * col("c_ld").cast(dec))
    cent.groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("term")).as("w_sum"),
        sum(col("diff") * col("diff")).as("cdist2_e8"))
      .withColumn("msr_e8", expr("CAST(w_sum div n_vecs AS BIGINT)"))
      .withColumn("fisher_e6", when(col("msr_e8") > 0L,
        expr("""CAST(CAST(cdist2_e8 AS DECIMAL(38,0)) * 1000000
               | div msr_e8 AS BIGINT)""".stripMargin)))
      .select(col("label"), col("n_vecs"), col("msr_e8"),
        col("cdist2_e8"), col("fisher_e6"))
  }

  val q177Sql: String =
    """WITH qv AS (
      |  SELECT label, GENERATE_SUBSCRIPTS(embedding, 1) AS d,
      |    CAST(ROUND(UNNEST(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT)
      |      AS q
      |  FROM embeddings),
      |ld AS (
      |  SELECT label, d, COUNT(*) AS n,
      |    CAST(SUM(q) AS BIGINT) AS s,
      |    SUM(CAST(q AS HUGEINT) * q) AS ss
      |  FROM qv GROUP BY label, d),
      |gd AS (
      |  SELECT d, CAST(SUM(s) AS BIGINT) AS gs,
      |    CAST(SUM(n) AS BIGINT) AS gn
      |  FROM ld GROUP BY d),
      |cent AS (
      |  SELECT label, n, s, ss,
      |    CASE WHEN s < 0 THEN -CAST((-s) // n AS BIGINT)
      |         ELSE CAST(s // n AS BIGINT) END AS c_ld,
      |    CASE WHEN gs < 0 THEN -CAST((-gs) // gn AS BIGINT)
      |         ELSE CAST(gs // gn AS BIGINT) END AS c_gd
      |  FROM ld JOIN gd USING (d)),
      |t AS (
      |  SELECT label, n,
      |    ss - CAST(2 * c_ld AS HUGEINT) * s
      |       + CAST(n AS HUGEINT) * c_ld * c_ld AS term,
      |    (c_ld - c_gd) * (c_ld - c_gd) AS diff2
      |  FROM cent),
      |per AS (
      |  SELECT label, MAX(n) AS n_vecs, SUM(term) AS w_sum,
      |    CAST(SUM(diff2) AS BIGINT) AS cdist2_e8
      |  FROM t GROUP BY label)
      |SELECT label, n_vecs,
      |  CAST(w_sum // n_vecs AS BIGINT) AS msr_e8, cdist2_e8,
      |  CASE WHEN w_sum // n_vecs > 0 THEN
      |    CAST((CAST(cdist2_e8 AS HUGEINT) * 1000000) // (w_sum // n_vecs)
      |      AS BIGINT) END AS fisher_e6
      |FROM per""".stripMargin

  private val Dim = 64
  private val Planes = 32
  private val Bands = 4
  private val BitsPerBand = Planes / Bands

  /** Bit-flip masks for multiprobe LSH (Lv et al., "Multi-Probe LSH", VLDB
    * 2007): the probe visits every bucket within Hamming distance ≤ 2 of its
    * own band value — C(8,0)+C(8,1)+C(8,2) = 37 buckets per band. Only the
    * (small) probe side fans out; data-side bucket sizes stay bounded.
    */
  private val ProbeMasks: Seq[Long] = {
    val bits = 0 until BitsPerBand
    Seq(0L) ++ bits.map(i => 1L << i) ++
      (for (i <- bits; j <- bits if i < j) yield (1L << i) | (1L << j))
  }

  /** LSH-bucketed ANN: 32 hyperplanes split into 4 independent 8-bit bands
    * (the multi-table form — VERDICT r1 flagged the single 256-bucket table
    * as near-quadratic within buckets at 100 TB). Each band is an equi-join
    * key with 256 buckets, so per-band fan-out is bounded by construction;
    * recall comes from 4 independent bands × 37-bucket multiprobe on the
    * probe side (measured ~0.8 of q60's exact top-5 on the synthetic corpus,
    * where true neighbors only reach cosine ~0.3 — see SimilaritySpec).
    * Candidates from any band are deduped, then exact cosine re-ranks.
    */
  val q61AnnLsh: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val banded = e.select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"),
        posexplode(Vectors.bandedBuckets(
          Vectors.hyperplaneSignature(col("embedding"), Dim, Planes),
          Bands, BitsPerBand)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val probes = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
        col("nrm").as("probe_nrm"), col("band_idx"),
        explode(typedLit(ProbeMasks)).as("mask"), col("band_val"))
      .select(col("probe_id"), col("probe_vec"), col("probe_nrm"),
        col("band_idx"), col("band_val").bitwiseXOR(col("mask")).as("band_val"))
    val cands = banded.join(probes, Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("embedding"), col("probe_vec")) /
          (col("nrm") * col("probe_nrm"))).as("sim"))
      .dropDuplicates("probe_id", "neighbor_id")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"))
  }

  /** LSH band-bucket size cap for pair generation — the same
    * construction-time fan-out bound as [[TextQueries.BandCap]]: a degenerate
    * bucket holding m vectors is m²/2 candidate pairs (skewed embedding
    * distributions DO concentrate — near-zero or cluster-heavy vectors share
    * sign patterns), so buckets above the cap are dropped. No-op on this
    * corpus; mirrored in the q63 oracle.
    */
  val PairBandCap = 1000

  /** In-place i<j candidate pairs from (band_idx, band_val, vec_id) bucket
    * rows — the q55/q56 grouped shape: one shuffle on the band key, members
    * sorted so pairs come out vec_a < vec_b, and `cap` bounds per-bucket
    * fan-out BY CONSTRUCTION (≤ cap²/2 pairs per bucket). A banded self-join
    * has no such bound and recomputes the signature pipeline on both sides.
    */
  private[graft] def bandedPairs(banded: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame =
    banded
      .groupBy(col("band_idx"), col("band_val"))
      .agg(sort_array(collect_list(col("vec_id"))).as("members"))
      .filter(size(col("members")).between(2, cap))
      .select(Pairs.inPlace(col("members"), (x, y) =>
        struct(x.as("vec_a"), y.as("vec_b"))).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"))
      .dropDuplicates("vec_a", "vec_b")

  /** Embedding-cosine near-duplicate pairs through the same 4×8-bit banded
    * LSH; candidate pairs colliding in any band are verified with exact
    * cosine ≥ 0.4. The dedup-by-embedding member of the dedup family — at
    * 100 TB the grouped in-place pair generation plus [[PairBandCap]] bounds
    * each bucket's fan-out by construction, never n²; only surviving pairs
    * join back to the (narrow) embedding table for verification.
    */
  val q63CosineNearDup: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val base = e.select(col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding")).as("nrm"))
    val banded = e.select(col("vec_id"),
        posexplode(Vectors.bandedBuckets(
          Vectors.hyperplaneSignature(col("embedding"), Dim, Planes),
          Bands, BitsPerBand)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    bandedPairs(banded, PairBandCap)
      .join(base.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (Vectors.dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b"))).as("sim"))
      .filter(col("sim") >= 0.4)
      .select(col("vec_a"), col("vec_b"))
  }

  /** IVF-indexed ANN: 16-centroid coarse quantizer trained with 5
    * deterministic Lloyd iterations (driver-side over the capped sample —
    * Ivf.train), probes scan their 4 nearest inverted lists, exact cosine
    * re-ranks. The second scale path next to q61's LSH: probe cost is
    * nprobe/k of the corpus per query, bounded by construction (measured
    * top-5 recall ~0.9 vs q60 at test scale — SimilaritySpec). Oracle-exact
    * since r3: training is bit-deterministic, so [[q64SqlFor]] inlines the
    * trained centroids into DuckDB SQL the way sigBitsSql inlines the plane
    * matrix.
    */
  private val IvfK = 16
  private val IvfNprobe = 4
  private val IvfIters = 5

  val q64AnnIvf: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val centroids = Ivf.train(e, IvfK, Dim, iters = IvfIters)
    val listed = Ivf.assign(e, centroids)
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"), col("cluster"))
    val probes = listed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
        col("nrm").as("probe_nrm"),
        explode(Ivf.probeExpr(col("embedding").cast("array<double>"),
          centroids, IvfNprobe)).as("cluster"))
    val cands = listed.join(probes, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (Vectors.dot(col("embedding"), col("probe_vec")) /
          (col("nrm") * col("probe_nrm"))).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"))
  }

  /** IVF-PQ: q64's inverted lists with product-quantized candidates and
    * asymmetric-distance ranking — the full billion-scale ANN recipe
    * (coarse pruning bounds the scan, PQ codes bound the memory: M=8 codes
    * instead of 64 floats per stored vector). Probes carry their M×ksub ADC
    * table as one array column computed once per probe row; every candidate
    * costs M lookups + adds, no full-width dot product. Exact-gate-checkable
    * because training is deterministic (capped vec_id-ordered sample) and
    * the ADC arithmetic is the same correlated-subquery form the oracle
    * states — see [[q82SqlFor]].
    */
  private val PqM = 8
  private val PqKsub = 16
  /** ADC shortlist size for the exact-refine stage: candidates surviving
    * the M-lookup ranking whose full vectors are actually fetched — R/K = 4
    * is the standard refine multiplier; only these R rows per probe pay a
    * full-width dot product.
    */
  private val PqRefine = 20

  val q82AnnIvfPq: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val coarse = Ivf.train(e, IvfK, Dim, iters = IvfIters)
    val cb = Pq.train(e, PqM, PqKsub, Dim, iters = IvfIters)
    val listed = Ivf.assign(e, coarse)
      .select(col("vec_id"), col("cluster"),
        Pq.encodeExpr(col("embedding").cast("array<double>"), cb).as("codes"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"),
        Pq.adcTableExpr(col("embedding").cast("array<double>"), cb).as("adc"),
        explode(Ivf.probeExpr(col("embedding").cast("array<double>"),
          coarse, IvfNprobe)).as("cluster"))
    val cands = listed.join(probes, Seq("cluster"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        Pq.adcDistance(col("adc"), col("codes"), PqM).as("adist"))
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist").asc, col("neighbor_id"))
    val shortlist = cands.withColumn("rnk0", row_number().over(wAdc))
      .filter(col("rnk0") <= PqRefine)
      .select(col("probe_id"), col("neighbor_id"))
    // exact-refine: fetch full vectors ONLY for the R-per-probe shortlist
    // and re-rank by true cosine — the compressed codes bound the scan, the
    // refine stage restores exact ordering among survivors
    val withN = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("nvec"), Vectors.norm(col("embedding")).as("nnrm"))
    val withP = e.select(col("vec_id").as("probe_id"),
      col("embedding").as("pvec"), Vectors.norm(col("embedding")).as("pnrm"))
    val exact = shortlist.join(withN, "neighbor_id").join(withP, "probe_id")
      .select(col("probe_id"), col("neighbor_id"),
        (Vectors.dot(col("nvec"), col("pvec")) /
          (col("nnrm") * col("pnrm"))).as("sim"))
    val wSim = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rnk", row_number().over(wSim))
      .filter(col("rnk") <= K)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"))
  }

  /** DuckDB oracle for q82: trained coarse centroids AND per-subspace PQ
    * codebooks inlined as VALUES; code assignment and ADC entries are the
    * same `-2·v·c + |c|²` correlated-subquery scalars the engine computes,
    * summed per candidate in the same subspace order.
    */
  def q82SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val e = Tables.embeddings(s, dir)
    val coarse = Ivf.train(e, IvfK, Dim, iters = IvfIters)
    val cb = Pq.train(e, PqM, PqKsub, Dim, iters = IvfIters)
    val centRows = coarse.zipWithIndex.map { case (c, j) =>
      s"($j, [${c.mkString(", ")}], ${c.map(x => x * x).sum})"
    }.mkString(",\n    ")
    val pqRows = (for {
      mi <- 0 until cb.m
      (c, j) <- cb.books(mi).zipWithIndex
    } yield s"($mi, $j, [${c.mkString(", ")}], ${c.map(x => x * x).sum})")
      .mkString(",\n    ")
    def sub(mi: Int) = s"[${mi * cb.dsub + 1}:${(mi + 1) * cb.dsub}]"
    val codeExprs = (0 until cb.m).map { mi =>
      s"""(SELECT j FROM pq WHERE m = $mi
         |       ORDER BY -2.0 * list_dot_product(b.v${sub(mi)}, c) + cn2, j
         |       LIMIT 1)""".stripMargin
    }.mkString("[", ",\n      ", "] AS codes")
    val adcTerms = (0 until cb.m).map { mi =>
      s"""(SELECT -2.0 * list_dot_product(p.pv${sub(mi)}, c) + cn2
         |     FROM pq WHERE m = $mi AND j = a.codes[${mi + 1}])""".stripMargin
    }.mkString("\n    + ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent(j, c, cn2) AS (SELECT * FROM (VALUES
       |    $centRows)),
       |pq(m, j, c, cn2) AS (SELECT * FROM (VALUES
       |    $pqRows)),
       |assigned AS (
       |  SELECT vec_id,
       |    (SELECT j FROM cent
       |     ORDER BY -2.0 * list_dot_product(b.v, c) + cn2, j LIMIT 1) AS cluster,
       |    $codeExprs
       |  FROM base b),
       |probes AS (
       |  SELECT b.vec_id AS probe_id, b.v AS pv, p.j AS cluster
       |  FROM base b, LATERAL (
       |    SELECT j FROM cent
       |    ORDER BY -2.0 * list_dot_product(b.v, c) + cn2, j LIMIT $IvfNprobe) p
       |  WHERE b.vec_id < 10),
       |adc AS (
       |  SELECT p.probe_id, a.vec_id AS neighbor_id,
       |    $adcTerms AS adist
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.probe_id),
       |shortlist AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist ASC, neighbor_id) AS rnk0
       |    FROM adc) t
       |  WHERE rnk0 <= $PqRefine),
       |refined AS (
       |  SELECT s.probe_id, s.neighbor_id,
       |    list_dot_product(n.v, p.v) /
       |      (sqrt(list_dot_product(n.v, n.v)) * sqrt(list_dot_product(p.v, p.v))) AS sim
       |  FROM shortlist s
       |  JOIN base n ON s.neighbor_id = n.vec_id
       |  JOIN base p ON s.probe_id = p.vec_id)
       |SELECT probe_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT probe_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM refined) t
       |WHERE rnk <= $K""".stripMargin
  }

  /** Embedding-cluster label purity: assign every vector to its nearest
    * trained IVF centroid and score each cluster by its majority label's
    * share — the cluster-coherence evaluation behind cluster-based curation
    * (SemDeDup-style semantic dedup prunes within exactly such k-means
    * cells; purity against a reference label is the standard quality read).
    * Deterministic end-to-end: the quantizer is Ivf.train's bit-exact Lloyd,
    * ties in the majority vote break on the lower label id.
    *
    * Plan: one codegen argmin scan (O(1) generated-code size in k), one
    * (cluster, label) hash aggregate, one window over the k-row result —
    * nothing here grows with corpus size except the map-side scan.
    */
  val q88ClusterPurity: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val centroids = Ivf.train(e, IvfK, Dim, iters = IvfIters)
    val byLab = Ivf.assign(e, centroids)
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("n"))
    import org.apache.spark.sql.expressions.Window
    byLab
      .withColumn("n_vecs", sum(col("n")).over(Window.partitionBy(col("cluster"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("n_vecs"),
        col("label").as("majority_label"), col("n").as("majority_n"),
        floor(col("n") * 1000000.0 / col("n_vecs")).as("purity_e6"))
  }

  /** Data-dependent oracle for q88 — same inlined-centroid scheme as
    * [[q64SqlFor]].
    */
  def q88SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val centroids = Ivf.train(Tables.embeddings(s, dir), IvfK, Dim, IvfIters)
    val centRows = centroids.zipWithIndex.map { case (c, j) =>
      val cn2 = c.map(x => x * x).sum
      s"($j, [${c.mkString(", ")}], $cn2)"
    }.mkString(",\n    ")
    s"""WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent(j, c, cn2) AS (SELECT * FROM (VALUES
       |    $centRows)),
       |assigned AS (
       |  SELECT vec_id, label,
       |    (SELECT j FROM cent
       |     ORDER BY -2.0 * list_dot_product(b.v, c) + cn2, j LIMIT 1) AS cluster
       |  FROM base b),
       |byl AS (SELECT cluster, label, COUNT(*) AS n FROM assigned GROUP BY 1, 2),
       |w AS (
       |  SELECT cluster, label, n,
       |    CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rk
       |  FROM byl)
       |SELECT cluster, n_vecs, label AS majority_label, n AS majority_n,
       |  CAST(FLOOR(n * 1000000.0 / n_vecs) AS BIGINT) AS purity_e6
       |FROM w WHERE rk = 1""".stripMargin
  }

  // ------------------------------- q216: PQ quantization distortion

  /** q216: product-quantization distortion report — the codebook-quality
    * metric an ANN deployment tracks per build: for each of q82's
    * [[PqM]] subquantizers, the total and mean squared reconstruction
    * error ||x_sub − nearest codeword||² across the corpus. The per-row
    * distortion is ||x||² + min_j(−2·x·c_j + |c_j|²) — the same adc-form
    * identity q82 ranks with, and the min needs only VALUES (no argmin
    * ties to resolve). Each row's double quantizes to an exact e6 integer
    * BEFORE the rollup (the q62 posture: integer sums are
    * order-independent; a double sum is not), so the report passes the
    * exact gate with codebooks inlined into the oracle. A rising
    * mean_distortion between builds means the codebooks no longer fit
    * the data — retrain. One scan; stack unpivots M columns to rows.
    */
  val q216PqDistortion: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val cb = Pq.train(e, PqM, PqKsub, Dim, iters = IvfIters)
    val v = col("embedding").cast("array<double>")
    val perM = (0 until PqM).map { mi =>
      val sub = slice(v, mi * cb.dsub + 1, cb.dsub)
      val minVal = least(cb.books(mi).map { c =>
        val cn2 = c.map(x => x * x).sum
        lit(-2.0) * Vectors.dot(sub, array(c.map(lit): _*)) + lit(cn2)
      }: _*)
      round((Vectors.dot(sub, sub) + minVal) * 1000000, 0)
        .cast("long").as(s"d_$mi")
    }
    val stacked = (0 until PqM).map(mi => s"$mi, d_$mi").mkString(", ")
    e.select(perM: _*)
      .select(expr(s"stack($PqM, $stacked) AS (m, dist_e6)"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist_e6")).as("total_dist_e6"))
      .withColumn("mean_dist_e6", expr("total_dist_e6 DIV n_vecs"))
  }

  /** Data-generated oracle for q216 (codebooks inlined, q82's pattern). */
  def q216SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val cb = Pq.train(Tables.embeddings(s, dir), PqM, PqKsub, Dim,
      iters = IvfIters)
    val pqRows = (for {
      mi <- 0 until cb.m
      (c, j) <- cb.books(mi).zipWithIndex
    } yield s"($mi, $j, [${c.mkString(", ")}], ${c.map(x => x * x).sum})")
      .mkString(",\n    ")
    def sub(mi: Int) = s"[${mi * cb.dsub + 1}:${(mi + 1) * cb.dsub}]"
    val branches = (0 until cb.m).map { mi =>
      s"""SELECT $mi AS m,
         |  CAST(ROUND((list_dot_product(b.v${sub(mi)}, b.v${sub(mi)}) +
         |    (SELECT MIN(-2.0 * list_dot_product(b.v${sub(mi)}, c) + cn2)
         |     FROM pq WHERE m = $mi)) * 1000000) AS BIGINT) AS dist_e6
         |FROM base b""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pq(m, j, c, cn2) AS (SELECT * FROM (VALUES
       |    $pqRows)),
       |d AS (
       |  $branches)
       |SELECT m, COUNT(*) AS n_vecs,
       |  CAST(SUM(dist_e6) AS BIGINT) AS total_dist_e6,
       |  CAST(SUM(dist_e6) // COUNT(*) AS BIGINT) AS mean_dist_e6
       |FROM d GROUP BY m""".stripMargin
  }

  // ------------------------------- q194: MMR diversified top-k

  /** MMR pool size (candidates kept from the similarity cut) and the
    * number of diversified picks.
    */
  val MmrC = 16
  val MmrK = 5

  /** q194: maximal-marginal-relevance diversified top-k — the re-ranking
    * step between "nearest neighbors" and "useful retrieval set": greedy
    * picks maximize λ·sim(query,d) − (1−λ)·max_{s∈picked} sim(d,s), so the
    * result covers the query's neighborhood instead of returning five
    * near-copies of the same cluster (λ = 0.7). The expensive part — the
    * similarity cut to [[MmrC]] candidates — is the one corpus-scale pass
    * (q60's machinery, one broadcast probe + one top-C window); the greedy
    * recurrence then runs [[MmrK]] − 1 unrolled rounds over the
    * checkpointed C-row candidate set and its C² pairwise similarities,
    * each round a metadata-scale join. Every score is single IEEE ops over
    * the same sequential-fold dot products the q60 oracle mirrors, and the
    * λ constants enter both engines through identical double literals, so
    * the greedy trace is bit-reproducible.
    */
  val q194MmrDiversify: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"), col("nrm").as("pn"))
    val wAll = Window.orderBy(col("sim").desc, col("vec_id"))
    val cand = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (Vectors.dot(col("embedding"), col("pv")) /
          (col("nrm") * col("pn"))).as("sim"))
      .withColumn("rn", row_number().over(wAll))
      .filter(col("rn") <= MmrC)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("sim"))
      .localCheckpoint() // referenced by every greedy round
    val pairs = cand
      .select(col("vec_id").as("a_id"), col("embedding").as("va"), col("nrm").as("na"))
      .crossJoin(cand.select(
        col("vec_id").as("b_id"), col("embedding").as("vb"), col("nrm").as("nb")))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        (Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("psim"))
      .localCheckpoint() // C² rows — the deliberate tiny cartesian
    var sel = cand.withColumn("rk", row_number().over(wAll)).filter(col("rk") === 1)
      .select(col("vec_id"), col("sim"),
        (lit(0.7) * col("sim")).as("mmr_score"), lit(1).as("rank"))
    for (r <- 2 to MmrK) {
      val selIds = sel.select(col("vec_id").as("s_id"))
      val mx = pairs.join(selIds, col("b_id") === col("s_id"))
        .groupBy(col("a_id")).agg(max(col("psim")).as("mx"))
      val pick = cand.join(selIds, col("vec_id") === col("s_id"), "left_anti")
        .join(mx, col("vec_id") === col("a_id"))
        .select(col("vec_id"), col("sim"),
          (lit(0.7) * col("sim") - lit(0.3) * col("mx")).as("mmr_score"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mmr_score").desc, col("vec_id"))))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("sim"), col("mmr_score"), lit(r).as("rank"))
      sel = sel.unionByName(pick).localCheckpoint() // keep round plans flat
    }
    sel.select(col("rank"), col("vec_id"), col("sim"), col("mmr_score"))
  }

  /** Unrolled greedy oracle: same candidate cut, same pairwise sims, same
    * λ constants via CAST('…' AS DOUBLE) (DuckDB types bare decimal
    * literals as DECIMAL and double-rounds the conversion — the q118 rule).
    */
  def q194Sql: String = {
    def ldp(a: String, b: String) = s"list_dot_product($a, $b)"
    val L = "CAST('0.7' AS DOUBLE)"
    val M = "CAST('0.3' AS DOUBLE)"
    val rounds = (2 to MmrK).map { r =>
      val prev = (1 until r).map(i => s"SELECT vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""sel$r AS (
         |  SELECT vec_id, sim, mmr_score, $r AS rank FROM (
         |    SELECT c.vec_id, c.sim, $L * c.sim - $M * m.mx AS mmr_score
         |    FROM cand c
         |    JOIN (SELECT a_id, MAX(psim) AS mx FROM pairs
         |          WHERE b_id IN ($prev) GROUP BY a_id) m
         |      ON c.vec_id = m.a_id
         |    WHERE c.vec_id NOT IN ($prev))
         |  ORDER BY mmr_score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val all = (1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
       |cand0 AS (
       |  SELECT vec_id, v,
       |    ${ldp("v", "pv")} / (sqrt(${ldp("v", "v")}) * sqrt(${ldp("pv", "pv")})) AS sim
       |  FROM e, probe WHERE vec_id <> 0),
       |cand AS (
       |  SELECT vec_id, v, sim FROM (
       |    SELECT *, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
       |    FROM cand0) t
       |  WHERE rn <= $MmrC),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${ldp("a.v", "b.v")} / (sqrt(${ldp("a.v", "a.v")}) * sqrt(${ldp("b.v", "b.v")})) AS psim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel1 AS (
       |  SELECT vec_id, sim, $L * sim AS mmr_score, 1 AS rank FROM cand
       |  ORDER BY sim DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT CAST(rank AS INT) AS rank, vec_id, sim, mmr_score FROM (
       |$all) f""".stripMargin
  }

  // ------------------------------- q227: principal-axis projection (PCA)

  /** q227: PCA principal-axis projection — the embedding-space health view
    * an embedding pipeline tracks per snapshot: which vectors sit at the
    * extremes of the corpus's dominant variance direction, and how strongly
    * the labels separate along it. Training is [[Pca.train]]: ONE exact
    * integer co-moment pass over the corpus (the only corpus-scale stage)
    * plus a driver-side d×d power iteration — the same control-node split
    * as the IVF coarse quantizer. Scoring is a shuffle-free codegen dot
    * product of each row's e4 components against the inlined e6 axis, and
    * the report is the global top-25 by projection (TakeOrderedAndProject,
    * never a full sort). The oracle inlines the trained axis as literals
    * (q64's centroid pattern) — everything after quantization is integer
    * arithmetic, so the gate compares exact values.
    */
  val q227PcaProjection: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val model = Pca.train(e, Dim)
    e.select(col("vec_id"), col("label"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 10000, 0).cast("long")).as("q"))
      .select(col("vec_id"), col("label"),
        Pca.scoreExpr(col("q"), model).as("score_e10"))
      .orderBy(col("score_e10").desc, col("vec_id"))
      .limit(25)
  }

  /** Data-generated oracle for q227 (trained axis inlined as literals). */
  def q227SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val model = Pca.train(Tables.embeddings(s, dir), Dim)
    val w = model.wE6.mkString("[", ", ", "]")
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(ROUND(x * 10000) AS BIGINT)) AS q
       |  FROM embeddings)
       |SELECT vec_id, label,
       |  CAST(list_dot_product(q, $w) AS BIGINT) AS score_e10
       |FROM base
       |ORDER BY score_e10 DESC, vec_id
       |LIMIT 25""".stripMargin
  }

  // ------------------------------- q229: JL random-projection recall

  /** Projected dimensionality for the q229 Johnson–Lindenstrauss harness. */
  private val RpPlanes = 16

  /** Neighbors per probe compared in the q229 recall measurement. */
  private val RpK = 5

  /** Candidates the projected space keeps per probe for exact refinement. */
  private val RpCand = 100

  /** q229: sparse random-projection ANN + recall harness — the THIRD scale
    * path next to hyperplane LSH (q61) and IVF (q64), in the
    * project→cut→refine shape: Achlioptas {−1,0,+1} projection
    * ([[graft.functions.Vectors.sparseSignMatrix]]) maps 64-dim vectors to
    * [[RpPlanes]] dims, the projected space keeps only the top-[[RpCand]]
    * candidates per probe at 1/4 the distance cost, exact original-space
    * distances re-rank inside the cut (the IVF/PQ refine posture), and the
    * harness scores recall@[[RpK]] against the EXACT neighbors — q133's
    * protocol applied to the embedding side. Everything is exact integer
    * arithmetic: e4 components × integer signs → integer projections, and
    * both distance ranks use integer squared L2 — the whole evaluation
    * faces the bit-exact oracle with the matrix inlined. Measured at
    * sf0.01: recall 0.72 with a 20% refine cut — the driver corpus is
    * near-uniform random (neighbors nearly equidistant), which is the
    * DOCUMENTED worst case for distance-preserving projections; projected
    * order alone (no refine) lands 0.08, which is exactly the kind of trap
    * this harness exists to expose before a cheap path is trusted.
    *
    * Plan: projection is a shuffle-free codegen pass; the probe batch
    * (10 vectors) broadcasts against the corpus exactly like q60 — the
    * production fan-out is |corpus|×|probes|, never corpus².
    */
  val q229RpRecall: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val m = Vectors.sparseSignMatrix(Dim, RpPlanes)
    val e = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => round(x * 10000, 0).cast("long")).as("q"))
    val proj = e.select(col("vec_id"), col("q"),
      array(m.map(row =>
        aggregate(zip_with(col("q"), typedLit(row), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x)): _*).as("pr"))
    val probes = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("qa"),
        col("pr").as("pa"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val scored = proj
      .select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
        col("pr").as("pb"))
      .crossJoin(broadcast(probes))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        d2(col("qa"), col("qb")).as("d2_orig"),
        d2(col("pa"), col("pb")).as("d2_proj"))
    val we = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2_orig"), col("neighbor_id"))
    val wp = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2_proj"), col("neighbor_id"))
    // project → cut → refine: the projected order only has to land the
    // true neighbors inside the top-RpCand cut; the exact re-rank inside
    // the cut restores the final order (the IVF/PQ refine posture)
    val ranked = scored
      .withColumn("rk_exact", row_number().over(we))
      .withColumn("rk_proj", row_number().over(wp))
    val wr = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2_orig"), col("neighbor_id"))
    val refined = ranked.filter(col("rk_proj") <= RpCand)
      .withColumn("rk_refined", row_number().over(wr))
    refined
      .groupBy(col("probe_id"))
      .agg(sum(when(col("rk_exact") <= RpK && col("rk_refined") <= RpK, 1L)
        .otherwise(0L)).as("n_hits"))
      .select(col("probe_id"), col("n_hits"), lit(RpK).as("k"),
        expr(s"n_hits * 1000000 DIV $RpK").as("recall_e6"))
  }

  def q229Sql: String = {
    val m = Vectors.sparseSignMatrix(Dim, RpPlanes)
    val projList = m.map(row =>
      s"CAST(list_dot_product(q, [${row.mkString(", ")}]) AS BIGINT)")
      .mkString("[", ",\n      ", "]")
    s"""WITH base AS (
       |  SELECT vec_id,
       |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(ROUND(x * 10000) AS BIGINT)) AS q
       |  FROM embeddings),
       |pj AS (
       |  SELECT vec_id, q,
       |    $projList AS pr
       |  FROM base),
       |pairs AS (
       |  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
       |    CAST(list_dot_product(p.q, p.q) + list_dot_product(e.q, e.q)
       |      - 2 * list_dot_product(p.q, e.q) AS BIGINT) AS d2_orig,
       |    CAST(list_dot_product(p.pr, p.pr) + list_dot_product(e.pr, e.pr)
       |      - 2 * list_dot_product(p.pr, e.pr) AS BIGINT) AS d2_proj
       |  FROM pj e CROSS JOIN pj p
       |  WHERE p.vec_id < 10 AND e.vec_id <> p.vec_id),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, d2_orig,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY d2_orig, neighbor_id) AS rk_exact,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY d2_proj, neighbor_id) AS rk_proj
       |  FROM pairs),
       |refined AS (
       |  SELECT probe_id, rk_exact,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY d2_orig, neighbor_id) AS rk_refined
       |  FROM ranked WHERE rk_proj <= $RpCand)
       |SELECT probe_id,
       |  CAST(SUM(CASE WHEN rk_exact <= $RpK AND rk_refined <= $RpK
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST($RpK AS INT) AS k,
       |  CAST(SUM(CASE WHEN rk_exact <= $RpK AND rk_refined <= $RpK
       |       THEN 1 ELSE 0 END) * 1000000 // $RpK AS BIGINT) AS recall_e6
       |FROM refined GROUP BY probe_id""".stripMargin
  }

  // ------------------------------- q240: contrastive triplet mining

  /** Anchors mined by q240 (the smallest vec_ids, like q60's probe batch). */
  private val TripletAnchors = 25

  /** q240: contrastive triplet mining — the training-example assembly op
    * behind metric learning: for each anchor, the nearest SAME-label
    * neighbor (positive) and the nearest DIFFERENT-label neighbor (the
    * hard negative — the one that violates the margin most), plus the
    * margin between them. Distances are the exact integer squared L2 over
    * e4 components (the q229 convention), so the mined triplets are
    * bit-reproducible across engines and runs — training data as a
    * deterministic query, no stored randomness (the q131/q132 posture).
    * A negative margin flags anchors whose nearest neighbor is cross-label
    * — exactly the examples a triplet loss learns most from.
    *
    * Plan: anchor batch broadcasts against the corpus (|corpus|×|anchors|,
    * never corpus²); two ranking windows per anchor partition (same-label,
    * different-label) on the scored stream. At real scale the candidate
    * stream comes from the ANN cut (q61/q64/q229) instead of the full
    * corpus — the mining logic after the cut is unchanged.
    */
  val q240TripletMining: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
      transform(col("embedding").cast("array<double>"),
        x => round(x * 10000, 0).cast("long")).as("q"))
    val anchors = e.filter(col("vec_id") < TripletAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("q").as("qa"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val scored = e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"),
        col("vec_id"), col("label"), d2(col("qa"), col("q")).as("dist2"))
    val wPos = Window.partitionBy(col("anchor_id"))
      .orderBy(col("dist2"), col("vec_id"))
    val pos = scored.filter(col("label") === col("a_label"))
      .withColumn("rk", row_number().over(wPos)).filter(col("rk") === 1)
      .select(col("anchor_id"), col("a_label").as("label"),
        col("vec_id").as("pos_id"), col("dist2").as("pos_d2"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .withColumn("rk", row_number().over(wPos)).filter(col("rk") === 1)
      .select(col("anchor_id"), col("vec_id").as("neg_id"),
        col("dist2").as("neg_d2"))
    pos.join(neg, Seq("anchor_id"))
      .select(col("anchor_id"), col("label"), col("pos_id"), col("pos_d2"),
        col("neg_id"), col("neg_d2"),
        (col("neg_d2") - col("pos_d2")).as("margin_d2"))
      .orderBy(col("anchor_id"))
  }

  val q240Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(ROUND(x * 10000) AS BIGINT)) AS q
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS anchor_id, a.label AS a_label,
       |    e.vec_id, e.label,
       |    CAST(list_dot_product(a.q, a.q) + list_dot_product(e.q, e.q)
       |      - 2 * list_dot_product(a.q, e.q) AS BIGINT) AS dist2
       |  FROM base e CROSS JOIN base a
       |  WHERE a.vec_id < $TripletAnchors AND e.vec_id <> a.vec_id),
       |pos AS (
       |  SELECT anchor_id, a_label AS label, vec_id AS pos_id,
       |    dist2 AS pos_d2
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |          ORDER BY dist2, vec_id) AS rk
       |        FROM scored WHERE label = a_label) t
       |  WHERE rk = 1),
       |neg AS (
       |  SELECT anchor_id, vec_id AS neg_id, dist2 AS neg_d2
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |          ORDER BY dist2, vec_id) AS rk
       |        FROM scored WHERE label <> a_label) t
       |  WHERE rk = 1)
       |SELECT anchor_id, label, pos_id, pos_d2, neg_id, neg_d2,
       |  neg_d2 - pos_d2 AS margin_d2
       |FROM pos JOIN neg USING (anchor_id)
       |ORDER BY anchor_id""".stripMargin

  // ------------------------------- q250: IVF inverted-list balance

  /** q250: IVF index health — the per-list balance report an ANN deployment
    * tracks per build (the vector-index analog of the reference's
    * table-skew monitoring, vw_tables_with_skew): every vector assigns to
    * its nearest trained centroid (the q64 quantizer, bit-deterministic),
    * and each cluster reports its population and e6 share of the ideal
    * |corpus|/k load. A hot list slows every probe that touches it; an
    * empty list wastes a partition — both are exactly what the skew-alarm
    * threshold on `balance_e6` flags. Assignment is the one corpus-scale
    * pass (shuffle-free codegen argmin); the rollup is k rows.
    */
  val q250IvfBalance: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val centroids = Ivf.train(e, IvfK, Dim, iters = IvfIters)
    val total = e.agg(count(lit(1)).as("n_total"))
    e.select(Ivf.assignExpr(col("embedding").cast("array<double>"),
        centroids).as("cluster"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(total))
      .select(col("cluster"), col("n_vecs"),
        expr(s"""CAST(CAST(n_vecs AS DECIMAL(38,0)) * $IvfK * 1000000
                |  DIV n_total AS BIGINT)""".stripMargin).as("balance_e6"))
      .orderBy(col("cluster"))
  }

  /** Data-generated oracle for q250 (trained centroids inlined). */
  def q250SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val centroids = Ivf.train(Tables.embeddings(s, dir), IvfK, Dim, IvfIters)
    val centRows = centroids.zipWithIndex.map { case (c, j) =>
      val cn2 = c.map(x => x * x).sum
      s"($j, [${c.mkString(", ")}], $cn2)"
    }.mkString(",\n    ")
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent(j, c, cn2) AS (SELECT * FROM (VALUES
       |    $centRows)),
       |assigned AS (
       |  SELECT vec_id,
       |    (SELECT j FROM cent
       |     ORDER BY -2.0 * list_dot_product(b.v, c) + cn2, j LIMIT 1)
       |      AS cluster
       |  FROM base b),
       |t AS (SELECT COUNT(*) AS n_total FROM base)
       |SELECT cluster, COUNT(*) AS n_vecs,
       |  CAST(CAST(COUNT(*) AS HUGEINT) * $IvfK * 1000000 // n_total
       |    AS BIGINT) AS balance_e6
       |FROM assigned CROSS JOIN t
       |GROUP BY cluster, n_total
       |ORDER BY cluster""".stripMargin
  }

  // --------------------------------- q282: relational Lloyd step + SSE

  /** Cluster count for the relational Lloyd step. */
  private val LloydK = 8

  /** q282: ONE full Lloyd (k-means) iteration executed entirely as a
    * query — no driver-side model state, unlike [[Ivf.train]] whose
    * centroids are control metadata: seeds are the k lowest vec_ids
    * (deterministic), assignment is an exact integer argmin over the
    * broadcast seed frame, and the update step re-estimates centroids
    * per (cluster, dim). The report is Lloyd's monotonicity made visible:
    * per cluster, SSE against the seed vs against the updated centroid,
    * both from the SAME rollup via the identity
    *
    *   SSE_d(c) = ss_d − 2·c·s_d + n·c²
    *
    * (exact integers — no re-join of the vectors to score the new
    * centroid). Means use the sign-factored truncating division, so the
    * updated coordinate sits within 1 of the true minimizer and
    * sse_after ≤ sse_before + n·dims (the spec pins that bound; with the
    * exact fractional mean it would be ≤ with no slack).
    *
    * Plan: one posexplode to the (vec, dim) stream; assignment joins the
    * BROADCAST k·dim seed frame on dim (fan-out k per row — the dense
    * O(N·k·dims) assign, same asymptotics as the codegen
    * NearestCentroidsExpr path but expressed relationally); one
    * (vec)-keyed argmin shuffle; one (cluster, dim) rollup that feeds
    * both SSE evaluations.
    */
  val q282LloydStep: Q = (s, dir) => {
    val qv = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
    val seedIds = Tables.embeddings(s, dir)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(LloydK)
    // k·dims rows; checkpointed so its three consumers (assign fan-out,
    // SSE join) never replay the seed scan
    val cent0 = qv.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("d"), col("q").as("c0"))
      .localCheckpoint()
    val assign = qv.join(broadcast(cent0), Seq("d"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("q") - col("c0")) * (col("q") - col("c0")).cast(dec))
        .as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"))
    val roll = qv.join(assign, Seq("vec_id"))
      .groupBy(col("cid"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum((col("q") * col("q")).cast(dec)).as("ss"))
    roll.join(broadcast(cent0), Seq("cid", "d"))
      .withColumn("c1", expr(sdivDivCases("s", "n")))
      .withColumn("sse0", col("ss") -
        (lit(2L) * col("c0")).cast(dec) * col("s").cast(dec) +
        col("n").cast(dec) * col("c0").cast(dec) * col("c0").cast(dec))
      .withColumn("sse1", col("ss") -
        (lit(2L) * col("c1")).cast(dec) * col("s").cast(dec) +
        col("n").cast(dec) * col("c1").cast(dec) * col("c1").cast(dec))
      .groupBy(col("cid"))
      .agg(max(col("n")).as("n_vecs"),
        sum(col("sse0")).cast(dec).as("sse_before_e8"),
        sum(col("sse1")).cast(dec).as("sse_after_e8"),
        sum(abs(col("c1") - col("c0"))).as("shift_l1_e4"))
      .select(col("cid"), col("n_vecs"),
        col("sse_before_e8").cast("long").as("sse_before_e8"),
        col("sse_after_e8").cast("long").as("sse_after_e8"),
        col("shift_l1_e4"))
      .orderBy(col("cid"))
  }

  val q282Sql: String =
    s"""WITH qv AS (
       |  SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) AS d,
       |    CAST(ROUND(UNNEST(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT)
       |      AS q
       |  FROM embeddings),
       |seed_ids AS (
       |  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $LloydK),
       |cent0 AS (
       |  SELECT qv.vec_id AS cid, d, q AS c0
       |  FROM qv JOIN seed_ids ON qv.vec_id = seed_ids.vec_id),
       |dists AS (
       |  SELECT qv.vec_id, cid,
       |    SUM(CAST((q - c0) AS HUGEINT) * (q - c0)) AS dist
       |  FROM qv JOIN cent0 USING (d)
       |  GROUP BY qv.vec_id, cid),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
       |    FROM dists)
       |  WHERE rk = 1),
       |roll AS (
       |  SELECT cid, d, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS s,
       |    SUM(CAST(q AS HUGEINT) * q) AS ss
       |  FROM qv JOIN assign USING (vec_id)
       |  GROUP BY cid, d),
       |upd AS (
       |  SELECT cid, d, n, s, ss, c0,
       |    CASE WHEN s < 0 THEN -CAST((-s) // n AS BIGINT)
       |         ELSE CAST(s // n AS BIGINT) END AS c1
       |  FROM roll JOIN cent0 USING (cid, d)),
       |sse AS (
       |  SELECT cid, n,
       |    ss - 2 * CAST(c0 AS HUGEINT) * s + CAST(n AS HUGEINT) * c0 * c0
       |      AS sse0,
       |    ss - 2 * CAST(c1 AS HUGEINT) * s + CAST(n AS HUGEINT) * c1 * c1
       |      AS sse1,
       |    ABS(c1 - c0) AS shift_d
       |  FROM upd)
       |SELECT cid, MAX(n) AS n_vecs,
       |  CAST(SUM(sse0) AS BIGINT) AS sse_before_e8,
       |  CAST(SUM(sse1) AS BIGINT) AS sse_after_e8,
       |  CAST(SUM(shift_d) AS BIGINT) AS shift_l1_e4
       |FROM sse GROUP BY cid ORDER BY cid""".stripMargin

  // ----------------------------- q303: simplified silhouette validation

  /** q303: simplified silhouette — the cluster-validation score next to
    * q88's label purity and q282's SSE monotonicity: for each vector,
    * a = squared distance to its OWN (nearest) centroid, b = squared
    * distance to the runner-up, s = (b−a)/max(a,b) ∈ [0,1] (the
    * centroid-based "simplified" variant — the classic pairwise silhouette
    * is O(N²) and not a 100 TB operator; over squared distances so the
    * score is a ratio of EXACT integers, one e6 floor per vector).
    * Centroids are q282's deterministic seeds (k lowest vec_ids), so the
    * whole report is oracle-exact with no trained-constant inlining.
    *
    * Plan: one posexplode pass; assignment joins the broadcast k·dims seed
    * frame; per-vector the k candidate distances collapse via
    * sort_array(collect_list) — fan-in bounded by k, never by corpus — and
    * the report is a |k|-row rollup.
    */
  val q303Silhouette: Q = (s, dir) => {
    val qv = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
    val seedIds = Tables.embeddings(s, dir)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(LloydK)
    val cent = qv.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("d"), col("q").as("c"))
      .localCheckpoint()
    val two = qv.join(broadcast(cent), Seq("d"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c")).cast(dec))
        .as("dist"))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(col("dist"), col("cid")))).as("ds"))
      .select(col("vec_id"), col("ds")(0).getField("cid").as("cid"),
        col("ds")(0).getField("dist").as("a"),
        col("ds")(1).getField("dist").as("b"))
    val scored = two.select(col("cid"),
      when(col("b") > 0,
        expr(fdiv("(b - a) * 1000000", "CASE WHEN a > b THEN a ELSE b END")))
        .otherwise(lit(0L).cast(dec)).as("s_e6"))
    scored.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        expr(fdiv("SUM(s_e6)", "COUNT(1)")).cast("long").as("mean_sil_e6"),
        min(col("s_e6")).cast("long").as("min_sil_e6"))
      .orderBy(col("cid"))
  }

  val q303Sql: String =
    s"""WITH qv AS (
       |  SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) AS d,
       |    CAST(ROUND(UNNEST(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT)
       |      AS q
       |  FROM embeddings),
       |seed_ids AS (
       |  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $LloydK),
       |cent AS (
       |  SELECT qv.vec_id AS cid, d, q AS c
       |  FROM qv JOIN seed_ids ON qv.vec_id = seed_ids.vec_id),
       |dists AS (
       |  SELECT qv.vec_id, cid,
       |    SUM(CAST((q - c) AS HUGEINT) * (q - c)) AS dist
       |  FROM qv JOIN cent USING (d)
       |  GROUP BY qv.vec_id, cid),
       |ranked AS (
       |  SELECT vec_id, cid, dist,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
       |  FROM dists),
       |two AS (
       |  SELECT r1.vec_id, r1.cid, r1.dist AS a, r2.dist AS b
       |  FROM ranked r1 JOIN ranked r2
       |    ON r1.vec_id = r2.vec_id AND r1.rk = 1 AND r2.rk = 2),
       |scored AS (
       |  SELECT cid,
       |    CASE WHEN b > 0
       |      THEN (b - a) * 1000000 // (CASE WHEN a > b THEN a ELSE b END)
       |      ELSE 0 END AS s_e6
       |  FROM two)
       |SELECT cid, COUNT(*) AS n_vecs,
       |  CAST(SUM(s_e6) // COUNT(*) AS BIGINT) AS mean_sil_e6,
       |  CAST(MIN(s_e6) AS BIGINT) AS min_sil_e6
       |FROM scored GROUP BY cid ORDER BY cid""".stripMargin

  // ------------------------- q299: DBSCAN density census (grid-blocked)

  /** DBSCAN radius in e4 embedding units — sized so the sf0.01 census shows
    * all three classes (ε too wide marks everything core).
    */
  private val DbEps = 300L
  /** Core-point threshold: neighbors within ε, self included. */
  private val DbMinPts = 6L

  /** q299: density-based clustering census — the DBSCAN complement to the
    * centroid family (Lloyd q282, silhouette q303): per ground-truth
    * label, how many points are CORE (≥ [[DbMinPts]] neighbors within
    * [[DbEps]]), BORDER (non-core with a core neighbor), and NOISE, on the
    * (dim0, dim1) coordinate plane quantized to e4 integers. Density
    * classification is what centroid methods cannot give — noise has no
    * centroid.
    *
    * The ε-neighborhood never scans pairwise: points key by ε-width grid
    * cell, each probe explodes to its 3×3 neighbor cells (a constant 9×
    * fan-out), the candidate join runs on the cell key, and the exact
    * integer test dx²+dy² ≤ ε² prunes the corners. Neighborhood size is
    * output-bounded — a cell whose density makes it quadratic is DBSCAN
    * saying "lower ε or raise MinPts", not a plan defect; the two
    * neighbor joins (count pass, core-reachability pass) are the
    * textbook two-round distributed DBSCAN.
    */
  val q299DbscanCensus: Q = (s, dir) => {
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        round(element_at(col("embedding"), 1).cast("double") * 10000, 0)
          .cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 10000, 0)
          .cast("long").as("y"))
      // floor-divide the possibly-negative coordinates: integer `div`
      // truncates toward zero, so shift into the positive range first
      // (coordinates are within ±10⁵ e4 units by construction)
      .withColumn("cx", expr(s"(x + 1000000) div $DbEps"))
      .withColumn("cy", expr(s"(y + 1000000) div $DbEps"))
    val members = pts.select(col("vec_id").as("m_id"), col("cx"), col("cy"),
      col("x").as("mx"), col("y").as("my"))
    def neighbors(probe: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = probe
      .select(col("vec_id"), col("x"), col("y"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
          .as("c"))
      .select(col("vec_id"), col("x"), col("y"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
      .join(members, Seq("cx", "cy"))
      .filter((col("x") - col("mx")) * (col("x") - col("mx")) +
        (col("y") - col("my")) * (col("y") - col("my")) <= DbEps * DbEps)
    val counts = neighbors(pts).groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_nb"))
    val flagged = pts.join(counts, Seq("vec_id"))
      .withColumn("core", (col("n_nb") >= DbMinPts).cast("long"))
      .localCheckpoint()
    val coreMembers = flagged.filter(col("core") === 1L)
      .select(col("vec_id").as("m_id"), col("cx"), col("cy"),
        col("x").as("mx"), col("y").as("my"))
    val borderIds = flagged.filter(col("core") === 0L)
      .select(col("vec_id"), col("x"), col("y"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
          .as("c"))
      .select(col("vec_id"), col("x"), col("y"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
      .join(coreMembers, Seq("cx", "cy"))
      .filter(col("vec_id") =!= col("m_id") &&
        (col("x") - col("mx")) * (col("x") - col("mx")) +
        (col("y") - col("my")) * (col("y") - col("my")) <= DbEps * DbEps)
      .select(col("vec_id")).distinct()
      .withColumn("border", lit(1L))
    flagged.join(borderIds, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("core")).as("n_core"),
        sum(coalesce(col("border"), lit(0L))).as("n_border"))
      .select(col("label"), col("n_points"), col("n_core"), col("n_border"),
        (col("n_points") - col("n_core") - col("n_border")).as("n_noise"),
        expr(fdiv("n_core * 1000000", "n_points")).cast("long")
          .as("core_ppm"))
      .orderBy(col("label"))
  }

  val q299Sql: String =
    s"""WITH pts AS (
       |  SELECT vec_id, label,
       |    CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT) AS x,
       |    CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT) AS y
       |  FROM embeddings),
       |cells AS (
       |  SELECT *, (x + 1000000) // $DbEps AS cx, (y + 1000000) // $DbEps AS cy
       |  FROM pts),
       |probe AS (
       |  SELECT vec_id, x, y, cx + dx.g AS cx, cy + dy.g AS cy
       |  FROM cells,
       |    (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dx,
       |    (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dy),
       |nb AS (
       |  SELECT p.vec_id, COUNT(*) AS n_nb
       |  FROM probe p JOIN cells m ON p.cx = m.cx AND p.cy = m.cy
       |  WHERE (p.x - m.x) * (p.x - m.x) + (p.y - m.y) * (p.y - m.y)
       |    <= ${DbEps * DbEps}
       |  GROUP BY p.vec_id),
       |flagged AS (
       |  SELECT cells.*, CASE WHEN n_nb >= $DbMinPts THEN 1 ELSE 0 END AS core
       |  FROM cells JOIN nb USING (vec_id)),
       |border_ids AS (
       |  SELECT DISTINCT p.vec_id
       |  FROM (SELECT f.vec_id, f.x, f.y, f.cx + dx.g AS cx, f.cy + dy.g AS cy
       |        FROM flagged f,
       |          (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dx,
       |          (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dy
       |        WHERE f.core = 0) p
       |  JOIN (SELECT vec_id AS m_id, cx, cy, x AS mx, y AS my
       |        FROM flagged WHERE core = 1) m
       |    ON p.cx = m.cx AND p.cy = m.cy
       |  WHERE p.vec_id <> m.m_id
       |    AND (p.x - mx) * (p.x - mx) + (p.y - my) * (p.y - my)
       |      <= ${DbEps * DbEps})
       |SELECT label, COUNT(*) AS n_points,
       |  CAST(SUM(core) AS BIGINT) AS n_core,
       |  CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_border,
       |  CAST(COUNT(*) - SUM(core)
       |    - SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_noise,
       |  CAST(SUM(core) * 1000000 // COUNT(*) AS BIGINT) AS core_ppm
       |FROM flagged LEFT JOIN border_ids b ON flagged.vec_id = b.vec_id
       |GROUP BY label ORDER BY label""".stripMargin

  // ------------------------- q324: Adjusted Rand Index (chance-corrected)

  /** q324: Adjusted Rand Index between the deterministic-seed cluster
    * assignment (q282/q303's argmin) and the ground-truth labels — the
    * CHANCE-CORRECTED agreement q88's purity lacks (purity rewards many
    * tiny clusters; ARI is 0 in expectation under random assignment).
    * From the k × |labels| contingency rollup, with pair counts kept
    * doubled until the exactly-even halving:
    *
    *   ARI = 2·(C·S_ij − S_a·S_b) / (C·(S_a+S_b) − 2·S_a·S_b)
    *
    * — exact integers end to end; the one division is the signed
    * truncate-toward-zero spelling both engines share (the numerator goes
    * negative for worse-than-chance assignments). The plain Rand index
    * rides along. Every staged product stays under 10³⁶ below ~10⁹
    * vectors (C ≈ n²/2); past that the pair counts themselves need
    * rescaling — stated, not hidden.
    *
    * Plan: the q303 assignment pipeline → a (cluster, label) rollup
    * (k·|labels| rows) → three marginal folds → a 1-row finish.
    */
  val q324AdjustedRand: Q = (s, dir) => {
    val qv = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
    val seedIds = Tables.embeddings(s, dir)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(LloydK)
    val cent = qv.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("vec_id").as("cid"), col("d"), col("q").as("c"))
      .localCheckpoint()
    val assign = qv.join(broadcast(cent), Seq("d"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c")).cast(dec))
        .as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"))
    val cont = assign
      .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
        Seq("vec_id"))
      .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("n_ij"))
      .localCheckpoint() // three marginal folds read it — assignment runs once
    // pair counts are even before each halving, so `div 2` is exact; the
    // long-valued div bounds the construction at ~10⁹ vectors (stated in
    // the scaladoc)
    val folds = cont.agg(
      sum(col("n_ij")).cast(dec).as("n"),
      expr("CAST(SUM(CAST(n_ij AS DECIMAL(38,0)) * (n_ij - 1)) div 2" +
        " AS DECIMAL(38,0))").as("s_ij"))
    val sa = cont.groupBy(col("cid")).agg(sum(col("n_ij")).as("a"))
      .agg(expr("CAST(SUM(CAST(a AS DECIMAL(38,0)) * (a - 1)) div 2" +
        " AS DECIMAL(38,0))").as("s_a"),
        count(lit(1)).as("k_clusters"))
    val sb = cont.groupBy(col("label")).agg(sum(col("n_ij")).as("b"))
      .agg(expr("CAST(SUM(CAST(b AS DECIMAL(38,0)) * (b - 1)) div 2" +
        " AS DECIMAL(38,0))").as("s_b"),
        count(lit(1)).as("n_labels"))
    folds.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .withColumn("c_pairs",
        expr("CAST((n * (n - 1)) div 2 AS DECIMAL(38,0))"))
      .select(col("n").cast("long").as("n_vecs"),
        col("k_clusters"), col("n_labels"),
        (lit(1000000L) + expr(sdivSignedDiv(
          "(2 * s_ij - s_a - s_b) * 1000000", "c_pairs"))).cast("long")
          .as("rand_e6"),
        expr(sdivSignedDiv("2 * (c_pairs * s_ij - s_a * s_b) * 1000000",
          "c_pairs * (s_a + s_b) - 2 * s_a * s_b")).cast("long")
          .as("ari_e6"))
  }

  val q324Sql: String = {
    s"""WITH qv AS (
       |  SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) AS d,
       |    CAST(ROUND(UNNEST(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT)
       |      AS q
       |  FROM embeddings),
       |seed_ids AS (
       |  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $LloydK),
       |cent AS (
       |  SELECT qv.vec_id AS cid, d, q AS c
       |  FROM qv JOIN seed_ids ON qv.vec_id = seed_ids.vec_id),
       |dists AS (
       |  SELECT qv.vec_id, cid,
       |    SUM(CAST((q - c) AS HUGEINT) * (q - c)) AS dist
       |  FROM qv JOIN cent USING (d)
       |  GROUP BY qv.vec_id, cid),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
       |    FROM dists)
       |  WHERE rk = 1),
       |cont AS (
       |  SELECT cid, label, COUNT(*) AS n_ij
       |  FROM assign JOIN embeddings USING (vec_id)
       |  GROUP BY cid, label),
       |folds AS (
       |  SELECT CAST(SUM(n_ij) AS HUGEINT) AS n,
       |    SUM(CAST(n_ij AS HUGEINT) * (n_ij - 1)) / 2 AS s_ij
       |  FROM cont),
       |sa AS (
       |  SELECT SUM(CAST(a AS HUGEINT) * (a - 1)) / 2 AS s_a,
       |    COUNT(*) AS k_clusters
       |  FROM (SELECT cid, SUM(n_ij) AS a FROM cont GROUP BY cid)),
       |sb AS (
       |  SELECT SUM(CAST(b AS HUGEINT) * (b - 1)) / 2 AS s_b,
       |    COUNT(*) AS n_labels
       |  FROM (SELECT label, SUM(n_ij) AS b FROM cont GROUP BY label)),
       |fin AS (
       |  SELECT n, s_ij, s_a, s_b, k_clusters, n_labels,
       |    n * (n - 1) / 2 AS c_pairs
       |  FROM folds CROSS JOIN sa CROSS JOIN sb)
       |SELECT CAST(n AS BIGINT) AS n_vecs,
       |  CAST(k_clusters AS BIGINT) AS k_clusters,
       |  CAST(n_labels AS BIGINT) AS n_labels,
       |  CAST(1000000 + ${duckSdivSigned("(2 * s_ij - s_a - s_b) * 1000000", "c_pairs")}
       |    AS BIGINT) AS rand_e6,
       |  CAST(${duckSdivSigned("2 * (c_pairs * s_ij - s_a * s_b) * 1000000",
          "c_pairs * (s_a + s_b) - 2 * s_a * s_b")} AS BIGINT) AS ari_e6
       |FROM fin""".stripMargin
  }

  // --------------------- q326: Moran's I spatial autocorrelation

  /** Grid-cell width (e4 embedding units) for q326's lattice. */
  private val MoranCellW = 2000L

  /** q326: Moran's I — ARE the embeddings spatially clumped, or spread
    * like noise? Spatial autocorrelation of grid-cell densities on the
    * (dim0, dim1) plane: the complete lattice (empty cells included —
    * omitting them biases I upward), rook adjacency, and
    *
    *   I = n·Σᵢ x̃ᵢ·(Σ_{j∈nbr(i)} x̃ⱼ) / (W·Σ x̃²)
    *
    * with x̃ = n·x − Σx (the q319 n-scaled exact centering) and W the
    * adjacent-pair count. One signed truncating division; E[I] = −1/(n−1)
    * rides along as the null reference. Positive I = density clumps
    * (clusterable structure), ≈ E[I] = spatial noise — the
    * cheap-to-monitor precursor to running q282/q299 at all.
    *
    * Plan: one posexplode-free pass (two element_at's) → cell rollup →
    * lattice spine (bounds broadcast) → neighbor-sum via the 4-offset
    * explode joined on the cell key (the q299 discipline) → 1-row fold.
    */
  val q326MoransI: Q = (s, dir) => {
    val cells = Tables.embeddings(s, dir)
      .select(
        expr(s"(CAST(ROUND(CAST(element_at(embedding, 1) AS DOUBLE) * 10000)" +
          s" AS BIGINT) + 1000000) div $MoranCellW").as("cx"),
        expr(s"(CAST(ROUND(CAST(element_at(embedding, 2) AS DOUBLE) * 10000)" +
          s" AS BIGINT) + 1000000) div $MoranCellW").as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // consumed by the bounds scalar AND the lattice join
    val bounds = cells.agg(min(col("cx")).as("x0"), max(col("cx")).as("x1"),
      min(col("cy")).as("y0"), max(col("cy")).as("y1"))
    val lattice = bounds
      .select(explode(expr("sequence(x0, x1)")).as("cx"),
        col("y0"), col("y1"))
      .select(col("cx"), explode(expr("sequence(y0, y1)")).as("cy"))
      .join(cells, Seq("cx", "cy"), "left")
      .select(col("cx"), col("cy"), coalesce(col("cnt"), lit(0L)).as("x"))
      .localCheckpoint()
    val scal = lattice.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("x")).cast(dec).as("sx"))
    val centered = lattice.crossJoin(broadcast(scal))
      .select(col("cx"), col("cy"),
        (col("n") * col("x") - col("sx")).as("xt"), col("n"))
    val nbrSum = centered
      .select(col("cx"), col("cy"), col("xt"),
        explode(expr("array(struct(cx + 1 AS nx, cy AS ny)," +
          " struct(cx - 1 AS nx, cy AS ny), struct(cx AS nx, cy + 1 AS ny)," +
          " struct(cx AS nx, cy - 1 AS ny))")).as("nb"))
      .select(col("nb.nx").as("cx2"), col("nb.ny").as("cy2"), col("xt"))
      .join(centered.select(col("cx").as("cx2"), col("cy").as("cy2"),
        col("xt").as("xt2")), Seq("cx2", "cy2"))
    val cross = nbrSum.agg(
      sum(col("xt").cast(dec) * col("xt2")).as("s_cross"),
      count(lit(1)).cast(dec).as("w_pairs"))
    val sxx = centered.agg(sum(col("xt").cast(dec) * col("xt")).as("s_xx"),
      max(col("n")).as("n"))
    sxx.crossJoin(broadcast(cross))
      .select(col("n").cast("long").as("n_cells"),
        col("w_pairs").cast("long").as("w_pairs"),
        // a constant lattice (s_xx = 0) has no spatial structure to
        // measure — NULL, not a division error
        when(col("s_xx") > 0,
          expr(sdivSignedDiv("n * s_cross * 1000000", "w_pairs * s_xx"))).cast("long")
          .as("morans_i_e6"),
        (-expr(fdiv("1000000", "n - 1"))).cast("long").as("expected_i_e6"))
  }

  val q326Sql: String =
    s"""WITH cells AS (
       |  SELECT
       |    (CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT)
       |      + 1000000) // $MoranCellW AS cx,
       |    (CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT)
       |      + 1000000) // $MoranCellW AS cy,
       |    COUNT(*) AS cnt
       |  FROM embeddings GROUP BY 1, 2),
       |b AS (SELECT MIN(cx) AS x0, MAX(cx) AS x1, MIN(cy) AS y0,
       |  MAX(cy) AS y1 FROM cells),
       |lattice AS (
       |  SELECT gx.cx, gy.cy, COALESCE(cnt, 0) AS x
       |  FROM (SELECT UNNEST(GENERATE_SERIES(x0, x1)) AS cx FROM b) gx
       |  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(y0, y1)) AS cy FROM b) gy
       |  LEFT JOIN cells ON gx.cx = cells.cx AND gy.cy = cells.cy),
       |scal AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS sx
       |  FROM lattice),
       |centered AS (
       |  SELECT cx, cy, n * x - sx AS xt, n
       |  FROM lattice CROSS JOIN scal),
       |nbr_off AS (
       |  SELECT * FROM (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)),
       |nbr AS (
       |  SELECT c1.xt AS xt, c2.xt AS xt2
       |  FROM centered c1 CROSS JOIN nbr_off
       |  JOIN centered c2 ON c1.cx + dx = c2.cx AND c1.cy + dy = c2.cy),
       |cross_f AS (
       |  SELECT SUM(CAST(xt AS HUGEINT) * xt2) AS s_cross,
       |    CAST(COUNT(*) AS HUGEINT) AS w_pairs
       |  FROM nbr),
       |sxx AS (
       |  SELECT SUM(CAST(xt AS HUGEINT) * xt) AS s_xx, MAX(n) AS n
       |  FROM centered)
       |SELECT CAST(n AS BIGINT) AS n_cells,
       |  CAST(w_pairs AS BIGINT) AS w_pairs,
       |  CAST(CASE WHEN s_xx > 0 THEN (CASE WHEN ((n * s_cross * 1000000) < 0)
       |        != ((w_pairs * s_xx) < 0) THEN -1 ELSE 1 END) *
       |    (ABS(n * s_cross * 1000000) // ABS(w_pairs * s_xx)) END AS BIGINT)
       |    AS morans_i_e6,
       |  CAST(-(1000000 // (n - 1)) AS BIGINT) AS expected_i_e6
       |FROM sxx CROSS JOIN cross_f""".stripMargin

  // --------- q365: embedding isotropy / effective dimensionality

  /** q365: embedding-health panel — three one-pass diagnostics of the
    * vector space every ANN index in this engine (q61/q64/q82) assumes
    * to be well-behaved: ANISOTROPY ‖μ‖²/E‖v‖² (a common-direction bias
    * near 1 collapses cosine contrast; near 0 is centered), the
    * PARTICIPATION RATIO (Σv_d)²/Σv_d² of per-dimension variances (the
    * diagonal effective dimensionality — if 5 of 64 dims carry the
    * variance, recall targets calibrated at d=64 are lies), and the top
    * dimension's variance share with its index. All exact e4-quantized
    * integer sums (the q177 convention); per-dim variances floor at
    * n²-clearing so every term stays ≤ 10²⁷ at 10⁹ vectors.
    *
    * Plan: one posexplode pass → 64-row dim rollup (checkpointed); the
    * panel is a 64-row fold.
    */
  val q365Isotropy: Q = (s, dir) => {
    val pd = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
      .groupBy(col("d"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("q")).cast(dec).as("s"),
        sum((col("q") * col("q")).cast(dec)).as("ss"))
      .select(col("d"), col("n"), col("s"), col("ss"),
        expr(fdiv("n * ss - s * s", "n * n")).as("vn"))
      .localCheckpoint()
    val folded = pd.agg(max(col("n")).as("n"),
      count(lit(1)).as("n_dims"),
      sum(col("s") * col("s")).as("s2"), sum(col("ss")).as("sss"),
      sum(col("vn")).as("sv"), sum(col("vn") * col("vn")).as("sv2"),
      max(col("vn")).as("mx"))
    val topDim = pd.crossJoin(broadcast(folded.select(col("mx"))))
      .filter(col("vn") === col("mx"))
      .agg(max(col("d")).as("top_dim"))
    folded.crossJoin(broadcast(topDim))
      .select(col("n").cast("long").as("n_vecs"),
        col("n_dims").cast("long").as("n_dims"),
        expr(fdiv("s2 * 1000000", "n * sss")).cast("long").as("aniso_e6"),
        expr(fdiv("sv * sv * 1000000", "sv2")).cast("long").as("pr_e6"),
        expr(fdiv("mx * 1000000", "sv")).cast("long").as("top_share_e6"),
        col("top_dim").cast("long").as("top_dim"))
  }

  val q365Sql: String =
    """WITH qv AS (
      |  SELECT GENERATE_SUBSCRIPTS(embedding, 1) AS d,
      |    CAST(ROUND(UNNEST(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT)
      |      AS q
      |  FROM embeddings),
      |pd AS (
      |  SELECT d, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(q) AS HUGEINT) AS s,
      |    SUM(CAST(q AS HUGEINT) * q) AS ss
      |  FROM qv GROUP BY d),
      |pv AS (
      |  SELECT d, n, s, ss, (n * ss - s * s) // (n * n) AS vn FROM pd),
      |folded AS (
      |  SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS n_dims,
      |    SUM(s * s) AS s2, SUM(ss) AS sss, SUM(vn) AS sv,
      |    SUM(vn * vn) AS sv2, MAX(vn) AS mx
      |  FROM pv),
      |top AS (
      |  SELECT MAX(d) AS top_dim FROM pv CROSS JOIN folded WHERE vn = mx)
      |SELECT CAST(n AS BIGINT) AS n_vecs, n_dims,
      |  CAST(s2 * 1000000 // (n * sss) AS BIGINT) AS aniso_e6,
      |  CAST(sv * sv * 1000000 // sv2 AS BIGINT) AS pr_e6,
      |  CAST(mx * 1000000 // sv AS BIGINT) AS top_share_e6,
      |  CAST(top_dim AS BIGINT) - 1 AS top_dim
      |FROM folded CROSS JOIN top""".stripMargin

  // ---------- q366: covariate-balance audit (standardized mean diffs)

  /** |SMD| threshold above which a dimension counts as imbalanced. */
  val SmdThreshold = 0.1

  /** q366: the covariate-balance table — the love-plot audit every
    * matched/weighted causal readout (q304 CEM, q308 IPS, q334 DR)
    * assumes but none verifies: split vectors by the portable hash (the
    * engine's randomization device) and compute each dimension's
    * standardized mean difference
    *
    *   SMD_d = (μ_Ad − μ_Bd) / √((v_Ad + v_Bd)/2)
    *
    * — under true randomization every |SMD| should sit well under 0.1;
    * the count of violations and the worst dimension are the actionable
    * readout (a violating hash split means the "device" leaks structure).
    * Per-arm sums are exact e4 integers; each SMD is one fixed IEEE tree;
    * the fold takes max/count over 64 doubles (comparisons only — no
    * float additions cross rows).
    *
    * Plan: one posexplode pass → (arm, dim) rollup → 64-row join and
    * fold. One shuffle.
    */
  val q366BalanceSmd: Q = (s, dir) => {
    val hv = graft.functions.Text.portableHash(col("vec_id").cast("string"))
    val ad = Tables.embeddings(s, dir)
      .select(when(hv % 2 === 0, 1L).otherwise(0L).as("a"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("a"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
      .groupBy(col("a"), col("d"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("q")).cast(dec).as("s"),
        sum((col("q") * col("q")).cast(dec)).as("ss"))
    val joined = ad.filter(col("a") === 1L)
      .select(col("d"), col("n").as("na"), col("s").as("sa"),
        col("ss").as("ssa"))
      .join(ad.filter(col("a") === 0L)
        .select(col("d"), col("n").as("nb"), col("s").as("sb"),
          col("ss").as("ssb")), Seq("d"))
    val va = (col("na") * col("ssa") - col("sa") * col("sa")).cast("double") /
      (col("na") * col("na")).cast("double")
    val vb = (col("nb") * col("ssb") - col("sb") * col("sb")).cast("double") /
      (col("nb") * col("nb")).cast("double")
    val smd = (col("sa").cast("double") / col("na").cast("double") -
      col("sb").cast("double") / col("nb").cast("double")) /
      sqrt((va + vb) / lit(2.0))
    val perDim = joined.select(col("d"), smd.as("smd"),
      abs(smd).as("asmd")).localCheckpoint()
    val folded = perDim.agg(count(lit(1)).as("n_dims"),
      max(col("asmd")).as("max_abs_smd"),
      sum(when(col("asmd") > SmdThreshold, 1L).otherwise(0L))
        .as("n_violations"))
    val worst = perDim.crossJoin(broadcast(folded.select(col("max_abs_smd"))))
      .filter(col("asmd") === col("max_abs_smd"))
      .agg(max(col("d")).as("worst_dim"))
    folded.crossJoin(broadcast(worst))
      .select(col("n_dims").cast("long").as("n_dims"),
        col("max_abs_smd"),
        col("n_violations").cast("long").as("n_violations"),
        col("worst_dim").cast("long").as("worst_dim"))
  }

  val q366Sql: String = {
    val va = s"(${dbl("na * ssa - sa * sa")} / ${dbl("na * na")})"
    val vb = s"(${dbl("nb * ssb - sb * sb")} / ${dbl("nb * nb")})"
    val smd = s"((${dbl("sa")} / ${dbl("na")} - ${dbl("sb")} / ${dbl("nb")}) / " +
      s"sqrt(($va + $vb) / 2.0))"
    s"""WITH qv AS (
      |  SELECT CASE WHEN CAST(concat('0x',
      |      substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE 0 END AS a,
      |    GENERATE_SUBSCRIPTS(embedding, 1) AS d,
      |    CAST(ROUND(UNNEST(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT)
      |      AS q
      |  FROM embeddings),
      |ad AS (
      |  SELECT a, d, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(q) AS HUGEINT) AS s, SUM(CAST(q AS HUGEINT) * q) AS ss
      |  FROM qv GROUP BY a, d),
      |joined AS (
      |  SELECT x.d, x.n AS na, x.s AS sa, x.ss AS ssa,
      |    y.n AS nb, y.s AS sb, y.ss AS ssb
      |  FROM ad x JOIN ad y ON x.d = y.d AND x.a = 1 AND y.a = 0),
      |per_dim AS (
      |  SELECT d, $smd AS smd, ABS($smd) AS asmd FROM joined),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
      |    MAX(asmd) AS max_abs_smd,
      |    CAST(SUM(CASE WHEN asmd > $SmdThreshold THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_violations
      |  FROM per_dim),
      |worst AS (
      |  SELECT MAX(d) AS worst_dim FROM per_dim CROSS JOIN folded
      |  WHERE asmd = max_abs_smd)
      |SELECT n_dims, max_abs_smd, n_violations,
      |  CAST(worst_dim AS BIGINT) - 1 AS worst_dim
      |FROM folded CROSS JOIN worst""".stripMargin
  }

  // ------------- q411: ε-bounded local outlier factor (grid LOF)

  /** LOF neighborhood horizon (e4 embedding units — q299's ε) and the
    * kNN depth.
    */
  private val LofEps = 300L
  private val LofK = 5L
  /** Horizon distance in e2 units: FLOOR(√(ε²·10⁴)) = ε·100. */
  private val LofEps100 = LofEps * 100L
  /** lrd assigned to sparse neighbors (< k neighbors within ε): the
    * horizon density k·10¹⁰/(k·ε₁₀₀), folded at plan time.
    */
  private val LofHorizonLrd = 10000000000L / LofEps100

  /** q411: the Local Outlier Factor — the DENSITY-RATIO outlier scorer
    * the screen family still lacked: q120/q148/q206/q403/q404 all
    * measure deviation from a GLOBAL center, and q299's DBSCAN census
    * gives a ternary core/border/noise verdict; LOF scores each point
    * by how much sparser its neighborhood is than its neighbors'
    * neighborhoods (LOF ≈ 1 inlier, ≫ 1 local outlier) — the standard
    * tool when clusters have different densities. This is the
    * ε-BOUNDED variant (documented): kNN, k-distances and
    * reachabilities are all taken within q299's ε grid horizon, which
    * is what keeps the candidate join an equi-join on cell keys with a
    * constant 3×3 fan-out — no pairwise scan; sparse points (< k
    * neighbors within ε) sit at the horizon density [[LofHorizonLrd]].
    * Distances are bit-portable FLOOR(√(d²·10⁴)) at e2; lrd and LOF
    * land as one e8 and one e6 floor.
    *
    * Plan: grid cells → 3×3 candidate equi-join → per-point kNN via a
    * window PARTITIONED by point (bounded by the cell population) →
    * kdist join → lrd fold → LOF fold → TakeOrdered(20).
    */
  val q411Lof: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        round(element_at(col("embedding"), 1).cast("double") * 10000, 0)
          .cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 10000, 0)
          .cast("long").as("y"))
      .withColumn("cx", expr(s"(x + 1000000) div $LofEps"))
      .withColumn("cy", expr(s"(y + 1000000) div $LofEps"))
      .localCheckpoint()
    val members = pts.select(col("vec_id").as("m_id"), col("cx"), col("cy"),
      col("x").as("mx"), col("y").as("my"))
    val nb = pts
      .select(col("vec_id"), col("x"), col("y"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
          .as("c"))
      .select(col("vec_id"), col("x"), col("y"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
      .join(members, Seq("cx", "cy"))
      .filter(col("m_id") =!= col("vec_id") &&
        (col("x") - col("mx")) * (col("x") - col("mx")) +
          (col("y") - col("my")) * (col("y") - col("my")) <= LofEps * LofEps)
      .select(col("vec_id"), col("m_id"),
        expr("""CAST(FLOOR(SQRT(CAST(((x - mx) * (x - mx)
               | + (y - my) * (y - my)) * 10000 AS DOUBLE))) AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("dist_e2"))
    val wp = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist_e2"), col("m_id"))
    val ranked = nb.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= LofK)
      .localCheckpoint()
    val kd = ranked.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_nb"),
        max(when(col("rn") === LofK, col("dist_e2"))).as("kd"))
      .filter(col("n_nb") === LofK)
      .localCheckpoint()
    val lrd = ranked
      .join(kd.select(col("vec_id").as("m_id"), col("kd").as("kdq")),
        Seq("m_id"), "left")
      .withColumn("reach",
        greatest(coalesce(col("kdq"), lit(LofEps100)), col("dist_e2")))
      .groupBy(col("vec_id")).agg(sum(col("reach")).as("sreach"))
      .join(kd.select(col("vec_id")), Seq("vec_id"))
      .select(col("vec_id"),
        expr(fdivBigint(s"$LofK * 10000000000", "GREATEST(sreach, 1)"))
          .as("lrd_e8"))
      .localCheckpoint()
    val lof = ranked
      .join(lrd.select(col("vec_id").as("m_id"), col("lrd_e8").as("lrdq")),
        Seq("m_id"), "left")
      .groupBy(col("vec_id"))
      .agg(sum(coalesce(col("lrdq"), lit(LofHorizonLrd))).as("slrdq"))
      .join(lrd, Seq("vec_id"))
      .select(col("vec_id"),
        expr(fdivBigint("slrdq * 1000000", s"$LofK * lrd_e8")).as("lof_e6"),
        col("lrd_e8"))
    lof.orderBy(col("lof_e6").desc, col("vec_id")).limit(20)
      .join(pts.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("lrd_e8"), col("lof_e6"))
      .orderBy(col("lof_e6").desc, col("vec_id"))
  }

  val q411Sql: String =
    s"""WITH pts AS (
       |  SELECT vec_id, label,
       |    CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT) AS x,
       |    CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT) AS y
       |  FROM embeddings),
       |cells AS (
       |  SELECT *, (x + 1000000) // $LofEps AS cx,
       |    (y + 1000000) // $LofEps AS cy
       |  FROM pts),
       |nb AS (
       |  SELECT p.vec_id, m.vec_id AS m_id,
       |    CAST(FLOOR(SQRT(CAST(((p.x - m.x) * (p.x - m.x)
       |      + (p.y - m.y) * (p.y - m.y)) * 10000 AS DOUBLE))) AS BIGINT)
       |      AS dist_e2
       |  FROM (SELECT c.vec_id, c.x, c.y, c.cx + dx.g AS cx,
       |          c.cy + dy.g AS cy
       |        FROM cells c,
       |          (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dx,
       |          (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dy) p
       |  JOIN cells m ON p.cx = m.cx AND p.cy = m.cy
       |  WHERE m.vec_id <> p.vec_id
       |    AND (p.x - m.x) * (p.x - m.x) + (p.y - m.y) * (p.y - m.y)
       |      <= ${LofEps * LofEps}),
       |ranked AS (
       |  SELECT vec_id, m_id, dist_e2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY dist_e2, m_id) AS rn
       |  FROM nb QUALIFY rn <= $LofK),
       |kd AS (
       |  SELECT vec_id, COUNT(*) AS n_nb,
       |    MAX(CASE WHEN rn = $LofK THEN dist_e2 END) AS kd
       |  FROM ranked GROUP BY vec_id
       |  HAVING COUNT(*) = $LofK),
       |lrd AS (
       |  SELECT r.vec_id,
       |    ($LofK * 10000000000) //
       |      GREATEST(SUM(GREATEST(COALESCE(kq.kd, $LofEps100),
       |        r.dist_e2)), 1) AS lrd_e8
       |  FROM ranked r
       |  LEFT JOIN kd kq ON kq.vec_id = r.m_id
       |  JOIN kd kp ON kp.vec_id = r.vec_id
       |  GROUP BY r.vec_id),
       |lof AS (
       |  SELECT r.vec_id,
       |    SUM(COALESCE(lq.lrd_e8, $LofHorizonLrd)) * 1000000
       |      // ($LofK * lp.lrd_e8) AS lof_e6,
       |    lp.lrd_e8
       |  FROM ranked r
       |  LEFT JOIN lrd lq ON lq.vec_id = r.m_id
       |  JOIN lrd lp ON lp.vec_id = r.vec_id
       |  GROUP BY r.vec_id, lp.lrd_e8)
       |SELECT l.vec_id, p.label, CAST(l.lrd_e8 AS BIGINT) AS lrd_e8,
       |  CAST(l.lof_e6 AS BIGINT) AS lof_e6
       |FROM (SELECT * FROM lof ORDER BY lof_e6 DESC, vec_id LIMIT 20) l
       |JOIN pts p ON p.vec_id = l.vec_id
       |ORDER BY l.lof_e6 DESC, l.vec_id""".stripMargin

  // ---------- q425: kNN hubness audit over the embedding space

  /** q425: hubness — the high-dimensional pathology vector search
    * stacks must monitor: as dimensionality concentrates distances, a
    * few points become HUBS appearing in a disproportionate share of
    * other points' kNN lists (and many become orphans appearing in
    * none), silently skewing ANN recall and dedup candidate quality.
    * Over q411's ε-bounded grid kNN lists (k = 5), the in-list
    * occurrence count N_k per point is folded into the hubness panel:
    * orphan share, max N_k and its argmax, and the SKEWNESS of N_k
    * (the standard hubness score — positive skew = hubby space) via
    * truncated-deviation integer moments and a fixed IEEE tree (the
    * q362 device).
    *
    * Plan: grid cells → 3×3 candidate equi-join → per-point kNN
    * window → occurrence rollup keyed by neighbor id → 1-row moment
    * fold. No cartesians, no global sort.
    */
  val q425Hubness: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        round(element_at(col("embedding"), 1).cast("double") * 10000, 0)
          .cast("long").as("x"),
        round(element_at(col("embedding"), 2).cast("double") * 10000, 0)
          .cast("long").as("y"))
      .withColumn("cx", expr(s"(x + 1000000) div $LofEps"))
      .withColumn("cy", expr(s"(y + 1000000) div $LofEps"))
      .localCheckpoint()
    val members = pts.select(col("vec_id").as("m_id"), col("cx"), col("cy"),
      col("x").as("mx"), col("y").as("my"))
    val nb = pts
      .select(col("vec_id"), col("x"), col("y"),
        explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
          "transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
          .as("c"))
      .select(col("vec_id"), col("x"), col("y"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
      .join(members, Seq("cx", "cy"))
      .filter(col("m_id") =!= col("vec_id") &&
        (col("x") - col("mx")) * (col("x") - col("mx")) +
          (col("y") - col("my")) * (col("y") - col("my")) <= LofEps * LofEps)
      .select(col("vec_id"), col("m_id"),
        ((col("x") - col("mx")) * (col("x") - col("mx")) +
          (col("y") - col("my")) * (col("y") - col("my"))).as("d2"))
    val ranked = nb.withColumn("rn", row_number().over(
      Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("m_id"))))
      .filter(col("rn") <= LofK)
    val nk = pts.select(col("vec_id"))
      .join(ranked.groupBy(col("m_id").as("vec_id"))
        .agg(count(lit(1)).as("nk0")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("nk0"), lit(0L)).as("nk"))
      .localCheckpoint()
    val hub = nk.orderBy(col("nk").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("hub_vec_id"), col("nk").as("max_nk"))
    val tot = nk.agg(sum(col("nk")).cast(dec).as("snk"),
      count(lit(1)).cast(dec).as("n"),
      sum(when(col("nk") === 0L, 1L).otherwise(0L)).as("n_orphans"))
    val moms = nk.crossJoin(broadcast(tot))
      .select(col("n"), col("n_orphans"), col("snk"),
        expr(sdiv("nk * n - snk", "n")).as("d"))
      .groupBy(col("n"), col("n_orphans"), col("snk"))
      .agg(sum(col("d") * col("d")).as("s2"),
        sum(col("d") * col("d") * col("d")).as("s3"))
    val nD = col("n").cast("double")
    val m2 = col("s2").cast("double") / nD
    val m3 = col("s3").cast("double") / nD
    moms.crossJoin(broadcast(hub))
      .select(col("n").cast("long").as("n_points"),
        col("n_orphans").cast("long").as("n_orphans"),
        col("hub_vec_id"), col("max_nk"),
        expr("""CAST(CAST((snk * 1000000 - snk * 1000000 % n) / n
               | AS DECIMAL(38,0)) AS BIGINT)""".stripMargin
          .replace("\n", " ")).as("mean_nk_e6"),
        (m3 / (m2 * sqrt(m2))).as("skew_nk_d"))
  }

  val q425Sql: String = {
    val m2 = s"(${dbl("s2")} / ${dbl("n")})"
    val m3 = s"(${dbl("s3")} / ${dbl("n")})"
    s"""WITH pts AS (
       |  SELECT vec_id,
       |    CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 10000) AS BIGINT) AS x,
       |    CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 10000) AS BIGINT) AS y
       |  FROM embeddings),
       |cells AS (
       |  SELECT *, (x + 1000000) // $LofEps AS cx,
       |    (y + 1000000) // $LofEps AS cy
       |  FROM pts),
       |nb AS (
       |  SELECT p.vec_id, m.vec_id AS m_id,
       |    (p.x - m.x) * (p.x - m.x) + (p.y - m.y) * (p.y - m.y) AS d2
       |  FROM (SELECT c.vec_id, c.x, c.y, c.cx + dx.g AS cx,
       |          c.cy + dy.g AS cy
       |        FROM cells c,
       |          (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dx,
       |          (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS g) dy) p
       |  JOIN cells m ON p.cx = m.cx AND p.cy = m.cy
       |  WHERE m.vec_id <> p.vec_id
       |    AND (p.x - m.x) * (p.x - m.x) + (p.y - m.y) * (p.y - m.y)
       |      <= ${LofEps * LofEps}),
       |ranked AS (
       |  SELECT vec_id, m_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, m_id) AS rn
       |  FROM nb QUALIFY rn <= $LofK),
       |nk AS (
       |  SELECT p.vec_id, CAST(COALESCE(r.nk0, 0) AS BIGINT) AS nk
       |  FROM pts p
       |  LEFT JOIN (SELECT m_id, COUNT(*) AS nk0 FROM ranked GROUP BY m_id)
       |    r ON r.m_id = p.vec_id),
       |hub AS (
       |  SELECT vec_id AS hub_vec_id, nk AS max_nk
       |  FROM nk ORDER BY nk DESC, vec_id LIMIT 1),
       |tot AS (
       |  SELECT CAST(SUM(nk) AS HUGEINT) AS snk,
       |    CAST(COUNT(*) AS HUGEINT) AS n,
       |    CAST(SUM(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_orphans
       |  FROM nk),
       |moms AS (
       |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(n_orphans) AS n_orphans,
       |    ANY_VALUE(snk) AS snk,
       |    SUM(dd * dd) AS s2, SUM(dd * dd * dd) AS s3
       |  FROM (SELECT n, n_orphans, snk,
       |          CASE WHEN nk * n - snk >= 0 THEN 1 ELSE -1 END *
       |            (ABS(nk * n - snk) // n) AS dd
       |        FROM nk CROSS JOIN tot))
       |SELECT CAST(n AS BIGINT) AS n_points, n_orphans, hub_vec_id, max_nk,
       |  CAST(snk * 1000000 // n AS BIGINT) AS mean_nk_e6,
       |  ($m3 / ($m2 * sqrt($m2))) AS skew_nk_d
       |FROM moms CROSS JOIN hub""".stripMargin
  }

  // ------ q521: k-center greedy (farthest-point) coverage selection

  /** Centers selected by the q521 farthest-point sweep. */
  val KCenterK = 8

  /** The greedy k-center trace: seed = smallest vec_id, then each step
    * adds the vector farthest from the chosen set (max–min distance,
    * ties to the smallest id). Distances are e4-quantized integer
    * squared Euclidean (the q177 device: float→double→round once per
    * component), so the trace is the SAME integers in the engine sweep
    * and the DuckDB re-derivation. Shared by the operator and its
    * data-oracle.
    */
  def kcenterTrace(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, Long, Option[Long])] = {
    val q = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("""transform(embedding,
          | x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT))"""
          .stripMargin.replace("\n", " ")).as("qv"))
      .withColumn("qq",
        expr("aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .localCheckpoint()
    // r8: each sweep is ONE job. The chosen centers' quantized vectors are
    // collected as they are chosen (k ≤ 8 rows of metadata) and inlined as
    // literal arrays, so a round needs no center-scan job, no broadcast
    // build, and no groupBy exchange — min-over-centers folds per row via
    // `least`, then one TakeOrdered. Identical integer arithmetic; the old
    // shape paid 3 jobs per round (center scan + broadcast + crossJoin/
    // groupBy/collect) and measured 2.4 s of pure job overhead at sf0.1.
    val seed = q.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("qv"), col("qq")).collect()(0)
    var chosen = Vector[(Long, Long, Option[Long])]((1L, seed.getLong(0), None))
    var centers = Vector[(Seq[Long], Long)](
      (seed.getSeq[Long](1), seed.getLong(2)))
    (2 to KCenterK).foreach { k =>
      val ids = chosen.map(_._2)
      val md = centers.map { case (cqv, cqq) =>
        col("qq") + lit(cqq) - lit(2L) * aggregate(
          zip_with(col("qv"), array(cqv.map(lit): _*), (a, b) => a * b),
          lit(0L), (a, x) => a + x)
      }.reduce(least(_, _))
      val best = q.filter(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("qv"), col("qq"), md.as("md"))
        .orderBy(col("md").desc, col("vec_id")).limit(1)
        .collect()(0)
      chosen :+= ((k.toLong, best.getLong(0), Some(best.getLong(3))))
      centers :+= ((best.getSeq[Long](1), best.getLong(2)))
    }
    chosen
  }

  /** q521: k-center (farthest-point) selection — the DIVERSITY-side
    * data-selection operator next to the coverage greedy (q506 picks
    * what REPRESENTS the mass; k-center picks what SPANS the space —
    * the 2-approximation to the NP-hard covering radius, Gonzalez
    * 1985). Each of the k−1 sweeps is one distributed pass (corpus ×
    * ≤k broadcast centers, map-side min, one TakeOrdered), so the
    * operator scales as k linear scans with no pairwise explosion.
    * The emitted radius ladder is the coverage story: radius(k) is
    * non-increasing in k for the part that matters (each new center
    * can only shrink every point's min distance), the certificate the
    * plan spec pins.
    *
    * Plan: one embeddings quantize pass (checkpointed) → k−1
    * broadcast sweeps → k-row report. Oracle: the trace ids become
    * literals and DuckDB re-derives every step's argmax from the
    * prefix — a true replay, not an echo.
    */
  val q521KCenterGreedy: Q = (s, dir) => {
    import s.implicits._
    kcenterTrace(s, dir).toDF("k", "vec_id", "radius2")
  }

  def q521SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val trace = kcenterTrace(s, dir)
    val centRows = trace.map { case (k, id, _) => s"($k, $id)" }
      .mkString(", ")
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> ROUND(x * 10000)) AS qv
       |  FROM embeddings),
       |b2 AS (SELECT vec_id, qv,
       |  CAST(list_dot_product(qv, qv) AS BIGINT) AS qq FROM base),
       |cent(k, cid) AS (SELECT * FROM (VALUES $centRows)),
       |d AS (
       |  SELECT x.vec_id, c.k AS ck,
       |    x.qq + cb.qq - 2 * CAST(list_dot_product(x.qv, cb.qv) AS BIGINT)
       |      AS d2
       |  FROM b2 x
       |  CROSS JOIN cent c
       |  JOIN b2 cb ON cb.vec_id = c.cid),
       |steps AS (
       |  SELECT s.k AS k, d.vec_id, MIN(d.d2) AS md
       |  FROM (SELECT UNNEST(range(2, ${KCenterK + 1})) AS k) s
       |  JOIN d ON d.ck < s.k
       |  LEFT JOIN cent ex ON ex.cid = d.vec_id AND ex.k < s.k
       |  WHERE ex.cid IS NULL
       |  GROUP BY 1, 2),
       |argmax AS (
       |  SELECT k, vec_id, md,
       |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY md DESC, vec_id) AS rn
       |  FROM steps)
       |SELECT CAST(1 AS BIGINT) AS k,
       |  CAST((SELECT MIN(vec_id) FROM embeddings) AS BIGINT) AS vec_id,
       |  CAST(NULL AS BIGINT) AS radius2
       |UNION ALL
       |SELECT CAST(k AS BIGINT), CAST(vec_id AS BIGINT), CAST(md AS BIGINT)
       |FROM argmax WHERE rn = 1""".stripMargin
  }

  // ----------- q552: Matryoshka dimension-truncation recall (prefix dims)

  /** Truncation widths audited (plus the full width as the identity row). */
  private val MrlDims = Seq(8, 16, 32, 64)

  /** q552: how much nearest-neighbor quality survives keeping only the
    * FIRST d dimensions of each embedding — the Matryoshka-representation
    * question every tiered retrieval stack asks before shipping a cheap
    * prefix index. Vectors quantize to e4 integers (the q229 device), so
    * every distance — full and truncated — is exact int64 arithmetic and
    * both engines rank identically with no float-noise risk. One exploded
    * pass computes all four prefix distances as conditional sums; recall@5
    * per width ships with the d=64 identity row (recall exactly 1.0) as
    * the in-output certificate.
    *
    * Plan: probe batch (10) broadcast into the exploded stream; one
    * (probe, candidate) rollup carries d2_8/16/32/64 together; ranking is
    * per-(probe, width) on the bounded candidate set.
    */
  val q552MrlTruncation: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
    val probes = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("d").as("pd"),
        col("q").as("qp"))
    val pair = base.join(broadcast(probes),
      col("d") === col("pd") && col("vec_id") =!= col("probe_id"))
      .withColumn("sq", (col("q") - col("qp")) * (col("q") - col("qp")))
    val d2 = pair.groupBy(col("probe_id"), col("vec_id"))
      .agg(
        sum(when(col("d") < 8, col("sq")).otherwise(0L)).as("d2_8"),
        sum(when(col("d") < 16, col("sq")).otherwise(0L)).as("d2_16"),
        sum(when(col("d") < 32, col("sq")).otherwise(0L)).as("d2_32"),
        sum(col("sq")).as("d2_64"))
      .localCheckpoint()
    val long = d2.select(col("probe_id"), col("vec_id"), col("d2_64"),
      explode(array(
        struct(lit(8).as("dims"), col("d2_8").as("d2t")),
        struct(lit(16).as("dims"), col("d2_16").as("d2t")),
        struct(lit(32).as("dims"), col("d2_32").as("d2t")),
        struct(lit(64).as("dims"), col("d2_64").as("d2t")))).as("e"))
      .select(col("probe_id"), col("vec_id"), col("d2_64"),
        col("e.dims").as("dims"), col("e.d2t").as("d2t"))
    val wt = Window.partitionBy(col("probe_id"), col("dims"))
      .orderBy(col("d2t"), col("vec_id"))
    val wf = Window.partitionBy(col("probe_id"), col("dims"))
      .orderBy(col("d2_64"), col("vec_id"))
    long
      .withColumn("rk_trunc", row_number().over(wt))
      .withColumn("rk_full", row_number().over(wf))
      .filter(col("rk_trunc") <= K || col("rk_full") <= K)
      .groupBy(col("dims"))
      .agg(sum(when(col("rk_trunc") <= K && col("rk_full") <= K, 1L)
        .otherwise(0L)).as("hits"),
        countDistinct(col("probe_id")).as("n_probes"))
      .select(col("dims").cast("long").as("dims_kept"), col("n_probes"),
        lit(K.toLong).as("k"), col("hits"),
        expr(s"hits * 1000000 div (n_probes * $K)").as("recall_e6"))
      .orderBy(col("dims_kept"))
  }

  val q552Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(r.range AS INT) - 1 AS d,
       |    CAST(ROUND(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
       |      * 10000) AS BIGINT) AS q
       |  FROM embeddings CROSS JOIN range(1, 65) r),
       |probes AS (
       |  SELECT vec_id AS probe_id, d AS pd, q AS qp FROM base
       |  WHERE vec_id < 10),
       |pair AS (
       |  SELECT b.probe_id, a.vec_id,
       |    SUM(CASE WHEN a.d < 8 THEN (a.q - b.qp) * (a.q - b.qp)
       |      ELSE 0 END) AS d2_8,
       |    SUM(CASE WHEN a.d < 16 THEN (a.q - b.qp) * (a.q - b.qp)
       |      ELSE 0 END) AS d2_16,
       |    SUM(CASE WHEN a.d < 32 THEN (a.q - b.qp) * (a.q - b.qp)
       |      ELSE 0 END) AS d2_32,
       |    SUM((a.q - b.qp) * (a.q - b.qp)) AS d2_64
       |  FROM base a JOIN probes b
       |    ON a.d = b.pd AND a.vec_id <> b.probe_id
       |  GROUP BY 1, 2),
       |lng AS (
       |  SELECT probe_id, vec_id, d2_64, u.dims,
       |    CASE u.dims WHEN 8 THEN d2_8 WHEN 16 THEN d2_16
       |      WHEN 32 THEN d2_32 ELSE d2_64 END AS d2t
       |  FROM pair CROSS JOIN
       |    (SELECT UNNEST([8, 16, 32, 64]) AS dims) u),
       |ranked AS (
       |  SELECT dims, probe_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id, dims
       |      ORDER BY d2t, vec_id) AS rk_trunc,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id, dims
       |      ORDER BY d2_64, vec_id) AS rk_full
       |  FROM lng)
       |SELECT CAST(dims AS BIGINT) AS dims_kept,
       |  CAST(COUNT(DISTINCT probe_id) AS BIGINT) AS n_probes,
       |  CAST($K AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN rk_trunc <= $K AND rk_full <= $K THEN 1
       |    ELSE 0 END) AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN rk_trunc <= $K AND rk_full <= $K THEN 1
       |    ELSE 0 END) * 1000000
       |    // (COUNT(DISTINCT probe_id) * $K) AS BIGINT) AS recall_e6
       |FROM ranked
       |WHERE rk_trunc <= $K OR rk_full <= $K
       |GROUP BY dims
       |ORDER BY dims_kept""".stripMargin

  // ------------- q553: int8 scalar-quantization recall (per-dim symmetric)

  /** q553: the int8 scalar-quantization audit — per-dimension symmetric
    * scales from the corpus max |value| (computed on the e4-integer grid,
    * so the scale itself is an exact integer), codes v = ±(|q|·127 div
    * scale) in [−127, 127], and the top-5-by-quantized-distance compared
    * to the full-precision top-5 per probe. Everything after the one e4
    * rounding is pure int64 arithmetic — the oracle certifies the whole
    * quantize→rank→recall pipeline bit-for-bit. Complements q216 (product
    * quantization distortion) with the cheaper scalar path every vector
    * store offers first.
    */
  val q553Int8Recall: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 10000, 0).cast("long").as("q"))
      .localCheckpoint()
    val scales = base.groupBy(col("d"))
      .agg(greatest(max(abs(col("q"))), lit(1L)).as("sc"))
    val quant = base.join(broadcast(scales), "d")
      .withColumn("v", expr(
        """CASE WHEN q >= 0 THEN (q * 127) div sc
          | ELSE -(((-q) * 127) div sc) END"""
          .stripMargin.replace("\n", " ")))
    val probes = quant.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("d").as("pd"),
        col("q").as("qp"), col("v").as("vp"))
    val d2 = quant.join(broadcast(probes),
      col("d") === col("pd") && col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum((col("q") - col("qp")) * (col("q") - col("qp"))).as("d2_full"),
        sum((col("v") - col("vp")) * (col("v") - col("vp"))).as("d2_int8"))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2_int8"), col("vec_id"))
    val wf = Window.partitionBy(col("probe_id"))
      .orderBy(col("d2_full"), col("vec_id"))
    d2
      .withColumn("rk_int8", row_number().over(wq))
      .withColumn("rk_full", row_number().over(wf))
      .filter(col("rk_int8") <= K || col("rk_full") <= K)
      .groupBy(col("probe_id"))
      .agg(sum(when(col("rk_int8") <= K && col("rk_full") <= K, 1L)
        .otherwise(0L)).as("n_hits"))
      .select(col("probe_id"), col("n_hits"), lit(K.toLong).as("k"),
        expr(s"n_hits * 1000000 div $K").as("recall_e6"))
      .orderBy(col("probe_id"))
  }

  val q553Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(r.range AS INT) - 1 AS d,
       |    CAST(ROUND(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
       |      * 10000) AS BIGINT) AS q
       |  FROM embeddings CROSS JOIN range(1, 65) r),
       |scales AS (
       |  SELECT d, GREATEST(MAX(ABS(q)), 1) AS sc FROM base GROUP BY 1),
       |quant AS (
       |  SELECT vec_id, base.d, q,
       |    CASE WHEN q >= 0 THEN (q * 127) // sc
       |      ELSE -(((-q) * 127) // sc) END AS v
       |  FROM base JOIN scales ON base.d = scales.d),
       |probes AS (
       |  SELECT vec_id AS probe_id, d AS pd, q AS qp, v AS vp FROM quant
       |  WHERE vec_id < 10),
       |d2 AS (
       |  SELECT b.probe_id, a.vec_id,
       |    SUM((a.q - b.qp) * (a.q - b.qp)) AS d2_full,
       |    SUM((a.v - b.vp) * (a.v - b.vp)) AS d2_int8
       |  FROM quant a JOIN probes b
       |    ON a.d = b.pd AND a.vec_id <> b.probe_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT probe_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY d2_int8, vec_id) AS rk_int8,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY d2_full, vec_id) AS rk_full
       |  FROM d2)
       |SELECT CAST(probe_id AS BIGINT) AS probe_id,
       |  CAST(SUM(CASE WHEN rk_int8 <= $K AND rk_full <= $K THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST($K AS BIGINT) AS k,
       |  CAST(SUM(CASE WHEN rk_int8 <= $K AND rk_full <= $K THEN 1
       |    ELSE 0 END) * 1000000 // $K AS BIGINT) AS recall_e6
       |FROM ranked
       |WHERE rk_int8 <= $K OR rk_full <= $K
       |GROUP BY probe_id
       |ORDER BY probe_id""".stripMargin

  // ------------------- q556: label-noise audit (1-NN leave-one-out vote)

  /** q556: the label-hygiene pass a training pipeline runs before trusting
    * a labelled table — every vector's label is checked against its
    * nearest OTHER vector's label (1-NN leave-one-out). Per class: size,
    * 1-NN agreement count/rate, and the modal confusion target — rows
    * whose neighborhood systematically votes another class are the
    * mislabel suspects (the instance-level complement of q88's
    * cluster-level purity and q177's class separability).
    *
    * The pair scan uses the codegen'd dot-product expression with
    * precomputed norms (the q60 device, gate-proven for cross-engine
    * rank agreement); ranking is rank-only output so last-ulp float noise
    * cannot surface. At 100 TB the same audit runs against the IVF/LSH
    * candidate sets (q61/q64) instead of the full cross product — the
    * brute pass here is the correctness baseline.
    */
  val q556LabelNoise: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint()
    val probes = e.select(col("vec_id").as("pid"), col("label").as("plab"),
      col("embedding").as("pv"), col("nrm").as("pn"))
    val sims = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("plab"), col("label").as("nlab"),
        col("vec_id").as("nid"),
        (Vectors.dot(col("embedding"), col("pv")) /
          (col("nrm") * col("pn"))).as("sim"))
    val nn = sims.withColumn("rk", row_number().over(
      Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("nid"))))
      .filter(col("rk") === 1)
    val conf = nn.groupBy(col("plab"), col("nlab"))
      .agg(count(lit(1)).as("c"))
    val agree = conf.groupBy(col("plab").as("label"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("plab") === col("nlab"), col("c")).otherwise(0L))
          .as("nn_agree"))
    val confused = conf.filter(col("plab") =!= col("nlab"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("plab"))
          .orderBy(col("c").desc, col("nlab"))))
      .filter(col("rk") === 1)
      .select(col("plab").as("label2"), col("nlab").as("top_confusion"),
        col("c").as("confusion_n"))
    agree.join(confused, col("label") === col("label2"), "left")
      .select(col("label").cast("long").as("label"), col("n"),
        col("nn_agree"),
        expr("nn_agree * 1000000 div n").as("agree_e6"),
        col("top_confusion").cast("long").as("top_confusion"),
        coalesce(col("confusion_n"), lit(0L)).as("confusion_n"))
      .orderBy(col("label"))
  }

  val q556Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |      CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |sims AS (
      |  SELECT p.vec_id AS pid, p.label AS plab, a.label AS nlab,
      |    a.vec_id AS nid,
      |    list_dot_product(a.v, p.v) / (a.nrm * p.nrm) AS sim
      |  FROM e a CROSS JOIN e p
      |  WHERE a.vec_id <> p.vec_id),
      |nn AS (
      |  SELECT plab, nlab FROM (
      |    SELECT plab, nlab,
      |      ROW_NUMBER() OVER (PARTITION BY pid ORDER BY sim DESC, nid)
      |        AS rk
      |    FROM sims)
      |  WHERE rk = 1),
      |conf AS (
      |  SELECT plab, nlab, COUNT(*) AS c FROM nn GROUP BY 1, 2),
      |agree AS (
      |  SELECT plab AS label, SUM(c) AS n,
      |    SUM(CASE WHEN plab = nlab THEN c ELSE 0 END) AS nn_agree
      |  FROM conf GROUP BY 1),
      |confused AS (
      |  SELECT plab AS label, nlab AS top_confusion, c AS confusion_n
      |  FROM (
      |    SELECT conf.*, ROW_NUMBER() OVER (PARTITION BY plab
      |      ORDER BY c DESC, nlab) AS rk
      |    FROM conf WHERE plab <> nlab)
      |  WHERE rk = 1)
      |SELECT CAST(a.label AS BIGINT) AS label, CAST(a.n AS BIGINT) AS n,
      |  CAST(a.nn_agree AS BIGINT) AS nn_agree,
      |  CAST(a.nn_agree * 1000000 // a.n AS BIGINT) AS agree_e6,
      |  CAST(c.top_confusion AS BIGINT) AS top_confusion,
      |  CAST(COALESCE(c.confusion_n, 0) AS BIGINT) AS confusion_n
      |FROM agree a LEFT JOIN confused c USING (label)
      |ORDER BY a.label""".stripMargin

  val queries: Map[String, Q] = Map(
    "q556_label_noise" -> q556LabelNoise,
    "q552_mrl_truncation" -> q552MrlTruncation,
    "q553_int8_recall" -> q553Int8Recall,
    "q521_kcenter_greedy" -> q521KCenterGreedy,
    "q425_hubness" -> q425Hubness,
    "q411_lof" -> q411Lof,
    "q365_isotropy" -> q365Isotropy,
    "q366_balance_smd" -> q366BalanceSmd,
    "q326_morans_i" -> q326MoransI,
    "q324_adjusted_rand" -> q324AdjustedRand,
    "q574_knn_shapley" -> q574KnnShapley,
    "q299_dbscan_census" -> q299DbscanCensus,
    "q303_silhouette" -> q303Silhouette,
    "q282_lloyd_step" -> q282LloydStep,
    "q250_ivf_balance" -> q250IvfBalance,
    "q240_triplet_mining" -> q240TripletMining,
    "q227_pca_projection" -> q227PcaProjection,
    "q229_rp_recall" -> q229RpRecall,
    "q194_mmr_diversify" -> q194MmrDiversify,
    "q216_pq_distortion" -> q216PqDistortion,
    "q60_knn_brute" -> q60KnnBrute,
    "q61_ann_lsh" -> q61AnnLsh,
    "q62_norm_stats" -> q62NormStats,
    "q177_class_separability" -> q177ClassSeparability,
    "q63_cosine_neardup" -> q63CosineNearDup,
    "q64_ann_ivf" -> q64AnnIvf,
    "q82_ann_ivfpq" -> q82AnnIvfPq,
    "q88_cluster_purity" -> q88ClusterPurity)

  /** Probe panel stride for kNN-Shapley: every 20th vector is a "test"
    * point, the rest are the valued training corpus.
    */
  private val ShapStride = 20

  /** q574: exact kNN-Shapley data valuation (Jia et al., "Towards
    * Efficient Data Valuation Based on the Shapley Value", AISTATS 2019) —
    * the per-EXAMPLE worth of every training vector to a K-NN classifier,
    * the data-market/curation question ("which examples earn their storage
    * at 100 TB?") answered in closed form instead of exponential
    * retraining: with neighbors of test t sorted by similarity, s_(N) =
    * 𝟙[y_(N)=y_t]/N and s_(i) = s_(i+1) + (𝟙[y_(i)]−𝟙[y_(i+1)])·
    * min(K,i)/(K·i). Each rank's increment is floored ONCE at e12
    * (sign-factored, so both engines truncate identically) and the suffix
    * accumulates by exact integer addition — the telescoping recurrence
    * becomes a per-probe suffix sum, every window PARTITIONED by probe.
    * Values aggregate across the probe panel; the report is the 15 most
    * and 15 least valuable training vectors (the least-valuable tail is
    * the curation drop list — mislabeled/near-adversarial points go
    * NEGATIVE, since they flip their neighborhoods' votes).
    *
    * Scale posture: the probe panel is a fixed-stride slice (bounded by
    * construction — a production valuation samples probes the same way);
    * cost is |train|×|probes| codegen'd dot products, rank windows shard
    * per probe, and the rollup is train-keyed. No global window, no
    * driver-side data.
    */
  lazy val q574KnnShapley: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"),
      col("label"), Vectors.norm(col("embedding")).as("nrm"))
    val tests = e.filter(col("vec_id") % ShapStride === 0)
      .select(col("vec_id").as("tid"), col("embedding").as("tvec"),
        col("label").as("tlabel"), col("nrm").as("tnrm"))
    val train = e.filter(col("vec_id") % ShapStride =!= 0)
    val nDf = train.agg(count(lit(1)).as("n_train"))
    val pairs = train.crossJoin(broadcast(tests))
      .select(col("tid"), col("vec_id"), col("label"),
        (col("label") === col("tlabel")).cast("long").as("m"),
        (Vectors.dot(col("embedding"), col("tvec")) /
          (col("nrm") * col("tnrm"))).as("sim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tid"))
      .orderBy(col("sim").desc, col("vec_id"))
    val ranked = pairs
      .withColumn("rnk", row_number().over(w))
      .withColumn("mnext", lead(col("m"), 1).over(w))
    val terms = ranked.crossJoin(broadcast(nDf))
      .withColumn("term", expr(
        s"""CASE WHEN mnext IS NULL THEN CAST(0 AS BIGINT)
           | WHEN m >= mnext THEN
           |   ((m - mnext) * least(rnk, $K) * 1000000000000) div ($K * rnk)
           | ELSE -(((mnext - m) * least(rnk, $K) * 1000000000000)
           |   div ($K * rnk)) END""".stripMargin.replace("\n", " ")))
      .withColumn("base", max(when(col("mnext").isNull,
        expr("m * 1000000000000 div n_train")))
        .over(Window.partitionBy(col("tid"))))
    val wSuf = Window.partitionBy(col("tid")).orderBy(col("rnk").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val sv = terms
      .withColumn("sv_e12", col("base") + sum(col("term")).over(wSuf))
    val byTrain = sv.groupBy(col("vec_id"), col("label"))
      .agg(sum(col("sv_e12")).as("sv_e12"))
    val top = byTrain.orderBy(col("sv_e12").desc, col("vec_id")).limit(15)
      .select(lit("most_valuable").as("role"), col("vec_id"), col("label"),
        col("sv_e12"))
    val bottom = byTrain.orderBy(col("sv_e12").asc, col("vec_id")).limit(15)
      .select(lit("least_valuable").as("role"), col("vec_id"), col("label"),
        col("sv_e12"))
    top.unionAll(bottom)
  }

  /** SQL fragments shared by the q61/q63 oracles, generated from the same
    * deterministic plane matrix the Spark side uses (Vectors.planeMatrix) —
    * double literals round-trip exactly (shortest-repr), and
    * list_dot_product's sequential fold matches the Spark-side aggregate
    * fold's IEEE order, so bucket bits agree bit-for-bit.
    */
  private def sigBitsSql: String = {
    val m = Vectors.planeMatrix(Dim, Planes)
    m.map { plane =>
      val lits = plane.map(_.toString).mkString(", ")
      s"CASE WHEN list_dot_product(v, [$lits]) >= 0 THEN 1 ELSE 0 END"
    }.mkString("[\n      ", ",\n      ", "]")
  }

  private def bandSelectsSql: String =
    (0 until Bands).map { b =>
      val terms = (0 until BitsPerBand).map(r =>
        s"bits[${b * BitsPerBand + r + 1}]*${1 << (BitsPerBand - 1 - r)}").mkString(" + ")
      s"SELECT vec_id, v, $b AS band_idx, $terms AS band_val FROM sig"
    }.mkString("\n  UNION ALL ")

  val q61Sql: String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (
       |  SELECT vec_id, v,
       |    $sigBitsSql AS bits
       |  FROM base),
       |banded AS (
       |  $bandSelectsSql),
       |probes AS (
       |  SELECT vec_id, band_idx, xor(band_val, m) AS band_val
       |  FROM banded, UNNEST([${ProbeMasks.mkString(", ")}]) AS u(m)
       |  WHERE vec_id < 10),
       |cands AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, e.vec_id AS neighbor_id
       |  FROM banded e JOIN probes p
       |    ON e.band_idx = p.band_idx AND e.band_val = p.band_val
       |  WHERE e.vec_id <> p.vec_id),
       |sims AS (
       |  SELECT c.probe_id, c.neighbor_id,
       |    list_dot_product(e.v, p.v) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.v, p.v))) AS sim
       |  FROM cands c
       |  JOIN base e ON c.neighbor_id = e.vec_id
       |  JOIN base p ON c.probe_id = p.vec_id)
       |SELECT probe_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT probe_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM sims) t
       |WHERE rnk <= $K""".stripMargin

  val q63Sql: String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (
       |  SELECT vec_id, v,
       |    $sigBitsSql AS bits
       |  FROM base),
       |banded AS (
       |  $bandSelectsSql),
       |capped AS (
       |  SELECT band_idx, band_val FROM banded
       |  GROUP BY band_idx, band_val HAVING COUNT(*) BETWEEN 2 AND $PairBandCap),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM banded a
       |  JOIN capped c ON a.band_idx = c.band_idx AND a.band_val = c.band_val
       |  JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b FROM (
       |  SELECT c.vec_a, c.vec_b,
       |    list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
       |  FROM cands c
       |  JOIN base a ON c.vec_a = a.vec_id
       |  JOIN base b ON c.vec_b = b.vec_id) t
       |WHERE sim >= 0.4""".stripMargin

  /** Data-dependent oracle for q64: trains the quantizer (bit-deterministic
    * — Ivf.train folds the capped sample in vec_id order on the driver) and
    * inlines the centroid vectors plus their |c|² terms as SQL literals,
    * exactly as [[sigBitsSql]] inlines the plane matrix. Generated at Verify
    * time because, unlike the plane matrix, the centroids derive from the
    * data. Assignment/probe argmin mirrors Ivf.assignExpr/probeExpr:
    * ORDER BY -2·v·c + |c|², then centroid id.
    */
  def q64SqlFor(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val centroids = Ivf.train(Tables.embeddings(s, dir), IvfK, Dim, IvfIters)
    val centRows = centroids.zipWithIndex.map { case (c, j) =>
      val cn2 = c.map(x => x * x).sum
      s"($j, [${c.mkString(", ")}], $cn2)"
    }.mkString(",\n    ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent(j, c, cn2) AS (SELECT * FROM (VALUES
       |    $centRows)),
       |assigned AS (
       |  SELECT vec_id, v,
       |    (SELECT j FROM cent
       |     ORDER BY -2.0 * list_dot_product(b.v, c) + cn2, j LIMIT 1) AS cluster
       |  FROM base b),
       |probes AS (
       |  SELECT b.vec_id AS probe_id, b.v AS pv, p.j AS cluster
       |  FROM base b, LATERAL (
       |    SELECT j FROM cent
       |    ORDER BY -2.0 * list_dot_product(b.v, c) + cn2, j LIMIT $IvfNprobe) p
       |  WHERE b.vec_id < 10),
       |sims AS (
       |  SELECT p.probe_id, a.vec_id AS neighbor_id,
       |    list_dot_product(a.v, p.pv) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS sim
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.probe_id)
       |SELECT probe_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT probe_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM sims) t
       |WHERE rnk <= $K""".stripMargin
  }

  /** q60's oracle mirrors the double-precision sequential fold via UNNEST
    * ordinality — exact same IEEE operation order as the Spark side.
    */
  val oracles: Map[String, String] = Map(
    "q556_label_noise" -> q556Sql,
    "q552_mrl_truncation" -> q552Sql,
    "q553_int8_recall" -> q553Sql,
    "q425_hubness" -> q425Sql,
    "q411_lof" -> q411Sql,
    "q365_isotropy" -> q365Sql,
    "q366_balance_smd" -> q366Sql,
    "q326_morans_i" -> q326Sql,
    "q324_adjusted_rand" -> q324Sql,
    "q299_dbscan_census" -> q299Sql,
    "q303_silhouette" -> q303Sql,
    "q282_lloyd_step" -> q282Sql,
    "q229_rp_recall" -> q229Sql,
    "q240_triplet_mining" -> q240Sql,
    "q194_mmr_diversify" -> q194Sql,
    "q61_ann_lsh" -> q61Sql,
    "q177_class_separability" -> q177Sql,
    "q63_cosine_neardup" -> q63Sql,
    "q574_knn_shapley" ->
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |tests AS (
        |  SELECT vec_id AS tid, v AS tv, label AS tl FROM e
        |  WHERE vec_id % $ShapStride = 0),
        |train AS (SELECT * FROM e WHERE vec_id % $ShapStride <> 0),
        |nt AS (SELECT COUNT(*) AS n_train FROM train),
        |pairs AS (
        |  SELECT t.tid, tr.vec_id, tr.label,
        |    CASE WHEN tr.label = t.tl THEN 1 ELSE 0 END AS m,
        |    list_dot_product(tr.v, t.tv) /
        |      (sqrt(list_dot_product(tr.v, tr.v)) *
        |       sqrt(list_dot_product(t.tv, t.tv))) AS sim
        |  FROM train tr CROSS JOIN tests t),
        |ranked AS (
        |  SELECT tid, vec_id, label, m,
        |    ROW_NUMBER() OVER (PARTITION BY tid ORDER BY sim DESC, vec_id)
        |      AS rnk,
        |    LEAD(m) OVER (PARTITION BY tid ORDER BY sim DESC, vec_id)
        |      AS mnext
        |  FROM pairs),
        |terms AS (
        |  SELECT tid, vec_id, label, rnk,
        |    CASE WHEN mnext IS NULL THEN 0
        |      WHEN m >= mnext THEN
        |        ((m - mnext) * LEAST(rnk, $K) * 1000000000000) // ($K * rnk)
        |      ELSE -(((mnext - m) * LEAST(rnk, $K) * 1000000000000)
        |        // ($K * rnk)) END AS term,
        |    MAX(CASE WHEN mnext IS NULL
        |      THEN m * 1000000000000 // n_train END)
        |      OVER (PARTITION BY tid) AS base
        |  FROM ranked CROSS JOIN nt),
        |sv AS (
        |  SELECT tid, vec_id, label,
        |    base + SUM(term) OVER (PARTITION BY tid ORDER BY rnk DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_e12
        |  FROM terms),
        |bt AS (
        |  SELECT vec_id, label, CAST(SUM(sv_e12) AS BIGINT) AS sv_e12
        |  FROM sv GROUP BY 1, 2),
        |top AS (
        |  SELECT 'most_valuable' AS role, vec_id, label, sv_e12 FROM bt
        |  ORDER BY sv_e12 DESC, vec_id LIMIT 15),
        |bot AS (
        |  SELECT 'least_valuable' AS role, vec_id, label, sv_e12 FROM bt
        |  ORDER BY sv_e12 ASC, vec_id LIMIT 15)
        |SELECT * FROM top UNION ALL SELECT * FROM bot""".stripMargin,
    "q60_knn_brute" ->
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, embedding AS probe_vec FROM embeddings WHERE vec_id < 10),
        |sims AS (
        |  SELECT p.probe_id, e.vec_id AS neighbor_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p.probe_vec AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(p.probe_vec AS DOUBLE[]), CAST(p.probe_vec AS DOUBLE[])))) AS sim
        |  FROM embeddings e CROSS JOIN probes p
        |  WHERE e.vec_id <> p.probe_id)
        |SELECT probe_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT probe_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM sims) t
        |WHERE rnk <= 5""".stripMargin,
    "q62_norm_stats" ->
      """SELECT label,
        |  COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) * 100) AS BIGINT)) AS BIGINT) AS total_norm_c,
        |  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
        |FROM embeddings GROUP BY label""".stripMargin)
}
