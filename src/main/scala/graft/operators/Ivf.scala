package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index — the cluster-pruned scale path next to the
  * hyperplane-LSH one: k-means coarse quantizer, vectors inverted-listed by
  * nearest centroid, probes scan only their `nprobe` nearest lists.
  *
  * Training is Lloyd's algorithm written directly on DataFrames (no MLlib
  * dependency): the assignment pass is a single codegen'd projection (k dot
  * products per row against broadcast centroid literals — distance ordering
  * needs only -2·v·c + |c|², the |v|² term is constant per row), the update
  * pass is one posexplode + groupBy(cluster, dim) average. Per iteration
  * that is one shuffle of |vectors|×dim rows; centroids (k×dim doubles)
  * live on the driver exactly like the reference keeps its small control
  * metadata on the control node.
  *
  * At 100 TB: train on a sample, assign in one pass, bucket the table BY
  * cluster id (Ctas hash policy on `cluster`) so each probe's nprobe lists
  * are collocated scans — the same movement-avoidance idea as the
  * reference's distribution-aligned joins (whitepaper.md:42-43).
  */
object Ivf {

  /** Top-nprobe centroids by (-2·v·c + |c|², then id) through the codegen
    * expression whose generated code is O(1) in k — the literal
    * array_min-over-structs formulation inlined k×dim doubles and fell back
    * to interpreted past the codegen method limits at k ≥ 1024
    * (graft.plans.NearestCentroidsExpr).
    */
  private def nearest(v: Column, centroids: Seq[Seq[Double]],
      nprobe: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.NearestCentroidsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(v), centroids,
        nprobe))

  /** Nearest-centroid id (argmin by (d, id) ordering). */
  def assignExpr(v: Column, centroids: Seq[Seq[Double]]): Column =
    element_at(nearest(v, centroids, 1), 1)

  /** The `nprobe` nearest centroid ids, nearest first. */
  def probeExpr(v: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    nearest(v, centroids, nprobe)

  /** Lloyd's k-means over a DataFrame with an `array<double>`-castable
    * `embedding` column. Deterministic: seeds are the k lowest-`idCol`
    * vectors; empty clusters keep their previous centroid.
    */
  /** Upper bound on the training sample: the quantizer only needs a sketch
    * of the density, not the corpus — at 100 TB training runs on a fixed-size
    * sample while assignment streams the full table in one pass.
    */
  val TrainSampleCap = 4096

  def train(vectors: DataFrame, k: Int, dim: Int, iters: Int,
      idCol: String = "vec_id"): Seq[Seq[Double]] = {
    // Driver-side Lloyd over the capped sample, folding sums in vec_id order:
    // bit-deterministic across runs and session configs, which is what lets
    // the q64 oracle inline the trained centroids as SQL literals. (The
    // previous distributed avg() merged partial sums in task-completion
    // order — last-ulp nondeterminism that an exact-compare gate can't
    // tolerate.) The sample is TrainSampleCap rows regardless of corpus
    // size, so driver memory stays fixed at 100 TB; only assignment streams
    // the full table.
    val sample: Array[Array[Double]] = vectors
      .select(col(idCol), col("embedding").cast("array<double>").as("v"))
      .orderBy(col(idCol)).limit(TrainSampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "cannot train a quantizer on an empty table")
    // fewer sample rows than requested centroids → train the smaller
    // quantizer (every row its own seed) instead of indexing past the seeds
    localLloyd(sample, k, dim, iters)
  }

  /** Build the inverted assignment (vec_id, cluster) for a vector table. */
  def assign(vectors: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    vectors.withColumn("cluster",
      assignExpr(col("embedding").cast("array<double>"), centroids))

  // ------------------------------------------------- two-level quantizer

  /** A trained two-level quantizer: k1 coarse cells, k2 fine centroids per
    * cell (cell-major flat layout — global list id = cell·k2 + fine).
    */
  final case class TwoLevel(coarse: Seq[Seq[Double]], fine: Seq[Seq[Double]],
      k2: Int) {
    def lists: Int = coarse.size * k2
  }

  /** Train coarse then per-cell fine quantizers — the K = k1·k2 list count
    * a billion-vector corpus needs, with per-row assignment cost O(k1 + k2)
    * instead of a flat quantizer's O(K) (standard IVF practice past ~10^4
    * lists; cf. the coarse-quantizer hierarchy in Johnson et al., "Billion-
    * scale similarity search with GPUs", 2017). Deterministic like
    * [[train]]: same capped vec_id-ordered sample, sequential folds; a cell
    * with fewer than k2 sample rows pads its remaining fine centroids with
    * copies of the cell's coarse centroid — ties among identical padded
    * copies resolve to the smallest id, so assignment stays deterministic.
    */
  def trainTwoLevel(vectors: DataFrame, k1: Int, k2: Int, dim: Int,
      iters: Int, idCol: String = "vec_id"): TwoLevel = {
    val coarse = train(vectors, k1, dim, iters, idCol)
    val sample: Array[Array[Double]] = vectors
      .select(col(idCol), col("embedding").cast("array<double>").as("v"))
      .orderBy(col(idCol)).limit(TrainSampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    val cn2 = coarse.map(c => c.map(x => x * x).sum).toArray
    def cellOf(v: Array[Double]): Int = {
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < coarse.size) {
        var dp = 0.0
        var i = 0
        while (i < dim) { dp += v(i) * coarse(j)(i); i += 1 }
        val d = -2.0 * dp + cn2(j)
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      best
    }
    val byCell = sample.zipWithIndex.groupBy { case (v, _) => cellOf(v) }
    val fine = (0 until coarse.size).flatMap { c =>
      val members = byCell.getOrElse(c, Array.empty).sortBy(_._2).map(_._1)
      val trained =
        if (members.isEmpty) Seq.empty
        else localLloyd(members, math.min(k2, members.length), dim, iters)
      trained ++ Seq.fill(k2 - trained.size)(coarse(c))
    }
    TwoLevel(coarse, fine, k2)
  }

  /** Driver-side Lloyd over an in-memory sample (the per-cell fine step,
    * also the per-subspace step of [[Pq.train]]) — identical
    * ordering/arithmetic discipline to [[train]].
    */
  private[operators] def localLloyd(sample: Array[Array[Double]], k: Int,
      dim: Int, iters: Int): Seq[Seq[Double]] = {
    var centroids: Array[Array[Double]] = sample.take(k).map(_.clone())
    (1 to iters).foreach { _ =>
      val cn2 = centroids.map(c => c.map(x => x * x).sum)
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        // same (-2·v·c + |c|², then j) argmin ordering as assignExpr
        var best = 0
        var bestD = Double.PositiveInfinity
        var j = 0
        while (j < centroids.length) {
          var dp = 0.0
          var i = 0
          while (i < dim) { dp += v(i) * centroids(j)(i); i += 1 }
          val d = -2.0 * dp + cn2(j)
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(centroids.length) { j =>
        if (counts(j) == 0) centroids(j)
        else Array.tabulate(dim)(i => sums(j)(i) / counts(j))
      }
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Two-hop assignment: coarse argmin (O(k1) codegen loop), then fine
    * argmin inside the chosen cell (O(k2) loop over that cell's slice).
    * Output is the global fine list id.
    */
  def assignTwoLevelExpr(v: Column, q: TwoLevel): Column = {
    val cell = assignExpr(v, q.coarse)
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.NearestInCellExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(v),
        org.apache.spark.sql.graft.ColumnBridge.expression(cell),
        q.fine, q.coarse.size))
  }

  /** Inverted two-level assignment (vec_id, cluster = global fine list). */
  def assignTwoLevel(vectors: DataFrame, q: TwoLevel): DataFrame =
    vectors.withColumn("cluster",
      assignTwoLevelExpr(col("embedding").cast("array<double>"), q))
}
