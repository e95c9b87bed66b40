package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns, built on
  * Catalyst higher-order functions (`zip_with` + `aggregate`) so the math is a
  * sequential fold in generated code — deterministic, no UDF, no
  * serialization. Accumulation is in double for precision.
  */
object Vectors {

  /** Sequential-fold dot product in double precision — a custom codegen
    * Expression (graft.plans.DotProductExpr); bit-identical to the
    * zip_with/aggregate fold but without the interpreted-HOF allocation per
    * row.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.DotProductExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random plane matrix (splitmix64 over (plane, dim)),
    * components in [-0.5, 0.5). Computed plan-side so the signature
    * expression stays small: one zip_with + aggregate per plane instead of a
    * dim×planes flat term tree (codegen compiles in milliseconds, not
    * seconds).
    */
  def planeMatrix(dim: Int, planes: Int): Seq[Seq[Double]] = {
    (0 until planes).map { p =>
      (0 until dim).map { d =>
        val h = Text.splitmix64(p.toLong * 1000003L + d)
        ((h & 0xFFFFFFFFL).toDouble / 4294967296.0) - 0.5
      }
    }
  }

  /** Deterministic Achlioptas sparse sign matrix for Johnson–Lindenstrauss
    * projection: entries in {−1, 0, +1} with probabilities {1/6, 2/3, 1/6}
    * (Achlioptas 2001 — database-friendly random projections: 2/3 of the
    * multiplies vanish and the rest are add/subtract). INTEGER entries are
    * the point: projecting e4-quantized components stays exact integer
    * arithmetic end to end, so a projection-space result can face the
    * bit-exact oracle. Same splitmix64 derivation (distinct stream
    * constant) as [[planeMatrix]].
    */
  def sparseSignMatrix(dim: Int, planes: Int): Seq[Seq[Long]] = {
    (0 until planes).map { p =>
      (0 until dim).map { d =>
        val h = java.lang.Long.remainderUnsigned(
          Text.splitmix64(p.toLong * 7368787L + d + 1777771L), 6L)
        if (h == 0L) -1L else if (h == 5L) 1L else 0L
      }
    }
  }

  /** Random-hyperplane LSH signature (Charikar 2002): signature bit p = sign
    * of the projection onto deterministic pseudo-random plane p. Vectors with
    * high cosine similarity agree on most bits. Projections run through the
    * codegen dot product (mixed float×double) — the interpreted
    * zip_with/aggregate form allocates per plane per row and dominated the
    * LSH queries at 32 planes; the fold order (and hence every bit) is
    * unchanged.
    */
  def hyperplaneSignature(v: Column, dim: Int, planes: Int): Column = {
    val m = planeMatrix(dim, planes)
    array(m.map { plane =>
      when(dot(v, typedLit(plane)) >= 0, 1).otherwise(0)
    }: _*)
  }

  /** Bucket id = the signature packed into a long (planes ≤ 32). */
  def hyperplaneBucket(sig: Column): Column =
    aggregate(sig, lit(0L), (acc, bit) => acc * 2 + bit.cast("long"))

  /** Banded bucket ids (the multi-table LSH form): split the signature into
    * `bands` groups of `bitsPerBand` bits and pack each group into a long
    * (first bit of the band is the most significant). Vectors colliding in
    * ANY band are candidates — each band is an independent hash table, so
    * recall stays high while each band's bucket count (2^bitsPerBand) bounds
    * the within-bucket fan-out.
    */
  def bandedBuckets(sig: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { b =>
      aggregate(slice(sig, b * bitsPerBand + 1, bitsPerBand), lit(0L),
        (acc, bit) => acc * 2 + bit.cast("long"))
    }: _*)
}
