package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale training-data preparation:
  * tokenization, shingling, MinHash signatures, SimHash, winnowing
  * fingerprints, language-ID scoring, quality metrics.
  *
  * Everything is a pure Catalyst expression over array columns (`transform`,
  * `aggregate`, `filter`, `sequence`, `slice`, `xxhash64`) — no UDFs, so the
  * whole layer stays inside WholeStageCodegen and runs at scan speed on a
  * cluster. Algorithms follow the published literature: MinHash/LSH (Broder
  * 1997; "Mining of Massive Datasets" ch.3), SimHash (Charikar 2002),
  * winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003).
  */
object Text {

  /** Whitespace tokenization (single-space-separated corpora). */
  def tokens(text: Column): Column = split(text, " ")

  // ------------------------------------------------------- portable hashing

  /** Engine-portable 60-bit hash: the top 15 hex chars of md5, parsed base-16.
    * MD5 is bit-identical in every engine, so this hash — unlike xxhash64 —
    * can be reproduced by the DuckDB oracle
    * (`CAST('0x' || substr(md5(x),1,15) AS BIGINT)`), making the whole
    * MinHash/SimHash/winnowing family oracle-checkable. 60 bits keeps the
    * value strictly inside a signed int64 on both engines.
    */
  def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // ------------------------------------------------- portable e6 log2

  /** Mantissa lookup for [[log2e6SparkSql]]: log2(i)·10⁶ rounded, for the
    * 9-bit normalized leading window i ∈ [256, 511]. Computed ONCE at
    * plan-build time in Scala and inlined as identical integer literals
    * into both engines (the Benford/NDCG constants rule: runtime libm is
    * not bit-portable, plan-build constants are).
    */
  val Log2LutE6: IndexedSeq[Long] =
    (256 to 511).map(i => math.round(math.log(i) / math.log(2) * 1e6))

  /** Engine-portable fixed-point log2 with ~0.003-bit resolution:
    *
    *   log2e6(x) = (bitlen(x) − 9)·10⁶ + LUT[norm9(x) − 255]
    *
    * where bitlen is binary-string length (q96's floor-log2 device) and
    * norm9 shifts x so its leading 9 bits land in [256, 511] — shifts are
    * exact, the table is inlined, so the value is the SAME integer in
    * Spark and DuckDB. This is what makes log-scale SCORING (classifiers,
    * entropy, perplexity) oracle-checkable where q96's whole-bit grain is
    * too coarse: whole bits are fine for ranking common-vs-rare bigrams,
    * but a Bayes argmin needs sub-bit resolution or the per-token baseline
    * difference between classes swamps the evidence.
    *
    * `x` must be a SQL expression that is cheap to repeat (a column or
    * column+literal) and ≥ 1. Spark spelling; [[log2e6DuckSql]] is the
    * oracle twin.
    */
  def log2e6SparkSql(x: String): String = {
    val lut = Log2LutE6.mkString(", ")
    s"""CAST((CAST(length(bin($x)) AS BIGINT) - 9) * 1000000 +
       | element_at(array($lut),
       |   CAST((CASE WHEN length(bin($x)) <= 9
       |     THEN shiftleft($x, 9 - length(bin($x)))
       |     ELSE shiftright($x, length(bin($x)) - 9) END) - 255 AS INT))
       | AS BIGINT)""".stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of [[log2e6SparkSql]] — same LUT literals, native shifts,
    * 1-based list indexing like element_at.
    */
  def log2e6DuckSql(x: String): String = {
    val lut = Log2LutE6.mkString(", ")
    s"""CAST((LEN(BIN($x)) - 9) * 1000000 +
       | ([$lut])[CAST((CASE WHEN LEN(BIN($x)) <= 9
       |   THEN ($x) << (9 - LEN(BIN($x)))
       |   ELSE ($x) >> (LEN(BIN($x)) - 9) END) - 255 AS INT)]
       | AS BIGINT)""".stripMargin.replace("\n", " ")
  }

  // ------------------------------------------------- portable e6 exp2

  /** Mantissa lookup for [[exp2e6SparkSql]]: 2^(i/256)·10⁶ rounded, for
    * the 8-bit fractional window i ∈ [0, 255]. Plan-time constants, the
    * inverse device of [[Log2LutE6]] — together they make power-law
    * arithmetic (x^α, 2^H effective counts, BLEU-style geometric means)
    * oracle-checkable without runtime libm.
    */
  val Exp2LutE6: IndexedSeq[Long] =
    (0 to 255).map(i => math.round(math.pow(2.0, i / 256.0) * 1e6))

  /** Engine-portable fixed-point exp2 with 8-bit fractional resolution:
    *
    *   exp2e6(y) = LUT[(y mod 10⁶)·256 div 10⁶] << (y div 10⁶), then /10⁶
    *
    * for y = (exponent·10⁶) ≥ 0 with y div 10⁶ ≤ 42 — the safe bound is
    * 42, not 43: the max LUT mantissa 1,994,588 shifted by 43 is
    * ~1.75e19 > 2⁶³−1, so Spark's shiftleft would wrap silently while
    * DuckDB may error or diverge, breaking bit-portability for
    * exponents in [43.07, 44). Callers must keep the integer part of
    * the exponent ≤ 42 (every current caller is far below; q498's
    * α·log2(tokens) would need a ~2⁴²-token source to reach it).
    * Returns 2^(y/10⁶) as a plain BIGINT (unit scale). Spark spelling;
    * [[exp2e6DuckSql]] is the oracle twin.
    */
  def exp2e6SparkSql(y: String): String = {
    val lut = Exp2LutE6.mkString(", ")
    s"""CAST(shiftleft(element_at(array($lut),
       | CAST((($y) % 1000000) * 256 div 1000000 AS INT) + 1),
       | CAST(($y) div 1000000 AS INT)) div 1000000 AS BIGINT)"""
      .stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of [[exp2e6SparkSql]] — same LUT literals, native
    * shifts, 1-based list indexing like element_at.
    */
  def exp2e6DuckSql(y: String): String = {
    val lut = Exp2LutE6.mkString(", ")
    s"""CAST((([$lut])[CAST((($y) % 1000000) * 256 // 1000000 AS INT) + 1]
       | << CAST(($y) // 1000000 AS INT)) // 1000000 AS BIGINT)"""
      .stripMargin.replace("\n", " ")
  }

  /** e6-SCALE variant of [[exp2e6SparkSql]]: returns 2^(y/10⁶)·10⁶
    * (no final unit-scale division), preserving the 8-bit fractional
    * resolution for consumers that need sub-unit powers — logistic
    * expectations (Elo), probability ratios. Same domain rules; the
    * caller must keep y div 10⁶ small enough that mantissa·2^shift
    * stays in int64 (≤ 42).
    */
  def exp2e6ScaledSparkSql(y: String): String = {
    val lut = Exp2LutE6.mkString(", ")
    s"""CAST(shiftleft(element_at(array($lut),
       | CAST((($y) % 1000000) * 256 div 1000000 AS INT) + 1),
       | CAST(($y) div 1000000 AS INT)) AS BIGINT)"""
      .stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of [[exp2e6ScaledSparkSql]]. */
  def exp2e6ScaledDuckSql(y: String): String = {
    val lut = Exp2LutE6.mkString(", ")
    s"""CAST(([$lut])[CAST((($y) % 1000000) * 256 // 1000000 AS INT) + 1]
       | << CAST(($y) // 1000000 AS INT) AS BIGINT)"""
      .stripMargin.replace("\n", " ")
  }

  /** Scala twin of [[exp2e6ScaledSparkSql]] for driver folds — the SAME
    * integer as the SQL spellings (the l2e6Scala pattern).
    */
  def exp2e6ScaledScala(y: Long): Long = {
    require(y >= 0 && y / 1000000L <= 42, s"exp2e6 domain: got $y")
    Exp2LutE6(((y % 1000000L) * 256L / 1000000L).toInt) << (y / 1000000L).toInt
  }

  /** Hash-family switch for the fingerprint stack (MinHash / SimHash /
    * winnowing). Both members map a string column to a nonnegative 60-bit
    * long, so every downstream construction (32-bit masking, bit votes over
    * bits 0..59, window minima) behaves identically — only the hash function
    * itself changes.
    */
  sealed trait HashMode { def hash(c: Column): Column }
  object HashMode {
    /** Oracle mode: the md5-derived [[portableHash]] — bit-identical across
      * engines, so the DuckDB correctness gate reproduces every fingerprint.
      * Costs a full md5 digest + string ops per token/shingle.
      */
    case object Portable extends HashMode {
      def hash(c: Column): Column = portableHash(c)
    }
    /** Production mode: `xxhash64` masked to the same nonnegative 60-bit
      * range — a few ALU ops per row instead of a cryptographic digest. The
      * 100 TB default whenever cross-engine hash reproduction isn't needed.
      */
    case object Fast extends HashMode {
      def hash(c: Column): Column =
        xxhash64(c).bitwiseAND(lit((1L << 60) - 1))
    }
  }

  /** Mersenne prime 2^61-1: modulus of the universal hash family below. */
  val HashP: Long = 2305843009213693951L

  /** splitmix64 (Steele, Lea & Flood 2014): the one seeded 64-bit mixer
    * behind every deterministic coefficient and matrix in `functions`.
    */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic (a_i, b_i) coefficients for the universal hash family
    * h_i(x) = (a_i·x32 + b_i) mod P over 32-bit inputs. a_i < 2^29 keeps the
    * product < 2^61 — exact in int64 arithmetic on both engines, no wrapping
    * multiply needed (DuckDB raises on int64 overflow rather than wrapping).
    */
  def hashFamily(k: Int): Seq[(Long, Long)] = {
    (0 until k).map { i =>
      val a = (splitmix64(2L * i) & ((1L << 29) - 1)) | 1L
      val b = splitmix64(2L * i + 1) & ((1L << 29) - 1)
      (a, b)
    }
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles, preserving document order; empty array when the
    * document has fewer than n tokens.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Distinct shingle set (the input to Jaccard / MinHash). */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(shingles(tokens(text), n))

  /** MinHash signature: k independent permutation estimates, component i =
    * min over shingles of a seeded 64-bit hash. Family of hash functions is
    * xxhash64(shingle, seed_i). Null-safe: empty shingle set → nulls.
    */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    array((0 until k).map { seed =>
      array_min(transform(shingleSet, s => xxhash64(s, lit(seed))))
    }: _*)

  /** LSH band keys for a MinHash signature: split the k-component signature
    * into `bands` rows of k/bands, hash each band. Docs sharing ANY band key
    * are near-dup candidates (probability ramp per Broder/LSH theory).
    */
  def minhashBands(signature: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws(",", slice(signature, b * rows + 1, rows)))
    }: _*)
  }

  /** 64-bit SimHash over a token array: per bit j, sum +1/-1 votes of each
    * token's xxhash64 bit j; bit j of the result = (vote > 0).
    */
  def simhash64(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    (0 until 64).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(shiftleft(lit(1L), j)) =!= 0L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Winnowing document fingerprint (Schleimer et al. 2003): hash each
    * k-shingle, then keep the minimum hash of every sliding window of w
    * consecutive shingle hashes; the distinct set of kept hashes is the
    * fingerprint.
    */
  def winnowFingerprint(toks: Column, k: Int, w: Int): Column = {
    val hs = transform(shingles(toks, k), s => xxhash64(s))
    val mins = when(size(hs) < w, when(size(hs) > 0, array(array_min(hs)))
        .otherwise(array().cast("array<bigint>")))
      .otherwise(transform(
        sequence(lit(1), size(hs) - lit(w - 1)),
        i => array_min(slice(hs, i, lit(w)))))
    array_distinct(mins)
  }

  /** Tiny per-language stopword lexicons for the n-gram/stopword language-ID
    * heuristic (public-knowledge function-word lists).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "mit", "von"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他"))

  /** Per-language stopword hit count (distinct stopwords present). */
  def stopwordHits(toks: Column, lang: String): Column =
    size(array_intersect(array_distinct(toks),
      array(stopwords(lang).map(lit): _*)))

  /** Language-ID heuristic: argmax of stopword hits with a fixed language
    * priority for ties; "und" (undetermined) when nothing matches.
    */
  def langId(toks: Column): Column = {
    val langs = Seq("en", "fr", "es", "de", "zh")
    val hits = langs.map(l => l -> stopwordHits(toks, l))
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und")) { case ((l, h), els) =>
      when(h === best && best > 0, lit(l)).otherwise(els)
    }
  }
}
