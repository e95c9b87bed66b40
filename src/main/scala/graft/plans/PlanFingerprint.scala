package graft.plans

import org.apache.spark.sql.DataFrame
import scala.util.matching.Regex

/** Canonical physical-plan fingerprints — the stable identity of "the same
  * query planned the same way", independent of per-run artifacts. Two uses:
  *
  *  - PLAN-DRIFT DETECTION: record fingerprints in CI; a dependency bump or
  *    config change that flips a join strategy or loses a pushed filter
  *    changes the fingerprint and fails the build long before it burns a
  *    cluster (the regression the plan-shape specs catch one query at a
  *    time, generalized). QueriesSpec keeps `plans/manifest_sf0.001.tsv`,
  *    the analyzed-plan fingerprints of every plan each query executes.
  *  - RESULT CACHING: [[ResultCache]] keys result reuse on the fingerprint,
  *    the engine-side analog of the warehouse's result-set caching (the
  *    product the reference samples target caches result sets keyed on
  *    query text + data version; a canonical plan is the stronger key —
  *    two spellings of the same plan share one entry).
  *
  * Canonicalization strips what varies run to run — expression ids
  * (`name#123`), codegen/plan ids, cached-RDD numbers, object addresses —
  * renumbers the per-run counters whose identity matters within a plan,
  * and keeps everything that matters: operators, join strategies, pushed
  * filters, read schemas.
  */
object PlanFingerprint {

  /** The normalized executed plan (exposed for diffing in drift reports). */
  def canonical(df: DataFrame): String =
    canonicalText(df.queryExecution.executedPlan.toString)

  /** Normalize any plan's text (executed or analyzed).
    *
    * Deliberately conservative: ONLY per-run artifacts are removed.
    * Scan locations, literal values, and filter constants all stay — two
    * queries over different directories or with different `IN (...)`
    * lists are different queries and must fingerprint differently
    * (anything else would let [[ResultCache]] serve wrong results).
    * Counters that tell plan parts apart are renumbered, never stripped:
    * stripping would make `x_5 -> x_7` and `x_5 -> x_5` collide.
    */
  def canonicalText(raw: String): String = {
    val stripped = raw
      .replaceAll("#\\d+", "#")             // expression ids
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\[id=#?\\d+\\]", "[id=]") // exchange ids
      .replaceAll("\\*\\(\\d+\\)", "*()")    // whole-stage codegen stage ids
      .replaceAll("@[0-9a-f]{6,}", "@")      // object addresses
    Renumbered.foldLeft(stripped)(renumber)
  }

  /** Per-run counters, renumbered by order of first appearance. Group 1
    * is kept; group 2 is the counter.
    */
  private val Renumbered: Seq[Regex] = Seq(
    // DataFrame-API lambda variables (`transform(c, x => ...)` → x_N)
    """(lambda [a-z]+_)(\d+)(?=#)""".r,
    // encoder lambdas: lambdavariable(MapObject, IntegerType, false, N)
    """(lambdavariable\((?:[^()]|\([^()]*\))*?, )(-?\d+)(?=\))""".r,
    // Observation() names, only where CollectMetrics prints them: a UUID
    // in a literal or a scan path is data and stays
    """(CollectMetrics )([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})""".r,
    // CollectMetrics' trailing dataset id
    """(?m)(CollectMetrics .*, )(\d+)$""".r,
    // AQE query stages in executed plans
    """(QueryStage )(\d+)""".r)

  private def renumber(text: String, r: Regex): String = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    r.replaceAllIn(text, m => Regex.quoteReplacement(
      m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size)))
  }

  /** 128-bit hex fingerprint of the canonical plan. */
  def fingerprint(df: DataFrame): String = md5(canonical(df))

  def md5(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
