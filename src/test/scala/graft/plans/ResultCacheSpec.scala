package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Plan fingerprints (stability + drift sensitivity) and result-set
  * caching (hit/miss semantics, version invalidation, no-rescan serving).
  */
class ResultCacheSpec extends SparkSpec {

  private def q1 = graft.Tables.lineitem(spark, sfDir)
    .groupBy(col("l_returnflag"))
    .agg(sum(expr("cast(round(l_quantity*100) as bigint)")).as("s"))

  // DataFrame-API lambdas and Observation() carry per-build counters
  // (x_N, a UUID name) that must not leak into the identity
  private def qLambda = graft.Tables.lineitem(spark, sfDir)
    .select(transform(array(col("l_quantity")), x => x * 2).as("t"))
  private def qObserved = q1.observe(
    org.apache.spark.sql.Observation(), count(lit(1)).as("n"))

  test("fingerprint is stable across plannings of the same query") {
    assert(PlanFingerprint.fingerprint(q1) === PlanFingerprint.fingerprint(q1))
    assert(PlanFingerprint.fingerprint(qLambda) ===
      PlanFingerprint.fingerprint(qLambda))
    assert(PlanFingerprint.fingerprint(qObserved) ===
      PlanFingerprint.fingerprint(qObserved))
  }

  test("different source directories never share a fingerprint") {
    // the cache-poisoning hazard: same query shape, different data
    def shape(dir: String) = graft.Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(PlanFingerprint.fingerprint(shape(sfDir)) !==
      PlanFingerprint.fingerprint(shape("/root/testdata/sf0.01")))
    // and different literal constants must differ too
    val in5 = q1.where(col("l_returnflag").isin("R"))
    val in7 = q1.where(col("l_returnflag").isin("N"))
    assert(PlanFingerprint.fingerprint(in5) !== PlanFingerprint.fingerprint(in7))
    // a UUID literal is data, not an Observation() name to renumber
    def byUuid(u: String) =
      PlanFingerprint.fingerprint(q1.where(col("l_returnflag") === u))
    assert(byUuid("3f2a6c1e-0b7d-4e59-9a1c-5d8e2f4b7a90") !==
      byUuid("9c1b4d2e-7f3a-4b86-8e5d-1a2c3b4d5e6f"))
  }

  test("fingerprint moves when the plan meaningfully changes") {
    val base = PlanFingerprint.fingerprint(q1)
    val filtered = PlanFingerprint.fingerprint(
      q1.where(col("l_returnflag") =!= "R"))
    assert(base !== filtered, "an extra predicate must change the identity")
    val otherAgg = PlanFingerprint.fingerprint(
      graft.Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag"))
        .agg(max(expr("cast(round(l_quantity*100) as bigint)")).as("s")))
    assert(base !== otherAgg, "a different aggregate must change the identity")
    // nested lambdas are all named x_N by the DataFrame API: renumbering
    // keeps `x_0 -> x_1 -> x_0` apart from `x_0 -> x_1 -> x_1`
    def nested(pick: (Column, Column) => Column) =
      spark.range(3).select(array(col("id")).as("a"))
        .select(transform(col("a"), x => transform(col("a"), y => pick(x, y))))
    assert(PlanFingerprint.fingerprint(nested((x, _) => x)) !==
      PlanFingerprint.fingerprint(nested((_, y) => y)),
      "a lambda binding a different variable must change the identity")
  }

  test("cache hits skip re-execution and never rescan the source") {
    val cache = new ResultCache(spark)
    val first = cache.get(q1, dataVersion = "v1")
    assert(cache.misses === 1 && cache.hits === 0)
    val second = cache.get(q1, dataVersion = "v1")
    assert(cache.hits === 1, "identical plan + version must hit")
    assert(second.collect().toSet === first.collect().toSet)
    // served from materialized blocks: no parquet scan in the hit's plan
    val servedPlan = second.queryExecution.executedPlan.toString
    assert(!servedPlan.contains("lineitem.parquet"), servedPlan)
    // data-version advance misses (the load-invalidation path)
    cache.get(q1, dataVersion = "v2")
    assert(cache.misses === 2)
    // invalidation empties the cache; next get re-executes
    cache.invalidate()
    assert(cache.size === 0)
    cache.get(q1, dataVersion = "v2")
    assert(cache.misses === 3)
    assert(cache.statsDf.head().getLong(0) === cache.hits)
  }

  test("LRU eviction keeps the cache bounded") {
    val cache = new ResultCache(spark, maxEntries = 2)
    cache.get(q1, "a"); cache.get(q1, "b"); cache.get(q1, "c")
    assert(cache.size === 2, "eldest entry must evict")
    cache.get(q1, "c")
    assert(cache.hits === 1, "recent entries survive")
    cache.get(q1, "a")
    assert(cache.misses === 4, "evicted entry re-executes")
  }
}
