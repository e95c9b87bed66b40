package graft

/** The one per-query run (`Session.run`) every harness times: the tuning
  * reset before the clock, and the release of cached plans and pinned RDDs
  * after it.
  */
class SessionSpec extends SparkSpec {

  private def floor = spark.conf.get(Tuning.FloorKey)

  test("a query's cpuDenseShuffles never reaches the next run") {
    var seen = ""
    assert(Session.run(spark) {
      Tuning.cpuDenseShuffles(spark)
      seen = floor
      spark.range(10).toDF()
    }.ok)
    assert(seen === Tuning.denseFloor)
    assert(Session.run(spark) { seen = floor; spark.range(10).toDF() }.ok)
    assert(seen === Tuning.defaultFloor)
  }

  test("a checkpointing query leaves no persistent RDD") {
    val run = Session.run(spark) {
      spark.range(100).toDF().cache().localCheckpoint()
    }
    assert(run.ok && run.seconds >= 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a cached plan outlives the run")
  }

  test("pinned RDDs are released when the sink or the build throws") {
    val sinkFails = Session.run(spark, _ => sys.error("sink failed")) {
      spark.range(100).toDF().localCheckpoint()
    }
    assert(sinkFails.error.map(_.getMessage) === Some("sink failed"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val buildFails = Session.run(spark) {
      spark.range(100).toDF().localCheckpoint()
      sys.error("build failed")
    }
    assert(!buildFails.ok)
    assert(intercept[RuntimeException](buildFails.get).getMessage === "build failed")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
