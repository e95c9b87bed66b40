package graft

import org.apache.spark.sql.SparkSession

/** Per-query session tuning hooks.
  *
  * AQE's partition coalescing targets BYTES (max(total/parallelism,
  * minPartitionSize)), which is the right currency for shuffle-bound
  * stages but starves CPU-dense ones: a stage whose rows carry heavy
  * per-row work on narrow keys (array_intersect verification of candidate
  * pairs, signature agreement folds) coalesces to totalBytes/1m tasks no
  * matter how many cores are idle. A query whose dominant stage is
  * CPU-dense declares it via [[cpuDenseShuffles]]; `Session.run` resets
  * the floor to the session default before every query so the
  * declaration never leaks across queries.
  *
  * Scale posture: the floor only binds when totalBytes/parallelism <
  * minPartitionSize — i.e. on byte-small shuffles. At 100 TB the same
  * stages shuffle GBs and the advisory size governs, so this is inert at
  * scale, exactly like Tables.parallelized. A blanket 64k floor was
  * measured (+34 s over the q1xx/q2xx sweep) to hurt byte-small but
  * CPU-light stages — hence opt-in per operator, not a session default.
  */
object Tuning {
  val FloorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Session default: Spark's own 1m (64k everywhere measured worse, above). */
  val defaultFloor = "1m"

  /** Floor used by queries that declare their shuffles CPU-dense. */
  val denseFloor = "64k"

  /** Declare the calling query's shuffles CPU-dense for this execution.
    * `Session.run` calls [[reset]] before each query's build. Note this
    * mutates session conf from inside a query builder — safe under the
    * per-query reset, but a concurrent-query harness would need per-thread
    * sessions (`SparkSession.newSession`).
    */
  def cpuDenseShuffles(s: SparkSession): Unit =
    s.conf.set(FloorKey, denseFloor)

  def reset(s: SparkSession): Unit = s.conf.set(FloorKey, defaultFloor)

  /** Materialize several INDEPENDENT frames' localCheckpoints
    * concurrently: an eager localCheckpoint is a blocking job, so a query
    * that checkpoints two independent pipelines back-to-back serializes
    * them even when the cluster has idle capacity (profiled: q133's q54 +
    * q55 legs are 1.8 s + 1.3 s sequential, ~max of the two overlapped).
    * Each checkpoint is submitted from its own thread — Spark's scheduler
    * interleaves the jobs; results are unaffected (checkpointing is
    * content-neutral). Use ONLY for frames with no data dependency and no
    * session-conf mutation between them.
    */
  def checkpointAll(dfs: org.apache.spark.sql.DataFrame*)
      : Seq[org.apache.spark.sql.DataFrame] = {
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // blocking{}: localCheckpoint is a blocking Spark action, and the
    // shared fork-join pool would starve if this helper were ever nested
    // or given more legs than pool threads — blocking() grows the pool.
    Await.result(
      Future.sequence(dfs.map(df => Future(blocking { df.localCheckpoint() }))),
      Duration.Inf)
  }
}
