package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession via getOrCreate):
  * the harness posture at a fixed 4 cores, whatever SPARK_GRAFT_CPUS says —
  * `Tables.parallelized` writes the default parallelism into analyzed plans,
  * and so into plans/manifest_sf0.001.tsv.
  */
object TestSession {
  lazy val spark: SparkSession = Session.build(4,
    Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
