package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole test JVM (suites run
  * sequentially — build.sbt pins Test/parallelExecution := false, since
  * streaming memory-sink query names are session-global). It is the
  * harness session, so specs run on the confs Bench and Verify use.
  */
object SparkFixture {
  lazy val spark: SparkSession = graft.engine.Harness.session()

  /** Smallest corpus — tests must stay fast. */
  val sfDir = "/root/testdata/sf0.001"
}
