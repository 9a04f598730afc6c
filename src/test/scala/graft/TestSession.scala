package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (per test-JVM). */
object TestSession {
  lazy val spark: SparkSession = core.Session.build(
    master = "local[4]", appName = "graft-test", shufflePartitions = 4)
  val sf: String = "/root/testdata/sf0.001"
}
