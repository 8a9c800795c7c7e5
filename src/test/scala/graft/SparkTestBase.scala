package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (ScalaTest runs them in one forked
 * JVM; see build.sbt Test/fork). Built by GraftSession like Verify and
 * Bench, so tests run the same engine; the shuffle width is the tests'
 * own override (8, not the core count). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession("local[8]", 8)
  val sf = "/root/testdata/sf0.001"
}
