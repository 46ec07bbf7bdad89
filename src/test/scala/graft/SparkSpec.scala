package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide [[GraftSession]] at the
  * width the plan golden is pinned at. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(PlanCensus.cores)
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
  def run(name: String) = SparkEntry.queries(name)(spark, sf)
}
