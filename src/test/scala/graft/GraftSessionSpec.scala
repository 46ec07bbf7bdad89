package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession is the only session builder in src/main and src/test") {
    // the literal is split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(f => java.nio.file.Files.readString(f).contains(builder))
      .map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"))
  }

  test("the test session is the factory's, at the census width") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == PlanCensus.cores.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(TestSpark.spark.sparkContext.appName == "graft")
  }
}
