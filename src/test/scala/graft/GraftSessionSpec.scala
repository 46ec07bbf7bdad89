package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {

  private def scalaFiles(root: String): List[java.nio.file.Path] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  test("GraftSession is the only session builder in src/main and src/test") {
    // the literal is split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val hits = Seq("src/main", "src/test").flatMap(scalaFiles)
      .filter(f => java.nio.file.Files.readString(f).contains(builder))
      .map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"))
  }

  test("every writeStream in src/main starts inside withStreamShards") {
    // the scope sizes state shards and puts the query's checkpoint and
    // sink files on file: onto the no-fork file system; a stream
    // started outside it gets neither
    def closing(src: String, open: Int): Int = {
      var depth = 0
      var i = open
      while ({ depth += (src(i) match { case '{' => 1 case '}' => -1 case _ => 0 }); depth > 0 })
        i += 1
      i
    }
    val sources = scalaFiles("src/main")
    val unscoped = sources.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      def all(s: String) = Iterator.iterate(src.indexOf(s))(i => src.indexOf(s, i + 1))
        .takeWhile(_ >= 0).toList
      val scopes = all("withStreamShards(").map { at =>
        val open = src.indexOf('{', at)
        (open, closing(src, open))
      }
      all(".writeStream").filterNot { w =>
        val start = src.indexOf(".start()", w)
        scopes.exists { case (a, b) => a < w && start >= 0 && start < b }
      }.map(w => s"${f.getFileName}:${src.take(w).count(_ == '\n') + 1}")
    }
    assert(sources.nonEmpty && unscoped.isEmpty, unscoped)
  }

  test("the test session is the factory's, at the census width") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == PlanCensus.cores.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(TestSpark.spark.sparkContext.appName == "graft")
  }
}
