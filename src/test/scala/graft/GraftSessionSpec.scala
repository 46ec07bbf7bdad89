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

  /** `file:line: text` of each line of a `src/main` source that
    * contains one of `needles`. */
  private def linesWith(needles: String*): Seq[String] =
    scalaFiles("src/main").flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if needles.exists(l.contains) => s"${f.getFileName}:${i + 1}: ${l.trim}"
      }
    }

  test("the one writeStream in src/main is in Streams.start") {
    // start runs the query on a child session that sizes its state
    // shards and puts its checkpoint and sink files on file: onto the
    // no-fork file system; a stream started elsewhere gets neither
    val starts = linesWith(".writeStream")
    assert(starts.size == 1 && starts.head.startsWith("Streams.scala:"), starts)
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala"))
    val at = src.indexOf(".writeStream")
    assert(src.lastIndexOf("  def ", at) == src.indexOf("  def start("), "not in Streams.start")
  }

  test("conf.set and conf.unset in src/main appear only in GraftSession and Tables.events") {
    // graft runs frames that need settings of their own on a
    // GraftSession.child and never changes its caller's conf
    val sets = linesWith("conf.set", "conf.unset")
    val elsewhere = sets.filterNot(_.startsWith("GraftSession.scala:"))
    // Tables.events sets nanosAsLong on the caller's session, the one
    // that plans its parquet scan
    assert(sets.nonEmpty && elsewhere.size == 1 && elsewhere.head.startsWith("Tables.scala:") &&
      elsewhere.head.contains("spark.sql.legacy.parquet.nanosAsLong"), elsewhere)
  }

  test("sizing constants are written only in Sizing; no sample-rate override is read") {
    // a constant spelled out elsewhere is a second copy of a law; the
    // sample rates are values each op computes (or a spec passes)
    val constant = """\b(500000L|499999L|2e7|32L << 20)\b""".r
    val copies = scalaFiles("src/main").filterNot(_.getFileName.toString == "Sizing.scala")
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("*") && !l.trim.startsWith("/*") &&
              constant.findFirstIn(l.split("//", 2)(0)).isDefined =>
            s"${f.getFileName}:${i + 1}: ${l.trim}"
        }
      }
    assert(copies.isEmpty, copies)
    val overrides = linesWith(
      "getOption(\"graft.ssjoin", "getOption(\"graft.bandsweep", "getOption(\"graft.knnrecall")
    assert(overrides.isEmpty, overrides)
  }

  test("the test session is the factory's, at the census width") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == PlanCensus.cores.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(TestSpark.spark.sparkContext.appName == "graft")
  }
}
