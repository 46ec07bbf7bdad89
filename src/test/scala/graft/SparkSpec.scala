package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide [[GraftSession]] at the
  * width the plan golden is pinned at. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(PlanCensus.cores)
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
  def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private val tempDirs = collection.mutable.Buffer.empty[java.io.File]

  /** A fresh temp dir, deleted with its contents when the suite ends. */
  def tempDir(prefix: String): java.io.File = tempDirs.synchronized {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(graft.sources.LocalFiles.deleteRec))
    finally super.afterAll()
}
