package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries)
      .config("spark.file.transferTo", GraftSession.FileTransferTo)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf0001

  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with its contents once the suite
    * finishes. */
  def tempRoot(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  override def afterAll(): Unit =
    try tempRoots.forEach(p => if (Files.exists(p)) {
      val tree = Files.walk(p)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally tree.close()
    })
    finally super.afterAll()
}
