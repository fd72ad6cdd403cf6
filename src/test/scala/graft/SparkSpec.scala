package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    // four cores whatever the host: spec parallelism and the golden plans
    // are pinned to local[4]
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
