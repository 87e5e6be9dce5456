package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide singleton). */
object TestSpark {
  lazy val spark: SparkSession = graft.core.SessionTuning.local("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
}
