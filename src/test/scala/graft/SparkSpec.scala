package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites, built like the library's
  * (small shuffle width — local[4] keeps unit runs fast; scale behavior
  * is exercised by the bench at local[32]). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
