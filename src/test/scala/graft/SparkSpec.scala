package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession built by
  * [[LocalSession]] on 4 cores, the conf of the Verify harness.
  */
object SparkSpec {
  lazy val spark: SparkSession = LocalSession(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
