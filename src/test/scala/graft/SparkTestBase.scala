package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for all suites (JVM-wide — getOrCreate), built by
  * the same factory as every entry point, so the tests run the shipped
  * configuration. */
trait SparkTestBase extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"
}

object SparkTestBase {
  lazy val session: SparkSession = SparkConfDefaults.session()
}
