package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one local JVM session on the mains'
  * settings (GraftSession); 8 threads is plenty at sf0.001.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001  = "/root/testdata/sf0.01"
  val sf01   = "/root/testdata/sf0.1"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", "8")
}
