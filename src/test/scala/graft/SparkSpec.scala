package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one lazy SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01  = "/root/testdata/sf0.01"
}

object SparkSpec {
  // one session per JVM: suites share it (Test / fork := true gives one
  // JVM per test run), so startup cost is paid once
  lazy val session: SparkSession = GraftSession(cores = 8)
}
