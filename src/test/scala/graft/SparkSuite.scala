package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf = "/root/testdata/sf0.001"
}

object SparkSuite {
  // the entry points' profile on a fixed 4 cores, so partition counts
  // (and the plans specs pin) do not follow the host
  lazy val session: SparkSession = Harness.session(4)
}
