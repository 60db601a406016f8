package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites; sf0.001 keeps specs fast. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  def run(name: String) = SparkEntry.queries(name)(spark, sfDir)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test")
}
