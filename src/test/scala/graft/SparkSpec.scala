package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites; sf0.001 keeps specs fast. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  def run(name: String) = SparkEntry.queries(name)(spark, sfDir)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test")

  /** A plan's text with what differs between any two builds of the same
    * query masked: expression ids, object hashes and generated-name
    * counters. */
  def maskedPlan(plan: LogicalPlan): String =
    plan.toString.replaceAll("#\\d+L?", "#").replaceAll("@[0-9a-f]+", "@")
      .replaceAll("_common_expr_\\d+", "_common_expr_")

  /** A masked plan as comparable lines. Lists that Catalyst orders by
    * hash (distinct-aggregate Expand projections, eager partials) follow
    * the ids, so each line compares as a multiset of its tokens. */
  def planTokens(masked: String): Seq[Seq[String]] =
    masked.linesIterator.map(_.split("\\b").sorted.toSeq).toSeq
}
