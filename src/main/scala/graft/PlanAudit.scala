package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, GenerateExec, MapElementsExec, MapPartitionsExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Dev-only whole-surface plan audit: run EVERY declared query against
  * `$SPARK_GRAFT_SF_DIR` (default sf0.01) the way [[ExplainDump]] does,
  * walk the final adaptive plan that ran (query stages and subqueries
  * included), and append one line per query to `<out>/plan_audit.tsv`
  * with counts of the structures that matter at 100 TB — shuffle
  * exchanges and the ones reused instead of re-run, sorts, cartesian /
  * broadcast-nested-loop joins, SortAggregate fallbacks, opaque
  * object-mapping nodes, and scans — then one column per graft rule
  * (`GraftSession.rules` order) with the rule's effective runs while
  * the query was built and run, i.e. whether it fired. A triage list,
  * not a proof.
  * Usage: sbt "runMain graft.PlanAudit /tmp/audit"
  */
object PlanAudit extends AdaptiveSparkPlanHelper {

  /** TSV column → the physical operators it counts. */
  private val columns: Seq[(String, SparkPlan => Boolean)] = Seq(
    "exchanges" -> (_.isInstanceOf[ShuffleExchangeLike]),
    "reusedExchanges" -> (_.isInstanceOf[ReusedExchangeExec]),
    "sorts" -> (_.isInstanceOf[SortExec]),
    "cartesian" -> (_.isInstanceOf[CartesianProductExec]),
    "bnlj" -> (_.isInstanceOf[BroadcastNestedLoopJoinExec]),
    "sortAgg" -> (_.isInstanceOf[SortAggregateExec]),
    "objHashAgg" -> (_.isInstanceOf[ObjectHashAggregateExec]),
    "mapPartitions" -> {
      case _: MapPartitionsExec | _: MapElementsExec | _: DeserializeToObjectExec => true
      case _ => false
    },
    "generate" -> (_.isInstanceOf[GenerateExec]),
    "windows" -> (_.isInstanceOf[WindowExec]),
    "scans" -> (_.isInstanceOf[FileSourceScanExec]))

  /** A `RuleExecutor.dumpTimeSpent` line: rule, effective / total ns,
    * effective / total runs. */
  private val RuleLine = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  /** Effective runs per rule name since the last metering reset. */
  private def effectiveRuns(): Map[String, Long] =
    RuleExecutor.dumpTimeSpent().split("\n").toSeq.collect {
      case RuleLine(rule, _, _, eff, _) => rule -> eff.toLong
    }.toMap

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/audit")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-plan-audit")
    new File(outDir).mkdirs()
    val pw = new PrintWriter(new File(outDir, "plan_audit.tsv"))
    val rules = GraftSession.rules.map(_.ruleName)
    pw.println(("query" +: columns.map(_._1) ++:
      rules.map(_.split("[.$]").last) :+ "err").mkString("\t"))
    val names = SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val row =
        try {
          RuleExecutor.resetMetrics()
          val nodes = collectWithSubqueries(
            ExplainDump.executed(spark, sfDir, name).queryExecution.executedPlan) {
            case p => p
          }
          val fired = effectiveRuns()
          columns.map { case (_, is) => nodes.count(is).toString } ++:
            rules.map(r => fired.getOrElse(r, 0L).toString) :+ ""
        } catch {
          case e: Throwable =>
            (columns ++ rules).map(_ => "") :+
              Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("\\s+", " ").take(80)
        }
      pw.println((name +: row).mkString("\t"))
      pw.flush()
    }
    pw.close()
    println(s"[audit] wrote $outDir/plan_audit.tsv (${names.size} queries)")
    spark.stop()
  }
}
