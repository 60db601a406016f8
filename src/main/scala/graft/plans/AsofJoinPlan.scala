package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** ASOF JOIN as a first-class Catalyst operator (ref:
  * rel/core/AsofJoin.java:1-63 — logical node carrying the equi-key and
  * the temporal MATCH_CONDITION; planned by EnumerableAsofJoin in the
  * reference). Here the logical node is lowered by an optimizer rule
  * into the union + windowed carry-forward plan of [[AsofJoin.leftAsof]]
  * — preference order (a)+(c) of the build guide: compose built-in
  * operators, driven from a custom node so the API/SQL layer can emit
  * `ASOF JOIN` without knowing the lowering. A dedicated SparkPlan
  * (sorted-merge cogroup) can later replace the lowering without
  * touching callers.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    key: String,
    leftTime: String,
    rightTime: String,
    payload: Seq[String]) extends BinaryNode {

  private def l(name: String): Attribute =
    left.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"left side lacks column $name"))
  private def r(name: String): Attribute =
    right.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"right side lacks column $name"))

  /** Mirrors AsofJoin.leftAsof's column order: key, remaining left
    * columns, payload, right time (payload/rightTime become nullable —
    * unmatched left rows carry nulls). */
  override def output: Seq[Attribute] =
    (l(key) +: left.output.filterNot(_.name == key)) ++
      (payload :+ rightTime).map(n => r(n).withNullability(true))

  /** Everything the lowering consumes; without this, ColumnPruning sees
    * an expression-free node and strips the children bare. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output ++ Seq(r(key), r(rightTime)) ++ payload.map(r))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule lowering [[AsofJoinPlan]] to executable operators,
  * re-aliasing the lowered plan's fresh attributes back to the node's
  * expression ids so parent operators keep resolving. */
case class LowerAsofJoin(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case aj: AsofJoinPlan =>
      val ldf = GraftSqlBridge.ofRows(spark, aj.left)
      val rdf = GraftSqlBridge.ofRows(spark, aj.right)
      val lowered = GraftSqlBridge.logicalPlan(
        AsofJoin.leftAsof(ldf, rdf, aj.key, aj.leftTime, aj.rightTime, aj.payload))
      val analyzed = spark.sessionState.analyzer.execute(lowered)
      val aliased: Seq[NamedExpression] = aj.output.map { o =>
        val src = analyzed.output.find(_.name == o.name).getOrElse(
          throw new IllegalStateException(s"lowered asof plan lacks column ${o.name}"))
        Alias(src, o.name)(exprId = o.exprId)
      }
      Project(aliased, analyzed)
  }
}

object AsofJoinPlan {
  /** Public API: build the logical node (installs the graft rules, the
    * lowering among them, into the session). */
  def asof(
      spark: SparkSession,
      left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      key: String, leftTime: String, rightTime: String,
      payload: Seq[String]): org.apache.spark.sql.DataFrame = {
    graft.GraftSession.install(spark)
    GraftSqlBridge.ofRows(spark, AsofJoinPlan(
      GraftSqlBridge.logicalPlan(left), GraftSqlBridge.logicalPlan(right),
      key, leftTime, rightTime, payload))
  }
}
