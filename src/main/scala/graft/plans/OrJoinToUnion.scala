package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Coalesce, EqualTo, Expression, Literal, Not, Or, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** OR-of-equi join conditions → UNION ALL of hash joins (ref:
  * rel/rules/JoinExpandOrToUnionRule.java — CoreRules
  * JOIN_EXPAND_OR_TO_UNION). Spark has no hash strategy for
  * `a JOIN b ON a.x = b.x OR a.y = b.y`: with no top-level equi
  * conjunct it falls back to BroadcastNestedLoopJoin — O(|a|·|b|)
  * comparisons, the plan that dies first at 100 TB. The expansion
  * runs each disjunct as its own equi join and unions:
  *
  *   a ⋈[c1] b  UNION ALL  a ⋈[c2 ∧ ¬coalesce(c1, false)] b
  *
  * The negated-previous-disjunct conjunct deduplicates pairs that
  * satisfy several disjuncts (a pair joins under the FIRST disjunct it
  * satisfies; `coalesce(_, false)` gives NULL condition values the
  * same not-matched treatment the original OR gave them). Each branch
  * carries an equi conjunct, so both plan as hash joins — two scans
  * per side (exchange/scan reuse collapses what it can) instead of a
  * quadratic loop.
  *
  * Child plans are shared verbatim between the branches — union
  * branches are independent subtrees, so repeated exprIds across them
  * bind exactly like a self-union. The union's output adopts the first
  * branch (= the original join's) attributes, so parents resolve
  * unchanged. Fires only when the TOP level of the condition is the
  * OR and no hashable conjunct exists beside it (if one does, Spark
  * already hash-joins on it and the OR is a cheap post-filter); an
  * inner disjunct that is itself an OR expands recursively at the
  * fixed point. */
object OrJoinToUnion extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(Or(c1, c2)), hint)
        if c1.deterministic && c2.deterministic &&
          hasEquiPair(c1, j) && hasEquiPair(c2, j) =>
      val dedup = And(c2, Not(Coalesce(Seq(c1, Literal(false)))))
      Union(
        Seq(Join(left, right, Inner, Some(c1), hint),
          Join(left, right, Inner, Some(dedup), hint)),
        byName = false, allowMissingCol = false)
  }

  /** Does the (possibly conjunctive) disjunct contain at least one
    * attr=attr pair across the join — the conjunct that makes the
    * branch hashable? */
  private def hasEquiPair(c: Expression, j: Join): Boolean =
    splitConjunctivePredicates(c).exists {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (j.left.outputSet.contains(a) && j.right.outputSet.contains(b)) ||
          (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))
      case _ => false
    }
}
