package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.catalog.Statistics

/** Aggregate-pushdown rule family — the three reference rewrites
  * Catalyst itself never applies:
  *
  *   - [[SemiJoinRewrite]] (ref: rel/rules/SemiJoinRule.java) — a
  *     multiplicity-INSENSITIVE aggregate reading one side of an inner
  *     join replaces the join with LEFT SEMI: existence is all the
  *     aggregate can observe, so the fan-out side stops duplicating
  *     rows. Unconditional — no declared metadata needed.
  *   - [[EagerAggregation]] (ref: rel/rules/
  *     AggregateJoinTransposeRule.java, the EXTENDED variant that
  *     splits aggregate calls) — a decomposable aggregate partially
  *     evaluates BELOW the join, grouped by the fact side's grouping
  *     and join-key columns, and a final aggregate above re-combines.
  *     Gated by declared [[graft.catalog.Statistics]] (the reference
  *     consults RelMdDistinctRowCount the same way): it fires only when
  *     the profiled NDV bound proves the partial shrinks its side at
  *     least 4×.
  *   - [[AggregateUnionTranspose]] (ref: rel/rules/
  *     AggregateUnionTransposeRule.java) — partial aggregates push below
  *     UNION ALL, but ONLY when at least one branch's pushed aggregate
  *     is actually answered by a registered materialized tile (probed
  *     through MvRewrite itself): in plain Spark the transpose trades
  *     one shuffle for N, a pessimization; with a tile it trades a full
  *     branch scan for a cache read.
  *
  * At 100 TB: the semi-join rewrite turns a duplicate of every fact row
  * per matching line item into a build-side existence probe; eager
  * aggregation moves the shuffle from |fact| rows to |distinct keys|
  * rows before the join ships anything; and the union transpose lets an
  * UNION ALL over hot+cold storage answer the hot branch from a tile
  * while only the cold branch is scanned. */
object AggPushdown {

  /** Shared: the aggregate calls of an output list, deduplicated by
    * canonical form. */
  private[plans] def aggCallsOf(a: Seq[NamedExpression]): Seq[AggregateExpression] =
    a.flatMap(_.collect { case ae: AggregateExpression => ae })
      .groupBy(_.canonicalized).values.map(_.head).toSeq

  /** Shared: is every aggregate call DECOMPOSABLE into a partial of the
    * same call plus a final combine (SUM→SUM, MIN→MIN, MAX→MAX,
    * COUNT→SUM), with no DISTINCT and no FILTER? */
  private[plans] def decomposable(aes: Seq[AggregateExpression]): Boolean =
    aes.forall { ae =>
      !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
        (ae.aggregateFunction match {
          case _: Sum | _: Min | _: Max | _: Count => true
          case _ => false
        })
    }

  /** Shared: partial alias + final replacement for one aggregate call.
    * The partial re-evaluates the ORIGINAL call per partial group; the
    * final combine is MIN/MAX over partial MIN/MAX and SUM over partial
    * SUM/COUNT. A widened final type (decimal SUM of SUM) casts back to
    * the original call's type, so the output schema is unchanged. */
  private[plans] def splitCall(ae: AggregateExpression,
      partialName: String): (NamedExpression, Attribute => Expression) = {
    val partial = Alias(ae, partialName)()
    val finalOf: Attribute => Expression = px => {
      val fn = ae.aggregateFunction match {
        case _: Min => Min(px)
        case _: Max => Max(px)
        case _ => Sum(px) // Sum and Count both combine by summing partials
      }
      val combined = AggregateExpression(fn, Complete, isDistinct = false)
      if (combined.dataType == ae.dataType) combined
      else Cast(combined, ae.dataType)
    }
    (partial, finalOf)
  }

  /** Shared order-independence guards: if MvRewrite would answer this
    * very aggregate from a tile, or FkJoinElimination would delete the
    * join under it outright, leave it alone — a cache read or a dead
    * join beats any pushdown, and rule INSTALL order must not decide
    * which fires (probed through the rules themselves, so guard and
    * rewrite can never disagree; both fast-path on empty registries,
    * making the probes free on undeclared sessions). Without the FK
    * probe, an eager partial wedged between the aggregate and the join
    * re-anchors the join keys to an Aggregate output, which the
    * eliminator's leaf resolution rightly refuses — blocking the
    * strictly better rewrite forever. */
  private[plans] def betterRewriteWouldFire(agg: Aggregate): Boolean =
    !MaterializedViews.MvRewrite(agg).fastEquals(agg) ||
      !FkJoinElimination(agg).fastEquals(agg)

  /** Cheap structural pre-check, evaluated BEFORE the guard probes:
    * only an aggregate sitting on a join (or a pruning project over
    * one) can ever match the join rules, so everything else skips the
    * probe work entirely. */
  private[plans] def joinShaped(child: LogicalPlan): Boolean = child match {
    case _: Join => true
    case Project(_, _: Join) => true
    case _ => false
  }

  /** Shared: rewrite the final output list, replacing each original
    * aggregate call with its final combine (matched canonically). */
  private[plans] def rewriteFinals(a: Seq[NamedExpression],
      mapping: Map[Expression, Expression]): Seq[NamedExpression] =
    a.map(_.transform {
      case ae: AggregateExpression if mapping.contains(ae.canonicalized) =>
        mapping(ae.canonicalized)
    }.asInstanceOf[NamedExpression])
}

/** Multiplicity-insensitive aggregate over an inner join reading one
  * side only → LEFT SEMI join (ref: rel/rules/SemiJoinRule.java —
  * PROJECT_TO_SEMI_JOIN / JOIN_TO_SEMI_JOIN): MIN/MAX/any-DISTINCT
  * aggregates (and plain SELECT DISTINCT) cannot observe HOW MANY times
  * a row matched, only WHETHER it matched — so the join's only
  * observable effect is existence filtering, which LeftSemi computes
  * without materializing a single duplicated row. Unconditional: needs
  * no constraints, fires on any schema. Composes with FkJoinElimination
  * at the fixed point: a declared FK then deletes the semi join too
  * (containment = every row matches), leaving a bare fact scan. */
object SemiJoinRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(g, a, child, hint)
        if AggPushdown.joinShaped(child) && insensitive(g, a) &&
          !AggPushdown.betterRewriteWouldFire(agg) =>
      (child match {
        case j: Join => semiOf(AttributeSet((g ++ a).flatMap(_.references)), j)
        case p @ Project(ps, j: Join) if ps.forall(_.deterministic) =>
          semiOf(AttributeSet(ps.flatMap(_.references)), j)
            .map(j2 => p.copy(child = j2))
        case _ => None
      }).map(c2 => Aggregate(g, a, c2, hint)).getOrElse(agg)
  }

  /** Every aggregate call blind to duplicates: DISTINCT anything, or a
    * set-semantics function (MIN/MAX/BOOL_AND/BOOL_OR/BIT_AND/BIT_OR/
    * HLL++). Plain DISTINCT (no calls) passes trivially. COLLECT_SET is
    * set-insensitive too but SURFACES a nondeterministically-ordered
    * array — a rewrite that changes execution order would change the
    * rendered value, so it stays excluded. */
  private def insensitive(g: Seq[Expression], a: Seq[NamedExpression]): Boolean =
    (g ++ a).forall(_.deterministic) &&
      a.flatMap(_.collect { case ae: AggregateExpression => ae }).forall { ae =>
        ae.filter.forall(_.deterministic) &&
          (ae.isDistinct || (ae.aggregateFunction match {
            case _: Min | _: Max | _: BoolAnd | _: BoolOr |
                _: BitAndAgg | _: BitOrAgg | _: HyperLogLogPlusPlus => true
            case _ => false
          }))
      }

  private def semiOf(refs: AttributeSet, j: Join): Option[Join] = {
    if (j.joinType != Inner && j.joinType != Cross) return None
    if (!j.condition.forall(_.deterministic)) return None
    if (refs.subsetOf(j.left.outputSet))
      Some(Join(j.left, j.right, LeftSemi, j.condition, j.hint))
    else if (refs.subsetOf(j.right.outputSet))
      // preserved side becomes the left child; hint sides swap with it
      Some(Join(j.right, j.left, LeftSemi, j.condition,
        JoinHint(j.hint.rightHint, j.hint.leftHint)))
    else None
  }
}

/** Partial-aggregate pushdown below an inner equi-join (ref:
  * rel/rules/AggregateJoinTransposeRule.java extended form — Yan &
  * Larson's eager aggregation): all aggregate inputs on one side, the
  * partial groups by that side's grouping columns plus its join keys,
  * and the final aggregate above the join re-combines. Sound for any
  * inner equi-join — every row of a partial group shares its join keys,
  * so the group matches the far side as a unit and each (row, match)
  * pair is accounted exactly once by (group, match) × partial.
  *
  * Gated by declared Statistics — rows/ndv(partial keys) must reach
  * `minReduction` (4) — and resolved through the producing leaf, so a
  * renamed column never borrows another table's profile. Applies
  * recursively across a join tree at the optimizer's fixed point (the
  * partial lands just above the fact scan of a snowflake), and
  * terminates because a pushed partial's keys no longer resolve to a
  * leaf through the new Aggregate. */
object EagerAggregation extends Rule[LogicalPlan] {
  import AggPushdown._

  /** The least rows/ndv ratio a partial must prove to be pushed. */
  private val minReduction = 4.0

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(g, a, child, hint)
        if AggPushdown.joinShaped(child) &&
          !AggPushdown.betterRewriteWouldFire(agg) =>
      (child match {
        case j: Join => push(g, a, j)
        case Project(ps, j: Join) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          push(g, a, j) // pruning-only project: the final agg reads the join directly
        case _ => None
      }).map { case (a2, j2) => Aggregate(g, a2, j2, hint) }.getOrElse(agg)
  }

  private def push(g: Seq[Expression], a: Seq[NamedExpression],
      j: Join): Option[(Seq[NamedExpression], Join)] = {
    if (j.condition.isEmpty) return None
    // empty grouping: a zero-match join yields zero groups either way
    // only when groups exist; a global COUNT over an empty join must
    // stay 0, which SUM-of-partials would turn into NULL — refuse
    if (g.isEmpty || !g.forall(_.isInstanceOf[AttributeReference])) return None
    if (!(g ++ a).forall(_.deterministic)) return None
    // a non-equi conjunct can distinguish rows within a partial group,
    // so nothing pushes
    val pairs = StarShape.equiPairs(j.condition.get).getOrElse(return None)
    // outer joins admit the push only into the PRESERVED side: an
    // unmatched partial group null-extends exactly once and still
    // carries its whole partial, so the accounting argument holds
    // verbatim; the null-extensible side cannot host the partial — it
    // would have to invent the extension rows (ref:
    // AggregateJoinTransposeRule's isAggregateSupported join checks)
    val leftOk = j.joinType == Inner || j.joinType == LeftOuter
    val rightOk = j.joinType == Inner || j.joinType == RightOuter
    (if (leftOk) trySide(g, a, j, pairs, factLeft = true) else None)
      .orElse(if (rightOk) trySide(g, a, j, pairs, factLeft = false) else None)
  }

  private def trySide(g: Seq[Expression], a: Seq[NamedExpression], j: Join,
      pairs: Seq[(AttributeReference, AttributeReference)], factLeft: Boolean)
      : Option[(Seq[NamedExpression], Join)] = {
    val fact = if (factLeft) j.left else j.right
    val other = if (factLeft) j.right else j.left
    val aes = aggCallsOf(a)
    if (aes.isEmpty || !decomposable(aes)) return None
    if (!aes.forall(_.references.subsetOf(fact.outputSet))) return None
    // orient every equi pair across the join; collect the fact-side keys
    val factKeys = pairs.map { case (x, y) =>
      if (fact.outputSet.contains(x) && other.outputSet.contains(y)) Some(x)
      else if (fact.outputSet.contains(y) && other.outputSet.contains(x)) Some(y)
      else None
    }
    if (factKeys.exists(_.isEmpty)) return None
    val gAttrs = g.map(_.asInstanceOf[AttributeReference])
    val (gFact, gOther) = gAttrs.partition(fact.outputSet.contains)
    if (!gOther.forall(other.outputSet.contains)) return None
    val partialKeys = (gFact ++ factKeys.flatten)
      .groupBy(_.exprId).values.map(_.head).toSeq
    // stats gate: every partial key resolves to ONE profiled leaf whose
    // NDV bound proves the reduction
    val leaves = partialKeys.map(FkJoinElimination.producingLeaf(fact, _))
    if (leaves.exists(_.isEmpty) || leaves.flatten.distinct.size != 1) return None
    val leaf = leaves.head.get
    val reduction = for {
      rows <- Statistics.rowCount(leaf)
      ndv <- Statistics.estimatedNdv(leaf, partialKeys.map(_.name).toSet)
    } yield rows.toDouble / ndv.max(1.0)
    if (!reduction.exists(_ >= minReduction)) return None
    // build the partial below, the final combines above
    val split = aes.zipWithIndex.map { case (ae, i) =>
      ae.canonicalized -> splitCall(ae, s"_eager_$i")
    }
    val partials = split.map(_._2._1)
    val mapping: Map[Expression, Expression] = split.map {
      case (key, (partial, finalOf)) => key -> finalOf(partial.toAttribute)
    }.toMap
    val partialAgg = Aggregate(partialKeys,
      (partialKeys: Seq[NamedExpression]) ++ partials, fact)
    val j2 =
      if (factLeft) Join(partialAgg, other, j.joinType, j.condition, j.hint)
      else Join(other, partialAgg, j.joinType, j.condition, j.hint)
    Some((rewriteFinals(a, mapping), j2))
  }
}

/** Partial-aggregate pushdown below UNION ALL, fired only when a
  * registered materialized tile answers at least one pushed branch
  * (ref: rel/rules/AggregateUnionTransposeRule.java; the tile gate is
  * this engine's cost stance — in Spark the bare transpose turns one
  * shuffle into N+1, so it must BUY something, and what it buys is a
  * branch served from cache instead of scanned). The probe runs
  * MvRewrite itself on each candidate partial, so the gate and the
  * rewrite can never disagree; branches the probe rewrote are spliced
  * in rewritten form. */
object AggregateUnionTranspose extends Rule[LogicalPlan] {
  import AggPushdown._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(g, a, u: Union, hint) =>
      attempt(g, a, u).map { case (u2, mapping) =>
        Aggregate(g, rewriteFinals(a, mapping), u2, hint)
      }.getOrElse(agg)
  }

  private def attempt(g: Seq[Expression], a: Seq[NamedExpression],
      u: Union): Option[(Union, Map[Expression, Expression])] = {
    if (u.byName || u.children.size < 2) return None
    if (!g.forall(_.isInstanceOf[AttributeReference])) return None
    if (!(g ++ a).forall(_.deterministic)) return None
    val aes = aggCallsOf(a)
    if (!decomposable(aes)) return None
    // never re-fire on an already-transposed (or tile-spliced) union
    if (u.children.exists(_.exists {
      case _: Aggregate => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _ => false
    })) return None
    val unionOut = u.output
    if (!AttributeSet((g ++ a).flatMap(_.references))
      .subsetOf(AttributeSet(unionOut))) return None
    // one shared split spec; per-child partial aliases must line up
    // positionally AND, for the head child, carry the exprIds the final
    // aggregate references (Union adopts the head child's exprIds)
    val split = aes.zipWithIndex.map { case (ae, i) =>
      (ae, splitCall(ae, s"_ut_$i"))
    }
    val partialsPerChild = u.children.map { child =>
      val sub: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Attribute] =
        unionOut.zip(child.output).map { case (uo, co) => uo.exprId -> co }.toMap
      def remap(e: Expression): Expression = e.transform {
        case ar: AttributeReference if sub.contains(ar.exprId) => sub(ar.exprId)
      }
      val gc = g.map(remap)
      val partials = split.map { case (ae, (headAlias, _)) =>
        val remapped = remap(ae)
        if (child eq u.children.head)
          // head child: reuse the shared alias exprIds verbatim
          Alias(remapped, headAlias.name)(exprId = headAlias.exprId)
        else Alias(remapped, headAlias.name)()
      }
      Aggregate(gc, gc.map(_.asInstanceOf[NamedExpression]) ++ partials, child)
    }
    // the gate: at least one pushed branch must be answered by a tile
    val probed = partialsPerChild.map(p => MaterializedViews.MvRewrite(p))
    if (!probed.zip(partialsPerChild).exists { case (r, p) => !r.fastEquals(p) })
      return None
    val mapping: Map[Expression, Expression] = split.map {
      case (ae, (headAlias, finalOf)) =>
        ae.canonicalized -> finalOf(headAlias.toAttribute)
    }.toMap
    Some((Union(probed, byName = false, allowMissingCol = false), mapping))
  }
}
