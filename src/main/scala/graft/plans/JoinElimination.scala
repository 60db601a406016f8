package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, EqualTo, ExprId, Expression, IsNotNull, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.catalog.Constraints
import graft.catalog.Constraints.ResolvedPair

/** The scan/join shape MvRewrite's tile signatures and
  * FkJoinElimination's dropped sides both match: projects/filters over
  * inner equi-joins of file scans (the SubstitutionVisitor's
  * canonicalize step). `leaves` are the scans' root paths in plan
  * order, `filters` the split filter conjuncts, and `joins` each inner
  * join with its attr=attr pairs, children before parents. */
private[plans] final case class StarShape(
    leaves: Seq[Set[String]], filters: Seq[Expression],
    joins: Seq[(Join, Seq[(AttributeReference, AttributeReference)])])

private[plans] object StarShape extends PredicateHelper {

  /** The shape of `p`, or None for anything else. Peels bare-attribute
    * and same-name-cast Projects, SubqueryAlias, View and ResolvedHint;
    * an inner join qualifies only when every conjunct of its condition
    * is attr=attr. */
  def of(p: LogicalPlan): Option[StarShape] = p match {
    case Project(ps, ch) if ps.forall(peelable) => of(ch)
    case logical.Filter(cond, ch) =>
      of(ch).map(s => s.copy(filters = splitConjunctivePredicates(cond) ++ s.filters))
    case a: logical.SubqueryAlias => of(a.child)
    // a temp-view source carries a View wrapper under its alias — the
    // same name-transparency argument as SubqueryAlias applies
    case v: logical.View => of(v.child)
    case h: logical.ResolvedHint => of(h.child)
    case j: Join if j.joinType == Inner && j.condition.isDefined =>
      for {
        pairs <- equiPairs(j.condition.get)
        l <- of(j.left)
        r <- of(j.right)
      } yield StarShape(l.leaves ++ r.leaves, l.filters ++ r.filters,
        l.joins ++ r.joins :+ (j -> pairs))
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some(StarShape(Seq(fs.location.rootPaths.map(_.toString).toSet), Nil, Nil))
      case _ => None
    }
    case _ => None
  }

  /** A Project entry the walk sees through: a bare attribute, or an
    * identity-preserving same-name cast (the loader's TIMESTAMP_NTZ→
    * TIMESTAMP normalization projects every column through one). */
  def peelable(e: NamedExpression): Boolean = e match {
    case _: AttributeReference => true
    case Alias(Cast(a: AttributeReference, _, _, _), n) => a.name == n
    case _ => false
  }

  /** The condition as attr=attr pairs; None when any conjunct is
    * anything else. */
  def equiPairs(cond: Expression): Option[Seq[(AttributeReference, AttributeReference)]] =
    sequence(splitConjunctivePredicates(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) => Some((a, b))
      case _ => None
    })

  /** All the values, or None when any is missing. */
  def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.flatten) else None
}

/** Constraint-based join elimination (ref: rel/rules/
  * ProjectJoinRemoveRule.java — the reference removes a join when only
  * one side's columns are used and the other side joins on a unique
  * key; losslessness comes from the declared referential constraints,
  * schema/Statistic.java getReferentialConstraints + getKeys).
  *
  * Three arms, each exprId-resolved to the scan leaves that PRODUCE the
  * join attributes (a same-named column on another leaf can never
  * borrow a constraint):
  *
  *   - INNER: a node reading only kept-side columns above
  *     `keep ⋈ dropped` deletes the dropped side when the dropped
  *     leaves form a TREE of declared FK edges directed away from the
  *     kept side (Constraints.losslessResolved) — the single-dim star
  *     case, the right-deep snowflake `fact ⋈ (dim ⋈ dim₂)` case, and
  *     composite keys (a multi-column FK is ONE edge consuming all its
  *     equi pairs together) all reduce to the same traversal. Each FK
  *     proves exactly one dim match per existing row, so multiplicity
  *     and every kept column are preserved. Dropped-side filters must
  *     be the IsNotNull conjuncts Catalyst itself infers on the join
  *     keys — vacuous by identity (matched keys are never null; fact
  *     keys are declared non-null), matched by exprId, never by name.
  *
  *   - LEFT/RIGHT OUTER: the dropped side needs only a declared UNIQUE
  *     key pinned by the join's equi conjuncts (ref:
  *     ProjectJoinRemoveRule.java:43,80 — no integrity conditions at
  *     all): an outer join to a unique key preserves multiplicity by
  *     construction (≤1 match; unmatched rows are retained, and no
  *     dropped-side column is read). Dropped-side filters and extra
  *     join conjuncts only REDUCE the match set, so any deterministic
  *     ones are admissible.
  *
  * At 100 TB this deletes the broadcast/shuffle the query never needed:
  * generated BI SQL habitually joins the whole star (often LEFT, often
  * on composite tenant keys) and then reads two fact columns — with
  * declared constraints the dim scans and the joins vanish instead of
  * merely broadcasting. Fixed-point safe: the rewrite output contains
  * no join to re-fire on, and a snowflake eliminates leaf-by-leaf or
  * whole-subtree to the same result. */
object FkJoinElimination extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    // fast path: no declared constraints, nothing can ever eliminate —
    // the rule (and the pushdown family's guard probing it) costs one
    // registry check per plan
    if (Constraints.nothingDeclared) plan
    else plan.transformUp {
      case p @ Project(exprs, j: Join) =>
        eliminate(exprs.flatMap(_.references), j)
          .map(keep => Project(exprs, keep)).getOrElse(p)
      case a @ Aggregate(groupings, aggExprs, j: Join, hint) =>
        eliminate((groupings ++ aggExprs).flatMap(_.references), j)
          .map(keep => Aggregate(groupings, aggExprs, keep, hint)).getOrElse(a)
    }

  private def eliminate(refs0: Seq[Attribute], j: Join): Option[LogicalPlan] = {
    if (j.condition.isEmpty) return None
    val refs = AttributeSet(refs0)
    j.joinType match {
      case Inner =>
        attemptInner(refs, j.condition.get, j.left, j.right)
          .orElse(attemptInner(refs, j.condition.get, j.right, j.left))
      case LeftOuter => attemptOuter(refs, j.condition.get, j.left, j.right)
      case RightOuter => attemptOuter(refs, j.condition.get, j.right, j.left)
      // a SEMI join under FK coverage is an identity: containment +
      // non-null fact keys mean every left row has a match, and a semi
      // join never duplicates — so the existence probe itself vanishes
      // (the shape SemiJoinRewrite leaves behind; ref: the SemiJoinRule →
      // constraint-removal composition of rel/rules/SemiJoinRule.java
      // over declared RelReferentialConstraints). The exactly-one-match
      // tree proof is stronger than semi needs, and therefore sound.
      case LeftSemi => attemptInner(refs, j.condition.get, j.left, j.right)
      case _ => None
    }
  }

  // ---- INNER: FK-directed-tree elimination -------------------------------

  private def attemptInner(refs: AttributeSet, cond: Expression,
      keep: LogicalPlan, drop: LogicalPlan): Option[LogicalPlan] = {
    if (!refs.subsetOf(keep.outputSet)) return None
    // a non-equi conjunct could filter an inner join's unique match
    // away, losing the kept row
    val condPairs = StarShape.equiPairs(cond).getOrElse(return None)
    val info = dropInfo(drop).getOrElse(return None)
    // resolve each outer pair: keep-side attr to its producing keep
    // leaf, drop-side attr to its producing drop leaf
    val outer = condPairs.map { case (a, b) =>
      val oriented =
        if (drop.outputSet.contains(a) && keep.outputSet.contains(b))
          Some((b, a))
        else if (drop.outputSet.contains(b) && keep.outputSet.contains(a))
          Some((a, b))
        else None
      oriented.flatMap { case (ka, da) =>
        for {
          kl <- producingLeaf(keep, ka)
          dl <- producingLeaf(drop, da)
        } yield (ResolvedPair(kl, ka.name, dl, da.name), kl, da)
      }
    }
    if (outer.exists(_.isEmpty)) return None
    val resolvedOuter = outer.flatten
    // the dropped side must contribute nothing but the unique-key
    // matches: its only filters may be the IsNotNull conjuncts Catalyst
    // infers on the join keys themselves — vacuous by identity (a
    // null-keyed dim row can never match; fact-side keys of covered
    // internal joins are declared non-null), bound by exprId so a
    // same-named nullable dim column with a user-written IS NOT NULL
    // declines the elimination
    val vacuousIds: Set[ExprId] =
      info.pairAttrIds ++ resolvedOuter.map(_._3.exprId)
    val filtersOk = info.filters.forall {
      case IsNotNull(at: AttributeReference) =>
        vacuousIds.contains(at.exprId) ||
          // the residue an earlier elimination leaves behind: IsNotNull
          // on a column this leaf's own FK declares non-null (e.g.
          // customer.c_nationkey after its nation join was dropped) —
          // resolved through the producing leaf, never by name alone
          producingLeaf(drop, at)
            .exists(l => Constraints.declaredNonNull(l, at.name))
      case _ => false
    }
    if (!filtersOk) return None
    val base = resolvedOuter.map(_._2).distinct
    val pending = resolvedOuter.map(_._1) ++ info.innerPairs
    if (Constraints.losslessResolved(base, info.leaves, pending)) Some(keep)
    else None
  }

  // ---- OUTER: unique-key elimination -------------------------------------

  private def attemptOuter(refs: AttributeSet, cond: Expression,
      keep: LogicalPlan, drop: LogicalPlan): Option[LogicalPlan] = {
    if (!refs.subsetOf(keep.outputSet)) return None
    val conjs = splitConjunctivePredicates(cond)
    if (!conjs.forall(_.deterministic)) return None
    val info = dropInfo(drop).getOrElse(return None)
    // one leaf only: an inner join INSIDE the dropped side can multiply
    // its unique-key rows, voiding the ≤1-match argument
    if (info.leaves.size != 1 || info.innerPairs.nonEmpty) return None
    val leaf = info.leaves.head
    // dropped-side filters only shrink the match set (uniqueness
    // survives any subset); determinism is the only requirement
    if (!info.filters.forall(_.deterministic)) return None
    // columns of the dropped leaf PINNED by the condition — equated to
    // a kept-side attribute (constant per kept row) or to a literal
    val pinned = conjs.flatMap {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if keep.outputSet.contains(a) && drop.outputSet.contains(b) =>
        producingLeaf(drop, b).filter(_ == leaf).map(_ => b.name)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if keep.outputSet.contains(b) && drop.outputSet.contains(a) =>
        producingLeaf(drop, a).filter(_ == leaf).map(_ => a.name)
      case EqualTo(a: AttributeReference, _: Literal)
          if drop.outputSet.contains(a) =>
        producingLeaf(drop, a).filter(_ == leaf).map(_ => a.name)
      case EqualTo(_: Literal, b: AttributeReference)
          if drop.outputSet.contains(b) =>
        producingLeaf(drop, b).filter(_ == leaf).map(_ => b.name)
      case _ => None
    }.toSet
    if (Constraints.uniqueKeyOn(leaf, pinned)) Some(keep) else None
  }

  // ---- shared shape analysis ---------------------------------------------

  /** What a droppable subtree looks like: a [[StarShape]].
    * `innerPairs` are the subtree's own join pairs, leaf-resolved;
    * `pairAttrIds` the exprIds of every attribute those pairs touch
    * (their inferred IsNotNull filters are vacuous exactly when the
    * pairs prove FK-covered). */
  private final case class DropInfo(
      leaves: Seq[Set[String]], filters: Seq[Expression],
      innerPairs: Seq[ResolvedPair], pairAttrIds: Set[ExprId])

  /** Each pair resolves to its producing leaves at ITS join: resolving
    * from the subtree root fails once a pruning Project above the join
    * drops a key. */
  private def dropInfo(p: LogicalPlan): Option[DropInfo] =
    StarShape.of(p).flatMap { star =>
      val pairs = star.joins.flatMap { case (jn, ps) => ps.map(jn -> _) }
      StarShape.sequence(pairs.map { case (jn, (a, b)) =>
        for {
          la <- producingLeaf(jn, a)
          lb <- producingLeaf(jn, b)
        } yield ResolvedPair(la, a.name, lb, b.name)
      }).map(resolved => DropInfo(star.leaves, star.filters, resolved,
        pairs.flatMap { case (_, (a, b)) => Seq(a.exprId, b.exprId) }.toSet))
    }

  /** Root paths of the scan leaf that PRODUCES `attr` (peeling the
    * same-name normalization cast the loader interposes), or None when
    * the attribute is computed rather than scanned. */
  private[plans] def producingLeaf(p: LogicalPlan,
      attr: AttributeReference): Option[Set[String]] = p match {
    case Project(ps, ch) =>
      ps.collectFirst {
        case al @ Alias(Cast(src: AttributeReference, _, _, _), n)
            if al.exprId == attr.exprId && src.name == n => src
      } match {
        case Some(src) => producingLeaf(ch, src)
        case None if ch.outputSet.contains(attr) => producingLeaf(ch, attr)
        case None => None
      }
    case logical.Filter(_, ch) => producingLeaf(ch, attr)
    case a: logical.SubqueryAlias => producingLeaf(a.child, attr)
    case v: logical.View => producingLeaf(v.child, attr)
    case h: logical.ResolvedHint => producingLeaf(h.child, attr)
    case jn: Join =>
      if (jn.left.outputSet.contains(attr)) producingLeaf(jn.left, attr)
      else if (jn.right.outputSet.contains(attr)) producingLeaf(jn.right, attr)
      else None
    case lr: LogicalRelation if lr.outputSet.contains(attr) => lr.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }
    case _ => None
  }
}

/** Aggregate removal over a declared unique key (ref:
  * rel/rules/AggregateRemoveRule.java — the reference deletes an
  * Aggregate whose grouping keys are known unique, because every group
  * holds exactly one row; uniqueness comes from the same catalog
  * metadata the join-removal rules trust, schema/Statistic.java
  * `getKeys`).
  *
  * `SELECT DISTINCT unique_key, … FROM t` and
  * `GROUP BY unique_key` with only identity-on-singleton aggregates
  * (MIN/MAX) collapse to a Project: the grouping attributes resolve —
  * by exprId, through their producing scan — to ONE leaf whose
  * declared unique key they cover, and the plan below is a
  * projects/filters chain (row-count can only shrink, so uniqueness
  * survives). A rename can never borrow the key: an aliased attribute
  * does not resolve to the leaf.
  *
  * At 100 TB this deletes a full hash shuffle of the table — the
  * generated-SQL habit of `SELECT DISTINCT pk, cols` costs a scan
  * instead of a repartition of every row. */
object UniqueKeyAggregateRemove extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
  import org.apache.spark.sql.catalyst.expressions.NamedExpression

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupings, aggExprs, child, _)
        if groupings.nonEmpty &&
          groupings.forall(_.isInstanceOf[AttributeReference]) =>
      val gAttrs = groupings.map(_.asInstanceOf[AttributeReference])
      val rewritten = aggExprs.map(identityOnSingleton)
      val applies = rewritten.forall(_.isDefined) &&
        singleLeafBelow(child).exists { leaf =>
          val pinned = gAttrs.flatMap(a =>
            FkJoinElimination.producingLeaf(child, a)
              .filter(_ == leaf).map(_ => a.name)).toSet
          graft.catalog.Constraints.uniqueKeyOn(leaf, pinned)
        }
      if (applies) logical.Project(rewritten.flatten, child) else agg
  }

  /** The aggregate expression rewritten for singleton groups: MIN/MAX
    * (no FILTER) are identity on one row and unwrap to their child;
    * anything still carrying an aggregate function afterwards refuses.
    * Names and exprIds are preserved, so the node above resolves
    * unchanged. */
  private def identityOnSingleton(ne: NamedExpression): Option[NamedExpression] = {
    val unwrapped = ne.transform {
      case AggregateExpression(Min(c), _, _, None, _) => c
      case AggregateExpression(Max(c), _, _, None, _) => c
    }
    val clean = unwrapped.collectFirst {
      case a: AggregateExpression => a
    }.isEmpty
    if (clean) Some(unwrapped.asInstanceOf[NamedExpression]) else None
  }

  /** The single scan leaf under a projects/filters chain (row count
    * can only shrink below an Aggregate on this shape, so a declared
    * unique key stays unique); None for joins, generators, set ops —
    * anything that can multiply rows. */
  private def singleLeafBelow(p: LogicalPlan): Option[Set[String]] = p match {
    case Project(_, ch) => singleLeafBelow(ch)
    case logical.Filter(_, ch) => singleLeafBelow(ch)
    case a: logical.SubqueryAlias => singleLeafBelow(a.child)
    case v: logical.View => singleLeafBelow(v.child)
    case h: logical.ResolvedHint => singleLeafBelow(h.child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }
    case _ => None
  }
}
