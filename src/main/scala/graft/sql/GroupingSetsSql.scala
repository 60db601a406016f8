package graft.sql

import SqlText.{Splice, clauseEnd, closeOf, commaRanges, groupEnd, mask, openOf, spliceEach, topLevelIndex, topLevelMatches}

/** Grouping-set surfaces beyond Spark's grammar (reference:
  * SqlGroupedWindowFunction / the validator's grouping-set expansion in
  * sql/validate/AggregatingSelectScope.java; agg.iq:660, :1264):
  *
  *  - NESTED `GROUPING SETS ( a, GROUPING SETS (b, c) )`: the SQL
  *    standard splices the inner list into the outer one.
  *  - `GROUP BY DISTINCT cube(..), rollup(..)`: SQL:2011 dedups the
  *    cross-product of the grouping sets by COLUMN SET; Spark parses
  *    the DISTINCT but keeps every duplicate combination.
  *
  * Both lower to an explicit `GROUPING SETS ((...), ...)` literal list,
  * which Spark executes natively — the expansion is syntactic, so plan
  * shape (one Expand over one aggregation exchange) is unchanged. */
object GroupingSetsSql {

  private val setOpRe = "(?is)\\b(UNION\\s+ALL|UNION|INTERSECT|EXCEPT)\\b".r
  private val selectWithRe = "(?is)\\(\\s*(SELECT|WITH)\\b".r
  private val groupingIdRe = "(?is)\\bgrouping(_id)?\\s*\\(".r
  private val groupingElementRe = "(?is)^(CUBE|ROLLUP|GROUPING\\s+SETS)\\s*\\(".r
  private val havingRe = "(?is)\\bHAVING\\b".r
  private val groupingRe = "(?is)\\bgrouping\\s*\\(".r
  private val selectRe = "(?is)\\bSELECT\\b".r
  private val aliasRe = "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r
  private val gidRe = "(?is)\\bgroup_id\\s*\\(\\s*\\)".r
  private val plainAggCallRe = "(?is)\\b(sum|count|avg|min|max|stddev|var_pop|var_samp|every|some)\\s*\\(".r
  private val orderByRe = "(?is)\\bORDER\\s+BY\\s".r
  private val selectHeadRe = "(?is)^\\s*SELECT\\s".r
  private val asRe = "(?is)\\s+as\\s+([A-Za-z_]\\w*)\\s*$".r
  private val cubeRollupRe = "(?is)^(CUBE|ROLLUP)\\s*\\(".r
  private val groupByDistinctRe = "(?is)\\bGROUP\\s+BY\\s+DISTINCT\\s".r
  private val dottedIdentRe = "^[A-Za-z_][\\w.]*$".r

  def rewrite(sql: String): String =
    rewriteGroupingFns(rewriteGroupId(rewriteEmptySetUnion(
      rewriteMixedEmpty(rewriteDistinct(flattenNested(sql))))))

  /** GROUPING SETS containing the EMPTY set, with a select list of pure
    * aggregates → UNION ALL of per-set aggregate branches. The
    * reference evaluates each grouping set independently, so the ()
    * set contributes its global-aggregate row even over EMPTY input
    * (COUNT = 0; sub-query.iq:9713's correlated slice for the
    * employee-less dept), where Spark's expand-based lowering is one
    * grouped aggregate that returns no rows on empty input. Fires only
    * when no grouping column survives into the output (pure-aggregate
    * items — otherwise column shapes differ per set) and no HAVING /
    * ORDER tail follows; the branches share one scan and Catalyst
    * merges their partial aggregates map-side. */
  private val groupingSetsRe = "(?is)\\bGROUP\\s+BY\\s+GROUPING\\s+SETS\\s*\\(".r
  private val selectWordRe = "(?is)^\\s*SELECT\\b".r
  private val aggItemRe = ("(?is)^\\s*(COUNT|SUM|AVG|MIN|MAX)\\s*" +
    "\\((?:[^()]|\\([^()]*\\))*\\)\\s*(AS\\s+\\w+\\s*)?$").r

  private def rewriteEmptySetUnion(sql: String): String =
    spliceEach(sql, groupingSetsRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val close = site.close
      val sets = if (close < 0) Nil else splitElems(sql, masked, site.end, close).map(_._1.trim)
      // enclosing paren block (a derived table / subquery), or the
      // whole statement
      val blockEnd = groupEnd(masked, site.start)
      val blockStart = if (blockEnd < masked.length) openOf(masked, blockEnd) + 1 else 0
      if (sets.length < 2 || !sets.exists(_.replaceAll("\\s", "") == "()") ||
          blockEnd <= close || masked.substring(close + 1, blockEnd).trim.nonEmpty) None
      else {
        val head = masked.substring(blockStart, site.start)
        val fromAt = topLevelIndex(head, "FROM")
        selectWordRe.findFirstMatchIn(head).filter(fromAt > _.end).flatMap { selM =>
          val items = SqlText.splitTop(
            sql.substring(blockStart + selM.end, blockStart + fromAt))
          if (items.isEmpty || !items.forall(it => aggItemRe.matches(it))) None
          else {
            val prefix = sql.substring(blockStart, site.start)
            val branches = sets.map { s =>
              if (s.replaceAll("\\s", "") == "()") prefix
              else prefix + "GROUP BY " + s.trim.stripPrefix("(").stripSuffix(")")
            }
            Some(Splice(blockStart, blockEnd, branches.mkString(" UNION ALL ")))
          }
        }
      }
    }

  /** GROUPING_ID(args...) → weighted sum of single-column GROUPING()
    * calls (identical semantics in both engines: Σ grouping(ci)·2^(n-1-i))
    * — Spark otherwise requires the argument list to match the grouping
    * columns exactly, where the reference allows any subset and order
    * (agg.iq:784, :907). An argument that appears in NO grouping set of
    * the query is aggregated on every row, so its GROUPING() is the
    * constant 1 (agg.iq:4123, :4180). Single-SELECT statements only
    * (one top-level GROUP BY). */
  private[sql] def rewriteGroupingFns(sql: String): String = {
    val masked0 = mask(sql)
    if (groupingIdRe.findFirstIn(masked0).isEmpty) return sql
    // process each top-level set-operation branch independently — a
    // UNION ALL of grouped selects has one GROUP BY per branch
    // (agg.iq's manual GROUP_ID-equivalence unions)
    val topOps = topLevelMatches(masked0, setOpRe).toSeq
    if (topOps.nonEmpty) {
      val bounds = (0 +: topOps.map(_.end)).zip(topOps.map(_.start) :+ sql.length)
      val parts = bounds.map { case (a, b) => sql.substring(a, b) }
      val ops = topOps.map(m => sql.substring(m.start, m.end))
      return parts.map(rewriteGroupingFns).zipAll(ops, "", "")
        .map { case (p, o) => p + o }.mkString
    }
    val masked = masked0
    // a grouping call inside a SUBQUERY would be lowered against the
    // wrong universe — leave those statements alone
    for (m <- selectWithRe.findAllMatchIn(masked)) {
      val close = closeOf(masked, m.start)
      if (close > 0 && groupingIdRe
          .findFirstIn(masked.substring(m.start, close)).isDefined) return sql
    }
    val gbs = topLevelMatches(masked, groupByRe).toSeq
    if (gbs.length != 1) return sql
    val gbElems = {
      val end = listEnd(masked, gbs.head.end)
      splitElems(sql, masked, gbs.head.end, end)
    }
    // flatten composite tuple elements — rollup(a, (b, c)) grounds b
    // and c individually (agg.iq:1116)
    val universe = gbElems.flatMap { case (t, mt) => expand(t, mt) }
      .flatten.flatMap(e => if (e.trim.startsWith("(")) cols(e) else Seq(e))
      .map(norm).toSet
    // a PLAIN GROUP BY (no CUBE/ROLLUP/GROUPING SETS element) never
    // aggregates a grouping column away: grouping(x) is the constant 0
    // for grouped x (agg.iq:731 — Spark instead rejects grouping()
    // outside grouping-sets queries), 1 for never-grouped x
    val hasSets = gbElems.exists(e =>
      groupingElementRe.findFirstIn(e._2).isDefined)
    // forward scan: emit processed text to `sb`, never re-scan it
    val sb = new StringBuilder
    var rest = sql
    var more = true
    while (more) {
      val m0 = mask(rest)
      groupingIdRe.findFirstMatchIn(m0) match {
        case None =>
          sb.append(rest); more = false
        case Some(call) =>
          val open = m0.indexOf('(', call.start)
          val close = closeOf(m0, open)
          if (close < 0) { sb.append(rest); more = false }
          else {
            val args = splitElems(rest, m0, open + 1, close).map(_._1)
            val isId = call.group(1) != null
            def single(a: String): String =
              if (!universe.contains(norm(a))) "1"
              else if (!hasSets) "0"
              else s"grouping($a)"
            val rep =
              if (!isId && args.length == 1) single(args.head)
              else {
                val terms = args.zipWithIndex.map { case (a, ix) =>
                  val w = 1 << (args.length - 1 - ix)
                  val g = single(a)
                  if (w == 1) g else s"$g * $w"
                }
                if (terms.length == 1) terms.head
                else if (terms.forall(t => t == "0" || t.startsWith("0 ") || t.startsWith("0*") || t.startsWith("0 *"))) "0"
                else terms.mkString("(", " + ", ")")
              }
            sb.append(rest.substring(0, call.start)).append(rep)
            rest = rest.substring(close + 1)
          }
      }
    }
    havingByAlias(sb.toString)
  }

  /** Spark resolves HAVING `grouping(x)` only when x survives into the
    * aggregate's OUTPUT — with a select list of pure aggregates it
    * reports x unresolved (agg.iq:818's rollup HAVING). But HAVING over
    * an output ALIAS resolves fine, so a lowered grouping expression in
    * HAVING that textually equals a select item is replaced by the
    * item's alias (longest first, so composite grouping_id arithmetic
    * wins over the single calls inside it). */
  private def havingByAlias(sql: String): String = {
    val masked = mask(sql)
    val hv = topLevelMatches(masked, havingRe).nextOption().getOrElse(return sql)
    val hvEnd = listEnd(masked, hv.end)
    if (!groupingRe.findFirstIn(masked.substring(hv.end, hvEnd)).isDefined)
      return sql
    val sel = selectRe.findFirstMatchIn(masked).getOrElse(return sql)
    val from = SqlText.topLevelIndex(masked, "FROM", sel.end)
    if (from < 0) return sql
    val items = splitElems(sql, masked, sel.end, from)
    val pairs = items.flatMap { case (t, _) =>
      aliasRe.findFirstMatchIn(t.trim).filter(m =>
        groupingRe.findFirstIn(m.group(1)).isDefined)
        .map(m => (m.group(1).trim, m.group(2)))
    }.sortBy(-_._1.length)
    if (pairs.isEmpty) return sql
    // replace against the MASKED text with identifier-boundary anchoring:
    // an occurrence inside a string literal (masked to ) can never
    // match, and `grouping(a)` never rewrites inside `xgrouping(a)` or
    // an alias-colliding longer expression
    var having = sql.substring(hv.end, hvEnd)
    var maskedHaving = masked.substring(hv.end, hvEnd)
    def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    pairs.foreach { case (e, a) =>
      val em = mask(e)
      var i = maskedHaving.indexOf(em)
      while (i >= 0) {
        val okBefore = i == 0 ||
          !(identChar(maskedHaving(i - 1)) && identChar(em.head))
        val after = i + em.length
        val okAfter = after >= maskedHaving.length ||
          !(identChar(maskedHaving(after)) && identChar(em.last))
        // masked match only POSITIONS the candidate; the ORIGINAL text
        // must equal the expression exactly — two expressions differing
        // only in same-length literal CONTENT mask identically and must
        // not substitute for each other
        if (okBefore && okAfter && having.substring(i, after) == e) {
          having = having.substring(0, i) + a + having.substring(after)
          maskedHaving = maskedHaving.substring(0, i) + a + maskedHaving.substring(after)
          i = maskedHaving.indexOf(em, i + a.length)
        } else i = maskedHaving.indexOf(em, i + 1)
      }
    }
    sql.substring(0, hv.end) + having + sql.substring(hvEnd)
  }

  private def norm(e: String): String =
    e.trim.toLowerCase.replaceAll("\\s+", " ")

  /** GROUP_ID() (reference SqlStdOperatorTable GROUP_ID, agg.iq:783):
    * numbers duplicate occurrences of the same grouping set 0..k-1.
    * With no duplicate sets the call is the constant 0. With duplicates
    * the query lowers to a UNION ALL over the multiplicity levels —
    * copy i keeps the sets occurring more than i times and replaces
    * GROUP_ID() with literal i (exactly the reference's expansion in
    * AggregateExpandDistinctAggregatesRule's GROUP_ID lowering). The
    * trailing ORDER BY moves outside the union. GROUP_ID() outside an
    * aggregate query stays unresolved so the analyzer rejects it, as
    * the reference's validator does (agg.iq:1060). */
  private def rewriteGroupId(sql: String): String = {
    val masked = mask(sql)
    if (gidRe.findFirstIn(masked).isEmpty) return sql
    // only the statement's own (paren-depth-0) GROUP BY defines the
    // grouping sets GROUP_ID numbers; a subquery's clause must not bind
    val topGbs = topLevelMatches(masked, groupByRe).toSeq
    if (topGbs.length > 1) return sql
    val gb = topGbs.headOption match {
      case Some(m) => m
      case None =>
        // aggregate query without GROUP BY → one global group, id 0;
        // non-aggregate → leave unresolved (validator error contract).
        // The replacement keeps the query an AGGREGATE query
        // (agg.iq:1089: GROUP BY () over empty input must still emit
        // its one global group) — a bare literal 0 would demote it.
        val isAgg = plainAggCallRe.findFirstIn(masked).isDefined
        return if (isAgg) gidRe.replaceAllIn(sql, "coalesce(min(0), 0)") else sql
    }
    val end = listEnd(masked, gb.end)
    val elems = splitElems(sql, masked, gb.end, end)
    val tuples = elems.map { case (t, mt) => expand(t, mt) }
      .foldLeft(Seq(Seq.empty[String])) { (acc, sets) =>
        for (a <- acc; b <- sets) yield a ++ b
      }
    // multiplicity by column SET (the reference keys duplicates by the
    // group's bitmap, not the tuple order)
    val byKey = scala.collection.mutable.LinkedHashMap.empty[Set[String], (Seq[String], Int)]
    tuples.foreach { tup =>
      val k = tup.map(norm).distinct.toSet
      byKey(k) = byKey.get(k).map { case (t, n) => (t, n + 1) }.getOrElse((tup, 1))
    }
    val maxMult = byKey.values.map(_._2).max
    if (maxMult == 1) return gidRe.replaceAllIn(sql, "coalesce(min(0), 0)")
    // trailing top-level ORDER BY moves outside the UNION ALL
    val ob = topLevelMatches(masked, orderByRe).toSeq.lastOption
    val (body, orderTxt) = ob match {
      case Some(o) => (sql.substring(0, o.start), " " + sql.substring(o.start).trim)
      case None => (sql, "")
    }
    val allCols = tuples.flatten.map(c => norm(c) -> c).toMap
    val branches = (0 until maxMult).map { i =>
      val kept = byKey.values.filter(_._2 > i).map(_._1).toSeq
      val sets = kept.map(t => if (t.isEmpty) "()" else t.mkString("(", ", ", ")"))
      val gbTxt = "GROUP BY GROUPING SETS (" + sets.mkString(", ") + ") "
      val b0 = body.substring(0, gb.start) + gbTxt +
        body.substring(math.min(end, body.length))
      val b1 = gidRe.replaceAllIn(b0, i.toString)
      // the branch is a single-GROUP-BY statement again: lower its
      // grouping()/grouping_id() calls against the BRANCH's universe
      // (columns of the full query that this branch never groups are
      // aggregated on every row → constant 1)
      val b2 = rewriteGroupingFns(b1)
      // select-list references to columns this branch never groups are
      // NULL in every row of the branch (the reference's expansion)
      val branchCols = kept.flatten.map(norm).toSet
      val missing = (allCols.keySet -- branchCols).toSeq.map(allCols)
      nullOutMissing(b2, missing)
    }
    branches.mkString("\nUNION ALL\n") + orderTxt
  }

  /** Replace whole select items that are exactly one of `missing` with
    * NULL (keeping the alias, or aliasing a simple identifier by its
    * own name so the union keeps branch-0 column names). */
  private def nullOutMissing(branch: String, missing: Seq[String]): String = {
    if (missing.isEmpty) return branch
    val missingNorm = missing.map(norm).toSet
    val m0 = mask(branch)
    val sel = selectHeadRe.findFirstMatchIn(m0).getOrElse(return branch)
    val from = topLevelIndex(m0, "FROM", sel.end)
    if (from < 0) return branch
    val items = splitElems(branch, m0, sel.end, from)
    val rebuilt = items.map { case (txt, _) =>
      val asM = asRe.findFirstMatchIn(txt)
      val exprTxt = asM.map(a => txt.substring(0, a.start)).getOrElse(txt)
      if (missingNorm.contains(norm(exprTxt)))
        "NULL" + asM.map(a => txt.substring(a.start)).getOrElse {
          val t = exprTxt.trim
          if (dottedIdentRe.matches(t)) " AS " + t.split('.').last else ""
        }
      else txt
    }
    branch.substring(0, sel.end) + rebuilt.mkString(", ") + " " + branch.substring(from)
  }

  /** `GROUP BY job, GROUPING SETS (...), ()` — a bare `()` element (or a
    * second GROUPING SETS) next to other grouping elements is valid in
    * the reference but not in Spark's grammar. Normalize the whole list
    * to one explicit GROUPING SETS cross product (duplicates KEPT —
    * Spark preserves duplicate sets, matching the reference). */
  private val groupByRe = "(?is)\\bGROUP\\s+BY\\s".r
  private val distinctHeadRe = "(?is)^\\s*DISTINCT\\b".r
  private val groupingSetsHeadRe = "(?is)^GROUPING\\s+SETS\\s*\\(".r

  private def rewriteMixedEmpty(sql: String): String =
    spliceEach(sql, groupByRe) { site =>
      val masked = site.m
      val end = listEnd(masked, site.end)
      val elems = splitElems(site.sql, masked, site.end, end)
      val nGs = elems.count(e => groupingSetsHeadRe.findFirstIn(e._2).isDefined)
      val hasEmpty = elems.exists(_._1.replaceAll("\\s", "") == "()")
      if (distinctHeadRe.findFirstIn(masked.substring(site.end)).isDefined ||
          elems.length < 2 || nGs == 0 || !(hasEmpty || nGs >= 2)) None
      else {
        val expanded = elems
          .filter(_._1.replaceAll("\\s", "") != "()")
          .map { case (t, mt) => expand(t, mt) }
        val crossed = expanded.foldLeft(Seq(Seq.empty[String])) { (acc, sets) =>
          for (a <- acc; b <- sets) yield a ++ b
        }
        val setsTxt = crossed
          .map(t => if (t.isEmpty) "()" else t.mkString("(", ", ", ")"))
          .mkString(", ")
        Some(Splice(site.start, end, "GROUP BY GROUPING SETS (" + setsTxt + ") "))
      }
    }

  /** End offset of a grouping-element list starting at `from`: the next
    * top-level clause keyword or unbalanced close paren. */
  private def listEnd(masked: String, from: Int): Int =
    clauseEnd(masked, from, "HAVING", "ORDER", "LIMIT", "OFFSET", "FETCH", "WINDOW",
      "UNION", "INTERSECT", "EXCEPT", "QUALIFY")

  private val nestedSetsRe = "(?is)\\bGROUPING\\s+SETS\\s*\\(".r

  /** Splice inner GROUPING SETS elements into the enclosing list. A
    * GROUPING SETS nested inside a tuple ELEMENT is only detected, never
    * spliced (splicing is top-level), and is left for the parser to
    * report. */
  private def flattenNested(sql: String): String =
    spliceEach(sql, nestedSetsRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val close = site.close
      if (close < 0 || nestedSetsRe.findFirstIn(masked.substring(site.end, close)).isEmpty) None
      else {
        // splice each top-level `grouping sets (...)` element
        val spliced = splitElems(sql, masked, site.end, close).flatMap { case (txt, mtxt) =>
          groupingSetsHeadRe.findFirstMatchIn(mtxt) match {
            case Some(im) =>
              val iOpen = mtxt.indexOf('(', im.start)
              val iClose = closeOf(mtxt, iOpen)
              if (iClose > 0) splitElems(txt, mtxt, iOpen + 1, iClose).map(_._1)
              else Seq(txt)
            case None => Seq(txt)
          }
        }
        Some(Splice(site.end, close, spliced.mkString(", ")))
      }
    }

  /** Top-level comma elements of text[from, to) with their masked twin. */
  private def splitElems(sql: String, masked: String, from: Int, to: Int): Seq[(String, String)] =
    commaRanges(masked, from, to).map { case (a, b) =>
      (sql.substring(a, b).trim, masked.substring(a, b).trim) }

  /** Element text → its column tuple (strips one paren level). */
  private def cols(txt: String): Seq[String] = {
    val mm = mask(txt)
    val (from, to) = if (txt.startsWith("(")) (1, txt.length - 1) else (0, txt.length)
    SqlText.splitElems(txt, mm, from, to).filter(_.nonEmpty)
  }

  /** Grouping element → its list of column tuples (CUBE = all subsets,
    * ROLLUP = prefixes, GROUPING SETS = its members, expr = itself). */
  private def expand(txt: String, mtxt: String): Seq[Seq[String]] = {
    val cu = cubeRollupRe.findFirstMatchIn(mtxt)
    val gs = groupingSetsHeadRe.findFirstMatchIn(mtxt)
    if (gs.isDefined) {
      val open = mtxt.indexOf('(', gs.get.start)
      val close = closeOf(mtxt, open)
      splitElems(txt, mtxt, open + 1, close).map { case (t, _) => cols(t) }
    } else if (cu.isDefined) {
      val open = mtxt.indexOf('(', cu.get.start)
      val close = closeOf(mtxt, open)
      val cs = splitElems(txt, mtxt, open + 1, close).map(_._1)
      if (cu.get.group(1).equalsIgnoreCase("CUBE"))
        (0 until (1 << cs.length)).map(mask =>
          cs.zipWithIndex.collect { case (c, ix) if (mask & (1 << ix)) != 0 => c })
      else (cs.length to 0 by -1).map(cs.take)
    } else Seq(cols(txt))
  }

  /** `GROUP BY DISTINCT <elements>` → dedup'd GROUPING SETS list. */
  private def rewriteDistinct(sql: String): String = {
    val masked = mask(sql)
    val m = groupByDistinctRe.findFirstMatchIn(masked)
      .getOrElse(return sql)
    val end = listEnd(masked, m.end)
    val elems = splitElems(sql, masked, m.end, end)
    // cross-product of the per-element set lists, concatenating tuples
    val expanded = elems.map { case (t, mt) => expand(t, mt) }
    val crossed = expanded.foldLeft(Seq(Seq.empty[String])) { (acc, sets) =>
      for (a <- acc; b <- sets) yield a ++ b
    }
    // DISTINCT: dedupe by column SET, first-seen order, dropping
    // duplicate columns within a tuple
    val seen = scala.collection.mutable.LinkedHashMap.empty[Set[String], Seq[String]]
    crossed.foreach { tup =>
      val uniq = tup.distinct
      val key = uniq.toSet
      if (!seen.contains(key)) seen(key) = uniq
    }
    val setsTxt = seen.values
      .map(t => if (t.isEmpty) "()" else t.mkString("(", ", ", ")"))
      .mkString(", ")
    sql.substring(0, m.start) +
      "GROUP BY GROUPING SETS (" + setsTxt + ") " + sql.substring(end)
  }
}
