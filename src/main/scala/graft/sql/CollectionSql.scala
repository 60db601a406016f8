package graft.sql

import SqlText.{Splice, closeOf, commaRanges, groupEnd, mask, openOf, primaryStart, replaceMasked, spliceEach, splitElems, splitTop}

/** Collection-literal and subscript surface of the reference dialect
  * (Parser.jj: ARRAY/MAP constructors-by-enumeration, the `expr[index]`
  * ITEM postfix; SqlStdOperatorTable ARRAY_VALUE_CONSTRUCTOR :297,
  * MAP_VALUE_CONSTRUCTOR :303, ITEM), plus the FLOOR/CEIL(e TO unit)
  * datetime rounding family and a handful of aggregate spellings Spark
  * writes differently. All rewrites are token-aware text lowerings that
  * find on a literal-masked copy (quotes/backticks can never trigger
  * them) and splice replacement text from the original. */
object CollectionSql {

  private val withOrdinalityRe = "(?is)^\\s*WITH\\s+ORDINALITY".r
  private val unnestAliasRe = "(?is)^\\s*AS\\s+(`[^`]*`|[A-Za-z_]\\w*)\\s*(\\()?".r
  private val leadingIdentRe = "(?is)^\\s*(`[^`]*`|[A-Za-z_]\\w*)".r
  private val withWhereGroupRe = "(?i)^(WITH|WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ON|AS|QUALIFY|FETCH|LATERAL|NATURAL|USING|WINDOW)$".r
  private val structRe = "(?is)STRUCT\\s*\\(".r
  private val mapRe = "(?is).*\\bMAP\\s*[\\[(].*".r
  private val everyRe = "(?i)\\bEVERY\\s*\\(".r
  private val someRe = "(?i)\\bSOME\\s*\\(".r
  private val piRe = "(?i)(?<![\\w.`])PI(?![\\w(.`])".r
  private val trailingWordRe = "(?i)(\\w+)\\s*$".r
  private val rowsFloatOffsetRe = "(?i)\\b(ROWS\\s+BETWEEN\\s+|ROWS\\s+)(\\d+)\\.0*\\s+(PRECEDING|FOLLOWING)".r
  private val andFloatOffsetRe = "(?i)\\b(AND\\s+)(\\d+)\\.0*\\s+(PRECEDING|FOLLOWING)".r
  private val sqlTsiUnitRe = "(?i)\\b(TIMESTAMPADD|TIMESTAMPDIFF)\\s*\\(\\s*SQL_TSI_(\\w+)".r
  private val mapArgRe = "(?is)^MAP\\s*\\(.*".r
  private val structArrayArgRe = "(?is)^ARRAY\\s*\\(\\s*STRUCT\\s*\\(.*".r
  private val subqueryArgRe = "(?is)^\\(?\\s*(SELECT|WITH)\\b.*".r
  private val multisetArgRe = "(?is)^MULTISET\\b.*".r

  /** `ARRAY[e, ...]` / `MAP[k, v, ...]` constructors-by-enumeration →
    * Spark's `array(...)` / `map(...)`. Nested literals lower inside-out
    * across iterations; `MULTISET[...]` stays (its ALL-ops surface lives
    * in functions/Multiset.scala). A parenthesized TUPLE element
    * (`ARRAY[(1, 'a'), (2, 'b')]` — the reference's implicit row
    * constructor) becomes `struct(1, 'a')`. */
  private val collectionLiteralRe = "(?i)\\b(ARRAY|MAP|MULTISET)\\s*\\[".r
  private val valuesTailRe = "(?is).*\\bVALUES\\s*$".r
  private val valuesRe = "(?is)\\bVALUES\\b".r
  private val selectFromWhereRe = "(?is)\\b(SELECT|FROM|WHERE)\\b".r
  private val bagOpAfterRe =
    "(?is)^\\s*(MULTISET\\s+(UNION|EXCEPT|INTERSECT)|SUBMULTISET|IS\\s+(NOT\\s+)?(A\\s+SET|EMPTY))\\b".r
  private val bagOpBeforeRe =
    "(?is).*\\b(MULTISET\\s+(UNION|EXCEPT|INTERSECT)(\\s+ALL|\\s+DISTINCT)?|SUBMULTISET\\s+OF)\\s*$".r

  def rewriteArrayMap(sql: String): String =
    spliceEach(sql, collectionLiteralRe) { site =>
      val (masked, cur) = (site.m, site.sql)
      val open = site.end - 1
      val close = site.close
      if (close < 0) None
      else {
        val kind = site.group(1).toLowerCase(java.util.Locale.ROOT)
        val inner = commaRanges(masked, open + 1, close).map { case (a, b) =>
          val orig = cur.substring(a, b)
          val tm = masked.substring(a, b).trim // structure tests can't see literals
          if (tm.startsWith("(") && tm.endsWith(")") &&
              commaRanges(tm, 1, tm.length - 1).length > 1)
            "struct" + orig.trim
          else orig
        }.mkString(",")
        // the reference DISPLAYS a multiset with duplicate elements
        // grouped adjacent, in first-occurrence order (misc.iq:2227:
        // multiset[1,null,2,1] prints [1, 1, null, 2]); for a
        // duplicate-free bag the regrouping is the identity, so it is
        // applied to every MULTISET literal — EXCEPT inside a VALUES
        // inline-table row, where Spark cannot fold the lambda
        // (unnest.iq:400) and a literal row has its written order
        // anyway, and except where the literal feeds an infix bag
        // operator or predicate, which keeps the plain array shape those
        // lowerings match on (the regroup is a DISPLAY device; bag ops
        // are order-free)
        def inValuesRow = {
          // an enclosing group that is a `VALUES (` row constructor
          val enclosing = Iterator.iterate(groupEnd(masked, site.start))(c => groupEnd(masked, c + 1))
            .takeWhile(_ < masked.length).map(openOf(masked, _))
          enclosing.exists(o => o >= 0 && valuesTailRe.matches(masked.substring(0, o))) ||
            // bare-scalar rows: `VALUES multiset[...], ...` with only list
            // content (no intervening SELECT) between VALUES and the literal
            valuesTailRe.matches(masked.substring(0, site.start)) ||
            valuesRe.findAllMatchIn(masked.substring(0, site.start)).toSeq.lastOption.exists { vm =>
              val between = masked.substring(vm.end, site.start)
              between.count(_ == '(') == between.count(_ == ')') &&
                selectFromWhereRe.findFirstIn(between).isEmpty
            }
        }
        def inBagOp =
          bagOpAfterRe.findFirstIn(masked.substring(close + 1)).isDefined ||
            bagOpBeforeRe.matches(masked.substring(0, site.start))
        // a MULTISET is an array with bag semantics downstream (its ALL
        // ops lower via functions/Multiset.scala); displays match the
        // reference's [a, b] rendering
        val body =
          if (kind == "multiset" && !inValuesRow && !inBagOp)
            s"flatten(transform(array_distinct(array($inner)), __mv -> " +
              s"filter(array($inner), __mx -> __mx <=> __mv)))"
          else (if (kind == "multiset") "array" else kind) + "(" + inner + ")"
        Some(Splice(site.start, close + 1, body))
      }
    }

  /** `UNNEST(collection) [WITH ORDINALITY] [AS alias [(cols)]]`
    * (SqlUnnestOperator; unnest.iq) lowered onto Spark's generators:
    *
    *  - scalar array → `explode`; array of row-tuples → `inline` (fields
    *    expand, like the reference); map → `explode` (key, value);
    *  - WITH ORDINALITY → `posexplode`, with the 1-based ordinal
    *    projected LAST (the reference's column order; pos is emitted
    *    first by Spark);
    *  - a SUBQUERY operand flattens every input row's collection, with
    *    ordinality resetting per row — posexplode applies per input row,
    *    so the derived-table lowering gives exactly that;
    *  - multi-collection `UNNEST(a1, a2, ...)` uses ZIP semantics
    *    (CALCITE-7583): `inline(arrays_zip(...))`, shorter arrays
    *    null-padded;
    *  - `t, UNNEST(t.ys) AS z` (correlated comma-join, incl. `LATERAL
    *    UNNEST`) → `t LATERAL VIEW explode(t.ys) __lv AS z`.
    *
    * Classification is textual (the operand's syntax decides
    * explode/inline/map): operands that defeat it (MULTISET literals,
    * maps inside a zip) are left unchanged for the caller's skip lists.
    */
  private val unnestRe = "(?i)\\bUNNEST\\s*\\(".r

  def rewriteUnnest(sql: String): String =
    spliceEach(sql, unnestRe) { site =>
      val (masked, sql, m) = (site.m, site.sql, site.hit)
      val open = site.end - 1
      val close = site.close
      if (close < 0) None
      else {
        val arg = sql.substring(open + 1, close).trim
        val argM = masked.substring(open + 1, close).trim
        // suffix: [WITH ORDINALITY] [AS alias [(c1, c2, ...)]]
        val after = masked.substring(close + 1)
        val ordM = withOrdinalityRe.findFirstMatchIn(after)
        val ord = ordM.isDefined
        val afterOrd = ordM.map(_.end).getOrElse(0)
        val aliasM = unnestAliasRe.findFirstMatchIn(after.substring(afterOrd))
        var end = close + 1 + afterOrd
        var alias = ""
        var cols: Seq[String] = Nil
        aliasM.foreach { am =>
          alias = sql.substring(end + am.start(1), end + am.end(1))
          if (am.group(2) != null) {
            val lOpen = end + am.end(2) - 1
            val lClose = closeOf(masked, lOpen)
            if (lClose > 0) {
              cols = SqlText.splitTop(sql.substring(lOpen + 1, lClose)).map(_.trim)
              end = lClose + 1
            } else end = end + am.end
          } else end = end + am.end
        }
        // bare alias with no AS (winagg.iq `unnest(map[...]) k`)
        if (alias.isEmpty) {
          val bare = leadingIdentRe.findFirstMatchIn(after.substring(afterOrd))
          bare.foreach { bm =>
            val w = after.substring(afterOrd).substring(bm.start(1), bm.end(1))
            if (!withWhereGroupRe.matches(w)) {
              alias = w
              end = close + 1 + afterOrd + bm.end(1)
            }
          }
        }
        // preceding context: `, [LATERAL]` → correlated lateral form
        val beforeTrim = masked.substring(0, m.start)
        val commaAt = beforeTrim.lastIndexOf(',')
        val isLateral = commaAt >= 0 && {
          val between = beforeTrim.substring(commaAt + 1).trim
          between.isEmpty || between.equalsIgnoreCase("LATERAL")
        }
        val args = splitTop(argM)
        def kindOf(a: String): String =
          if (mapArgRe.matches(a)) "map"
          else if (structArrayArgRe.matches(a)) "struct"
          else if (subqueryArgRe.matches(a)) "subq"
          else if (multisetArgRe.matches(a)) "multiset"
          else "scalar"
        val kind = if (args.length > 1) "zip" else kindOf(argM)
        val g = s"__ug${m.start}"
        def named(exprs: Seq[String], names: Seq[String]): String =
          exprs.zipWithIndex.map { case (e, i) =>
            if (i < names.length) s"$e AS ${names(i)}" else e
          }.mkString(", ")
        val aliasSuffix = if (alias.nonEmpty) s" $alias" else s" $g"
        val replacement: Option[String] = kind match {
          case "multiset" => None
          case "zip" =>
            // per-operand kinds: a MAP contributes (key, value) columns
            // through map_entries, a struct ARRAY its tuple fields, a
            // plain array one column (unnest.iq:311/:327/:501 mixed
            // zips); subquery/multiset operands keep the generic path
            val kinds = args.map(a => kindOf(a.trim))
            if (kinds.exists(k => k == "subq" || k == "multiset")) None
            else {
              // splice original arg texts by the masked split's offsets
              val lens = args.map(_.length)
              val starts = lens.scanLeft(0)((a, b) => a + b + 1).init
              val origArgs = args.indices.map(i =>
                arg.substring(starts(i), starts(i) + lens(i)).trim)
              def structArity(maskedArg: String): Int = {
                val sm = structRe.findFirstMatchIn(maskedArg).get
                val sOpen = maskedArg.indexOf('(', sm.end - 1)
                val sClose = closeOf(maskedArg, sOpen)
                splitTop(maskedArg.substring(sOpen + 1, sClose)).length
              }
              val zexprs = args.indices.map(i =>
                if (kinds(i) == "map") s"map_entries(${origArgs(i)})" else origArgs(i))
              val fieldCols = args.indices.flatMap { i =>
                kinds(i) match {
                  case "map" => Seq(s"`$i`.key", s"`$i`.value")
                  case "struct" =>
                    (1 to structArity(args(i).trim)).map(j => s"`$i`.col$j")
                  case _ => Seq(s"`$i`")
                }
              }
              val zip = s"arrays_zip(${zexprs.mkString(", ")})"
              if (!ord)
                Some(s"(SELECT ${named(fieldCols, cols)} FROM (SELECT inline($zip)) ${g}i)$aliasSuffix")
              else
                Some(s"(SELECT ${named(fieldCols.map(f => s"col.$f") :+ "pos + 1", cols)} " +
                  s"FROM (SELECT posexplode($zip)) ${g}i)$aliasSuffix")
            }
          case "map" =>
            if (!ord)
              Some(s"(SELECT ${named(Seq("key", "value"), cols)} FROM (SELECT explode($arg)) ${g}i)$aliasSuffix")
            else
              Some(s"(SELECT ${named(Seq("key", "value", "pos + 1"), cols)} FROM (SELECT posexplode($arg)) ${g}i)$aliasSuffix")
          case "struct" =>
            if (isLateral) None // no corpus shape; keep simple
            else if (!ord) {
              if (cols.isEmpty) Some(s"(SELECT inline($arg))$aliasSuffix")
              else Some(s"(SELECT ${named(cols.indices.map(i => s"col${i + 1}"), cols)} " +
                s"FROM (SELECT inline($arg)) ${g}i)$aliasSuffix")
            } else if (cols.nonEmpty) {
              // ordinal is the LAST alias; the rest are struct fields
              val fields = (0 until cols.length - 1).map(i => s"col.col${i + 1}")
              Some(s"(SELECT ${named(fields :+ "pos + 1", cols)} " +
                s"FROM (SELECT posexplode($arg)) ${g}i)$aliasSuffix")
            } else None
          case "subq" =>
            // flatten each row's collection; ordinality resets per row.
            // the record may hold a map (unnest.iq:415) — its explode
            // yields two value columns; detect by the operand's text
            val isMapRec = mapRe.matches(argM)
            val sub = if (argM.startsWith("(")) arg else s"($arg)"
            val src = s"FROM $sub AS ${g}s(${g}c)"
            (ord, isMapRec) match {
              case (false, false) =>
                // single result column takes the table alias's name when
                // no column list is given (unnest.iq:45-108)
                val c = cols.headOption.orElse(Option(alias).filter(_.nonEmpty))
                Some(s"(SELECT explode(${g}c)${c.map(n => s" AS $n").getOrElse("")} $src)$aliasSuffix")
              case (true, false) =>
                Some(s"(SELECT ${named(Seq("col", "pos + 1"), cols)} FROM (SELECT posexplode(${g}c) $src) ${g}i)$aliasSuffix")
              case (false, true) =>
                Some(s"(SELECT ${named(Seq("key", "value"), cols)} FROM (SELECT explode(${g}c) $src) ${g}i)$aliasSuffix")
              case (true, true) =>
                Some(s"(SELECT ${named(Seq("key", "value", "pos + 1"), cols)} FROM (SELECT posexplode(${g}c) $src) ${g}i)$aliasSuffix")
            }
          case _ => // scalar element
            if (isLateral) {
              val c = if (cols.nonEmpty) cols.head
                else if (alias.nonEmpty) alias else s"${g}c"
              if (ord) None
              else Some(s"LATERAL VIEW explode($arg) ${g}lv AS $c")
            } else if (!ord) {
              val c = if (cols.nonEmpty) cols.head
                else if (alias.nonEmpty) alias else s"${g}c"
              Some(s"(SELECT explode($arg) AS $c)$aliasSuffix")
            } else
              Some(s"(SELECT ${named(Seq("col", "pos + 1"), cols)} FROM (SELECT posexplode($arg)) ${g}i)$aliasSuffix")
        }
        // the lateral form also eats the comma and optional LATERAL keyword
        replacement.map(rep =>
          if (isLateral) Splice(commaAt, end, " " + rep) else Splice(m.start, end, rep))
      }
    }

  /** The postfix subscript `primary[index]` → `item(primary, index)` —
    * the reference's ITEM operator (1-based for arrays and row ordinals,
    * key lookup for maps, NULL out of range; functions/FloorCeilTo.scala
    * ItemCalcite). Runs AFTER [[rewriteArrayMap]], so every surviving
    * bracket is a subscript. The primary is found by scanning backward
    * over identifier chains, call/paren groups, and prior subscripts —
    * the same walk the BigQuery dialect's SAFE_ subscripts use. */
  private val subscriptRe = "\\[".r

  def rewriteItem(sql: String): String =
    spliceEach(sql, subscriptRe) { site =>
      val (masked, sql, i) = (site.m, site.sql, site.start)
      // predecessor primary may be separated by whitespace (the
      // reference's grammar allows `expr [ index ]`; variant.iq:202
      // continues the subscript on the next line)
      var p = i - 1
      while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
      val pc = if (p >= 0) masked.charAt(p) else ' '
      if (!(pc.isLetterOrDigit || pc == '_' || pc == ')' || pc == ']' || pc == '`')) None
      else {
        val exprStart = primaryStart(masked, i)
        val target = sql.substring(exprStart, i).trim
        val kw = target.toUpperCase(java.util.Locale.ROOT)
        val close = site.close
        if (target.isEmpty || close < 0 || kw == "MULTISET" || kw == "ARRAY" || kw == "MAP") None
        else Some(Splice(exprStart, close + 1, s"item($target, ${sql.substring(i + 1, close)})"))
      }
    }

  private val dtUnits =
    Set("YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE",
      "SECOND", "MILLISECOND", "MICROSECOND")

  /** `FLOOR(e TO unit)` / `CEIL(e TO unit)` (SqlFloorFunction with an
    * interval qualifier) → the type-preserving floor_to/ceil_to
    * expressions (functions/FloorCeilTo.scala). Numeric FLOOR/CEIL (no
    * TO) pass through to Spark's own. */
  private val floorCeilRe = "(?i)\\b(FLOOR|CEIL|CEILING)\\s*\\(".r
  private val toUnitRe = "(?is)\\s+TO\\s+([A-Za-z]+)\\s*$".r

  def rewriteFloorCeil(sql: String): String =
    spliceEach(sql, floorCeilRe) { site =>
      val close = site.close
      val innerM = if (close < 0) "" else site.m.substring(site.end, close)
      toUnitRe.findFirstMatchIn(innerM)
        .filter(tm => dtUnits(tm.group(1).toUpperCase(java.util.Locale.ROOT)))
        .map { tm =>
          val fn = if (site.group(1).equalsIgnoreCase("FLOOR")) "floor_to" else "ceil_to"
          val expr = site.sql.substring(site.end, site.end + tm.start)
          val unit = tm.group(1).toUpperCase(java.util.Locale.ROOT)
          Splice(site.start, close + 1, s"$fn($expr, '$unit')")
        }
    }

  /** Composite `COUNT(a, b, ...)` (SqlCountAggFunction accepts N args:
    * count of rows where EVERY argument is non-null; agg.iq:186) →
    * `COUNT(CASE WHEN a IS NOT NULL AND ... THEN 1 END)`. DISTINCT
    * multi-arg COUNT is Spark-native and passes through. */
  private val countRe = "(?i)\\bCOUNT\\s*\\(".r
  private val distinctOrAllRe = "(?is)^\\s*(DISTINCT|ALL)\\b".r

  def rewriteCompositeCount(sql: String): String =
    spliceEach(sql, countRe) { site =>
      val close = site.close
      val innerOrig = if (close < 0) "" else site.sql.substring(site.end, close)
      if (close < 0 || splitTop(site.m.substring(site.end, close)).length < 2 ||
          distinctOrAllRe.findFirstIn(innerOrig).isDefined) None
      else {
        val cond = splitTop(innerOrig).map(a => s"(${a.trim}) IS NOT NULL").mkString(" AND ")
        Some(Splice(site.start, close + 1, s"COUNT(CASE WHEN $cond THEN 1 END)"))
      }
    }

  /** Aggregate spellings: `EVERY(p)` → bool_and (SqlStdOperatorTable
    * EVERY), and multi-argument `GROUPING(a, b, ...)` → Spark's packed
    * `grouping_id(a, b, ...)` (same bit order — first argument most
    * significant; SqlGroupingFunction accepts N args). */
  private val listaggRe = "(?i)\\bLISTAGG\\s*\\(".r
  private val groupingRe = "(?i)\\bGROUPING\\s*\\(".r

  def rewriteAggSpellings(sql: String): String = {
    // single-argument LISTAGG defaults its separator to ',' in the
    // reference (SqlListaggAggFunction); Spark's defaults to ''
    val s0 = spliceEach(sql, listaggRe) { site =>
      val close = site.close
      if (close < 0 || splitTop(site.m.substring(site.end, close)).length != 1) None
      else Some(Splice(close, close, ", ','"))
    }
    // (aggregate ANY_VALUE→MAX moved to CalciteTyping.rewrite: it is a
    // conformance-dialect quirk of the reference's enumerable engine —
    // in the PRODUCT pipeline the substitution broke any_value over
    // non-orderable types (MAP, VARIANT) and `IGNORE NULLS`, both of
    // which Spark's own any_value supports)
    val s1 = replaceMasked(s0, everyRe)((_, _) => "bool_and(")
    spliceEach(s1, groupingRe) { site =>
      val close = site.close
      if (close < 0 || splitTop(site.m.substring(site.end, close)).length < 2) None
      else Some(Splice(site.start, close + 1, s"grouping_id(${site.sql.substring(site.end, close)})"))
    }
  }

  /** The MULTISET bag aggregates (SqlStdOperatorTable FUSION :1178,
    * INTERSECTION :1186; agg.iq:182,1480-1540): FUSION is the
    * bag-union of a group's collections — `flatten(collect_list(x))` —
    * and INTERSECTION the bag-intersection, folded with the
    * multiset_intersect_all expression over the collected groups.
    * `SOME(pred)` as an AGGREGATE (not a quantifier — only when no
    * comparison operator precedes) is bool_or. */
  private val bagAggRe = "(?i)\\b(FUSION|INTERSECTION)\\s*\\(".r

  def rewriteBagAggs(sql: String): String = {
    val s1 = spliceEach(sql, bagAggRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        val x = site.sql.substring(site.end, close)
        val rep =
          if (site.group(1).equalsIgnoreCase("FUSION")) s"flatten(collect_list($x))"
          else {
            val cl = s"collect_list($x)"
            s"aggregate(slice($cl, 2, size($cl)), element_at($cl, 1), " +
              s"(__ba, __be) -> multiset_intersect_all(__ba, __be))"
          }
        Some(Splice(site.start, close + 1, rep))
      }
    }
    val masked = mask(s1)
    replaceMasked(s1, someRe) { (m, o) =>
      var p = m.start - 1
      while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
      val quantified = p >= 0 && "=<>!".contains(masked.charAt(p))
      if (quantified) o.substring(m.start, m.end) else "bool_or("
    }
  }

  /** A bare `LATERAL (subquery)` with no alias (lateral.iq — the
    * reference derives one; Spark requires an explicit alias on lateral
    * subqueries): append a generated alias. Aliased laterals pass
    * through. */
  private val lateralOpenRe = "(?i)\\bLATERAL\\s*\\(".r
  private val aliasTokenRe = "(?is)^\\s*(AS\\s+)?(`[^`]*`|[A-Za-z_]\\w*)".r
  private val clauseWordRe =
    "(?i)^(WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ON|QUALIFY|FETCH|LATERAL|NATURAL|USING|WINDOW|WITH)$".r

  def rewriteLateralAlias(sql: String): String =
    spliceEach(sql, lateralOpenRe) { site =>
      val close = site.close
      val aliased = close >= 0 && aliasTokenRe.findFirstMatchIn(site.m.substring(close + 1)).exists { t =>
        t.group(1) != null || !clauseWordRe.matches(t.group(2).stripPrefix("`").stripSuffix("`"))
      }
      if (close < 0 || aliased) None
      else Some(Splice(close + 1, close + 1, s" __lat${site.end - 1}"))
    }

  /** The SQL-standard row-period predicate `(a, b) OVERLAPS (c, d)`
    * (SqlOverlapsOperator; misc.iq:2346 — CALCITE-1167 normalizes each
    * operand pair so (high, low) order still matches). The standard
    * truth table: common point shared EXCEPT a pure endpoint touch —
    * `(s1 > s2 AND s1 < e2) OR (s2 > s1 AND s2 < e1) OR s1 = s2`
    * over least/greatest-normalized bounds. */
  private val overlapsRe = "(?i)\\)\\s*OVERLAPS\\s*\\(".r

  def rewriteOverlaps(sql: String): String =
    spliceEach(sql, overlapsRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      // left operand: the paren group CLOSING where the head starts
      val lClose = site.start
      val lOpen = openOf(masked, lClose)
      val rOpen = site.end - 1
      val rClose = site.close
      val lo = if (lOpen < 0 || rClose < 0) Nil else splitElems(sql, masked, lOpen + 1, lClose)
      val ro = if (lOpen < 0 || rClose < 0) Nil else splitElems(sql, masked, rOpen + 1, rClose)
      if (lo.length != 2 || ro.length != 2) None
      else {
        val (s1, e1) = (s"least(${lo(0)}, ${lo(1)})", s"greatest(${lo(0)}, ${lo(1)})")
        val (s2, e2) = (s"least(${ro(0)}, ${ro(1)})", s"greatest(${ro(0)}, ${ro(1)})")
        Some(Splice(lOpen, rClose + 1,
          s"(($s1 > $s2 AND $s1 < $e2) OR ($s2 > $s1 AND $s2 < $e1) OR $s1 = $s2)"))
      }
    }

  /** Niladic `PI` (the reference parses parameterless builtins without
    * parentheses — SqlStdOperatorTable.PI, misc.iq:2081) → `pi()`.
    * Fires only on the bare word: `pi(`, `x.pi`, and an `AS pi` alias
    * stay untouched. */
  def rewritePi(sql: String): String = {
    val masked = mask(sql)
    val sb = new StringBuilder
    var last = 0
    for (m <- piRe.findAllMatchIn(masked)) {
      val prevWord = trailingWordRe.findFirstMatchIn(masked.substring(0, m.start)).map(_.group(1))
      sb.append(sql.substring(last, m.start))
      sb.append(if (prevWord.exists(_.equalsIgnoreCase("AS"))) sql.substring(m.start, m.end) else "pi()")
      last = m.end
    }
    sb.append(sql.substring(last)).toString
  }

  /** Whole-valued DECIMAL literals as ROWS frame bounds (`ROWS 2.00
    * PRECEDING`, winagg.iq:307 — the reference accepts any exact
    * numeric): Spark requires integer bounds, so the zero fraction
    * drops. */
  def rewriteRowsFrameDecimal(sql: String): String = {
    val s1 = replaceMasked(sql, rowsFloatOffsetRe)((m, o) =>
      s"${o.substring(m.start(1), m.end(1))}${m.group(2)} ${m.group(3)}")
    replaceMasked(s1, andFloatOffsetRe)((m, o) =>
      s"${m.group(1)}${m.group(2)} ${m.group(3)}")
  }

  /** JDBC interval-unit spellings in TIMESTAMPADD/TIMESTAMPDIFF
    * (SqlTimestampAddFunction — SQL_TSI_* unit keywords; Spark's own
    * timestampadd/diff take the bare unit names). FRAC_SECOND is the
    * reference's microsecond. */
  def rewriteTsiUnits(sql: String): String =
    replaceMasked(sql, sqlTsiUnitRe)((m, _) => {
      val unit = m.group(2).toUpperCase(java.util.Locale.ROOT) match {
        case "FRAC_SECOND" => "MICROSECOND"
        case u => u
      }
      s"${m.group(1)}($unit"
    })

  def apply(sql: String): String = {
    val collections = rewriteArrayMap(sql)
    // MULTISET bag ops/predicates reuse the spark-dialect lowerings
    // (operands are array(...) calls after the literal conversion)
    val bags = SparkDialect.rewriteIsEmpty(SparkDialect.rewriteIsASet(
      SparkDialect.rewriteSubmultiset(SparkDialect.rewriteMultisetOps(
        rewriteBagAggs(collections)))))
    rewriteRowsFrameDecimal(
      rewritePi(rewriteOverlaps(rewriteTsiUnits(rewriteAggSpellings(rewriteCompositeCount(
        rewriteFloorCeil(rewriteItem(rewriteLateralAlias(rewriteUnnest(bags))))))))))
  }
}
