package graft.sql

import SqlText.{closeOf, commaRanges, mask, openOf, origGroup, primaryStart, replaceMasked, splitElems, splitTop}

/** Collection-literal and subscript surface of the reference dialect
  * (Parser.jj: ARRAY/MAP constructors-by-enumeration, the `expr[index]`
  * ITEM postfix; SqlStdOperatorTable ARRAY_VALUE_CONSTRUCTOR :297,
  * MAP_VALUE_CONSTRUCTOR :303, ITEM), plus the FLOOR/CEIL(e TO unit)
  * datetime rounding family and a handful of aggregate spellings Spark
  * writes differently. All rewrites are token-aware text lowerings that
  * find on a literal-masked copy (quotes/backticks can never trigger
  * them) and splice replacement text from the original. */
object CollectionSql {

  /** `ARRAY[e, ...]` / `MAP[k, v, ...]` constructors-by-enumeration →
    * Spark's `array(...)` / `map(...)`. Nested literals lower inside-out
    * across iterations; `MULTISET[...]` stays (its ALL-ops surface lives
    * in functions/Multiset.scala). A parenthesized TUPLE element
    * (`ARRAY[(1, 'a'), (2, 'b')]` — the reference's implicit row
    * constructor) becomes `struct(1, 'a')`. */
  def rewriteArrayMap(sql: String): String = {
    val re = "(?i)\\b(ARRAY|MAP|MULTISET)\\s*\\[".r
    var cur = sql
    var m = re.findFirstMatchIn(mask(cur))
    while (m.isDefined) {
      val mm = m.get
      val masked = mask(cur)
      val open = masked.indexOf('[', mm.start)
      val close = closeOf(masked, open)
      if (close < 0) return cur
      // a MULTISET is an array with bag semantics downstream (its ALL
      // ops lower via functions/Multiset.scala); displays match the
      // reference's [a, b] rendering
      val fn = mm.group(1).toLowerCase(java.util.Locale.ROOT) match {
        case "multiset" => "array"
        case other => other
      }
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
      // (unnest.iq:400) and a literal row has its written order anyway
      val inValuesRow = {
        // enclosing-paren chain reaching a `VALUES (` row constructor
        var depth = 0
        var i = mm.start - 1
        var hit = false
        while (i >= 0 && !hit) {
          val c = masked.charAt(i)
          if (c == ')') depth += 1
          else if (c == '(') {
            if (depth == 0) {
              if ("(?is).*\\bVALUES\\s*$".r.matches(masked.substring(0, i))) hit = true
            } else depth -= 1
          }
          i -= 1
        }
        // bare-scalar rows: `VALUES multiset[...], ...` with only list
        // content (no intervening SELECT) between VALUES and the literal
        hit || "(?is).*\\bVALUES\\s*$".r.matches(masked.substring(0, mm.start)) || {
          val v = "(?is)\\bVALUES\\b".r.findAllMatchIn(masked.substring(0, mm.start))
            .toSeq.lastOption
          v.exists { vm =>
            val between = masked.substring(vm.end, mm.start)
            between.count(_ == '(') == between.count(_ == ')') &&
              "(?is)\\b(SELECT|FROM|WHERE)\\b".r.findFirstIn(between).isEmpty
          }
        }
      }
      // a literal feeding an infix bag operator / predicate keeps the
      // plain array shape those lowerings match on (the regroup is a
      // DISPLAY device; bag ops are order-free)
      val inBagOp = {
        val after = masked.substring(close + 1)
        val before = masked.substring(0, mm.start)
        "(?is)^\\s*(MULTISET\\s+(UNION|EXCEPT|INTERSECT)|SUBMULTISET|IS\\s+(NOT\\s+)?(A\\s+SET|EMPTY))\\b".r
          .findFirstIn(after).isDefined ||
        "(?is).*\\b(MULTISET\\s+(UNION|EXCEPT|INTERSECT)(\\s+ALL|\\s+DISTINCT)?|SUBMULTISET\\s+OF)\\s*$".r
          .matches(before)
      }
      val body =
        if (mm.group(1).equalsIgnoreCase("multiset") && !inValuesRow && !inBagOp)
          s"flatten(transform(array_distinct(array($inner)), __mv -> " +
            s"filter(array($inner), __mx -> __mx <=> __mv)))"
        else fn + "(" + inner + ")"
      cur = cur.substring(0, mm.start) + body + cur.substring(close + 1)
      m = re.findFirstMatchIn(mask(cur))
    }
    cur
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
  def rewriteUnnest(sql: String): String = {
    val masked = mask(sql)
    val re = "(?i)\\bUNNEST\\s*\\(".r
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        val arg = sql.substring(open + 1, close).trim
        val argM = masked.substring(open + 1, close).trim
        // suffix: [WITH ORDINALITY] [AS alias [(c1, c2, ...)]]
        val after = masked.substring(close + 1)
        val ordM = "(?is)^\\s*WITH\\s+ORDINALITY".r.findFirstMatchIn(after)
        val ord = ordM.isDefined
        val afterOrd = ordM.map(_.end).getOrElse(0)
        val aliasM = "(?is)^\\s*AS\\s+(`[^`]*`|[A-Za-z_]\\w*)\\s*(\\()?".r
          .findFirstMatchIn(after.substring(afterOrd))
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
          val bare = ("(?is)^\\s*(`[^`]*`|[A-Za-z_]\\w*)").r
            .findFirstMatchIn(after.substring(afterOrd))
          bare.foreach { bm =>
            val w = after.substring(afterOrd).substring(bm.start(1), bm.end(1))
            if (!"(?i)^(WITH|WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ON|AS|QUALIFY|FETCH|LATERAL|NATURAL|USING|WINDOW)$".r.matches(w)) {
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
          if ("(?is)^MAP\\s*\\(.*".r.matches(a)) "map"
          else if ("(?is)^ARRAY\\s*\\(\\s*STRUCT\\s*\\(.*".r.matches(a)) "struct"
          else if ("(?is)^\\(?\\s*(SELECT|WITH)\\b.*".r.matches(a)) "subq"
          else if ("(?is)^MULTISET\\b.*".r.matches(a)) "multiset"
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
                val sm = "(?is)STRUCT\\s*\\(".r.findFirstMatchIn(maskedArg).get
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
            val isMapRec = "(?is).*\\bMAP\\s*[\\[(].*".r.matches(argM)
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
        replacement match {
          case Some(rep) =>
            val start =
              if (isLateral) { // eat the comma and optional LATERAL keyword
                val upToComma = sql.substring(0, commaAt)
                return rewriteUnnest(upToComma + " " + rep + sql.substring(end))
              } else m.start
            return rewriteUnnest(sql.substring(0, start) + rep + sql.substring(end))
          case None => () // next match
        }
      }
    }
    sql
  }

  /** The postfix subscript `primary[index]` → `item(primary, index)` —
    * the reference's ITEM operator (1-based for arrays and row ordinals,
    * key lookup for maps, NULL out of range; functions/FloorCeilTo.scala
    * ItemCalcite). Runs AFTER [[rewriteArrayMap]], so every surviving
    * bracket is a subscript. The primary is found by scanning backward
    * over identifier chains, call/paren groups, and prior subscripts —
    * the same walk the BigQuery dialect's SAFE_ subscripts use. */
  def rewriteItem(sql: String): String = {
    val masked = mask(sql)
    var i = 0
    while (i < masked.length) {
      if (masked.charAt(i) == '[') {
        // predecessor primary may be separated by whitespace (the
        // reference's grammar allows `expr [ index ]`; variant.iq:202
        // continues the subscript on the next line)
        var p = i - 1
        while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
        val pc = if (p >= 0) masked.charAt(p) else ' '
        if (pc.isLetterOrDigit || pc == '_' || pc == ')' || pc == ']' || pc == '`') {
          val exprStart = primaryStart(masked, i)
          val target = sql.substring(exprStart, i).trim
          val kw = target.toUpperCase(java.util.Locale.ROOT)
          val close = closeOf(masked, i)
          if (target.nonEmpty && close > 0 &&
              kw != "MULTISET" && kw != "ARRAY" && kw != "MAP") {
            val idx = sql.substring(i + 1, close)
            return rewriteItem(sql.substring(0, exprStart) +
              s"item($target, $idx)" + sql.substring(close + 1))
          }
        }
      }
      i += 1
    }
    sql
  }

  private val dtUnits =
    Set("YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE",
      "SECOND", "MILLISECOND", "MICROSECOND")

  /** `FLOOR(e TO unit)` / `CEIL(e TO unit)` (SqlFloorFunction with an
    * interval qualifier) → the type-preserving floor_to/ceil_to
    * expressions (functions/FloorCeilTo.scala). Numeric FLOOR/CEIL (no
    * TO) pass through to Spark's own. */
  def rewriteFloorCeil(sql: String): String = {
    val re = "(?i)\\b(FLOOR|CEIL|CEILING)\\s*\\(".r
    val masked = mask(sql)
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        val innerM = masked.substring(open + 1, close)
        val toRe = "(?is)\\s+TO\\s+([A-Za-z]+)\\s*$".r
        toRe.findFirstMatchIn(innerM) match {
          case Some(tm) if dtUnits(tm.group(1).toUpperCase(java.util.Locale.ROOT)) =>
            val fn = if (m.group(1).equalsIgnoreCase("FLOOR")) "floor_to" else "ceil_to"
            val expr = sql.substring(open + 1, open + 1 + tm.start)
            val unit = tm.group(1).toUpperCase(java.util.Locale.ROOT)
            return rewriteFloorCeil(sql.substring(0, m.start) +
              s"$fn($expr, '$unit')" + sql.substring(close + 1))
          case _ => ()
        }
      }
    }
    sql
  }

  /** Composite `COUNT(a, b, ...)` (SqlCountAggFunction accepts N args:
    * count of rows where EVERY argument is non-null; agg.iq:186) →
    * `COUNT(CASE WHEN a IS NOT NULL AND ... THEN 1 END)`. DISTINCT
    * multi-arg COUNT is Spark-native and passes through. */
  def rewriteCompositeCount(sql: String): String = {
    val re = "(?i)\\bCOUNT\\s*\\(".r
    val masked = mask(sql)
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        val innerOrig = sql.substring(open + 1, close)
        val args = splitTop(masked.substring(open + 1, close))
        if (args.length > 1 &&
            !"(?is)^\\s*DISTINCT\\b".r.findFirstIn(innerOrig).isDefined &&
            !"(?is)^\\s*ALL\\b".r.findFirstIn(innerOrig).isDefined) {
          val origArgs = splitTop(innerOrig).map(_.trim)
          val cond = origArgs.map(a => s"($a) IS NOT NULL").mkString(" AND ")
          return rewriteCompositeCount(sql.substring(0, m.start) +
            s"COUNT(CASE WHEN $cond THEN 1 END)" + sql.substring(close + 1))
        }
      }
    }
    sql
  }

  /** Aggregate spellings: `EVERY(p)` → bool_and (SqlStdOperatorTable
    * EVERY), and multi-argument `GROUPING(a, b, ...)` → Spark's packed
    * `grouping_id(a, b, ...)` (same bit order — first argument most
    * significant; SqlGroupingFunction accepts N args). */
  def rewriteAggSpellings(sql: String): String = {
    val s0 = {
      // single-argument LISTAGG defaults its separator to ',' in the
      // reference (SqlListaggAggFunction); Spark's defaults to ''
      val masked = mask(sql)
      val re = "(?i)\\bLISTAGG\\s*\\(".r
      re.findAllMatchIn(masked).collectFirst {
        case m if {
          val open = masked.indexOf('(', m.start)
          val close = closeOf(masked, open)
          close > 0 && splitTop(masked.substring(open + 1, close)).length == 1
        } =>
          val open = masked.indexOf('(', m.start)
          val close = closeOf(masked, open)
          rewriteAggSpellings(sql.substring(0, close) + ", ','" + sql.substring(close))
      }.getOrElse(sql)
    }
    // (aggregate ANY_VALUE→MAX moved to CalciteTyping.rewrite: it is a
    // conformance-dialect quirk of the reference's enumerable engine —
    // in the PRODUCT pipeline the substitution broke any_value over
    // non-orderable types (MAP, VARIANT) and `IGNORE NULLS`, both of
    // which Spark's own any_value supports)
    val s1 = replaceMasked(s0, "(?i)\\bEVERY\\s*\\(".r)((_, _) => "bool_and(")
    val re = "(?i)\\bGROUPING\\s*\\(".r
    val masked = mask(s1)
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0 && splitTop(masked.substring(open + 1, close)).length > 1)
        return rewriteAggSpellings(s1.substring(0, m.start) + "grouping_id(" +
          s1.substring(open + 1, close) + ")" + s1.substring(close + 1))
    }
    s1
  }

  /** The MULTISET bag aggregates (SqlStdOperatorTable FUSION :1178,
    * INTERSECTION :1186; agg.iq:182,1480-1540): FUSION is the
    * bag-union of a group's collections — `flatten(collect_list(x))` —
    * and INTERSECTION the bag-intersection, folded with the
    * multiset_intersect_all expression over the collected groups.
    * `SOME(pred)` as an AGGREGATE (not a quantifier — only when no
    * comparison operator precedes) is bool_or. */
  def rewriteBagAggs(sql: String): String = {
    val masked = mask(sql)
    "(?i)\\b(FUSION|INTERSECTION)\\s*\\(".r.findFirstMatchIn(masked) match {
      case Some(m) =>
        val open = masked.indexOf('(', m.start)
        val close = closeOf(masked, open)
        if (close < 0) return sql
        val x = sql.substring(open + 1, close)
        val rep =
          if (m.group(1).equalsIgnoreCase("FUSION")) s"flatten(collect_list($x))"
          else {
            val cl = s"collect_list($x)"
            s"aggregate(slice($cl, 2, size($cl)), element_at($cl, 1), " +
              s"(__ba, __be) -> multiset_intersect_all(__ba, __be))"
          }
        rewriteBagAggs(sql.substring(0, m.start) + rep + sql.substring(close + 1))
      case None =>
        val sb = new StringBuilder
        var last = 0
        for (m <- "(?i)\\bSOME\\s*\\(".r.findAllMatchIn(masked)) {
          var p = m.start - 1
          while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
          val quantified = p >= 0 && "=<>!".contains(masked.charAt(p))
          sb.append(sql.substring(last, m.start))
          sb.append(if (quantified) sql.substring(m.start, m.end) else "bool_or(")
          last = m.end
        }
        sb.append(sql.substring(last)).toString
    }
  }

  /** A bare `LATERAL (subquery)` with no alias (lateral.iq — the
    * reference derives one; Spark requires an explicit alias on lateral
    * subqueries): append a generated alias. Aliased laterals pass
    * through. */
  def rewriteLateralAlias(sql: String): String = {
    val masked = mask(sql)
    val re = "(?i)\\bLATERAL\\s*\\(".r
    for (m <- re.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        val after = masked.substring(close + 1)
        val tok = "(?is)^\\s*(AS\\s+)?(`[^`]*`|[A-Za-z_]\\w*)".r.findFirstMatchIn(after)
        val aliased = tok.exists { t =>
          t.group(1) != null ||
            !"(?i)^(WHERE|GROUP|HAVING|ORDER|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ON|QUALIFY|FETCH|LATERAL|NATURAL|USING|WINDOW|WITH)$".r
              .matches(t.group(2).stripPrefix("`").stripSuffix("`"))
        }
        if (!aliased)
          return rewriteLateralAlias(sql.substring(0, close + 1) +
            s" __lat$open" + sql.substring(close + 1))
      }
    }
    sql
  }

  /** The SQL-standard row-period predicate `(a, b) OVERLAPS (c, d)`
    * (SqlOverlapsOperator; misc.iq:2346 — CALCITE-1167 normalizes each
    * operand pair so (high, low) order still matches). The standard
    * truth table: common point shared EXCEPT a pure endpoint touch —
    * `(s1 > s2 AND s1 < e2) OR (s2 > s1 AND s2 < e1) OR s1 = s2`
    * over least/greatest-normalized bounds. */
  def rewriteOverlaps(sql: String): String = {
    val masked = mask(sql)
    val re = "(?i)\\)\\s*OVERLAPS\\s*\\(".r
    for (m <- re.findAllMatchIn(masked)) {
      // left operand: the paren group CLOSING at m.start
      val lClose = m.start
      val lOpen = openOf(masked, lClose)
      val rOpen = masked.lastIndexOf('(', m.end - 1)
      val rClose = closeOf(masked, rOpen)
      if (lOpen >= 0 && rClose > 0) {
        val lo = splitElems(sql, masked, lOpen + 1, lClose)
        val ro = splitElems(sql, masked, rOpen + 1, rClose)
        if (lo.length == 2 && ro.length == 2) {
          val (s1, e1) = (s"least(${lo(0)}, ${lo(1)})", s"greatest(${lo(0)}, ${lo(1)})")
          val (s2, e2) = (s"least(${ro(0)}, ${ro(1)})", s"greatest(${ro(0)}, ${ro(1)})")
          val rep = s"(($s1 > $s2 AND $s1 < $e2) OR ($s2 > $s1 AND $s2 < $e1) OR $s1 = $s2)"
          return rewriteOverlaps(sql.substring(0, lOpen) + rep + sql.substring(rClose + 1))
        }
      }
    }
    sql
  }

  /** Niladic `PI` (the reference parses parameterless builtins without
    * parentheses — SqlStdOperatorTable.PI, misc.iq:2081) → `pi()`.
    * Fires only on the bare word: `pi(`, `x.pi`, and an `AS pi` alias
    * stay untouched. */
  def rewritePi(sql: String): String = {
    val masked = mask(sql)
    val sb = new StringBuilder
    var last = 0
    for (m <- "(?i)(?<![\\w.`])PI(?![\\w(.`])".r.findAllMatchIn(masked)) {
      val prevWord = "(?i)(\\w+)\\s*$".r.findFirstMatchIn(masked.substring(0, m.start)).map(_.group(1))
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
    val s1 = replaceMasked(sql,
      "(?i)\\b(ROWS\\s+BETWEEN\\s+|ROWS\\s+)(\\d+)\\.0*\\s+(PRECEDING|FOLLOWING)".r)((m, o) =>
      s"${o.substring(m.start(1), m.end(1))}${m.group(2)} ${m.group(3)}")
    replaceMasked(s1,
      "(?i)\\b(AND\\s+)(\\d+)\\.0*\\s+(PRECEDING|FOLLOWING)".r)((m, o) =>
      s"${m.group(1)}${m.group(2)} ${m.group(3)}")
  }

  /** JDBC interval-unit spellings in TIMESTAMPADD/TIMESTAMPDIFF
    * (SqlTimestampAddFunction — SQL_TSI_* unit keywords; Spark's own
    * timestampadd/diff take the bare unit names). FRAC_SECOND is the
    * reference's microsecond. */
  def rewriteTsiUnits(sql: String): String =
    replaceMasked(sql,
      "(?i)\\b(TIMESTAMPADD|TIMESTAMPDIFF)\\s*\\(\\s*SQL_TSI_(\\w+)".r)((m, _) => {
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
