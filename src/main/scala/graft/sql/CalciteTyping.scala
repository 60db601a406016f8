package graft.sql

import scala.util.chaining._

import SqlText.{closeOf, mask}

/** Conformance-dialect adapter for the reference's AVG-family return
  * types (RelDataTypeSystemImpl.deriveAvgAggType — the result keeps
  * the ARGUMENT type, truncating toward zero): each matching aggregate
  * call is wrapped in `agg_typed(<call>, max(<first arg>))`, whose
  * RuntimeReplaceable (functions/AggTyped.scala) re-types the result to
  * the sample's analyzed type and drops the sample.
  *
  * Applied by the conformance harness ONLY (CorpusSpec.clean — like its
  * UNPIVOT label casing): the PRODUCT surface keeps Spark's own wider
  * derivations, a deliberate divergence pinned in DecimalTypeSystemSpec.
  *
  * Window forms carry their OVER clause onto the sample
  * (`agg_typed(avg(x) OVER w, max(x) OVER w)`); DISTINCT qualifiers are
  * stripped from the sample (type-only). */
object CalciteTyping {

  private val fns =
    "avg|var_pop|var_samp|variance|stddev|stddev_pop|stddev_samp|" +
      "covar_pop|covar_samp|regr_sxx|regr_syy"

  def rewrite(sql0: String): String = {
    val sql = decomposeIntVariance(intLitDiv(anyValueAsMax(
      pivotManual(decimalLitCastDown(timeLiteralArith(intervalOrderedRange(
        inIsPostfix(orderByGrouping(valuesRowStrip(rowTypeCast(
          decimalPrecisionClamp(bareCastTimestampTrunc(sql0)))))))))))))
    val masked = mask(sql)
    // measure statements restructure through MeasureSql — the wrapper's
    // sample would reference columns outside the measure's context
    if ("(?i)\\bMEASURE\\b|\\bAGGREGATE\\s*\\(".r.findFirstIn(masked).isDefined) return sql
    val re = ("(?i)\\b(" + fns + ")\\s*\\(").r
    for (m <- re.findAllMatchIn(masked)) {
      // an already-wrapped call (agg_typed(avg(...)) is preceded by '(')
      val prevWordOk = {
        val before = masked.substring(0, m.start)
        !"(?is).*\\bagg_typed\\s*\\($".r.matches(before)
      }
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (prevWordOk && close > 0) {
        // sample: the first argument (DISTINCT stripped); two-argument
        // COVAR/REGR derive the LEAST RESTRICTIVE of both argument
        // types (CALCITE-7696) — their sample SUMS the operands, whose
        // arithmetic derivation is exactly the wider type
        val args = SqlText.splitElems(sql, masked, open + 1, close)
        val first = args.head.replaceAll("(?is)^(DISTINCT|ALL)\\s+", "")
          .pipe(f => if (args.length > 1) s"($f) + (${args(1)})" else f)
        // optional FILTER (...) and OVER (...)|OVER w suffixes
        var end = close + 1
        val filt = "(?is)^\\s*FILTER\\s*\\(".r.findFirstMatchIn(masked.substring(end))
        filt.foreach { fm =>
          val fc = closeOf(masked, end + fm.end - 1)
          if (fc > 0) end = fc + 1
        }
        var overTxt = ""
        val over = "(?is)^\\s*OVER\\s*(\\(|[A-Za-z_]\\w*)".r.findFirstMatchIn(masked.substring(end))
        over.foreach { om =>
          if (om.group(1) == "(") {
            val oc = closeOf(masked, end + om.end - 1)
            if (oc > 0) { overTxt = " " + sql.substring(end + om.start, oc + 1).trim; end = oc + 1 }
          } else { overTxt = " " + sql.substring(end + om.start, end + om.end).trim; end = end + om.end }
        }
        // WITHIN DISTINCT forms lower through WithinDistinctSql (their
        // SUM/AVG compute in DOUBLE; re-typing would break the parse)
        if ("(?is)^\\s*WITHIN\\s+DISTINCT\\b".r.findFirstIn(masked.substring(end)).isEmpty) {
          val call = sql.substring(m.start, end)
          val sample = s"max($first)$overTxt"
          return rewrite(sql.substring(0, m.start) +
            s"agg_typed($call, $sample)" + sql.substring(end))
        }
      }
    }
    sql
  }

  /** The reference's DEFAULT decimal cast truncates toward zero
    * (RelDataTypeSystem rounding mode DOWN — cast.iq:547+); Spark
    * rounds HALF_UP. For LITERAL sources (number or numeric string)
    * the truncation is computed here at rewrite time and re-emitted as
    * an exact cast (no rounding digit left), which also resolves
    * nested literal cast chains innermost-out. Values that overflow
    * the target precision are left alone so the `!error` overflow
    * contracts still fire. Column-typed sources keep Spark's HALF_UP
    * (divergence pinned in DecimalTypeSystemSpec). */
  private def decimalLitCastDown(sql0: String): String = {
    var sql = sql0
    var changed = true
    while (changed) {
      changed = false
      val masked = mask(sql)
      val re = "(?i)\\bCAST\\s*\\(".r
      val it = re.findAllMatchIn(masked).toList
      for (m <- it if !changed) {
        val open = masked.indexOf('(', m.start)
        val close = closeOf(masked, open)
        if (close > 0) {
          val content = sql.substring(open + 1, close)
          // source = a bare/quoted numeric literal (spaces inside the
          // quotes trim, like the reference's cast), or a literal cast
          // through FLOAT/REAL/DOUBLE/DECIMAL — inner decimal chains
          // resolve innermost-out through this loop's own normalized
          // output; float reprs stay within an ulp of the decimal
          // text, which never reaches the truncation digit for the
          // short literals SQL carries
          val lit = "-?\\d+(?:\\.\\d+)?(?:[eE]-?\\d+)?"
          val tm = ("(?is)^\\s*(?:'\\s*(" + lit + ")\\s*'|(" + lit + ")|CAST\\s*\\(\\s*(" + lit +
            ")\\s+AS\\s+(?:FLOAT|REAL|DOUBLE|DECIMAL\\s*\\(\\d+(?:\\s*,\\s*\\d+)?\\))\\s*\\))" +
            "\\s+AS\\s+DECIMAL\\s*\\((\\d+)\\s*(?:,\\s*(\\d+))?\\)\\s*$").r
            .findFirstMatchIn(content)
          tm.foreach { t =>
            val p = t.group(4).toInt
            val s = Option(t.group(5)).map(_.toInt).getOrElse(0)
            val src = Option(t.group(1)).orElse(Option(t.group(2))).getOrElse(t.group(3))
            try {
              val v = new java.math.BigDecimal(src)
                .setScale(s, java.math.RoundingMode.DOWN)
              if (v.precision <= p || v.unscaledValue.abs.toString.length <= p) {
                val lit = v.toPlainString
                val rep = s"CAST($lit AS DECIMAL($p, $s))"
                val old = sql.substring(m.start, close + 1)
                if (rep != old) {
                  sql = sql.substring(0, m.start) + rep + sql.substring(close + 1)
                  changed = true
                }
              }
            } catch { case _: ArithmeticException => }
          }
        }
      }
    }
    sql
  }

  /** Interval-ordered RANGE frames (CALCITE-7435, winagg.iq:23). The
    * reference's postfix interval qualifier `(ts1 - ts2) HOURS` types a
    * timestamp difference as INTERVAL HOUR; its display is the signed
    * unit count (+754). Lowered to the NUMERIC count of the unit
    * (integer `div`, truncation toward zero like the reference's
    * interval normalization — IntervalSqlType), which the harness
    * value-compare reads numerically. Interval frame bounds in a RANGE
    * window ordered by such a key then re-scale to the key's unit
    * (INTERVAL 2 DAYS over an HOURS key → 48), becoming the plain
    * numeric bounds Spark's RANGE frame wants — one Window pass, no
    * extra exchange. */
  private def intervalOrderedRange(sql0: String): String = {
    val micros = Map("SECOND" -> 1000000L, "MINUTE" -> 60000000L,
      "HOUR" -> 3600000000L, "DAY" -> 86400000000L)
    var sql = sql0
    var units = Map.empty[String, String] // key column (lower) -> unit
    // (expr - expr) UNIT AS name — postfix qualifier over a subtraction
    var go = true
    while (go) {
      go = false
      val masked = mask(sql)
      val post = ("(?is)\\)\\s*(SECOND|MINUTE|HOUR|DAY)S?\\s+AS\\s+(\\w+)").r
      post.findAllMatchIn(masked).toSeq.foreach { m =>
        if (!go) {
          // matching open paren of the `)` the match starts at
          val open = SqlText.openOf(masked, m.start)
          if (open >= 0) {
            val inner = sql.substring(open + 1, m.start)
            val im = mask(inner)
            val minusAt = {
              var d = 0; var at = -1; var j = 0
              while (j < im.length && at < 0) {
                val c = im.charAt(j)
                if (c == '(') d += 1 else if (c == ')') d -= 1
                else if (c == '-' && d == 0 && j > 0) at = j
                j += 1
              }
              at
            }
            if (minusAt > 0) {
              val unit = m.group(1).toUpperCase(java.util.Locale.ROOT)
              val (lhs, rhs) = (inner.substring(0, minusAt).trim,
                inner.substring(minusAt + 1).trim)
              units += (m.group(2).toLowerCase(java.util.Locale.ROOT) -> unit)
              sql = sql.substring(0, open) +
                s"((unix_micros(CAST($lhs AS TIMESTAMP)) - " +
                s"unix_micros(CAST($rhs AS TIMESTAMP))) div ${micros(unit)}) " +
                s"AS ${m.group(2)}" + sql.substring(m.end)
              go = true
            }
          }
        }
      }
    }
    if (units.isEmpty) return sql
    // interval bounds in RANGE frames ordered by a lowered key
    val frameRe = ("(?is)\\bORDER\\s+BY\\s+(\\w+)\\s+RANGE\\s+BETWEEN\\s+" +
      "INTERVAL\\s+(\\d+)\\s+(SECOND|MINUTE|HOUR|DAY)S?\\s+(PRECEDING|FOLLOWING)\\s+AND\\s+" +
      "INTERVAL\\s+(\\d+)\\s+(SECOND|MINUTE|HOUR|DAY)S?\\s+(PRECEDING|FOLLOWING)").r
    SqlText.replaceMasked(sql, frameRe)((m, o) =>
      units.get(m.group(1).toLowerCase(java.util.Locale.ROOT)) match {
        case Some(ku) =>
          def scaled(n: String, u: String) =
            n.toLong * micros(u.toUpperCase(java.util.Locale.ROOT)) / micros(ku)
          s"ORDER BY ${m.group(1)} RANGE BETWEEN " +
            s"${scaled(m.group(2), m.group(3))} ${m.group(4).toUpperCase(java.util.Locale.ROOT)} AND " +
            s"${scaled(m.group(5), m.group(6))} ${m.group(7).toUpperCase(java.util.Locale.ROOT)}"
        case None => o.substring(m.start, m.end)
      })
  }

  /** TIME literal ± interval (misc.iq:29/50/60): Spark has no TIME
    * type; the engine's TIME surface is the 'HH:mm:ss' string encoding
    * (functions/BigQueryFns time family). Lower the literal arithmetic
    * onto it. */
  private def timeLiteralArith(sql: String): String = {
    val unitUs = Map("SECOND" -> 1000000L, "MINUTE" -> 60000000L, "HOUR" -> 3600000000L)
    "(?is)\\bTIME\\s+'([\\d:.]+)'\\s*([+-])\\s*CAST\\s*\\(\\s*'(\\d+)'\\s+AS\\s+INTERVAL\\s+(SECOND|MINUTE|HOUR)\\s*\\)".r
      .replaceAllIn(sql, m => {
        val sign = if (m.group(2) == "-") -1L else 1L
        val us = sign * m.group(3).toLong *
          unitUs(m.group(4).toUpperCase(java.util.Locale.ROOT))
        s"bq_time_add_micros('${m.group(1)}', ${us}L)"
      })
  }

  /** Integer-literal division: the reference computes SQL-standard
    * integer semantics (1/2 = 0, truncating toward zero — misc.iq:2435,
    * unsigned.iq:142); Spark's `/` is always fractional. Literal/literal
    * only — typed-column division keeps Spark's product semantics. */
  private def intLitDiv(sql: String): String = {
    val s1 = SqlText.replaceMasked(sql,
      "(?<![\\w.'])(-?\\d+)\\s*/\\s*(-?\\d+)(?![\\w.])".r) { (m, orig) =>
      s"DIV(${SqlText.origGroup(m, orig, 1)}, ${SqlText.origGroup(m, orig, 2)})"
    }
    // CAST-expression left operands (unsigned.iq:142 —
    // CAST(1000 AS INT UNSIGNED) / 30): the paren-matched form of the
    // bare-identifier branch below, single-pass so its own ELSE-branch
    // division is never re-visited
    val s1b = {
      val masked = mask(s1)
      val sb = new StringBuilder
      var last = 0
      for (m <- "(?is)\\)\\s*/\\s*(-?\\d+|[A-Za-z_]\\w*)(?![\\w.(])".r
          .findAllMatchIn(masked) if m.start >= last) {
        val open = SqlText.openOf(masked, m.start)
        val cm = if (open > 0)
          "(?is)\\bCAST\\s*$".r.findFirstMatchIn(masked.substring(0, open)) else None
        cm.foreach { c =>
          if (c.start >= last) {
            val a = s1.substring(c.start, m.start + 1)
            val b = SqlText.origGroup(m, s1, 1)
            val ints = "('tinyint', 'smallint', 'int', 'bigint')"
            sb.append(s1.substring(last, c.start))
              .append(s"(CASE WHEN typeof($a) IN $ints AND typeof($b) IN $ints " +
                s"THEN CAST((CAST($a AS BIGINT) DIV CAST($b AS BIGINT)) AS DOUBLE) " +
                s"ELSE ($a / $b) END)")
            last = m.end
          }
        }
      }
      sb.append(s1.substring(last)).toString
    }
    // bare-identifier operands (misc.iq:2435 — X/Y over INT columns):
    // branch on the RUNTIME type, so float columns keep fractional `/`.
    // The DIV branch CASTs its operands so it still ANALYZES when the
    // runtime type turns out fractional (pi DIV 2 would not type-check);
    // `interval (expr) unit` stays untouched — its parser needs the
    // plain division text.
    SqlText.replaceMasked(s1b,
      "(?<![\\w.'])([A-Za-z_]\\w*|\\d+)\\s*/\\s*([A-Za-z_]\\w*|\\d+)(?![\\w.(])".r) { (m, orig) =>
      val a = SqlText.origGroup(m, orig, 1)
      val b = SqlText.origGroup(m, orig, 2)
      val before = orig.substring(0, m.start)
      if ("(?is).*\\binterval\\s*\\(\\s*$".r.matches(before)) m.matched
      else {
        val ints = "('tinyint', 'smallint', 'int', 'bigint')"
        s"(CASE WHEN typeof($a) IN $ints AND typeof($b) IN $ints " +
          s"THEN CAST((CAST($a AS BIGINT) DIV CAST($b AS BIGINT)) AS DOUBLE) " +
          s"ELSE ($a / $b) END)"
      }
    }
  }

  /** The reference decomposes variance/stddev over INTEGER arguments
    * with INTEGER division at every step (AggregateReduceFunctionsRule:
    * var_pop = (Σx² − (Σx)² DIV n) DIV n; agg.iq:225 records var_pop =
    * 289 where the exact value is 288.9). Reproduced with a runtime
    * type branch — `typeof(max(x))` picks the integer-decomposed or the
    * native float computation — so DECIMAL/DOUBLE arguments keep their
    * exact math. FILTER and OVER suffixes ride every inner aggregate.
    * Conformance dialect only (like the rest of this adapter). */
  private def decomposeIntVariance(sql: String): String = {
    val masked = mask(sql)
    val re = ("(?i)\\b(var_pop|var_samp|variance|stddev|stddev_pop|stddev_samp|" +
      "covar_pop|covar_samp|regr_sxx|regr_syy)\\s*\\(").r
    for (m <- re.findAllMatchIn(masked)) {
      val fn = m.group(1).toLowerCase(java.util.Locale.ROOT)
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      // our own emission puts the native call right after "ELSE CAST(",
      // and the main agg_typed pass may later wrap it — skip both on
      // the recursion re-scans
      val already = "(?is).*(ELSE\\s+CAST|agg_typed)\\s*\\($".r
        .matches(masked.substring(0, m.start))
      if (close > 0 && !already) {
        val arg0 = sql.substring(open + 1, close).trim
        if (!"(?is)^(DISTINCT|ALL)\\s".r.findFirstIn(arg0).isDefined) {
          // optional FILTER (...) and OVER (...)|OVER w suffixes
          var end = close + 1
          var filterTxt = ""
          val filt = "(?is)^\\s*FILTER\\s*\\(".r.findFirstMatchIn(masked.substring(end))
          filt.foreach { fm2 =>
            val fc = closeOf(masked, end + fm2.end - 1)
            if (fc > 0) { filterTxt = " " + sql.substring(end + fm2.start, fc + 1).trim; end = fc + 1 }
          }
          var overTxt = ""
          val over = "(?is)^\\s*OVER\\s*(\\(|[A-Za-z_]\\w*)".r.findFirstMatchIn(masked.substring(end))
          over.foreach { om =>
            if (om.group(1) == "(") {
              val oc = closeOf(masked, end + om.end - 1)
              if (oc > 0) { overTxt = " " + sql.substring(end + om.start, oc + 1).trim; end = oc + 1 }
            } else { overTxt = " " + sql.substring(end + om.start, end + om.end).trim; end = end + om.end }
          }
          val twoArg = Set("covar_pop", "covar_samp", "regr_sxx", "regr_syy")(fn)
          val args = SqlText.splitElems(sql, masked, open + 1, close)
          // EXCLUDE-framed windows lower through ExcludeFrameSql, whose
          // parser reads the NATIVE call — don't decompose under them
          if ("(?is)^\\s*WITHIN\\s+DISTINCT\\b".r.findFirstIn(masked.substring(end)).isEmpty &&
              "(?i)\\bEXCLUDE\\b".r.findFirstIn(overTxt).isEmpty &&
              (!twoArg || args.length == 2) && (twoArg || args.length == 1)) {
            def agg(e: String) = s"$e$filterTxt$overTxt"
            val (intExpr, typeCond, sample) =
              if (!twoArg) {
                val a = s"CAST(($arg0) AS BIGINT)"
                val sx = agg(s"sum($a * $a)")
                val s1 = agg(s"sum($a)")
                val n = agg(s"count(($arg0))")
                // NULLIF divisors: an empty (FILTERed-out) group answers
                // NULL, like the native aggregate — not DIVIDE_BY_ZERO
                val popDiv = s"(($sx - (($s1 * $s1) DIV NULLIF($n, 0))) DIV NULLIF($n, 0))"
                val sampDiv = s"(($sx - (($s1 * $s1) DIV NULLIF($n, 0))) DIV NULLIF($n - 1, 0))"
                val e = fn match {
                  case "var_pop" => popDiv
                  case "var_samp" | "variance" => sampDiv
                  case "stddev_pop" => s"sqrt(CAST($popDiv AS DOUBLE))"
                  case _ => s"sqrt(CAST($sampDiv AS DOUBLE))"
                }
                (e,
                  s"typeof(${agg(s"max(($arg0))")}) IN ('tinyint', 'smallint', 'int', 'bigint')",
                  agg(s"max(($arg0))"))
              } else {
                // pair-filtered sums: both operands non-null, like the
                // native two-arg aggregates
                val (x, y) = (args(0), args(1))
                val ok = s"(($x) IS NOT NULL AND ($y) IS NOT NULL)"
                def p(e: String) = s"CASE WHEN $ok THEN $e END"
                val xi = s"CAST(($x) AS BIGINT)"
                val yi = s"CAST(($y) AS BIGINT)"
                val n = agg(s"count(${p("1")})")
                val sxy = agg(s"sum(${p(s"$xi * $yi")})")
                val sxp = agg(s"sum(${p(xi)})")
                val syp = agg(s"sum(${p(yi)})")
                val sxx = agg(s"sum(${p(s"$xi * $xi")})")
                val syy = agg(s"sum(${p(s"$yi * $yi")})")
                val e = fn match {
                  case "covar_pop" =>
                    s"((($sxy - (($sxp * $syp) DIV NULLIF($n, 0))) DIV NULLIF($n, 0)))"
                  case "covar_samp" =>
                    s"((($sxy - (($sxp * $syp) DIV NULLIF($n, 0))) DIV NULLIF($n - 1, 0)))"
                  // REGR_SXX(e1, e2) = n·var_pop(e2) (the INDEPENDENT,
                  // second operand — winagg.iq:899 pins 66 from deptno);
                  // REGR_SYY(e1, e2) = n·var_pop(e1)
                  case "regr_sxx" =>
                    s"($n * (($syy - (($syp * $syp) DIV NULLIF($n, 0))) DIV NULLIF($n, 0)))"
                  case _ =>
                    s"($n * (($sxx - (($sxp * $sxp) DIV NULLIF($n, 0))) DIV NULLIF($n, 0)))"
                }
                (e,
                  s"typeof(${agg(s"max(($x))")}) IN ('tinyint', 'smallint', 'int', 'bigint') AND " +
                    s"typeof(${agg(s"max(($y))")}) IN ('tinyint', 'smallint', 'int', 'bigint')",
                  agg(s"max((($x)) + (($y)))"))
              }
            val native =
              if (twoArg) agg(s"$fn($arg0)") else agg(s"$fn(($arg0))")
            val branch = s"(CASE WHEN $typeCond " +
              s"THEN CAST($intExpr AS DOUBLE) ELSE CAST($native AS DOUBLE) END)"
            return decomposeIntVariance(
              sql.substring(0, m.start) + s"agg_typed($branch, $sample)" +
                sql.substring(end))
          }
        }
      }
    }
    sql
  }

  /** Aggregate ANY_VALUE computes as MAX in the reference's enumerable
    * engine (same device as SqlByRewriter's implicit aggregate;
    * agg.iq:2899) — a conformance-dialect substitution only: the
    * product keeps Spark's own any_value, which also works on
    * non-orderable types (MAP, VARIANT — CALCITE-4813, blank.iq:160)
    * and with IGNORE NULLS, both of which max() rejects. Windowed and
    * IGNORE/RESPECT NULLS forms are left alone here too. */
  /** Manual PIVOT lowering (conformance dialect): the reference (like
    * Oracle) fills empty COUNT cells with 0 and names generated columns
    * `<label>_<aggAlias>`; Spark's native pivot aggregates
    * first(if(...)) — NULL cells — and drops the agg alias for a
    * single aggregate. Restating the pivot as conditional aggregation
    * (`FN(CASE WHEN forcol <=> val THEN arg END)` per (value, agg),
    * grouped by the untouched source columns) reproduces the
    * reference's cells and column order exactly, duplicate IN-values
    * included. Applies to `(SELECT <simple cols> ...) PIVOT (...)`
    * shapes; anything else keeps Spark's native pivot. */
  private[sql] def pivotManual(sql: String): String = {
    val masked = mask(sql)
    val pm = "(?i)\\bPIVOT\\s*\\(".r.findFirstMatchIn(masked).getOrElse(return sql)
    val pOpen = masked.indexOf('(', pm.start)
    val pClose = closeOf(masked, pOpen)
    if (pClose < 0) return sql
    // source must be a parenthesized subselect directly before PIVOT
    val before = masked.substring(0, pm.start)
    val srcClose = before.reverse.dropWhile(_.isWhitespace).length - 1
    if (srcClose < 0 || masked.charAt(srcClose) != ')') return sql
    val srcOpen = SqlText.openOf(masked, srcClose)
    if (srcOpen < 0 ||
      "(?is)^\\(\\s*SELECT\\b".r.findFirstIn(masked.substring(srcOpen)).isEmpty) return sql
    // source select list → the full column set: bare identifiers, or
    // aliased expressions (`CASE ... END AS gender` contributes gender)
    val srcBody = masked.substring(srcOpen + 1, srcClose)
    val srcFrom = SqlText.topLevelIndex(srcBody, "FROM")
    if (srcFrom < 0) return sql
    val srcSelEnd = "(?is)^\\s*SELECT\\s".r.findFirstMatchIn(srcBody)
      .map(_.end - 1).getOrElse(return sql)
    val srcCols = SqlText.splitElems(sql, masked,
      srcOpen + 1 + srcSelEnd, srcOpen + 1 + srcFrom).map { item =>
      val t = item.trim
      "(?is)\\s+AS\\s+([A-Za-z_]\\w*|`[^`]*`)\\s*$".r.findFirstMatchIn(t)
        .map(_.group(1).stripPrefix("`").stripSuffix("`"))
        .getOrElse {
          if ("^[A-Za-z_]\\w*$".r.matches(t)) t else return sql
        }
    }
    if (srcCols.isEmpty) return sql

    // pivot clause: aggs FOR forcols IN (values)
    val body = sql.substring(pOpen + 1, pClose)
    val bodyM = masked.substring(pOpen + 1, pClose)
    val forAt = SqlText.topLevelIndex(bodyM, "FOR")
    if (forAt < 0) return sql
    val forEnd = forAt + "FOR".length
    val inM = "(?is)\\bIN\\s*\\(".r.findFirstMatchIn(bodyM.substring(forEnd)).getOrElse(return sql)
    val forColsTxt = body.substring(forEnd, forEnd + inM.start).trim
    val forCols = SqlText.splitTop(
      forColsTxt.stripPrefix("(").stripSuffix(")")).map(_.trim)
    if (!forCols.forall(c => "^[A-Za-z_]\\w*$".r.matches(c))) return sql
    val inOpen = pOpen + 1 + forEnd + inM.end - 1
    val inClose = closeOf(masked, inOpen)
    if (inClose < 0 || inClose > pClose) return sql

    // aggregates: FN(arg) [AS? alias]
    final case class Agg(fn: String, arg: String, name: String)
    val aggs = SqlText.splitElems(sql, masked, pOpen + 1, pOpen + 1 + forAt).map { a =>
      // quoted aliases arrive as backticks (clean0 re-quotes the
      // corpus's double quotes before this adapter runs)
      val m2 = ("(?is)^\\s*(SUM|COUNT|MIN|MAX|AVG)\\s*\\(\\s*(\\*|[A-Za-z_]\\w*)\\s*\\)" +
        "(?:\\s+(?:AS\\s+)?(`[^`]*`|\"[^\"]*\"|[A-Za-z_]\\w*))?\\s*$").r
        .findFirstMatchIn(a).getOrElse(return sql)
      Agg(m2.group(1).toUpperCase(java.util.Locale.ROOT), m2.group(2),
        Option(m2.group(3)).map { raw =>
          val n = raw.replaceAll("^[`\"]|[`\"]$", "")
          // unquoted aliases uppercase (the reference's lexer); quoted
          // keep their spelling
          if (raw.head == '`' || raw.head == '"') n
          else n.toUpperCase(java.util.Locale.ROOT)
        }.getOrElse(""))
    }
    // values: literal | (tuple) [AS? label]
    final case class Val(comps: Seq[String], label: String)
    val vals = SqlText.splitElems(sql, masked, inOpen + 1, inClose).map { v =>
      val vm = ("(?is)^\\s*('[^']*'\\s*\\|\\|\\s*'[^']*'|\\([^)]*\\)|'[^']*'|-?\\d+(?:\\.\\d+)?|[A-Za-z_]\\w*)" +
        "(?:\\s+(?:AS\\s+)?(`[^`]*`|\"[^\"]*\"|[A-Za-z_]\\w*))?\\s*$").r
        .findFirstMatchIn(v).getOrElse(return sql)
      val lit = vm.group(1)
      val comps =
        if (lit.startsWith("(")) SqlText.splitTop(lit.stripPrefix("(").stripSuffix(")")).map(_.trim)
        else Seq(lit)
      val label = Option(vm.group(2))
        .map { l =>
          if (l.head == '`' || l.head == '"') l.replaceAll("^[`\"]|[`\"]$", "")
          else l.toUpperCase(java.util.Locale.ROOT)
        }
        .getOrElse(comps.mkString("_"))
      Val(comps, label)
    }
    if (vals.isEmpty || aggs.isEmpty || vals.exists(_.comps.length != forCols.length))
      return sql

    // duplicate GENERATED column names are legal until referenced —
    // `SELECT *` references all of them, so it must raise the
    // reference's ambiguity error (pivot.iq:41/267/301; Oracle
    // ORA-00918); selecting only the unambiguous names still works
    val genNames = vals.flatMap(v => aggs.map(a =>
      if (a.name.isEmpty) v.label else s"${v.label}_${a.name}"))
    val dupName = genNames.groupBy(identity).collectFirst {
      case (n, xs) if xs.size > 1 => n }
    val outerStar = "(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s*$".r
      .matches(sql.substring(0, srcOpen))
    if (dupName.isDefined && outerStar)
      throw new IllegalArgumentException(s"Column '${dupName.get}' is ambiguous")
    val argCols = aggs.map(_.arg).filter(_ != "*")
    val groupCols = srcCols.filterNot(c =>
      forCols.exists(_.equalsIgnoreCase(c)) || argCols.exists(_.equalsIgnoreCase(c)))
    val aggItems = vals.flatMap { v =>
      // plain `=`: NULL source values match NO pivot value, and an
      // IN-list `null` matches nothing — Oracle semantics (pivot.iq:184)
      val cond = forCols.zip(v.comps)
        .map { case (c, comp) => s"$c = $comp" }.mkString(" AND ")
      aggs.map { a =>
        val e = a.fn match {
          case "COUNT" if a.arg == "*" => s"COUNT(CASE WHEN $cond THEN 1 END)"
          case fn2 => s"$fn2(CASE WHEN $cond THEN ${a.arg} END)"
        }
        val name = if (a.name.isEmpty) v.label else s"${v.label}_${a.name}"
        s"$e AS `$name`"
      }
    }
    val items = (groupCols ++ aggItems).mkString(", ")
    val src = sql.substring(srcOpen, srcClose + 1)
    val groupBy =
      if (groupCols.isEmpty) "" else s" GROUP BY ${groupCols.mkString(", ")}"
    val rep = s"(SELECT $items FROM $src __pvt$groupBy)"
    pivotManual(sql.substring(0, srcOpen) + rep + sql.substring(pClose + 1))
  }

  private def anyValueAsMax(sql: String): String = {
    val masked = mask(sql)
    "(?i)\\bANY_VALUE\\s*\\(".r.findAllMatchIn(masked).collectFirst {
      case m if {
        val close = closeOf(masked, masked.indexOf('(', m.start))
        close > 0 &&
          "(?is)^\\s*(OVER|IGNORE\\s+NULLS|RESPECT\\s+NULLS)\\b".r
            .findFirstIn(masked.substring(close + 1)).isEmpty
      } => anyValueAsMax(sql.substring(0, m.start) + "max(" +
        sql.substring(masked.indexOf('(', m.start) + 1))
    }.getOrElse(sql)
  }

  /** `x IN (SELECT …) IS [NOT] TRUE|FALSE|UNKNOWN` — the reference's
    * grammar binds the boolean test over the unparenthesized IN
    * predicate (sub-query.iq:1963/2337/2711/4597); Spark's needs the
    * predicate parenthesized. The IN itself is restated with EXACT 3VL:
    * Spark can plan a correlated IN in this position as an
    * ExistenceJoin, which answers FALSE where `NULL IN (non-empty)`
    * must be UNKNOWN — so the restatement reaches the native IN only on
    * the non-null-lhs TRUE path (where 2VL and 3VL agree) and derives
    * the UNKNOWN cases from scalar COUNT subqueries (correlation-safe:
    * scalar subqueries plan anywhere). */
  private[sql] def inIsPostfix(sql0: String): String = {
    val masked = mask(sql0)
    for (m <- "(?is)\\)\\s*IS\\s+(?:NOT\\s+)?(?:TRUE|FALSE|UNKNOWN)\\b".r
        .findAllMatchIn(masked)) {
      val open = SqlText.openOf(masked, m.start)
      if (open > 0 &&
          "(?is)^\\s*SELECT\\b".r.findFirstIn(masked.substring(open + 1, m.start)).isDefined) {
        val inM = "(?is)\\b(NOT\\s+)?IN\\s*$".r
          .findFirstMatchIn(masked.substring(0, open))
        if (inM.isDefined) {
          val opStart = SqlText.primaryStart(masked, inM.get.start)
          // the operand must not already sit right after '(' (wrapped)
          val pre = if (opStart > 0) masked.substring(0, opStart).reverse.dropWhile(_.isWhitespace) else ""
          if (opStart >= 0 && !pre.startsWith("(")) {
            val x = sql0.substring(opStart, inM.get.start).trim
            val q = sql0.substring(open + 1, m.start)
            val id = s"iip$open"
            val threeVl =
              s"""(CASE WHEN (SELECT COUNT(*) FROM ($q) ${id}_c) = 0 THEN FALSE
                 WHEN ($x) IS NULL THEN CAST(NULL AS BOOLEAN)
                 WHEN ($x) IN ($q) THEN TRUE
                 WHEN (SELECT COUNT(${id}_v) FROM ($q) AS ${id}_n(${id}_v)) <
                   (SELECT COUNT(*) FROM ($q) ${id}_c2) THEN CAST(NULL AS BOOLEAN)
                 ELSE FALSE END)"""
            val wrapped =
              if (inM.get.group(1) != null) s"(NOT $threeVl)" else threeVl
            return inIsPostfix(sql0.substring(0, opStart) + wrapped +
              sql0.substring(m.start + 1))
          }
        }
      }
    }
    sql0
  }

  /** `ORDER BY grouping(col), …` where the grouping call's metadata is
    * unreachable for Spark's sort resolution (agg.iq:850 — col absent
    * from the select list after ROLLUP): hoist each grouping/grouping_id
    * call into the select list as a hidden `__gordN` column, wrap in
    * `SELECT * EXCEPT (…)` and order by the hidden names. */
  private[sql] def orderByGrouping(sql0: String): String = {
    val masked = mask(sql0)
    val obAt = SqlText.lastTopLevelIndex(masked, "ORDER BY")
    if (obAt < 0 || SqlText.topLevelIndex(masked, "GROUP BY") < 0) return sql0
    val obEnd = SqlText.matchWords(masked, obAt, Array("ORDER", "BY"))
    // order-item region: up to a depth-0 LIMIT/OFFSET/FETCH or the end
    val tailEnd = SqlText.clauseEnd(masked, obEnd, "LIMIT", "OFFSET", "FETCH")
    val itemsM = masked.substring(obEnd, tailEnd)
    val gre = "(?i)\\b(GROUPING|GROUPING_ID)\\s*\\(".r
    if (gre.findFirstIn(itemsM).isEmpty) return sql0
    // body must be a single SELECT (no depth-0 set ops)
    if (Seq("UNION", "INTERSECT", "EXCEPT", "MINUS")
        .exists(kw => (0 until obAt).contains(SqlText.topLevelIndex(masked, kw)))) return sql0
    val from = SqlText.topLevelIndex(masked, "FROM")
    if (from < 0 || from > obAt) return sql0
    // replace calls right-to-left in the order items, collecting them
    var items = sql0.substring(obEnd, tailEnd)
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val found = gre.findAllMatchIn(itemsM).toList
    for ((g, i) <- found.zipWithIndex.reverse) {
      val open = itemsM.indexOf('(', g.start)
      val close = closeOf(itemsM, open)
      if (close < 0) return sql0
      calls.insert(0, sql0.substring(obEnd + g.start, obEnd + close + 1))
      items = items.substring(0, g.start) + s"__gord$i" + items.substring(close + 1)
    }
    val hidden = calls.zipWithIndex
      .map { case (c, i) => s"$c AS __gord$i" }.mkString(", ")
    val names = calls.indices.map(i => s"__gord$i").mkString(", ")
    val body = sql0.substring(0, from) + s", $hidden " +
      sql0.substring(from, obAt)
    s"SELECT * EXCEPT ($names) FROM ($body) __gq ORDER BY" + items +
      sql0.substring(tailEnd)
  }

  /** `VALUES (ROW(a, b)), …` — the reference expands a ROW constructor
    * that IS the whole row into the row's columns (join.iq:993,
    * operator.iq:318); Spark would make it a single struct column.
    * Strips the redundant ROW wrapper. */
  private[sql] def valuesRowStrip(sql0: String): String = {
    val masked = mask(sql0)
    for (vm <- "(?i)\\bVALUES\\b".r.findAllMatchIn(masked)) {
      var j = vm.end
      var scanning = true
      while (scanning) {
        while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
        if (j >= masked.length || masked.charAt(j) != '(') scanning = false
        else {
          val close = closeOf(masked, j)
          if (close < 0) scanning = false
          else {
            val rm = "(?is)^\\s*ROW\\s*\\(".r.findFirstMatchIn(masked.substring(j + 1, close))
            rm.foreach { r =>
              val rowOpen = j + 1 + r.end - 1
              val rowClose = closeOf(masked, rowOpen)
              if (rowClose > 0 && masked.substring(rowClose + 1, close).trim.isEmpty)
                return valuesRowStrip(sql0.substring(0, j + 1) +
                  sql0.substring(rowOpen + 1, rowClose) + sql0.substring(close))
            }
            j = close + 1
            while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
            if (j < masked.length && masked.charAt(j) == ',') j += 1
            else scanning = false
          }
        }
      }
    }
    sql0
  }

  /** `CAST(x AS ROW(a T, b ROW(…)))` — SQL-standard ROW type syntax
    * (cast.iq:2049) → Spark's `STRUCT<a: T, …>`, recursively. */
  private[sql] def rowTypeCast(sql0: String): String = {
    def convert(t: String): String = {
      val m = mask(t)
      "(?is)^\\s*ROW\\s*\\(".r.findFirstMatchIn(m) match {
        case Some(r) if closeOf(m, r.end - 1) == m.length - m.reverse.takeWhile(_.isWhitespace).length - 1 =>
          val open = r.end - 1
          val close = closeOf(m, open)
          val fields = SqlText.splitElems(t, m, open + 1, close).map { f =>
            val ft = f.trim
            val nm = "^([A-Za-z_]\\w*|`[^`]*`)\\s+".r.findFirstMatchIn(ft)
              .getOrElse(return t)
            s"${nm.group(1)}: ${convert(ft.substring(nm.end))}"
          }
          s"STRUCT<${fields.mkString(", ")}>"
        case _ => t.trim
      }
    }
    val masked = mask(sql0)
    for (m <- "(?is)\\bAS\\s+(ROW)\\s*\\(".r.findAllMatchIn(masked)) {
      val open = m.start(1) + masked.substring(m.start(1)).indexOf('(')
      val close = closeOf(masked, open)
      // `CAST(NULL AS ROW(...))` stays for TypesSql.rewriteCastRow,
      // whose POSITIONAL field naming (col1..colN) lets the null unify
      // with bare ROW(..) constructors in one ARRAY[..] (unnest.iq:633)
      val nullOperand = "(?is)CAST\\s*\\(\\s*NULL\\s+AS\\s*$".r
        .findFirstIn(masked.substring(0, m.start(1))).isDefined
      if (close > 0 && !nullOperand) {
        val conv = convert(sql0.substring(m.start(1), close + 1))
        if (conv.startsWith("STRUCT<"))
          return rowTypeCast(sql0.substring(0, m.start(1)) + conv +
            sql0.substring(close + 1))
      }
    }
    sql0
  }

  /** DECIMAL precision beyond Spark's max CLAMPS to the max — the
    * reference clamps to its own max the same way (CALCITE-4871,
    * cast.iq:860) instead of rejecting. */
  private[sql] def decimalPrecisionClamp(sql0: String): String =
    SqlText.replaceMasked(sql0,
      "(?i)\\b(DECIMAL|NUMERIC|DEC)\\s*\\(\\s*(\\d+)\\s*(?:,\\s*(\\d+))?\\s*\\)".r) { (m, orig) =>
      val p = m.group(2).toInt
      if (p <= 38) orig.substring(m.start, m.end)
      else {
        val s = Option(m.group(3)).map(_.toInt).getOrElse(0).min(38)
        s"${m.group(1)}(38, $s)"
      }
    }

  /** The reference's default TIMESTAMP precision is 0 and its literal
    * precision 3 (misc.iq:2148, cast-with-format.iq:29): a bare
    * `CAST(x AS TIMESTAMP)` truncates to whole seconds and
    * `TIMESTAMP(p)` to p fractional digits; `TIMESTAMP 'lit'` drops
    * digits beyond 3. Spark timestamps are fixed micros, so the
    * truncation wraps in `calcite_ts(…, p)`
    * (functions/FloorCeilTo.scala CalciteTs). FORMAT-clause casts keep
    * their own precision handling (IsoFormat). */
  private[sql] def bareCastTimestampTrunc(sql0: String): String = {
    // literal precision 3: truncate the literal text itself
    var sql = "(?i)\\b(TIMESTAMP\\s+'[^']*\\.\\d{3})\\d+'".r
      .replaceAllIn(sql0, m => scala.util.matching.Regex
        .quoteReplacement(m.group(1) + "'"))
    var changed = true
    while (changed) {
      changed = false
      val masked = mask(sql)
      for (m <- "(?i)\\bCAST\\s*\\(".r.findAllMatchIn(masked).toList if !changed) {
        val open = masked.indexOf('(', m.start)
        val close = closeOf(masked, open)
        val already = "(?is).*\\bcalcite_ts\\s*\\(\\s*$".r
          .matches(masked.substring(0, m.start))
        if (close > 0 && !already) {
          val content = masked.substring(open + 1, close)
          val tm = "(?is)\\s+AS\\s+TIMESTAMP\\s*(?:\\(\\s*(\\d+)\\s*\\))?\\s*$".r
            .findFirstMatchIn(content)
          tm.foreach { t =>
            val p = Option(t.group(1)).map(_.toInt).getOrElse(0)
            if (p < 6) {
              val src = sql.substring(open + 1, open + 1 + t.start)
              val rep = s"calcite_ts(CAST($src AS TIMESTAMP), $p)"
              sql = sql.substring(0, m.start) + rep + sql.substring(close + 1)
              changed = true
            } else if (t.group(1) != null) {
              // TIMESTAMP(p>=6): Spark micros already — the wrapper is a
              // passthrough, kept so the rescan doesn't re-wrap at p=0
              val src = sql.substring(open + 1, open + 1 + t.start)
              sql = sql.substring(0, m.start) +
                s"calcite_ts(CAST($src AS TIMESTAMP), 6)" +
                sql.substring(close + 1)
              changed = true
            }
          }
        }
      }
    }
    sql
  }

  /** CHAR-typed fixture columns keep their blank padding wherever the
    * value is EMBEDDED in a longer string — LISTAGG elements and JSON
    * constructor members (the reference's post fixture types ename
    * CHAR(5): the VALUES view derives the widest literal,
    * testkit CalciteAssert.java:970; agg.iq:3256,3373). Bare-column
    * display is blind to the padding (the harness trims cells), so the
    * wrap is applied only inside those calls, by the conformance
    * harness, for the fixtures whose widths it knows. */
  def charPadInCalls(sql: String, widths: Map[String, Int]): String = {
    val masked = mask(sql)
    val spans = "(?i)\\b(LISTAGG|JSON_OBJECTAGG|JSON_ARRAYAGG|JSON_OBJECT)\\s*\\(".r
      .findAllMatchIn(masked).flatMap { m =>
        val open = masked.indexOf('(', m.start)
        val close = closeOf(masked, open)
        if (close > 0) Some((open, close)) else None
      }.toSeq
    if (spans.isEmpty) return sql
    val idRe = ("(?i)\\b(" + widths.keys.mkString("|") + ")\\b").r
    val sb = new StringBuilder(sql)
    idRe.findAllMatchIn(masked).toSeq
      .filter(m => spans.exists(s => m.start > s._1 && m.end <= s._2))
      .sortBy(-_.start)
      .foreach { m =>
        val col = sql.substring(m.start, m.end)
        widths.get(col.toLowerCase(java.util.Locale.ROOT)).foreach { w =>
          sb.replace(m.start, m.end, s"rpad($col, $w)")
        }
      }
    sb.toString
  }

  /** CHAR literals inside one ARRAY[...] constructor pad to the widest
    * literal of THAT constructor — the reference types each VALUES row's
    * array element as CHAR(max) (misc.iq:2215: array['a',null,'bcd']
    * prints [a  , null, bcd]). Conformance-harness only, and only in a
    * root VALUES display context — elements that flow into UNNEST or
    * predicates keep their written text (padding would change
    * comparisons, and post-UNNEST cells are trimmed anyway). */
  def charLitArrayPad(sql: String): String = {
    if (!"(?is)^\\s*VALUES\\b.*".r.matches(sql)) return sql
    val masked = mask(sql)
    val litRe = "'[^']*'".r
    var out = sql
    var delta = 0
    for (m <- "(?i)\\bARRAY\\s*\\[".r.findAllMatchIn(masked)) {
      val open = masked.indexOf('[', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        val lits = litRe.findAllMatchIn(sql.substring(open + 1, close)).toSeq
        val widths = lits.map(_.matched.length - 2)
        if (lits.nonEmpty && widths.distinct.length > 1) {
          val w = widths.max
          val sb = new StringBuilder(out)
          lits.sortBy(-_.start).foreach { lm =>
            val padded = "'" + lm.matched.stripPrefix("'").stripSuffix("'").padTo(w, ' ') + "'"
            sb.replace(delta + open + 1 + lm.start, delta + open + 1 + lm.end, padded)
          }
          delta += sb.length - out.length
          out = sb.toString
        }
      }
    }
    out
  }
}
