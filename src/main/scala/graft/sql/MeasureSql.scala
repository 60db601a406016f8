package graft.sql

import org.apache.spark.sql.SparkSession

import SqlText.{balanced, clauseEnd, closeOf, mask, splitTop, topLevelIndex}

/** SQL measures — `<expr> AS MEASURE <name>` columns (ref: the measure
  * feature of the reference: sql/fun/SqlLibraryOperators.java AGGREGATE,
  * rel/rules/MeasureRules.java, corpus measure.iq; the DataFrame-side
  * engine is plans/Measures.scala — this file is the SQL surface).
  *
  * A measure is a DEFERRED aggregate declared against a detail relation
  * (view, CTE, or derived table) and evaluated in the grouping context
  * of each CONSUMING query:
  *
  *   - consumer groups (GROUP BY / AGGREGATE(m) / another aggregate in
  *     the list): the measure expands to its aggregate over the group —
  *     `select job, avg_sal from empm group by job` becomes a plain
  *     `avg(sal)` aggregation (one shuffle, partial agg map-side);
  *   - consumer does not group: each row is its own group (measure.iq's
  *     row-context cases), so the aggregate collapses to the single-row
  *     identity — avg/sum/min/max(x) → x, count(*) → 1, count(x) →
  *     x-null indicator — and the measure becomes a computed column (no
  *     shuffle at all).
  *
  * AVG carries the reference's return-type derivation (deriveAvgAggType:
  * result type = argument type, so AVG(DECIMAL(7,2)) is DECIMAL(7,2)
  * and AVG(INT) truncates to INT); the expansion casts Spark's widened
  * avg back to the argument type, resolved by a LIMIT-0 analysis of the
  * argument against the detail relation. */
object MeasureSql {

  private val createViewRe = "(?is)^\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?VIEW\\s+(\\w+)\\s+AS\\b".r
  private val groupByRe = "(?i)\\bGROUP\\s+BY\\b".r
  private val aggregateCallRe = "(?i)\\b(AGGREGATE|COUNT|SUM|AVG|MIN|MAX)\\s*\\(".r
  private val selectRe = "(?i)\\bSELECT\\b".r
  private val lastNamePartRe = "(?s)^(?:[\\w\"`]+\\.)?([\\w\"`]+)$".r
  private val avgRe = "(?is)^\\s*AVG\\s*\\((.*)\\)\\s*$".r
  private val measureCallRe = "(?i)\\b(AVG|SUM|MIN|MAX|COUNT|STDDEV|VARIANCE|ANY_VALUE)\\s*\\(".r
  private val filterWhereRe = "(?is)^\\s*FILTER\\s*\\(\\s*WHERE\\b".r
  private val createRe = "(?is)^\\s*CREATE\\b".r
  private val endsWithAsRe = "(?is).*\\bAS\\s*$".r
  private val nameTokenRe = ("(?:[A-Za-z_]\\w*|\"\\w+\"|`[^`]+`)" +
    "(?:\\s*\\.\\s*(?:[A-Za-z_]\\w*|\"\\w+\"|`[^`]+`))*").r

  /** Measure views registered by CREATE VIEW (name → ordered defs). */
  private val viewDefs =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]

  private val asMeasureRe = "(?i)\\bAS\\s+MEASURE\\b".r
  private val itemRe =
    "(?is)^(.*\\S)\\s+AS\\s+MEASURE\\s+(`[^`]+`|\"\\w+\"|\\w+)\\s*$".r

  /** A measure name as declared (`avgAge` / "avgAge" may stay quoted) →
    * the regex alternation matching its quoted or bare spelling. */
  private def namePat(n: String): String = {
    val bare = n.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("`").stripSuffix("`")
    val q = java.util.regex.Pattern.quote(bare)
    s"(?:`$q`|\"$q\"|$q)"
  }

  /** DDL hook for the static rewrite chain: a CREATE VIEW whose select
    * list declares measures registers them and emits the base view
    * (measures stripped). Identity for everything else. */
  def ddlRewrite(sql: String): String = {
    val masked = mask(sql)
    if (asMeasureRe.findFirstIn(masked).isEmpty) return sql
    val m = createViewRe.findFirstMatchIn(masked).getOrElse(return sql)
    val name = sql.substring(m.start(1), m.end(1))
    val body = sql.substring(m.end)
    splitList(body) match {
      case Some((pre, items, post)) =>
        val defs = items.collect { case itemRe(e, n) => (n, e.trim) }
        if (defs.isEmpty) return sql
        viewDefs(name.toLowerCase) = defs
        val kept = items.filter(i => itemRe.findFirstMatchIn(i).isEmpty)
        sql.substring(0, m.end) + pre + kept.mkString(", ") + post
      case None => sql
    }
  }

  /** Query hook (needs the session for AVG return-type resolution). */
  def maybeRewrite(spark: SparkSession, sql: String): String = {
    val masked = mask(sql)
    if (createRe.findFirstIn(masked).isDefined) return ddlRewrite(sql)
    asMeasureRe.findFirstMatchIn(masked) match {
      case Some(mm) => rewriteInline(spark, sql, masked, mm.start)
      case None => rewriteViewConsumer(spark, sql, masked)
    }
  }

  // ---- inline (CTE / derived-table / top-level) measures ----------------

  private def rewriteInline(spark: SparkSession, sql: String, masked: String,
      measureAt: Int): String = {
    // innermost paren block containing the AS MEASURE
    val spans = (0 until masked.length).filter(masked(_) == '(')
      .map(o => (o, closeOf(masked, o)))
      .filter { case (o, c) => c > 0 && o < measureAt && c > measureAt }
    val block = spans.sortBy { case (o, c) => c - o }.headOption

    block match {
      case None =>
        // the top-level select itself declares measures → row context
        expandList(spark, sql).getOrElse(sql)
      case Some((open, close)) =>
        val inner = sql.substring(open + 1, close)
        val before = sql.substring(0, open)
        val defs = listDefs(inner).getOrElse(return sql)
        // consumer text = statement with the block interior blanked
        val blanked = masked.substring(0, open + 1) +
          (" " * (close - open - 1)) + masked.substring(close)
        if (!aggContext(blanked)) {
          // row context: expand measures into plain columns in place
          expandList(spark, inner) match {
            case Some(e) => sql.substring(0, open + 1) + e + sql.substring(close)
            case None => sql
          }
        } else {
          // aggregate context: strip measures from the block (keeping
          // the detail columns their expressions aggregate), substitute
          // references in the consumer with the aggregate expansion
          val stripped = stripListKeepArgs(inner, defs).getOrElse(return sql)
          val relForTyping = "(" + stripped + ")"
          val outer = before + "(" + stripped + ")" + sql.substring(close + 1)
          substituteAgg(spark, outer, defs, relForTyping)
        }
    }
  }

  // ---- consumers of registered measure views ----------------------------

  private def rewriteViewConsumer(spark: SparkSession, sql: String,
      masked: String): String = {
    val hit = viewDefs.keys.find(v =>
      ("(?i)\\bFROM\\s+" + v + "\\b").r.findFirstIn(masked).isDefined)
    val name = hit.getOrElse(return sql)
    val defs = viewDefs(name)
    if (aggContext(masked)) substituteAgg(spark, sql, defs, name)
    else {
      // row context: wrap the view with its measures as computed columns
      val cols = rowForms(defs).map { case (n, f) => s"$f AS $n" }.mkString(", ")
      ("(?i)\\bFROM\\s+" + name + "\\b").r.replaceAllIn(sql,
        _ => s"FROM (SELECT *, $cols FROM $name) $name")
    }
  }

  // ---- shared pieces ----------------------------------------------------

  /** Does the consumer text establish an aggregate evaluation context? */
  private def aggContext(masked: String): Boolean =
    groupByRe.findFirstIn(masked).isDefined ||
    aggregateCallRe.findFirstIn(masked).isDefined

  /** (prefix, items, suffix) of the select list of `sel`. */
  private def splitList(sel: String): Option[(String, Seq[String], String)] = {
    val masked = mask(sel)
    val selAt = selectRe.findFirstMatchIn(masked).map(_.start).getOrElse(return None)
    val fromAt = topLevelIndex(masked, "FROM")
    if (fromAt < selAt) return None
    val items = splitTop(sel.substring(selAt + 6, fromAt))
    Some((sel.substring(0, selAt + 6) + " ", items.map(_.trim), " " + sel.substring(fromAt)))
  }

  private def listDefs(sel: String): Option[Seq[(String, String)]] =
    splitList(sel).map(_._2.collect { case itemRe(e, n) => (n, e.trim) })
      .filter(_.nonEmpty)

  /** Remove measure items from a select list. */
  private def stripList(sel: String): Option[String] =
    splitList(sel).map { case (pre, items, post) =>
      pre + items.filter(i => itemRe.findFirstMatchIn(i).isEmpty).mkString(", ") + post
    }

  private val sqlWords = Set("avg", "sum", "min", "max", "count", "stddev",
    "variance", "any_value", "distinct", "case", "when", "then", "else",
    "end", "and", "or", "not", "null", "is", "if", "cast", "as", "in",
    "like", "between", "true", "false", "filter", "where", "over",
    "partition", "by", "order", "interval", "extract", "from", "coalesce",
    "nullif", "decimal", "integer", "bigint", "double", "varchar", "char")

  /** Remove measure items but KEEP the detail columns their expressions
    * reference (measure.iq:126: a CTE's `avg(sal) AS MEASURE avg_sal`
    * must leave `sal` visible, or the consumer-side expansion `AVG(sal)`
    * has nothing to aggregate). A `*` item already exposes everything;
    * columns already exposed by name/alias are not duplicated. */
  private def stripListKeepArgs(sel: String,
      defs: Seq[(String, String)]): Option[String] =
    splitList(sel).map { case (pre, items, post) =>
      val kept = items.filter(i => itemRe.findFirstMatchIn(i).isEmpty)
      val hasStar = kept.exists(i => i.trim == "*" || i.trim.endsWith(".*"))
      def bare(s: String) = s.trim.replace("\"", "").replace("`", "")
        .toLowerCase(java.util.Locale.ROOT)
      val exposed = kept.flatMap { i =>
        val t = i.trim
        aliasRe.findFirstMatchIn(t).map(_.group(2)) orElse
          lastNamePartRe.findFirstMatchIn(t).map(_.group(1))
      }.map(bare).toSet
      val measureNames = defs.map(d => bare(d._1)).toSet
      val args =
        if (hasStar) Seq.empty
        else defs.flatMap { case (_, e) =>
          nameTokenRe.findAllMatchIn(mask(e)).toSeq
            // a name directly followed by '(' is a call, not a column
            .filterNot(m => e.drop(m.end).trim.startsWith("("))
            .map(m => e.substring(m.start, m.end))
        }.filterNot { q =>
          sqlWords(bare(q.split('.').last)) || exposed(bare(q.split('.').last)) ||
            measureNames(bare(q.split('.').last)) || sqlWords(bare(q.split('.').head))
        }.distinctBy(q => bare(q.split('.').last))
      pre + (kept ++ args).mkString(", ") + post
    }

  /** Expand measure items to row-context columns in place (each row is
    * its own group). A measure expression resolves names against the
    * select's own aliases FIRST (measure.iq:437 — the reference's
    * measure scope prefers sibling aliases over table columns, where a
    * plain expression prefers the table column), so earlier aliases —
    * measures or not — substitute into measure expressions only. */
  private val aliasRe = "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s*$".r
  private def expandList(spark: SparkSession, sel: String): Option[String] =
    splitList(sel).map { case (pre, items, post) =>
      var prior = Seq.empty[(String, String)]
      val out = items.map {
        case itemRe(e, n) =>
          val f = rowForm(subst(e.trim, prior))
          prior :+= (n -> f)
          s"$f AS $n"
        case i =>
          i match {
            case aliasRe(e, n) if balanced(mask(e)) => prior :+= (n -> s"($e)")
            case _ =>
          }
          i
      }
      pre + out.mkString(", ") + post
    }

  private def rowForms(defs: Seq[(String, String)]): Seq[(String, String)] =
    defs.foldLeft(Seq.empty[(String, String)]) { case (acc, (n, e)) =>
      acc :+ (n -> rowForm(subst(e, acc)))
    }

  /** Single-row-group collapse: every aggregate call in the expression
    * evaluates over the one-row group — avg/sum/min/max(x) → x,
    * count(*) → 1, count(x) → null indicator, count(distinct x) → same
    * (a single row has one distinct value or none). */
  private val aggCallRe = "(?i)\\b(AVG|SUM|MIN|MAX|COUNT)\\s*\\(".r
  private val distinctArgRe = "(?is)^DISTINCT\\s+(.*)$".r

  private def rowForm(e: String): String =
    "(" + SqlText.spliceEach(e, aggCallRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        val arg = site.sql.substring(site.end, close).trim
        val rep =
          if (!site.group(1).equalsIgnoreCase("COUNT")) s"($arg)"
          else if (arg == "*") "1"
          else s"IF((${distinctArgRe.findFirstMatchIn(arg).map(_.group(1)).getOrElse(arg)}) IS NULL, 0, 1)"
        Some(SqlText.Splice(site.start, close + 1, rep))
      }
    } + ")"

  /** Aggregate-context expansion, with the reference's AVG return-type
    * derivation (cast back to the argument type). */
  private def aggForm(spark: SparkSession, e: String, rel: String,
      prior: Seq[(String, String)]): String = {
    val e1 = subst(e, prior)
    e1 match {
      case avgRe(a) if balanced(mask(a)) =>
        argType(spark, a, rel) match {
          case Some(t) => s"CAST(AVG($a) AS $t)"
          case None => s"AVG($a)"
        }
      case other => s"($other)"
    }
  }

  private def argType(spark: SparkSession, arg: String, rel: String): Option[String] =
    try Some(spark.sql(s"SELECT $arg AS __t FROM $rel LIMIT 0").schema.head.dataType.sql)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Replace measure references (AGGREGATE(m) [FILTER (...)] and bare
    * m) in the consumer with aggregate expansions (the measure-stripped
    * block no longer mentions the names, so plain word replacement is
    * safe). AGGREGATE(m) FILTER (WHERE p) threads the filter INTO each
    * aggregate call of the expansion (measure.iq:671 — the reference's
    * AGGREGATE carries the standard FILTER clause). */
  private def substituteAgg(spark: SparkSession, sql: String,
      defs: Seq[(String, String)], rel: String): String = {
    var out = detailContextWhere(sql)
    val forms = defs.foldLeft(Seq.empty[(String, String)]) { case (acc, (n, e)) =>
      acc :+ (n -> aggForm(spark, e, rel, acc))
    }
    forms.foreach { case (n, f) =>
      val np = namePat(n)
      // AGGREGATE(m) FILTER (WHERE p) first — the plain form would
      // otherwise leave a dangling FILTER clause behind the expansion
      val filtRe = ("(?i)\\bAGGREGATE\\s*\\(\\s*" + np + "\\s*\\)\\s*FILTER\\s*\\(").r
      var fm = filtRe.findFirstMatchIn(out)
      while (fm.isDefined) {
        val open = out.lastIndexOf('(', fm.get.end - 1)
        val close = closeOf(mask(out), open)
        if (close < 0) fm = None
        else {
          val filt = out.substring(open + 1, close).trim
          out = out.substring(0, fm.get.start) + attachFilter(f, filt) +
            out.substring(close + 1)
          fm = filtRe.findFirstMatchIn(out)
        }
      }
      out = ("(?i)\\bAGGREGATE\\s*\\(\\s*" + np + "\\s*\\)").r
        .replaceAllIn(out, java.util.regex.Matcher.quoteReplacement(f))
      out = ("(?i)(?<![.\\w])" + np + "(?!\\w)").r.replaceAllIn(out, m => {
        // not an output alias: `AGGREGATE(m) AS m` keeps its AS m
        val before = m.source.subSequence(0, m.start).toString
        if (endsWithAsRe.matches(before)) m.matched
        else java.util.regex.Matcher.quoteReplacement(f)
      })
    }
    out
  }

  /** Detail-context evaluation (the measure paper §3 / measure.iq:671):
    * a measure aggregates the group's FULL detail rows — the consumer's
    * WHERE restricts which rows regular aggregates see and which groups
    * appear, but NOT the measure's input. Lower a grouped consumer
    * `SELECT ... WHERE p GROUP BY k` to: drop the WHERE (measures then
    * see all detail rows), attach `FILTER (WHERE p)` to every REGULAR
    * aggregate call in the select list (they keep the filtered view),
    * and keep only groups with a qualifying row via HAVING. Runs BEFORE
    * measure substitution, so measure expansions (introduced later) are
    * never mistaken for regular aggregates. */
  private def detailContextWhere(sql: String): String = {
    val masked = mask(sql)
    val whereAt = topLevelIndex(masked, "WHERE")
    val groupAt = topLevelIndex(masked, "GROUP")
    if (whereAt < 0 || groupAt < 0 || groupAt < whereAt) return sql
    val pred = sql.substring(whereAt + 5, groupAt).trim
    if (pred.isEmpty) return sql
    // end of the GROUP BY key list: next top-level clause or EOS
    val insertAt = clauseEnd(masked, groupAt, "HAVING", "ORDER", "LIMIT", "OFFSET", "FETCH")
    val havingAt =
      if (masked.regionMatches(true, insertAt, "HAVING", 0, 6)) insertAt else -1
    val keep = s"max(CASE WHEN $pred THEN 1 ELSE 0 END) = 1"
    val sb = new StringBuilder(sql)
    if (havingAt >= 0) sb.insert(havingAt + 6, s" $keep AND ")
    else sb.insert(insertAt, s" HAVING $keep ")
    sb.replace(whereAt, groupAt, " ")
    // regular aggregate calls in the select list keep the filtered rows
    val selRegion = sb.substring(0, whereAt)
    measureCallRe.findAllMatchIn(mask(selRegion)).toSeq.sortBy(-_.start)
      .foreach { m =>
        val open = selRegion.indexOf('(', m.end - 1)
        val close = closeOf(mask(selRegion), open)
        if (close > 0) {
          // merge with an existing FILTER clause if one follows
          val after = selRegion.substring(close + 1)
          val fm = filterWhereRe.findFirstMatchIn(after)
          if (fm.isDefined)
            sb.insert(close + 1 + fm.get.end, s" ($pred) AND ")
          else sb.insert(close + 1, s" FILTER (WHERE $pred)")
        }
      }
    sb.toString
  }

  /** Append ` FILTER (p)` to every aggregate CALL inside expansion `f`
    * (the expansion may wrap the call — CAST(AVG(x) AS t) — so the
    * clause attaches inside, at the call itself). */
  private def attachFilter(f: String, filt: String): String = {
    val sb = new StringBuilder(f)
    measureCallRe.findAllMatchIn(f).toSeq.sortBy(-_.start).foreach { m =>
      val open = f.indexOf('(', m.end - 1)
      val close = closeOf(mask(f), open)
      if (close > 0) sb.insert(close + 1, s" FILTER ($filt)")
    }
    sb.toString
  }

  private def subst(e: String, map: Seq[(String, String)]): String =
    map.foldLeft(e) { case (s, (n, f)) =>
      // not after a dot: `e.deptno` is a table-qualified COLUMN ref, only
      // the bare name resolves to the sibling alias (measure.iq:437)
      ("(?i)(?<![.\\w])" + n + "\\b").r.replaceAllIn(s,
        java.util.regex.Matcher.quoteReplacement(s"($f)"))
    }
}
