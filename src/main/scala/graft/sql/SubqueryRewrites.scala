package graft.sql

/** SQL-standard predicate/constructor surfaces the reference parses
  * natively but Spark's grammar lacks, lowered textually onto Spark
  * equivalents before parsing. All scanning happens on the masked text
  * (see [[SqlText.mask]]) so string literals and backtick
  * identifiers can never trigger a rewrite.
  *
  * Covered (ref: core SqlStdOperatorTable SOME/ALL/UNIQUE operators and
  * sql2rel/SqlToRelConverter's sub-query expansion; conformance corpus
  * core/src/test/resources/sql/some.iq, sub-query.iq, agg.iq):
  *
  *  - `x op SOME|ANY (subquery)` / `x op ALL (subquery)` for
  *    op ∈ {=, <>, !=, <, <=, >, >=} with SQL three-valued logic,
  *    lowered to IN / NOT IN where exact, and otherwise to a CASE over
  *    scalar aggregate sub-queries (COUNT(*), COUNT(col), MIN/MAX) —
  *    the same shape the reference's SubQueryRemoveRule produces, and a
  *    scale-friendly one: Catalyst's MergeScalarSubqueries collapses
  *    the aggregates into one pass over the sub-query.
  *  - `x op SOME|ANY|ALL (v1, v2, ...)` value lists → OR / AND chains
  *    (exact 3VL by construction).
  *  - `[NOT] UNIQUE (subquery)` → [NOT] NOT EXISTS over a
  *    GROUP BY ... HAVING COUNT(*) > 1 duplicate probe that ignores
  *    rows containing NULLs (SQL standard: such rows never compare
  *    equal).
  *  - `ARRAY (subquery)` / `MAP (subquery)` constructors →
  *    collect_list / map_from_entries scalar aggregate sub-queries.
  *    NOTE: ordering of ARRAY(... ORDER BY) is preserved by Spark's
  *    single-partition subquery collection in practice but is not a
  *    guarantee of collect_list at scale.
  *  - `IS [NOT] UNKNOWN` → `IS [NOT] NULL` (identical on BOOLEAN).
  *  - `GROUP BY ()` / `GROUP BY DISTINCT ...`: an empty grouping list
  *    is ALWAYS one group (even over zero input rows, per standard) —
  *    for aggregate selects that is exactly Spark's global aggregate,
  *    so the clause is dropped; for non-aggregate selects (constants)
  *    it becomes GROUPING SETS (()). GROUP BY DISTINCT over a plain
  *    expression list equals GROUP BY (dedup only matters for
  *    composite grouping sets, which keep their own spec coverage).
  *  - `COLLECT(...)` → `collect_list(...)` (the reference's MULTISET
  *    aggregate; bag semantics, order engine-defined).
  *  - `IN (VALUES ...)` → `IN (SELECT * FROM VALUES ...)`.
  */
object SubqueryRewrites {

  def apply(sql: String): String =
    rewriteInValues(rewriteCollect(rewriteGroupByEmpty(rewriteIsUnknown(
      rewriteArrayMap(rewriteUnique(rewriteQuantified(rewriteArgMinMax(
        rewriteUnorderedRange(rewriteInUnnest(sql))))))))))

  // ---- IN over an UNNEST subquery ----------------------------------------

  /** `x [NOT] IN (SELECT c FROM UNNEST(arr) [AS a(c)])` → `[NOT]
    * array_contains(arr, x)` — Spark's array_contains carries exactly
    * the standard's 3VL membership (true on match, NULL when unmatched
    * with a NULL element or NULL probe, false otherwise; some.iq:915+,
    * including the outer-correlated arr of :926 — the lowering is a
    * plain expression, so outer references need no decorrelation, and
    * at scale no join is planned at all). Simple probes only (literal /
    * column ref); compound probes keep the subquery path. */
  private val inUnnestRe = ("(?is)(\\bTRUE\\b|\\bFALSE\\b|'[^']*'|-?\\d+(?:\\.\\d+)?|[A-Za-z_][\\w.]*)" +
    "\\s+(NOT\\s+)?IN\\s*\\(\\s*SELECT\\s+(\\w+)\\s+FROM\\s+UNNEST\\s*\\(").r
  private val unnestTailRe = "(?is)^\\s*(?:AS\\s+)?(?:\\w+\\s*(?:\\(\\s*\\w+\\s*\\))?)?\\s*$".r

  private[sql] def rewriteInUnnest(sql: String): String =
    SqlText.spliceEach(sql, inUnnestRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val unnestOpen = site.end - 1
      val unnestClose = site.close
      // subquery close: optional `AS a(c)` / `a(c)` tail then `)`
      val inOpen = masked.indexOf('(', site.start + site.group(1).length)
      val inClose = SqlText.closeOf(masked, inOpen)
      val arr = if (unnestClose < 0) "" else sql.substring(unnestOpen + 1, unnestClose)
      // multi-collection UNNEST(a, b) zips — not a membership probe
      if (unnestClose < 0 || inClose < 0 ||
          !unnestTailRe.matches(masked.substring(unnestClose + 1, inClose)) ||
          SqlText.splitTop(arr).length != 1) None
      else {
        val call = s"array_contains(($arr), ${site.group(1)})"
        Some(SqlText.Splice(site.start, inClose + 1,
          if (site.group(2) != null) s"(NOT $call)" else call))
      }
    }

  // ---- RANGE frame without ORDER BY -------------------------------------

  /** `OVER (... RANGE ...)` with no ORDER BY: every row is a peer of
    * every other, so the frame is the whole partition — standard SQL the
    * reference accepts; Spark demands an ORDER BY for RANGE frames.
    * Dropping the frame clause gives exactly the whole-partition
    * aggregate. */
  private val overOpenRe = "(?i)\\bOVER\\s*\\(".r
  private val rangeRe = "(?i)\\bRANGE\\b".r
  private val orderByRe = "(?i)\\bORDER\\s+BY\\b".r

  private[sql] def rewriteUnorderedRange(sql: String): String =
    SqlText.spliceEach(sql, overOpenRe) { site =>
      val close = site.close
      val innerM = if (close < 0) "" else site.m.substring(site.end, close)
      rangeRe.findFirstMatchIn(innerM).filter(_ => orderByRe.findFirstIn(innerM).isEmpty)
        .map(r => SqlText.Splice(site.end, close, site.sql.substring(site.end, site.end + r.start).trim))
    }

  // ---- ARG_MIN / ARG_MAX ------------------------------------------------

  /** The reference's ARG_MIN(x, key)/ARG_MAX(x, key) (SqlLibraryOperators)
    * are Spark's min_by/max_by verbatim. */
  private val argRe = "(?i)\\bARG_(MIN|MAX)\\s*\\(".r

  private[sql] def rewriteArgMinMax(sql: String): String = {
    val masked = SqlText.mask(sql)
    val sb = new StringBuilder
    var last = 0
    argRe.findAllMatchIn(masked).foreach { m =>
      sb.append(sql.substring(last, m.start))
      sb.append(if (m.group(1).equalsIgnoreCase("MIN")) "min_by(" else "max_by(")
      last = m.end
    }
    sb.append(sql.substring(last)).toString
  }

  // ---- IS [NOT] UNKNOWN -------------------------------------------------

  private val isUnknownRe = "(?i)\\bIS\\s+(NOT\\s+)?UNKNOWN\\b".r

  private[sql] def rewriteIsUnknown(sql: String): String = {
    val masked = SqlText.mask(sql)
    val sb = new StringBuilder
    var last = 0
    isUnknownRe.findAllMatchIn(masked).foreach { m =>
      sb.append(sql.substring(last, m.start))
      sb.append(if (m.group(1) != null) "IS NOT NULL" else "IS NULL")
      last = m.end
    }
    sb.append(sql.substring(last)).toString
  }

  // ---- GROUP BY () / GROUP BY DISTINCT ----------------------------------

  private val groupByEmptyRe =
    "(?i)\\bGROUP\\s+BY\\s+(?:DISTINCT\\s+)?\\(\\s*\\)".r
  private val groupByDistinctRe = "(?i)\\bGROUP\\s+BY\\s+DISTINCT\\b".r
  private val aggFnRe =
    ("(?i)\\b(count|sum|avg|min|max|every|bool_and|bool_or|listagg|" +
      "string_agg|collect|collect_list|collect_set|stddev\\w*|var\\w*|" +
      "percentile\\w*|array_agg)\\s*\\(").r

  private[sql] def rewriteGroupByEmpty(sql: String): String = {
    val masked = SqlText.mask(sql)
    if (groupByEmptyRe.findFirstIn(masked).isEmpty &&
        groupByDistinctRe.findFirstIn(masked).isEmpty) return sql
    val hasAgg = aggFnRe.findFirstIn(masked).isDefined
    val step1 = {
      val sb = new StringBuilder
      var last = 0
      groupByEmptyRe.findAllMatchIn(masked).foreach { m =>
        sb.append(sql.substring(last, m.start))
        sb.append(if (hasAgg) "" else "GROUP BY GROUPING SETS (())")
        last = m.end
      }
      sb.append(sql.substring(last)).toString
    }
    val masked1 = SqlText.mask(step1)
    val sb = new StringBuilder
    var last = 0
    groupByDistinctRe.findAllMatchIn(masked1).foreach { m =>
      sb.append(step1.substring(last, m.start)).append("GROUP BY")
      last = m.end
    }
    sb.append(step1.substring(last)).toString
  }

  // ---- COLLECT / IN (VALUES ...) ----------------------------------------

  private val collectRe = "(?i)\\bCOLLECT\\s*\\(".r
  private val collectWgRe =
    ("(?i)\\bCOLLECT\\s*\\(([^()]*)\\)\\s*WITHIN\\s+GROUP\\s*\\(\\s*ORDER\\s+BY\\s+" +
      "([\\w.$]+|\\d+)\\s*(ASC|DESC)?\\s*\\)(\\s*FILTER\\s*\\(\\s*WHERE[^()]*\\))?").r
  private val inValuesRe = "(?i)\\bIN\\s*\\(\\s*VALUES\\b".r

  private[sql] def rewriteCollect(sql: String): String = {
    // COLLECT(x) WITHIN GROUP (ORDER BY x|1 [dir]) [FILTER ...] →
    // sort_array(collect_list(x) [FILTER ...], asc) — only when the sort
    // key IS the collected expression (or ordinal 1), i.e. value order;
    // an independent sort key has no Spark aggregate equivalent and is
    // left for the parser to reject visibly.
    val masked0 = SqlText.mask(sql)
    val step1 = {
      val sb = new StringBuilder
      var last = 0
      collectWgRe.findAllMatchIn(masked0).foreach { m =>
        val expr = sql.substring(m.start(1), m.end(1)).trim
        val key = sql.substring(m.start(2), m.end(2)).trim
        val filter = if (m.start(4) >= 0) sql.substring(m.start(4), m.end(4)) else ""
        if (key == "1") {
          // ORDER BY 1 in WITHIN GROUP is the LITERAL 1 (a constant) in
          // the reference — every row ties, input order is kept
          sb.append(sql.substring(last, m.start))
          sb.append(s"collect_list($expr)$filter")
          last = m.end
        } else if (key.equalsIgnoreCase(expr)) {
          val asc = m.group(3) == null || m.group(3).equalsIgnoreCase("ASC")
          sb.append(sql.substring(last, m.start))
          sb.append(s"sort_array(collect_list($expr)$filter, $asc)")
          last = m.end
        }
      }
      sb.append(sql.substring(last)).toString
    }
    val masked = SqlText.mask(step1)
    val sb = new StringBuilder
    var last = 0
    collectRe.findAllMatchIn(masked).foreach { m =>
      sb.append(step1.substring(last, m.start)).append("collect_list(")
      last = m.end
    }
    sb.append(step1.substring(last)).toString
  }

  private[sql] def rewriteInValues(sql: String): String = {
    val masked = SqlText.mask(sql)
    val sb = new StringBuilder
    var last = 0
    inValuesRe.findAllMatchIn(masked).foreach { m =>
      // The list form keeps SQL three-valued logic: Spark lowers an
      // IN-subquery in a projection to an existence join that yields
      // FALSE where `1 IN (NULL)` must be UNKNOWN (new-decorr.iq:252),
      // but evaluates a literal IN-list correctly. Inline when every
      // VALUES row is single-column; multi-column rows keep the
      // subquery form.
      val open = masked.indexOf('(', m.start)
      val close = SqlText.closeOf(masked, open)
      val inlined: Option[String] =
        if (close < 0 || m.start < last) None
        else {
          val bodyFrom = m.end // just past the VALUES keyword
          val rows = SqlText.splitTop(sql.substring(bodyFrom, close)).map(_.trim)
          val maskedRows = SqlText.splitTop(masked.substring(bodyFrom, close)).map(_.trim)
          val single = rows.nonEmpty && rows.zip(maskedRows).forall { case (r, mr) =>
            if (!r.startsWith("(")) true // bare scalar row
            else SqlText.closeOf(mr, 0) == mr.length - 1 &&
              SqlText.splitTop(mr.substring(1, mr.length - 1)).length == 1
          }
          if (single)
            Some("IN (" + rows.map(r => if (r.startsWith("(")) r.substring(1, r.length - 1) else r).mkString(", ") + ")")
          else None
        }
      inlined match {
        case Some(list) =>
          sb.append(sql.substring(last, m.start)).append(list)
          last = close + 1
        case None =>
          sb.append(sql.substring(last, m.start)).append("IN (SELECT * FROM VALUES")
          last = m.end
      }
    }
    sb.append(sql.substring(last)).toString
  }

  // ---- quantified comparisons -------------------------------------------

  private val quantRe =
    "(?i)(=|<>|!=|<=|>=|<|>)\\s*(SOME|ANY|ALL)\\s*\\(".r

  private val lhsKeywordRe = "(?i)^(AND|OR|NOT|WHEN|THEN|ELSE|WHERE|ON|HAVING|SELECT|BY)$".r
  private val subqueryRe = "(?is)^(SELECT|WITH)\\b.*".r
  private val collectionRe = "(?is)^(ARRAY\\s*[\\[(]|MULTISET\\s*\\[).*".r

  private[sql] def rewriteQuantified(sql: String): String =
    SqlText.spliceEach(sql, quantRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val open = site.end - 1
      val close = site.close
      // the LHS may be any primary — identifier chain, call, paren or
      // bracket group, literal (some.iq's `array[1, 2] = any(...)`);
      // operator precedence is not walked (`x + 1 = any(...)` takes `1`)
      val lhsStart = SqlText.primaryStart(masked, site.hit.start(1))
      val lhs = if (lhsStart < 0) "" else sql.substring(lhsStart, site.hit.start(1)).trim
      if (close < 0 || lhs.isEmpty || lhsKeywordRe.matches(lhs)) None
      else {
        val op = if (site.group(1) == "!=") "<>" else site.group(1)
        val all = site.group(2).equalsIgnoreCase("ALL")
        val body = sql.substring(open + 1, close).trim
        val bodyMasked = masked.substring(open + 1, close).trim
        val id = s"uq$open"
        val repl: Option[String] =
          if (!subqueryRe.matches(bodyMasked)) {
            val items = SqlText.splitTop(body)
            if (items.size >= 2) {
              val parts = items.map(it => s"($lhs $op (${it.trim}))")
              Some(if (all) parts.mkString("(", " AND ", ")") else parts.mkString("(", " OR ", ")"))
            }
            // single collection argument: the reference quantifies over
            // the ELEMENTS of an array/multiset (SqlQuantifyOperator on a
            // collection operand; some.iq:985-1060). Spark's higher-order
            // exists/forall carry exactly the needed three-valued logic
            // (empty → FALSE/TRUE, no-match-with-nulls → NULL), stay
            // codegen'd, and never materialize a join. A single scalar
            // argument is likely a real function call.
            else if (collectionRe.matches(bodyMasked))
              Some(s"(${if (all) "forall" else "exists"}(${body}, __qv -> ($lhs $op __qv)))")
            else None
          } else if (!all) Some(someSubq(lhs, op, body, id))
          else op match { // x op ALL q  ⟺  NOT (x inv(op) SOME q)
            case "<>" => Some(s"($lhs NOT IN ($body))")
            case "=" => Some(s"(NOT ${someSubq(lhs, "<>", body, id)})")
            case ">" => Some(s"(NOT ${someSubq(lhs, "<=", body, id)})")
            case ">=" => Some(s"(NOT ${someSubq(lhs, "<", body, id)})")
            case "<" => Some(s"(NOT ${someSubq(lhs, ">=", body, id)})")
            case "<=" => Some(s"(NOT ${someSubq(lhs, ">", body, id)})")
            case _ => None
          }
        repl.map(SqlText.Splice(lhsStart, close + 1, _))
      }
    }

  /** `lhs op SOME (q)` with exact 3VL. `= SOME` IS `IN`; the ordered ops
    * reduce to one comparison against MIN/MAX of q plus null/emptiness
    * accounting; `<> SOME` needs both extremes (true iff some value
    * differs, i.e. lhs misses MIN or MAX). */
  private def someSubq(lhs: String, op: String, q: String, id: String): String = {
    def cnt = s"(SELECT COUNT(*) FROM ($q) ${id}_c)"
    def cntV = s"(SELECT COUNT(${id}_v) FROM ($q) AS ${id}_n(${id}_v))"
    def agg(f: String, a: String) = s"(SELECT $f(${id}_v) FROM ($q) AS ${id}_$a(${id}_v))"
    op match {
      case "=" => s"($lhs IN ($q))"
      case "<>" =>
        s"""(CASE WHEN $cnt = 0 THEN FALSE
           WHEN ($lhs) IS NULL THEN CAST(NULL AS BOOLEAN)
           WHEN $lhs <> ${agg("MIN", "a")} OR $lhs <> ${agg("MAX", "b")} THEN TRUE
           WHEN $cntV < $cnt THEN CAST(NULL AS BOOLEAN)
           ELSE FALSE END)"""
      case "<" | "<=" | ">" | ">=" =>
        val extreme = if (op.startsWith(">")) agg("MIN", "a") else agg("MAX", "a")
        s"""(CASE WHEN $cnt = 0 THEN FALSE
           WHEN $lhs $op $extreme THEN TRUE
           WHEN ($lhs) IS NULL OR $cntV < $cnt THEN CAST(NULL AS BOOLEAN)
           ELSE FALSE END)"""
      case _ => s"($lhs $op SOME ($q))" // unreachable; leave for Spark's error
    }
  }

  // ---- [NOT] UNIQUE (subquery) ------------------------------------------

  private val uniqueRe = "(?i)\\b(NOT\\s+)?UNIQUE\\s*\\(".r

  private[sql] def rewriteUnique(sql: String): String =
    SqlText.spliceEach(sql, uniqueRe) { site =>
      val open = site.end - 1
      val close = site.close
      val bodyMasked = if (close < 0) "" else site.m.substring(open + 1, close).trim
      if (!"(?is)^SELECT\\b.*".r.matches(bodyMasked)) None
      else selectArity(bodyMasked).map { n =>
        val body = site.sql.substring(open + 1, close).trim
        val id = s"uu$open"
        val cols = (1 to n).map(k => s"${id}_c$k")
        val ex = s"EXISTS (SELECT 1 FROM ($body) AS ${id}(${cols.mkString(", ")}) " +
          s"WHERE ${cols.map(_ + " IS NOT NULL").mkString(" AND ")} " +
          s"GROUP BY ${cols.mkString(", ")} HAVING COUNT(*) > 1)"
        SqlText.Splice(site.start, close + 1, if (site.group(1) != null) s"($ex)" else s"(NOT $ex)")
      }
    }

  /** Number of top-level select-list items of a masked subquery, or None
    * when it can't be counted safely (SELECT *, set ops, WITH). */
  private def selectArity(bodyMasked: String): Option[Int] = {
    val up = bodyMasked.toUpperCase
    if (!up.startsWith("SELECT")) return None
    val fromAt = SqlText.topLevelIndex(bodyMasked, "FROM")
    val list0 = (if (fromAt < 0) bodyMasked.substring(6) else bodyMasked.substring(6, fromAt)).trim
    val list = "(?i)^(DISTINCT|ALL)\\b".r.replaceFirstIn(list0, "").trim
    if (list.contains("*")) None else Some(SqlText.splitTop(list).size)
  }

  // ---- ARRAY(subquery) / MAP(subquery) ----------------------------------

  private val arrayMapRe = "(?i)\\b(ARRAY|MAP)\\s*\\(\\s*SELECT\\b".r

  private[sql] def rewriteArrayMap(sql: String): String =
    SqlText.spliceEach(sql, arrayMapRe) { site =>
      val open = site.m.indexOf('(', site.start)
      val close = SqlText.closeOf(site.m, open)
      if (close < 0) None
      else {
        val body = site.sql.substring(open + 1, close).trim
        val id = s"ua$open"
        val repl =
          if (site.group(1).equalsIgnoreCase("ARRAY"))
            // collect_list silently DROPS null elements; the standard
            // ARRAY constructor keeps them (some.iq:915 builds [TRUE,
            // NULL]) — so collect non-null struct envelopes and unwrap
            s"(SELECT transform(collect_list(struct(${id}_v)), ${id}_s -> ${id}_s.${id}_v) " +
              s"FROM ($body) AS ${id}_a(${id}_v))"
          else
            s"(SELECT map_from_entries(collect_list(struct(${id}_k, ${id}_v))) " +
              s"FROM ($body) AS ${id}_m(${id}_k, ${id}_v))"
        Some(SqlText.Splice(site.start, close + 1, repl))
      }
    }
}
