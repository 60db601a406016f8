package graft.sql

/** SQL surface for ASOF JOIN (ref: SqlAsofJoin in the reference's
  * parser — `A [LEFT] ASOF JOIN B MATCH_CONDITION cond ON equi`;
  * conformance corpus core/src/test/resources/sql/asof.iq). The
  * DataFrame-level operator lives in plans/AsofJoin.scala; this lowers
  * the SQL form onto the same per-left-row best-match semantics:
  *
  *   join on (equi AND cond), rank right rows per left ROW (not per
  *   key — duplicate left rows each keep their own match) by the
  *   match-condition's right-side expression, keep rank 1. The
  *   direction follows the operator: `r < l` / `r <= l` wants the
  *   LARGEST matching r, `r > l` / `r >= l` the smallest. LEFT ASOF
  *   keeps unmatched left rows via the outer join's null extension
  *   (which produces exactly one row for an unmatched left row, so the
  *   rank filter passes it through).
  *
  * Duplicate output names dedup with a `0` suffix (K, T, K0, T0), the
  * reference's row-type behavior. Scope: the corpus's `SELECT * FROM
  * <rel> AS a(cols) ASOF JOIN <rel> AS b(cols) ...` shape goes through
  * the window lowering; anything else with a MATCH_CONDITION (chained
  * after ordinary joins, bare aliases — CALCITE-7228's shape in
  * asof.iq:256) falls back to a correlated-LATERAL lowering. */
object AsofSql {

  private val asofRe = "(?i)\\b(LEFT\\s+)?ASOF\\s+JOIN\\b".r
  private val headRe = "(?is)^\\s*SELECT\\s+\\*\\s+FROM\\b".r
  private val aliasRe = "(?is)^(.*\\bAS\\s+(\\w+)\\s*\\(([^)]*)\\))\\s*$".r

  def rewrite(sql0: String): String = {
    validateOn(sql0)
    val out = narrow(sql0)
    if (out ne sql0) out else lateral(sql0)
  }

  /** The reference's ASOF ON contract (SqlValidatorImpl, CALCITE-7363):
    * the ON condition must be a conjunction of equality comparisons of
    * COLUMNS from both sides — an expression operand (subscript,
    * function call, arithmetic) is rejected with the same message. */
  private def validateOn(sql0: String): Unit = {
    val masked = SqlText.mask(sql0.trim.stripSuffix(";"))
    val m = asofRe.findFirstMatchIn(masked).getOrElse(return)
    val mcAt = SqlText.topLevelIndex(masked, "MATCH_CONDITION", m.end)
    if (mcAt < 0) return
    val onAt = SqlText.topLevelIndex(masked, "ON", mcAt)
    if (onAt < 0) return
    val onEnd = Seq("WHERE", "GROUP BY", "ORDER BY", "HAVING", "LIMIT",
        "UNION", "INTERSECT", "EXCEPT", "JOIN", "LEFT", "RIGHT", "FULL",
        "INNER", "CROSS")
      .map(k => SqlText.topLevelIndex(masked, k, onAt + 2))
      .filter(_ >= 0).minOption.getOrElse(masked.length)
    val on = masked.substring(onAt + 2, onEnd).trim
    val colEq = "(?is)^\\(?\\s*[\\w.`\"]+\\s*=\\s*[\\w.`\"]+\\s*\\)?$"
    val ok = on.split("(?i)\\bAND\\b").map(_.trim).forall(_.matches(colEq))
    if (!ok) throw new IllegalArgumentException(
      "ASOF JOIN condition must be a conjunction of equality comparisons " +
        s"of columns from both sides, got: $on")
  }

  /** The aligned-alias window lowering (original path). Returns `sql0`
    * (reference-identical) when the statement is out of scope. */
  private def narrow(sql0: String): String = {
    val sql = sql0.trim.stripSuffix(";")
    val masked = SqlText.mask(sql)
    val m = asofRe.findFirstMatchIn(masked).getOrElse(return sql0)
    val head = headRe.findFirstMatchIn(masked).getOrElse(return sql0)
    val isLeft = m.group(1) != null

    val left = sql.substring(head.end, m.start).trim
    val mcAt = SqlText.topLevelIndex(masked, "MATCH_CONDITION", m.end)
    if (mcAt < 0) return sql0
    val right = sql.substring(m.end, mcAt).trim
    val onAt = SqlText.topLevelIndex(masked, "ON", mcAt)
    if (onAt < 0) return sql0
    val cond = sql.substring(mcAt + "MATCH_CONDITION".length, onAt).trim
    val on = sql.substring(onAt + 2).trim

    val (lalias, lcols) = left match {
      case aliasRe(_, a, cs) => (a, cs.split(",").map(_.trim).toSeq)
      case _ => return sql0
    }
    val (ralias, rcols) = right match {
      case aliasRe(_, a, cs) => (a, cs.split(",").map(_.trim).toSeq)
      case _ => return sql0
    }

    // the right-side expression of the match condition + sort direction
    val cmp = "(<=|>=|<|>)".r.findFirstMatchIn(cond).getOrElse(return sql0)
    val (lhs, op, rhs) = (cond.substring(0, cmp.start).trim, cmp.group(1),
      cond.substring(cmp.end).trim)
    def mentionsRight(e: String): Boolean =
      s"(?i)\\b$ralias\\s*\\.".r.findFirstIn(e).isDefined ||
        rcols.exists(c => s"(?i)^$c$$".r.findFirstIn(e.trim).isDefined)
    val (rexpr, effOp) =
      if (mentionsRight(lhs)) (lhs, op)
      else if (mentionsRight(rhs)) (rhs, op match {
        case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      })
      else return sql0
    val dir = if (effOp == "<" || effOp == "<=") "DESC" else "ASC"

    val lower = lcols.map(_.toLowerCase)
    def ren(c: String): String = if (lower.contains(c.toLowerCase)) c + "0" else c
    val lSel = lcols.map(c => s"$lalias.$c AS $c").mkString(", ")
    val rSel = rcols.map(c => s"$ralias.$c AS ${ren(c)}").mkString(", ")
    val outCols = (lcols ++ rcols.map(ren)).mkString(", ")
    val joinType = if (isLeft) "LEFT JOIN" else "JOIN"

    s"""SELECT $outCols FROM (
       SELECT $lSel, $rSel,
         ROW_NUMBER() OVER (PARTITION BY $lalias.__asof_rid ORDER BY $rexpr $dir) AS __asof_rn
       FROM (SELECT $lalias.*, monotonically_increasing_id() AS __asof_rid FROM $left) $lalias
       $joinType $right ON ($on) AND ($cond)
     ) WHERE __asof_rn = 1"""
  }

  /** General fallback: lower `[LEFT] ASOF JOIN <rel> [AS] <alias>
    * MATCH_CONDITION (mc) ON <on>` — wherever it sits in the FROM
    * clause — onto a correlated LATERAL subquery that picks the best
    * matching right row per left row (`ORDER BY <right-expr> LIMIT 1`).
    * Spark decorrelates this into DISTINCT(left correlation values) ⋈
    * right under a WindowGroupLimit — fine for the dim-join shapes this
    * fallback exists for, but quadratic in distinct match-condition
    * values, so the aligned window lowering above (and the DataFrame
    * operator in plans/AsofJoin.scala) stays the scale path. Scope: the right
    * side must be a named relation with a plain alias and the match
    * condition must qualify its right-side expression with that alias;
    * otherwise the statement passes through for a visible error. */
  private def lateral(sql0: String): String = {
    val sql = sql0.trim.stripSuffix(";")
    val masked = SqlText.mask(sql)
    val m = asofRe.findFirstMatchIn(masked).getOrElse(return sql0)
    val isLeft = m.group(1) != null
    val mcAt = SqlText.topLevelIndex(masked, "MATCH_CONDITION", m.end)
    if (mcAt < 0) return sql0
    val right = sql.substring(m.end, mcAt).trim
    val onAt = SqlText.topLevelIndex(masked, "ON", mcAt)
    if (onAt < 0) return sql0
    // the ON expression runs to the next top-level clause keyword (or EOF);
    // a further chained join is out of scope for this fallback
    val onEnd = Seq("WHERE", "GROUP BY", "ORDER BY", "HAVING", "LIMIT",
        "UNION", "INTERSECT", "EXCEPT", "JOIN", "LEFT", "RIGHT", "FULL",
        "INNER", "CROSS")
      .map(k => SqlText.topLevelIndex(masked, k, onAt + 2))
      .filter(_ >= 0).minOption.getOrElse(sql.length)
    val on = sql.substring(onAt + 2, onEnd).trim
    val cond = sql.substring(mcAt + "MATCH_CONDITION".length, onAt).trim

    val ralias = "(?is)^\\S+(?:\\s+AS)?\\s+(\\w+)$".r.findFirstMatchIn(right)
      .map(_.group(1))
      .orElse("(?is)^(\\w+)$".r.findFirstMatchIn(right).map(_.group(1)))
      .getOrElse(return sql0)

    // right-side expression of the match condition + keep direction
    val core = cond.replaceAll("^\\(\\s*", "").replaceAll("\\s*\\)$", "")
    val cmp = "(<=|>=|<|>)".r.findFirstMatchIn(core).getOrElse(return sql0)
    val (lhs, op, rhs) = (core.substring(0, cmp.start).trim, cmp.group(1),
      core.substring(cmp.end).trim)
    def qualified(e: String): Boolean =
      s"(?i)\\b$ralias\\s*\\.".r.findFirstIn(e).isDefined
    val (rexpr, effOp) =
      if (qualified(lhs) && !qualified(rhs)) (lhs, op)
      else if (qualified(rhs) && !qualified(lhs)) (rhs, op match {
        case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      })
      else return sql0
    val dir = if (effOp == "<" || effOp == "<=") "DESC" else "ASC"

    val joinKw = if (isLeft) "LEFT JOIN LATERAL" else "JOIN LATERAL"
    sql.substring(0, m.start) +
      s"$joinKw (SELECT $ralias.* FROM $right WHERE ($on) AND ($cond) " +
      s"ORDER BY $rexpr $dir LIMIT 1) $ralias ON true " +
      sql.substring(onEnd)
  }
}
