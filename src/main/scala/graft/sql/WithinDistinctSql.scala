package graft.sql

import SqlText.{closeOf, mask, openOf, topLevelIndex}

/** `agg(e) WITHIN DISTINCT (keys)` (SqlInternalOperators WITHIN
  * DISTINCT — CALCITE-4483; within-distinct.iq): the aggregate runs
  * over ONE row per distinct `keys` value, and errors when `e` is not
  * functionally dependent on the keys within the group ("more than one
  * distinct value in agg UNIQUE_VALUE" — the reference's UNIQUE_VALUE
  * internal aggregate).
  *
  * Lowered to higher-order functions over a distinct pair collection —
  * no query restructure, so the surface composes with GROUP BY and
  * other select items:
  *
  *   P  = array_distinct(collect_list(named_struct(keys..., e)))
  *   KO = array_distinct(collect_list(named_struct(keys...)))
  *   guard: size(P) = size(KO) else raise_error(reference message)
  *   COUNT(*) = size(KO); COUNT(e) = non-null pairs; SUM/AVG fold the
  *   pair values in DOUBLE (the result re-normalizes in the harness
  *   compare; MIN/MAX are distinct-insensitive and pass through).
  */
object WithinDistinctSql {

  private val err = "more than one distinct value in agg UNIQUE_VALUE"

  private val withinRe = "(?is)\\bWITHIN\\s+DISTINCT\\s*\\(".r
  private val fnNameRe = "(?i)(\\w+)\\s*$".r

  /** The two-level restatement when the statement allows it, else the
    * fold lowering of each call (a fold leaves an aggregate call in the
    * select list, which rules the two-level form out). */
  def rewrite(sql: String): String =
    if (withinRe.findFirstIn(mask(sql)).isEmpty) sql
    else twoLevel(sql).getOrElse(SqlText.spliceEach(sql, withinRe)(foldSite))

  /** Scalable two-level restatement — the plan a 100 TB group needs:
    *
    *   SELECT g, agg(e) WITHIN DISTINCT (k) FROM t GROUP BY g
    *   → SELECT g, agg(__wv) FROM
    *       (SELECT g, k, <unique-value-guarded max(e)> AS __wv
    *        FROM t GROUP BY g, k) GROUP BY g
    *
    * Per-(g,k) state is O(1) hash-aggregate state instead of the
    * group-local distinct pair collection the fold path holds; the
    * UNIQUE_VALUE functional-dependence contract is kept by an inner
    * per-key guard (`count(DISTINCT e)` + a null-vs-value check →
    * raise_error). Applied when the statement is a plain
    * SELECT..FROM..[WHERE..]GROUP BY over simple group keys, every
    * WITHIN DISTINCT call shares one key list with no FILTER/DISTINCT
    * qualifier, and no other aggregate call needs the original rows;
    * every other composition falls back to the fold lowering
    * (correctness surface, SCALE.md). */
  private def twoLevel(sql: String): Option[String] = {
    val masked = mask(sql)
    // statement shape: top-level SELECT ... FROM ... [WHERE ...]
    // GROUP BY ... [ORDER BY ...][;]  — no HAVING/QUALIFY/set-ops
    val selM = "(?is)^\\s*SELECT\\s".r.findFirstMatchIn(masked).getOrElse(return None)
    if (Seq("HAVING", "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "WINDOW")
        .exists(topLevelIndex(masked, _, selM.end) >= 0)) return None
    val fromAt = topLevelIndex(masked, "FROM", selM.end)
    if (fromAt < 0) return None
    val groupAt = topLevelIndex(masked, "GROUP BY", fromAt)
    if (groupAt < 0) return None
    val whereAt = Some(topLevelIndex(masked, "WHERE", fromAt)).filter(_ >= 0)
    val orderAt = Some(topLevelIndex(masked, "ORDER BY", groupAt)).filter(_ >= 0)
    val stmtEnd = sql.replaceAll("[;\\s]+$", "").length
    val rel = sql.substring(fromAt + 4, whereAt.getOrElse(groupAt)).trim
    val whereTxt = whereAt.map(w => " " + sql.substring(w, groupAt).trim).getOrElse("")
    val gkeysEnd = orderAt.getOrElse(stmtEnd)
    val gm = "(?is)GROUP\\s+BY\\s*".r.findFirstMatchIn(masked.substring(groupAt)).get
    val gkeyList = SqlText.splitTop(
      sql.substring(groupAt + gm.end, gkeysEnd)).map(_.trim)
    if (gkeyList.isEmpty ||
      !gkeyList.forall(k => "^[A-Za-z_]\\w*$".r.matches(k) || "^`[^`]*`$".r.matches(k)))
      return None
    val orderTail = orderAt.map(o => " " + sql.substring(o, stmtEnd).trim).getOrElse("")

    // every WITHIN DISTINCT occurrence in the select list
    final case class Occ(fnStart: Int, close: Int, fn: String, arg: String, keys: Seq[String])
    val occs = scala.collection.mutable.ListBuffer.empty[Occ]
    for (m <- withinRe.findAllMatchIn(masked)) {
      if (m.start > fromAt) return None // WITHIN DISTINCT outside the select list
      val kOpen = masked.indexOf('(', m.start)
      val kClose = closeOf(masked, kOpen)
      if (kClose < 0) return None
      // trailing FILTER → fold path only
      if ("(?is)^\\s*FILTER\\s*\\(".r.findFirstIn(masked.substring(kClose + 1)).isDefined)
        return None
      val keys = SqlText.splitTop(sql.substring(kOpen + 1, kClose)).map(_.trim)
      var p = m.start - 1
      while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
      if (p < 0 || masked.charAt(p) != ')') return None
      val i = openOf(masked, p)
      if (i < 0) return None
      val fnM = fnNameRe.findFirstMatchIn(masked.substring(0, i)).getOrElse(return None)
      val fn = fnM.group(1).toUpperCase(java.util.Locale.ROOT)
      if (!Set("SUM", "COUNT", "AVG", "MIN", "MAX").contains(fn)) return None
      val arg = sql.substring(i + 1, p).trim
      if ("(?is)^DISTINCT\\s".r.findFirstIn(arg).isDefined) return None
      occs += Occ(fnM.start(1), kClose, fn, arg, keys)
    }
    if (occs.isEmpty) return None
    val keyLists = occs.map(_.keys.map(_.toLowerCase.replaceAll("\\s+", " "))).distinct
    if (keyLists.length != 1) return None
    val keys = occs.head.keys

    // distinct aggregate arguments → one guarded inner column each
    val argCols = occs.map(_.arg).filter(_ != "*").distinct.zipWithIndex.toMap
    def colOf(arg: String) = s"__wv${argCols(arg)}"

    // replace each occurrence (back-to-front) with the outer aggregate
    var items = sql.substring(selM.end, fromAt)
    val base = selM.end
    for (o <- occs.toSeq.sortBy(-_.fnStart)) {
      val rep = o.fn match {
        case "COUNT" if o.arg == "*" => "COUNT(*)"
        case "COUNT" => s"COUNT(${colOf(o.arg)})"
        case "SUM" =>
          s"agg_typed(SUM(CAST(${colOf(o.arg)} AS DECIMAL(38, 6))), max(${colOf(o.arg)}), true)"
        case "AVG" =>
          s"agg_typed((SUM(CAST(${colOf(o.arg)} AS DECIMAL(38, 6))) / COUNT(${colOf(o.arg)})), max(${colOf(o.arg)}))"
        case mm => s"$mm(${colOf(o.arg)})"
      }
      items = items.substring(0, o.fnStart - base) + rep + items.substring(o.close + 1 - base)
    }
    // any OTHER aggregate call left in the items would need the
    // original rows, which the inner distinct collapsed — every
    // remaining agg call must wrap a __wv column (i.e. be one of the
    // replacements above); otherwise use the fold path
    val leftoverAgg = ("(?i)\\b(sum|count|avg|min|max|collect_list|collect_set|first|last|" +
      "stddev|variance|var_pop|var_samp|listagg|string_agg|array_agg|bool_and|bool_or)\\s*\\(([^)]*)\\)").r
      .findAllMatchIn(mask(items)).exists { m =>
        val inner = m.group(2)
        !(inner == "*" || inner.contains("__wv") ||
          "(?i)^\\s*CAST\\(".r.findFirstIn(inner).isDefined && inner.contains("__wv"))
      }
    if (leftoverAgg) return None

    // inner: one row per (group keys, distinct keys), each arg guarded
    // to its unique per-key value (the reference's UNIQUE_VALUE error)
    val innerVals = argCols.toSeq.sortBy(_._2).map { case (arg, i2) =>
      val violated = s"count(DISTINCT ($arg)) + (CASE WHEN count(*) > count(($arg)) THEN 1 ELSE 0 END) > 1"
      s"CASE WHEN $violated THEN IF(raise_error('$err') IS NULL, max(($arg)), NULL) " +
        s"ELSE max(($arg)) END AS __wv$i2"
    }
    // a WITHIN DISTINCT key that is ALSO a group key must not project
    // (or group) twice — the duplicate column would make the outer
    // GROUP BY ambiguous
    val innerKeys = (gkeyList ++ keys)
      .foldLeft(Vector.empty[String])((acc, k) =>
        if (acc.exists(_.equalsIgnoreCase(k.trim))) acc else acc :+ k.trim)
    val innerCols = (innerKeys ++ innerVals).mkString(", ")
    val inner = s"(SELECT $innerCols FROM $rel$whereTxt " +
      s"GROUP BY ${innerKeys.mkString(", ")}) __wdt"
    Some(s"SELECT ${items.trim} FROM $inner GROUP BY ${gkeyList.mkString(", ")}$orderTail")
  }

  /** The fold lowering of the WITHIN DISTINCT call at `site`. */
  private def foldSite(site: SqlText.Site): Option[SqlText.Splice] = {
    val (masked, sql) = (site.m, site.sql)
    val kOpen = site.end - 1
    val kClose0 = site.close
    if (kClose0 < 0) return None
    val keys = SqlText.splitTop(sql.substring(kOpen + 1, kClose0)).map(_.trim)
    // a trailing FILTER (WHERE ...) restricts the rows feeding the
    // distinct pair collection — it rides on every collect_list
    var kClose = kClose0
    var filterTxt = ""
    val fm = "(?is)^\\s*FILTER\\s*\\(".r.findFirstMatchIn(masked.substring(kClose0 + 1))
    fm.foreach { f =>
      val fc = closeOf(masked, kClose0 + 1 + f.end - 1)
      if (fc > 0) {
        filterTxt = " " + sql.substring(kClose0 + 1 + f.start, fc + 1).trim
        kClose = fc
      }
    }
    // the aggregate call directly before WITHIN
    var p = site.start - 1
    while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
    if (p < 0 || masked.charAt(p) != ')') return None
    val aOpen = openOf(masked, p)
    if (aOpen < 0) return None
    val fnM = fnNameRe.findFirstMatchIn(masked.substring(0, aOpen)).getOrElse(return None)
    val fn = fnM.group(1).toUpperCase(java.util.Locale.ROOT)
    val fnStart = fnM.start(1)
    val arg0 = sql.substring(aOpen + 1, p).trim
    // SUM(DISTINCT x) WITHIN DISTINCT (y): distinct VALUES among the
    // per-key representatives (within-distinct.iq:807)
    val argDistinct = "(?is)^DISTINCT\\s+".r.findFirstIn(arg0).isDefined
    val arg = arg0.replaceAll("(?is)^DISTINCT\\s+", "")

    val kvs = keys.zipWithIndex.map { case (k, n) => s"'__wk$n', ($k)" }.mkString(", ")
    val ko = s"array_distinct(collect_list(named_struct($kvs))$filterTxt)"
    def pairs = s"array_distinct(collect_list(named_struct($kvs, '__wv', ($arg)))$filterTxt)"
    def guard(value: String, ty: String) =
      s"(CASE WHEN size($pairs) <> size($ko) " +
        s"THEN CAST(raise_error('$err') AS $ty) ELSE $value END)"
    // fold in a wide DECIMAL, not DOUBLE — the sums must stay exact
    // (agg.iq:2959 expects 95000, not a 94999.9999 float artifact)
    val acc = "DECIMAL(38, 6)"
    def vals = {
      val v = s"transform(filter($pairs, __ws -> __ws.__wv IS NOT NULL), __ws -> CAST(__ws.__wv AS $acc))"
      if (argDistinct) s"array_distinct($v)" else v
    }
    def sumExpr =
      s"(CASE WHEN size($vals) = 0 THEN CAST(NULL AS $acc) " +
        s"ELSE aggregate($vals, CAST(0 AS $acc), (__wa, __wx) -> CAST(__wa + __wx AS $acc)) END)"
    // COUNT/AVG denominators honor a DISTINCT qualifier: distinct
    // VALUES among the per-key representatives (no DECIMAL cast — the
    // argument may be non-numeric for COUNT)
    def cntExpr = {
      val nn = s"transform(filter($pairs, __ws -> __ws.__wv IS NOT NULL), __ws -> __ws.__wv)"
      if (argDistinct) s"size(array_distinct($nn))" else s"size($nn)"
    }

    // agg_typed re-types to the reference's argument-derived result
    // type (AVG(DECIMAL(10,2)) truncates to scale 2 —
    // within-distinct.iq:306); SUM keeps the argument's SCALE but
    // widens precision (deriveSumType — 12500.00 must not overflow a
    // DECIMAL(6,2) argument type), which the widen flag requests
    def typed(e: String, widen: Boolean = false) =
      s"agg_typed($e, max($arg)${if (widen) ", true" else ""})"
    val replacement: Option[String] = fn match {
      case "COUNT" if arg == "*" => Some(s"size($ko)")
      case "COUNT" => Some(guard(cntExpr, "INT"))
      case "SUM" => Some(typed(guard(sumExpr, acc), widen = true))
      case "AVG" => Some(typed(guard(s"(($sumExpr) / ($cntExpr))", acc)))
      case "MIN" | "MAX" => // distinct-insensitive: drop the clause but
        // keep a trailing FILTER (Spark supports it natively)
        Some(sql.substring(fnStart, p + 1) + filterTxt)
      case _ => None
    }
    replacement.map(SqlText.Splice(fnStart, kClose + 1, _))
  }
}
