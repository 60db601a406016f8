package graft.sql

import SqlText.{closeOf, mask, openOf, splitElems}

/** UNPIVOT with TUPLE labels (pivot.iq:394 —
  * `FOR (job, deptno) IN ((c10_ss, c10_c) AS ('CLERK', 10), ...)`):
  * each measure-column tuple maps to a tuple of label VALUES that
  * split into the FOR columns. Spark's UNPIVOT labels are single
  * identifiers, so this form lowers to the classic UNION ALL
  * expansion: one branch per IN entry selecting the kept columns
  * (`* EXCLUDE (all measure columns)` — original order preserved),
  * the entry's label values as the FOR columns, and the entry's
  * measure columns as the value columns; EXCLUDE NULLS (the default)
  * filters branch rows whose value columns are all NULL. Branches
  * re-read the source relation — acceptable for the conformance
  * surface; native single-label UNPIVOT stays on Spark's operator. */
object UnpivotTupleSql {

  private val trailingNameRe = "(?is)([A-Za-z_`][\\w.`]*)\\s*$".r

  def rewrite(sql: String): String = {
    val masked = mask(sql)
    // iterate: a native (single-label) UNPIVOT earlier in the statement
    // must not hide a later tuple-label one
    for (um <- "(?is)\\bUNPIVOT\\s*(INCLUDE\\s+NULLS|EXCLUDE\\s+NULLS)?\\s*\\(".r
           .findAllMatchIn(masked)) {
      val r = rewriteOne(sql, masked, um)
      if (r.isDefined) return rewrite(r.get)
    }
    sql
  }

  private def rewriteOne(sql: String, masked: String,
      um: scala.util.matching.Regex.Match): Option[String] = {
    val open = masked.indexOf('(', um.end - 1)
    val close = closeOf(masked, open)
    if (close < 0) return None
    val bodyM = masked.substring(open + 1, close)
    if ("(?is)\\bAS\\s*\\(".r.findFirstIn(bodyM).isEmpty) return None // native form
    val body = sql.substring(open + 1, close)
    val includeNulls = um.group(1) != null &&
      um.group(1).toUpperCase.startsWith("INCLUDE")

    // body: (<measures>) FOR (<fors>) IN (<entries>)
    val fm = "(?is)^\\s*\\(".r.findFirstMatchIn(bodyM).getOrElse(return None)
    val mClose = closeOf(bodyM, fm.end - 1)
    if (mClose < 0) return None
    val measures = splitElems(body, bodyM, fm.end, mClose)
    val forM = "(?is)^\\s*FOR\\s*\\(".r.findFirstMatchIn(bodyM.substring(mClose + 1))
      .getOrElse(return None)
    val fOpen = mClose + 1 + forM.end - 1
    val fClose = closeOf(bodyM, fOpen)
    if (fClose < 0) return None
    val fors = splitElems(body, bodyM, fOpen + 1, fClose)
    val inM = "(?is)^\\s*IN\\s*\\(".r.findFirstMatchIn(bodyM.substring(fClose + 1))
      .getOrElse(return None)
    val iOpen = fClose + 1 + inM.end - 1
    val iClose = closeOf(bodyM, iOpen)
    if (iClose < 0) return None
    val entries = splitElems(body, bodyM, iOpen + 1, iClose).map { e =>
      val em = mask(e)
      val cm = "(?is)^\\s*\\(".r.findFirstMatchIn(em).getOrElse(return None)
      val cClose = closeOf(em, cm.end - 1)
      val cols = splitElems(e, em, cm.end, cClose)
      val am = "(?is)^\\s*AS\\s*\\(".r.findFirstMatchIn(em.substring(cClose + 1))
      val vals = am match {
        case Some(a) =>
          val vOpen = cClose + 1 + a.end - 1
          val vClose = closeOf(em, vOpen)
          splitElems(e, em, vOpen + 1, vClose)
        case None =>
          // missing AS: the default label is the measure-column names
          // upper-joined by '_', replicated into every FOR column
          // (pivot.iq:699)
          val lbl = "'" + cols.map(_.trim.toUpperCase).mkString("_") + "'"
          Seq.fill(fors.length)(lbl)
      }
      if (vals.length != fors.length || cols.length != measures.length) return None
      (cols, vals)
    }

    // preceding relation: a parenthesized subquery or a bare
    // (possibly qualified/backquoted) table name
    var p = um.start - 1
    while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
    if (p < 0) return None
    val i =
      if (masked.charAt(p) == ')') openOf(masked, p)
      else trailingNameRe.findFirstMatchIn(masked.substring(0, p + 1))
        .getOrElse(return None).start(1)
    if (i < 0) return None
    val rel = sql.substring(i, p + 1)

    val allMeasureCols = entries.flatMap(_._1).map(_.trim).distinct
    val branches = entries.map { case (cols, vals) =>
      val sel = s"SELECT * EXCLUDE (${allMeasureCols.mkString(", ")}), " +
        vals.zip(fors).map { case (v, f) => s"$v AS $f" }.mkString(", ") + ", " +
        cols.zip(measures).map { case (c, a) => s"$c AS $a" }.mkString(", ") +
        s" FROM $rel __unp"
      if (includeNulls) sel
      else sel + " WHERE NOT (" +
        cols.map(c => s"$c IS NULL").mkString(" AND ") + ")"
    }
    Some(sql.substring(0, i) + "(" + branches.mkString("\nUNION ALL\n") + ") " +
      sql.substring(close + 1))
  }

}
