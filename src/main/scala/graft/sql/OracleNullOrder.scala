package graft.sql

import SqlText.mask

/** Conformance-dialect default null ordering: the reference sorts NULL
  * as the LARGEST value (Oracle-style — RelFieldCollation.NullDirection
  * defaults: last for ASC, first for DESC), Spark as the smallest.
  * Order itself is compared as a multiset by the harness, but the
  * default matters wherever order is semantically visible — ORDER BY ..
  * LIMIT row picks (sub-query.iq:761/787, new-decorr.iq:104) and
  * rank/first_value windows over NULL-holding keys (winagg.iq:484/503/
  * 703/727). The shim makes the default explicit: every sort item
  * without a NULLS qualifier gets NULLS LAST (ASC) / NULLS FIRST
  * (DESC).
  *
  * Conformance harness ONLY (CorpusSpec.clean, like CalciteTyping): the
  * product surface keeps Spark's own defaults, with explicit NULLS
  * FIRST/LAST collation covered by q10/q15.
  */
object OracleNullOrder {

  def rewrite(sql: String): String = {
    val masked = mask(sql)
    // MATCH_RECOGNIZE has its own ORDER BY parser (MatchRecognizeSql);
    // stay out of its statements
    if ("(?i)\\bMATCH_RECOGNIZE\\b".r.findFirstIn(masked).isDefined) return sql
    val obs = "(?is)\\bORDER\\s+BY\\s".r.findAllMatchIn(masked).toSeq
    if (obs.isEmpty) return sql
    val sb = new StringBuilder
    var last = 0
    for (m <- obs) {
      if (m.start >= last) {
        val end = itemsEnd(masked, m.end - 1)
        sb.append(sql.substring(last, m.end - 1))
        sb.append(qualifyItems(sql.substring(m.end - 1, end), masked.substring(m.end - 1, end)))
        last = end
      }
    }
    sb.append(sql.substring(last))
    sb.toString
  }

  /** End of the sort-item list starting at `from`: the first top-level
    * boundary keyword, an unbalanced ')', or end of text. */
  private def itemsEnd(masked: String, from: Int): Int = {
    var i = from
    var depth = 0
    val bound = ("(?is)^(LIMIT|OFFSET|FETCH|ROWS|RANGE|FOR|MEASURES|PATTERN|" +
      "DEFINE|AFTER|EXCLUDE|WINDOW|UNION|INTERSECT|EXCEPT)\\b").r
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') { if (depth == 0) return i; depth -= 1 }
      else if (depth == 0 && (i == 0 || !masked.charAt(i - 1).isLetterOrDigit) &&
        bound.findFirstIn(masked.substring(i)).isDefined) return i
      i += 1
    }
    masked.length
  }

  /** Append the explicit Oracle-default null direction to each
    * top-level comma item that lacks one. */
  private def qualifyItems(items: String, itemsMasked: String): String = {
    val lens = SqlText.splitTop(itemsMasked).map(_.length)
    val starts = lens.scanLeft(0)((a, b) => a + b + 1).init
    starts.zip(lens).map { case (st, n) =>
      val item = items.substring(st, st + n)
      val m = itemsMasked.substring(st, st + n)
      // splice before the item's trailing whitespace so the text after
      // the item list (LIMIT/OFFSET/…) keeps its separator
      val trail = item.reverse.takeWhile(_.isWhitespace).reverse
      val core = item.substring(0, item.length - trail.length)
      if ("(?is)\\bNULLS\\s+(FIRST|LAST)\\b".r.findFirstIn(m).isDefined) item
      else if (m.trim.isEmpty) item
      else if ("(?is)\\bDESC\\s*$".r.findFirstIn(m.replaceFirst("\\s*$", "")).isDefined)
        core + " NULLS FIRST" + trail
      else core + " NULLS LAST" + trail
    }.mkString(",")
  }
}
