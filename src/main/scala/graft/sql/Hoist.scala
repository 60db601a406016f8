package graft.sql

/** Literal hoisting (ref: tools/Hoist.java:68-190): converts a
  * statement's literals into numbered bind variables so structurally
  * identical statements share one cache key — the statement-cache
  * normalization JDBC layers run before planning.
  *
  * `hoist` finds string and numeric literals on the comment-stripped,
  * mask-aware text (a keyword inside a string never matches);
  * `Hoisted.substitute` re-renders with any variable form (default
  * `?N`, matching the reference's ordinalString).
  */
object Hoist {

  /** One hoisted literal: ordinal, [start, end) offsets into the
    * original text, and the literal's text. */
  final case class Variable(originalSql: String, ordinal: Int, start: Int, end: Int) {
    def sql: String = originalSql.substring(start, end)
  }

  final case class Hoisted(originalSql: String, variables: Seq[Variable]) {
    /** Re-render with each variable replaced by `f(v)` (the reference's
      * Hoisted.substitute). */
    def substitute(f: Variable => String): String = {
      val sb = new StringBuilder
      var at = 0
      for (v <- variables) {
        sb.append(originalSql.substring(at, v.start)).append(f(v))
        at = v.end
      }
      sb.append(originalSql.substring(at)).toString
    }
    /** Default rendering: `?0`, `?1`, ... (Hoist.ordinalString). */
    override def toString: String = substitute(v => s"?${v.ordinal}")
  }

  def hoist(sql: String): Hoisted = {
    val masked = SqlText.mask(sql)
    val vars = scala.collection.mutable.ArrayBuffer.empty[Variable]
    var i = 0
    while (i < masked.length) {
      val c = masked.charAt(i)
      if (c == '\'') {
        // masked literals keep their quotes; scan to the closing quote
        var j = i + 1
        while (j < masked.length && masked.charAt(j) != '\'') j += 1
        vars += Variable(sql, vars.size, i, math.min(j + 1, sql.length))
        i = j + 1
      } else if (c.isDigit &&
          (i == 0 || !(masked.charAt(i - 1).isLetterOrDigit || masked.charAt(i - 1) == '_' ||
            masked.charAt(i - 1) == '.'))) {
        var j = i
        while (j < masked.length && (masked.charAt(j).isDigit || masked.charAt(j) == '.')) j += 1
        // exponent part
        if (j < masked.length && (masked.charAt(j) == 'e' || masked.charAt(j) == 'E') &&
            j + 1 < masked.length && (masked.charAt(j + 1).isDigit ||
              ((masked.charAt(j + 1) == '+' || masked.charAt(j + 1) == '-') &&
                j + 2 < masked.length && masked.charAt(j + 2).isDigit))) {
          j += 2
          while (j < masked.length && masked.charAt(j).isDigit) j += 1
        }
        vars += Variable(sql, vars.size, i, j)
        i = j
      } else i += 1
    }
    Hoisted(sql, vars.toSeq)
  }
}
