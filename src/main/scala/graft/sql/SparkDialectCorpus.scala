package graft.sql

/** Spark-dialect corpus adapter (ref: babel's spark.iq — mostly native
  * Spark SQL, plus the reference's COLLECTION surfaces: MULTISET
  * literals/operators, `INT ARRAY` / `INT MULTISET` type syntax, and
  * the IS [NOT] EMPTY predicate, all lowered onto Spark arrays the same
  * way functions/Multiset.scala maps the MULTISET family). */
object SparkDialect {

  def rewrite(sql: String): String =
    rewriteDecimalArrayClamp(rewriteInsertValuesParen(rewriteIsEmpty(
      rewriteIsASet(rewriteSubmultiset(rewriteMultisetOps(
        rewriteCollectionLiterals(rewriteTypeSyntax(
          PostgresDialect.rewriteQuotes(sql)))))))))

  /** Array literals mixing decimal CASTs with high-scale decimal
    * literals: the reference's common-type derivation clamps to
    * precision 19 KEEPING integer digits (DECIMAL(17) + DECIMAL(17,16)
    * → DECIMAL(19,2) — spark.iq:458 displays 2.11), where Spark keeps
    * the wide scale. Fires only when the clamp actually bites
    * (intDigits + scale > 19), so ordinary small arrays never change. */
  private[sql] def rewriteDecimalArrayClamp(sql: String): String = {
    val masked = SqlText.mask(sql)
    for (m <- "(?i)\\barray\\s*\\(".r.findAllMatchIn(masked)) {
      val open = masked.indexOf('(', m.start)
      val close = SqlText.closeOf(masked, open)
      if (close > 0) {
        val items = SqlText.splitTop(sql.substring(open + 1, close)).map(_.trim)
        val castRe = ("(?is)^CAST\\s*\\(\\s*(-?\\d+(?:\\.\\d+)?)\\s+AS\\s+DECIMAL" +
          "\\s*\\(\\s*(\\d+)\\s*(?:,\\s*(\\d+))?\\s*\\)\\s*\\)$").r
        val types: Seq[Option[(Int, Int)]] = items.map {
          case castRe(_, p, s) =>
            Some((p.toInt, Option(s).map(_.toInt).getOrElse(0)))
          case it if "^-?\\d+\\.\\d+$".r.matches(it) =>
            val dot = it.indexOf('.')
            val frac = it.length - dot - 1
            Some((it.replace("-", "").length - 1, frac))
          case it if "^-?\\d+$".r.matches(it) =>
            Some((it.replace("-", "").length, 0))
          case _ => None
        }
        if (items.length > 1 && types.forall(_.isDefined)) {
          val intd = types.flatten.map { case (p, s) => p - s }.max
          val sc = types.flatten.map(_._2).max
          if (intd + sc > 19) {
            val scale = math.max(0, 19 - intd)
            if (scale != sc) {
              val newItems = items.map(it => s"CAST($it AS DECIMAL(19, $scale))")
              return rewriteDecimalArrayClamp(sql.substring(0, open + 1) +
                newItems.mkString(", ") + sql.substring(close))
            }
          }
        }
      }
    }
    sql
  }

  /** `INT ARRAY` → `ARRAY<INT>`, `INT MULTISET` → `ARRAY<INT>` (a
    * multiset is an array with bag semantics downstream),
    * `MAP<VARCHAR, INT>` is already Spark. */
  private def rewriteTypeSyntax(sql: String): String = sql
    .replaceAll("(?i)\\b(\\w+)\\s+ARRAY\\b(?!\\s*\\[)", "ARRAY<$1>")
    .replaceAll("(?i)\\b(\\w+)\\s+MULTISET\\b(?!\\s*\\[)", "ARRAY<$1>")
    .replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING") // bare VARCHAR needs a length in Spark DDL

  /** `MULTISET[a, b]` / `MAP['k', v, ...]` / `ARRAY[a, b]` literals →
    * constructor calls. */
  private def rewriteCollectionLiterals(sql: String): String = {
    var out = sql
    for ((kw, fn) <- Seq("MULTISET" -> "array", "MAP" -> "map", "ARRAY" -> "array")) {
      var continue = true
      while (continue) {
        val masked = SqlText.mask(out)
        ("(?i)\\b" + kw + "\\s*\\[").r.findFirstMatchIn(masked) match {
          case None => continue = false
          case Some(m) =>
            var depth = 1
            var i = m.end
            while (i < masked.length && depth > 0) {
              val c = masked.charAt(i)
              if (c == '[') depth += 1 else if (c == ']') depth -= 1
              i += 1
            }
            if (depth != 0) continue = false
            else out = out.substring(0, m.start) + fn + "(" +
              out.substring(m.end, i - 1) + ")" + out.substring(i)
        }
      }
    }
    out
  }

  private val operand =
    "(`[^`]+`|(?:\\w+\\.)?\\w+\\((?:[^()]|\\([^()]*\\))*\\)|(?:\\w+\\.)?\\w+)"

  /** MULTISET UNION/EXCEPT/INTERSECT — bag operators lowered onto array
    * functions (UNION ALL keeps duplicates via concat; the distinct
    * variants go through array_distinct/array_except/array_intersect,
    * which match on the corpus's set-valued columns). */
  private[sql] def rewriteMultisetOps(sql: String): String = {
    val re = ("(?i)" + operand +
      "\\s+MULTISET\\s+(UNION|EXCEPT|INTERSECT)(\\s+ALL|\\s+DISTINCT)?\\s+" + operand).r
    val masked = SqlText.mask(sql)
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val a = sql.substring(m.start(1), m.end(1))
        val b = sql.substring(m.start(4), m.end(4))
        val distinct = m.group(3) != null && m.group(3).trim.equalsIgnoreCase("DISTINCT")
        val repl = m.group(2).toUpperCase match {
          // DISTINCT union sorts, like the reference's set-backed result
          // (operator.iq:206 — [a, c, b] UNION DISTINCT [a] is [a, b, c])
          case "UNION" => if (distinct) s"sort_array(array_distinct(concat($a, $b)))" else s"concat($a, $b)"
          case "EXCEPT" =>
            if (distinct) s"array_except($a, $b)" else s"multiset_except_all($a, $b)"
          case _ =>
            if (distinct) s"array_intersect($a, $b)" else s"multiset_intersect_all($a, $b)"
        }
        rewriteMultisetOps(sql.substring(0, m.start) + repl + sql.substring(m.end))
    }
  }

  /** `a SUBMULTISET OF b` → the bag-containment predicate. */
  private[sql] def rewriteSubmultiset(sql: String): String = {
    val re = ("(?i)" + operand + "\\s+SUBMULTISET\\s+OF\\s+" + operand).r
    val masked = SqlText.mask(sql)
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val a = sql.substring(m.start(1), m.end(1))
        val b = sql.substring(m.start(2), m.end(2))
        rewriteSubmultiset(sql.substring(0, m.start) +
          s"submultiset_of($a, $b)" + sql.substring(m.end))
    }
  }

  /** `x IS A SET` — true when x holds no duplicates; NULL input is
    * false in the reference's runtime. */
  private[sql] def rewriteIsASet(sql: String): String = {
    val re = ("(?i)" + operand + "\\s+IS\\s+A\\s+SET\\b").r
    val masked = SqlText.mask(sql)
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val x = sql.substring(m.start(1), m.end(1))
        rewriteIsASet(sql.substring(0, m.start) +
          s"ifnull(size($x) = size(array_distinct($x)), false)" + sql.substring(m.end))
    }
  }

  /** `x IS [NOT] EMPTY` → size comparison (size(NULL) is NULL, so NULL
    * collections fail both predicates, as the reference's 3VL does). */
  private[sql] def rewriteIsEmpty(sql: String): String = {
    val re = ("(?i)" + operand + "\\s+IS\\s+(NOT\\s+)?EMPTY\\b").r
    val masked = SqlText.mask(sql)
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val x = sql.substring(m.start(1), m.end(1))
        val repl = if (m.group(2) != null) s"(size($x) > 0)" else s"(size($x) = 0)"
        rewriteIsEmpty(sql.substring(0, m.start) + repl + sql.substring(m.end))
    }
  }

  /** `INSERT INTO t (VALUES ...)` — the parenthesized form reads as a
    * column list to Spark; strip the parens. */
  private def rewriteInsertValuesParen(sql: String): String = {
    val masked = SqlText.mask(sql)
    val re = "(?i)\\bINSERT\\s+INTO\\s+(\\w+)\\s*\\(\\s*VALUES\\b".r
    re.findFirstMatchIn(masked) match {
      case None => sql
      case Some(m) =>
        val open = masked.indexOf('(', m.start)
        val close = SqlText.closeOf(masked, open)
        if (close < 0) sql
        else sql.substring(0, open) + " " + sql.substring(open + 1, close).trim +
          sql.substring(close + 1)
    }
  }
}
