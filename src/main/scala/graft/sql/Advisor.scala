package graft.sql

import org.apache.spark.sql.SparkSession

/** SQL completion advisor (ref: sql/advise/SqlAdvisor.java:141-370 +
  * SqlSimpleParser.java — the JDBC-client autocompletion surface;
  * behaviors per SqlAdvisorTest.java). Given a statement and a cursor
  * offset, returns the completions valid at that point:
  *
  *   - in the FROM clause: schemas, tables/temp views (optionally
  *     scoped by a `schema.` qualifier), and the FROM-position keywords
  *     (LATERAL/TABLE/VALUES/UNNEST);
  *   - right after GROUP / ORDER / PARTITION: KEYWORD(BY);
  *   - in expression positions (select list, WHERE, ON, HAVING, BY
  *     lists): the columns of every relation in the statement's FROM
  *     clause — scoped to one relation by an `alias.` qualifier — plus
  *     the expression keywords;
  *   - everything prefix-filtered case-insensitively by the word under
  *     the cursor (the reference's "replace the word with _suggest_"
  *     device reduces to the same contract).
  *
  * Rendering matches the reference's SqlMoniker form:
  * `TABLE(EMP)`, `SCHEMA(SALES)`, `COLUMN(EMPNO)`, `KEYWORD(BY)`.
  */
object Advisor {

  final case class Hint(kind: String, name: String) {
    override def toString: String = s"$kind($name)"
  }

  private val fromKeywords = Seq("LATERAL", "TABLE", "VALUES", "UNNEST")
  private val exprKeywords = Seq("CASE", "CAST", "EXISTS", "NOT", "NULL", "INTERVAL")

  /** Completions for `sql` with the cursor at `cursor` (0-based offset;
    * the cursor may sit mid-word — the word's typed prefix filters). */
  def completionHints(spark: SparkSession, sql: String, cursor: Int): Seq[Hint] = {
    val cur = math.min(math.max(cursor, 0), sql.length)
    // the word under the cursor: its typed prefix + optional qualifier
    var ws = cur
    while (ws > 0 && SqlText.isWordChar(sql.charAt(ws - 1))) ws -= 1
    val prefix = sql.substring(ws, cur)
    val qualifier =
      if (ws > 0 && sql.charAt(ws - 1) == '.') {
        var qs = ws - 1
        while (qs > 0 && SqlText.isWordChar(sql.charAt(qs - 1))) qs -= 1
        Some(sql.substring(qs, ws - 1))
      } else None

    // context = last significant keyword before the word
    val head = sql.substring(0, math.max(ws - qualifier.map(_.length + 1).getOrElse(0), 0))
    val toks = head.split("[^A-Za-z0-9_]+").filter(_.nonEmpty).map(_.toUpperCase)
    val lastKw = toks.reverseIterator.find(t => Seq("SELECT", "FROM", "JOIN",
      "WHERE", "ON", "HAVING", "GROUP", "ORDER", "PARTITION", "BY", "AND",
      "OR", "COMMA").contains(t))
    // a comma keeps the clause of the last keyword before it
    val clause = lastKw.getOrElse("SELECT")

    val out =
      if (clause == "GROUP" || clause == "ORDER" || clause == "PARTITION")
        Seq(Hint("KEYWORD", "BY"))
      else if (clause == "FROM" || clause == "JOIN") {
        val dbs = spark.catalog.listDatabases().collect().map(_.name)
        qualifier match {
          case Some(q) if dbs.exists(_.equalsIgnoreCase(q)) =>
            spark.catalog.listTables(q).collect().toSeq
              .map(t => Hint("TABLE", t.name.toUpperCase))
          case Some(_) => Seq.empty
          case None =>
            dbs.toSeq.map(d => Hint("SCHEMA", d.toUpperCase)) ++
              spark.catalog.listTables().collect().toSeq
                .map(t => Hint("TABLE", t.name.toUpperCase)) ++
              fromKeywords.map(Hint("KEYWORD", _))
        }
      } else {
        // expression position: columns of the statement's FROM relations
        val rels = fromRelations(sql)
        val scoped = qualifier match {
          case Some(q) => rels.filter { case (alias, _) => alias.equalsIgnoreCase(q) }
          case None => rels
        }
        val cols = scoped.flatMap { case (_, table) =>
          try spark.catalog.listColumns(table).collect().toSeq
            .map(c => Hint("COLUMN", c.name.toUpperCase))
          catch { case _: Exception => Nil }
        }
        val kws = if (qualifier.isEmpty) exprKeywords.map(Hint("KEYWORD", _))
          else Nil
        (cols ++ kws).distinct
      }
    out.filter(_.name.toUpperCase.startsWith(prefix.toUpperCase)).distinct
  }

  /** (alias, tableName) pairs in the statement's FROM clause; a bare
    * table is its own alias. */
  private[sql] def fromRelations(sql: String): Seq[(String, String)] = {
    val m = "(?is)\\bFROM\\s+(.*?)(?:\\bWHERE\\b|\\bGROUP\\b|\\bORDER\\b|\\bHAVING\\b|\\bLIMIT\\b|$)".r
      .findFirstMatchIn(sql).getOrElse(return Nil)
    m.group(1).split(",|(?i)\\bJOIN\\b").toSeq.map(_.trim).filter(_.nonEmpty).flatMap { part =>
      val words = part.split("\\s+").takeWhile(w => !Set("ON", "USING")
        .contains(w.toUpperCase(java.util.Locale.ROOT)))
      words.filter(w => w.matches("[\\w.]+")) match {
        case Array(t) => Some((t.split('.').last, t))
        case arr if arr.length >= 2 =>
          val t = arr.head
          val a = if (arr(1).equalsIgnoreCase("AS") && arr.length >= 3) arr(2) else arr(1)
          Some((a, t))
        case _ => None
      }
    }
  }
}
