package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** `CREATE/DROP TYPE` — user-defined structured types (ref: server
  * module sql/ddl/SqlCreateType.java; type.iq):
  *
  *   CREATE TYPE name AS <scalar type>            -- alias type
  *   CREATE TYPE name AS (f1 T1 [NOT NULL], ...)  -- record type
  *
  * Spark has no persistent UDT catalog, so the session keeps one here
  * and GraftSql expands registered names at rewrite time:
  *   - a record type used as a COLUMN/CAST type expands to its
  *     `STRUCT<f: T, ...>` spelling (nested types resolve recursively);
  *   - `name(arg, ...)` CONSTRUCTOR calls expand to
  *     `named_struct('f1', arg1, ...)` — the reference's
  *     SqlItemOperator value-constructor form (type.iq:158);
  *   - scalar alias types substitute their underlying type.
  */
object TypesSql {

  private case class UdtDef(ddl: String, fields: Seq[String]) // fields empty = scalar alias

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, UdtDef]()

  def clearRegistry(): Unit = registry.clear()

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** Spark DDL spelling of one reference type token (scalars). */
  private def scalar(t: String): String = {
    val up = t.trim.toUpperCase(java.util.Locale.ROOT)
    up.replaceAll("\\s+", " ") match {
      case "INT" | "INTEGER" => "INT"
      case "CHAR" => "STRING" // CHAR defaults to CHAR(1); carried as STRING
      case v if v.startsWith("VARCHAR") || v.startsWith("CHAR") => "STRING"
      case "VARBINARY" | "BINARY" => "BINARY"
      case other => other
    }
  }

  /** Expand a type expression that may reference registered UDTs,
    * `ROW(...)` records, or postfix ARRAY/MULTISET. */
  def expandType(t0: String): String = {
    var t = t0.trim
    // postfix collection: `VARCHAR ARRAY` -> ARRAY<STRING>
    val post = "(?is)^(.*?)\\s+(ARRAY|MULTISET)$".r
    t match {
      case post(inner, _) => return s"ARRAY<${expandType(inner)}>"
      case _ =>
    }
    val row = "(?is)^ROW\\s*\\((.*)\\)$".r
    t match {
      case row(body) => return recordDdl(body)
      case _ =>
    }
    val mapRe = "(?is)^MAP\\s*<(.*)>$".r
    t match {
      case mapRe(body) =>
        val parts = splitTypeList(body)
        if (parts.length == 2)
          return s"MAP<${expandType(parts(0))}, ${expandType(parts(1))}>"
      case _ =>
    }
    Option(registry.get(lc(t))).map(_.ddl).getOrElse(scalar(t))
  }

  /** Depth-0 comma split of TYPE text, nesting on () and <> (STRUCT<...>
    * field lists — never comparisons, so not SQL text for [[SqlText]]). */
  private def splitTypeList(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0
    for (i <- s.indices) s.charAt(i) match {
      case '(' | '<' => depth += 1
      case ')' | '>' => depth -= 1
      case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** `f1 T1 [NOT NULL|NULL], ...` -> STRUCT<f1: T1', ...> */
  private def recordDdl(body: String): String = {
    val fields = splitTypeList(body).map { f =>
      val cleaned = f.trim.replaceAll("(?i)\\s+NOT\\s+NULL$", "").replaceAll("(?i)\\s+NULL$", "")
      val Array(n, t) = cleaned.split("\\s+", 2)
      s"$n: ${expandType(t)}"
    }
    s"STRUCT<${fields.mkString(", ")}>"
  }

  private def fieldNames(body: String): Seq[String] =
    splitTypeList(body).map(_.trim.split("\\s+", 2)(0))

  private val createRe = "(?is)^CREATE\\s+TYPE\\s+(\\w+)\\s+AS\\s*(.+?)\\s*;?\\s*$".r
  private val dropRe = "(?is)^DROP\\s+TYPE\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*$".r

  /** `MAP<k, v>` type spellings run through [[expandType]] so UDT names
    * and `ROW(...)` records inside resolve before the generic ROW→struct
    * value rewrite can touch them. */
  private val mapTypeRe = "(?i)\\bMAP\\s*<".r

  private def expandMapTypes(sql: String): String = {
    val out = new StringBuilder
    var last = 0
    for (m <- mapTypeRe.findAllMatchIn(sql) if m.start >= last) {
      // the `>` closing the type: `<>` nest in type text
      var depth = 0; var close = -1; var i = m.end - 1
      while (i < sql.length && close < 0) {
        sql.charAt(i) match {
          case '<' => depth += 1
          case '>' => depth -= 1; if (depth == 0) close = i
          case _ =>
        }
        i += 1
      }
      if (close >= 0) {
        out.append(sql.substring(last, m.start)).append(expandType(sql.substring(m.start, close + 1)))
        last = close + 1
      }
    }
    out.append(sql.substring(last)).toString
  }

  /** Some(df) if the statement is TYPE DDL; None otherwise. */
  def maybeRun(spark: SparkSession, text: String): Option[DataFrame] = text.trim match {
    case createRe(name, body0) =>
      val body = body0.trim
      if (body.startsWith("(")) {
        val inner = body.substring(1, body.length - 1)
        registry.put(lc(name), UdtDef(recordDdl(inner), fieldNames(inner)))
      } else registry.put(lc(name), UdtDef(expandType(body), Nil))
      Some(spark.emptyDataFrame)
    case dropRe(name) =>
      registry.remove(lc(name))
      Some(spark.emptyDataFrame)
    case _ => None
  }

  /** `CAST(x AS ROW(a T, b T))` (SQL-standard row type in a cast
    * position — unnest.iq:635, cast.iq:2049): Spark spells the same
    * type `STRUCT<a: T, ...>`. Fields translate through [[expandType]]
    * (nested ROW recurses, CHAR(n)→STRING, NOT NULL dropped). Applies
    * to every `AS ROW(...)` type position — the token sequence cannot
    * occur as a value expression. */
  private val asRowRe = "(?is)\\bAS\\s+(ROW)\\s*\\(".r
  private val castNullAsRe = "(?is)CAST\\s*\\(\\s*NULL\\s+AS\\s*$".r

  def rewriteCastRow(sql: String): String =
    SqlText.spliceEach(sql, asRowRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        val rowAt = site.hit.start(1)
        // `CAST(NULL AS ROW(...))` takes Spark's POSITIONAL field names
        // (col1..colN) so it unifies with bare ROW(..) value constructors
        // inside one ARRAY[..] literal (unnest.iq:633 — Spark requires
        // array elements to agree on struct field NAMES, the reference
        // only on types); a cast of a real row value keeps declared names.
        val struct =
          if (castNullAsRe.findFirstIn(site.m.substring(0, rowAt)).isDefined) {
            val fields = splitTypeList(site.sql.substring(site.end, close)).zipWithIndex.map {
              case (f, i) =>
                val cleaned = f.trim.replaceAll("(?i)\\s+NOT\\s+NULL$", "").replaceAll("(?i)\\s+NULL$", "")
                val t = cleaned.split("\\s+", 2)(1)
                s"col${i + 1}: ${expandType(t)}"
            }
            s"STRUCT<${fields.mkString(", ")}>"
          } else expandType(site.sql.substring(rowAt, close + 1))
        Some(SqlText.Splice(rowAt, close + 1, struct))
      }
    }

  /** Rewrite registered type names inside a statement, one type at a
    * time: its constructor calls (a constructor argument may be another
    * constructor call), then its bare name in type position. No-op when
    * no type is registered. */
  def expand(sql0: String): String =
    if (registry.isEmpty) sql0
    else registry.asScala.toSeq.foldLeft(expandMapTypes(sql0)) { case (sql, (name, d)) =>
      val quoted = java.util.regex.Pattern.quote(name)
      // constructor: name(args) -> named_struct('f1', a1, ...)
      val ctors =
        if (d.fields.isEmpty) sql
        else SqlText.spliceEach(sql, ("(?i)\\b" + quoted + "\\s*\\(").r) { site =>
          val close = site.close
          val args =
            if (close < 0) Nil
            else SqlText.splitTop(site.sql.substring(site.end, close)).map(_.trim).filter(_.nonEmpty)
          if (args.length != d.fields.length) None
          else Some(SqlText.Splice(site.start, close + 1, d.fields.zip(args)
            .map { case (f, a) => s"'$f', $a" }.mkString("named_struct(", ", ", ")")))
        }
      // bare name in type position (not followed by '(')
      SqlText.replaceMasked(ctors, ("(?i)\\b" + quoted + "\\b(?!\\s*\\()").r)((_, _) => d.ddl)
    }
}
