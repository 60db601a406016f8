package graft

import scala.collection.mutable.ArrayBuffer

import graft.sql.GraftSql

/** Shared quidem (.iq) machinery for the reference conformance specs:
  * parses statements + recorded expected tables out of the read-only
  * reference checkout at test time (nothing is copied into this repo),
  * and value-compares a Spark result against the recorded output.
  *
  * Quidem grammar notes the parser honors:
  *  - one statement can carry SEVERAL (expected-block, !directive)
  *    sections (e.g. `!type` output then `!ok` output) — scan ahead to
  *    the next `!` command line; a ';'-terminated line seen first means
  *    the remaining lines start a NEW statement instead;
  *  - `!if (cond) { ... !}` wraps disabled/conditional tests in the
  *    reference corpora — skipped wholesale (they are off upstream too);
  *  - `!update` statements are DDL/DML the corpus expects to execute.
  */
trait IqHarness extends SparkSpec {

  case class IqCase(file: String, line: Int, use: String, sql: String,
      header: Seq[String], rows: Seq[Seq[String]], ddl: Boolean = false,
      kind: String = "ok")

  /** `extended = true` additionally emits `!error` cases (kind="error",
    * rows = the recorded message lines) and `!type` cases (kind="type",
    * rows = the recorded `NAME TYPE [NOT NULL]` lines) — opt-in so the
    * value-compare specs' case counts stay stable. */
  def parseIq(f: java.io.File, extended: Boolean = false): Seq[IqCase] = {
    val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
    val out = ArrayBuffer.empty[IqCase]
    var use = ""
    var fmt = "mysql"
    var i = 0
    while (i < lines.length) {
      val l = lines(i).trim
      if (l.startsWith("!if")) {
        i += 1
        var depth = 1
        while (i < lines.length && depth > 0) {
          val t = lines(i).trim
          if (t.startsWith("!if")) depth += 1
          else if (t == "!}") depth -= 1
          i += 1
        }
      }
      else if (l.startsWith("!use ")) { use = l.stripPrefix("!use ").trim; i += 1 }
      else if (l.startsWith("!set outputformat ")) { fmt = l.stripPrefix("!set outputformat ").trim; i += 1 }
      else if (l.startsWith("!set ") && l.count(_ == '"') % 2 == 1) {
        // multi-line !set value (e.g. join-agg-transpose.iq's
        // `!set hep-rules "` + rule lines): consume through the line
        // carrying the closing quote
        i += 1
        while (i < lines.length && !lines(i).contains("\"")) i += 1
        i += 1
      }
      else if (l.startsWith("#") || l.startsWith("--") || l.startsWith("!") || l.isEmpty) i += 1
      else {
        // statement: accumulate until a line ending in ';'
        val start = i
        val stmt = new StringBuilder
        var done = false
        while (i < lines.length && !done) {
          val s = lines(i)
          if (!s.trim.startsWith("#") && !s.trim.startsWith("--")) {
            stmt.append(s).append('\n')
            if (s.trim.endsWith(";")) done = true
          }
          i += 1
        }
        // one or more (expected-block, !directive) sections follow
        var more = true
        while (more) {
          var j = i
          var found = -1
          var newStmt = false
          while (j < lines.length && found < 0 && !newStmt) {
            val t = lines(j).trim
            if (t.startsWith("!")) found = j
            else if (t.endsWith(";")) newStmt = true
            else j += 1
          }
          if (found < 0) more = false
          else {
            val d = lines(found).trim
            if (d.startsWith("!if")) {
              // conditional (disabled) section attached to this statement —
              // e.g. a guarded !plan — skip it and keep scanning: the real
              // !ok section may follow the closing !}
              var k = found + 1
              var depth = 1
              while (k < lines.length && depth > 0) {
                val t = lines(k).trim
                if (t.startsWith("!if")) depth += 1
                else if (t == "!}") depth -= 1
                k += 1
              }
              i = k
            } else if (d.startsWith("!use") || d.startsWith("!set") || d == "!}") {
              more = false // context directive — belongs to the outer loop
            } else {
              if (d == "!ok") {
                parseExpected(lines.slice(i, found), fmt).foreach { case (hdr, rows) =>
                  out += IqCase(f.getName, start + 1, use,
                    stmt.toString.trim.stripSuffix(";"), hdr, rows)
                }
              } else if (d == "!update") {
                out += IqCase(f.getName, start + 1, use,
                  stmt.toString.trim.stripSuffix(";"), Nil, Nil, ddl = true,
                  kind = "update")
              } else if (extended && (d == "!error" || d == "!type")) {
                val block = lines.slice(i, found).map(_.trim).filter(_.nonEmpty)
                out += IqCase(f.getName, start + 1, use,
                  stmt.toString.trim.stripSuffix(";"), Nil, block.map(Seq(_)),
                  kind = d.stripPrefix("!"))
              } else if (extended && d.startsWith("!explain-validated-on")) {
                // the statement parse/validates; the expected block is the
                // reference's re-rendered SQL (not compared)
                out += IqCase(f.getName, start + 1, use,
                  stmt.toString.trim.stripSuffix(";"), Nil, Nil, kind = "validate")
              }
              i = found + 1
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** mysql format: | a | b | rows between the 2nd and last +--- separator;
    * oracle format: fixed-width columns spanned by the dashes line;
    * csv format: a header line then comma-separated rows (cells with
    * embedded commas fail the arity check and drop the case — safe). */
  def parseExpected(block: Seq[String], fmt: String): Option[(Seq[String], Seq[Seq[String]])] = fmt match {
    case "csv" =>
      // rows INCLUDE blank lines — a single-column empty-string row
      // prints as one (quidem pads after the directive, not inside)
      val lines = block.dropWhile(_.trim.isEmpty)
      if (lines.isEmpty) None
      else {
        val hdr = lines.head.split(",", -1).map(_.trim).toSeq
        val rows =
          if (hdr.size == 1)
            // single-column: the value itself may contain commas (WKT,
            // GeoJSON) — take the whole line as the cell
            lines.tail.map(l => Seq(if (l.trim == "null") "" else l.trim))
          else lines.tail.map(_.split(",", -1).map(_.trim)
            .map(c => if (c == "null") "" else c).toSeq) // csv prints NULL as "null"
        if (rows.exists(_.size != hdr.size)) None else Some((hdr, rows))
      }
    case "mysql" =>
      val seps = block.zipWithIndex.filter(_._1.trim.startsWith("+-")).map(_._2)
      if (seps.size < 2) {
        // zero-column or malformed — only accept the explicit empty form
        if (block.exists(_.trim.matches("\\(0 rows\\)"))) Some((Nil, Nil)) else None
      } else {
        val hdr = splitPipes(block(seps(0) + 1))
        val dataLines = block.slice(seps(1) + 1, seps.last)
        val rows = dataLines.filter(_.trim.startsWith("|")).map(splitPipes)
        // a cell containing a literal '|' would mis-split: count check
        if (rows.exists(_.size != hdr.size)) None else Some((hdr, rows))
      }
    case "oracle" =>
      block.zipWithIndex.find(_._1.trim.matches("-+( -+)*")) match {
        case None =>
          if (block.exists(_.trim.matches("0 rows selected\\.?"))) Some((Nil, Nil)) else None
        case Some((dashes, di)) =>
          // column spans = runs of '-' in the dashes line
          val spans = ArrayBuffer.empty[(Int, Int)]
          var j = 0
          while (j < dashes.length) {
            if (dashes.charAt(j) == '-') {
              val s = j
              while (j < dashes.length && dashes.charAt(j) == '-') j += 1
              spans += ((s, j))
            } else j += 1
          }
          def cells(s: String): Seq[String] = spans.toSeq.zipWithIndex.map { case ((a, b), k) =>
            // last column runs to end of line (left-aligned strings can overflow the dashes)
            val hi = if (k == spans.size - 1) s.length else math.min(b, s.length)
            if (a >= s.length) "" else s.substring(a, hi).trim
          }
          val hdr = cells(block(di - 1))
          val rows = block.drop(di + 1).takeWhile(_.trim.nonEmpty).map(cells)
          Some((hdr, rows))
      }
    case _ => None
  }

  private def splitPipes(l: String): Seq[String] = {
    val t = l.trim.stripPrefix("|").stripSuffix("|")
    t.split("\\|", -1).map(_.trim).toSeq
  }

  // ---- normalization + compare -----------------------------------------

  // leading '+' appears on single-unit INTERVAL displays (+754 hours,
  // winagg.iq:23) — value-equal to the signed number
  private val numRe = "[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?".r

  /** Numerics are rounded to 9 significant digits before compare: the
    * reference computes DECIMAL where Spark computes DOUBLE for several
    * aggregates (REGR_*, scalar-subquery division), so exact strings
    * differ in the last ulps while both are correct. */
  def normCell(s: String): String = s match {
    case "" => ""
    case v if numRe.matches(v) =>
      val bd = new java.math.BigDecimal(v)
        .round(new java.math.MathContext(9)).stripTrailingZeros()
      if (bd.compareTo(java.math.BigDecimal.ZERO) == 0) "0" else bd.toPlainString
    case v if v.startsWith("[") && v.endsWith("]") => // collection cells
      // separator-insensitive: a variant array renders compact [1,2,3],
      // the reference spaces its elements [1, 2, 3] — value-identical.
      // Only the separator's OWN space strips (CHAR-padded elements
      // like 'a  ' keep their padding — misc.iq:2215)
      v.substring(1, v.length - 1).split(",", -1).map(_.stripPrefix(" "))
        .map(normCell).mkString("[", ", ", "]")
    case v => v
  }

  def normValue(v: Any): String = v match {
    case null => ""
    case b: java.math.BigDecimal => normCell(b.toPlainString)
    case b: scala.math.BigDecimal => normCell(b.bigDecimal.toPlainString)
    case d: java.lang.Double => normCell(d.toString)
    case f: java.lang.Float => normCell(f.toString)
    case t: java.sql.Timestamp => t.toString.stripSuffix(".0")
    case d: java.sql.Date => d.toString
    case ldt: java.time.LocalDateTime => // TIMESTAMP_NTZ: space, full seconds
      ldt.format(java.time.format.DateTimeFormatter.ofPattern(
        if (ldt.getNano == 0) "uuuu-MM-dd HH:mm:ss" else "uuuu-MM-dd HH:mm:ss.SSSSSS"))
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case arr: scala.collection.Seq[_] => // NULL elements print as "null"
      arr.map {
        case null => "null"
        // CHAR padding inside a collection is significant on the
        // expected side (the cell parser only outer-trims) — string
        // elements keep their blanks, unlike top-level cells
        case s: String => normCell(s)
        case e => normValue(e)
      }.mkString("[", ", ", "]")
    case r: org.apache.spark.sql.Row => // ROW constructor prints {a, b}; null fields as "null"
      // fields print reference-style (decimals keep their scale: 800.00)
      // because the expected side's brace cell is compared verbatim
      def rowValue(v: Any): String = v match {
        case null => "null"
        case b: java.math.BigDecimal => b.toPlainString
        case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
        case rr: org.apache.spark.sql.Row =>
          (0 until rr.length).map(i => rowValue(if (rr.isNullAt(i)) null else rr.get(i)))
            .mkString("{", ", ", "}")
        case other => normValue(other)
      }
      (0 until r.length).map(i =>
        rowValue(if (r.isNullAt(i)) null else r.get(i))).mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] => // MAP prints {k=v, ...} sorted
      m.toSeq.map { case (k, v) => s"${normValue(k)}=${normValue(v)}" }
        .sorted.mkString("{", ", ", "}")
    case other =>
      // expected-side cells are whitespace/control-trimmed by the table
      // parser; trim symmetrically here
      normCell(other.toString.trim)
  }

  /** Final per-cell normalization hook applied symmetrically to both the
    * engine's and the recorded side (identity by default; the spatial
    * corpus rounds numeric tokens inside WKT strings here). */
  protected def postNorm(cell: String): String = cell

  /** Double-quoted identifiers become backticks — but only OUTSIDE
    * single-quoted string literals (XML/GeoJSON arguments carry interior
    * double quotes that must survive). */
  def quoteIdents(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') {
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != '\'') j += 1
        sb.append(sql.substring(i, math.min(j + 1, sql.length)))
        i = j + 1
      } else if (c == '"') {
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != '"') j += 1
        sb.append('`').append(sql.substring(i + 1, math.min(j, sql.length))).append('`')
        i = j + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Run `cleaned` through GraftSql and value-compare against the case's
    * recorded table. None = pass; Some(reason) = mismatch/error. Row
    * MULTISETS are compared (ORDER BY tie order is engine-specific). */
  def compareCase(c: IqCase, cleaned: String): Option[String] = {
    try {
      val got0 = GraftSql.sql(spark, cleaned)
      // Spark's EXISTS-under-join-OR and correlated-aggregate-argument
      // shapes pass ANALYSIS but die at EXECUTION with INTERNAL errors
      // (AQE defers physical planning past GraftSql's eager force) —
      // retry those through the manual-Correlate fallback directly
      val (got, rows) =
        try (got0, got0.collect())
        catch {
          case ex: Throwable if graft.sql.Decorrelate.applicable(ex) =>
            val df = graft.sql.Decorrelate(spark, GraftSql.rewrite(cleaned))
              .getOrElse(throw ex)
            (df, df.collect())
        }
      if (got.columns.length != c.header.size)
        return Some(s"column count ${got.columns.length} != expected ${c.header.size} (${c.header.mkString(",")})")
      val gotNorm = rows.map(r => (0 until r.length).map(i => postNorm(normValue(r.get(i)))).toSeq)
      val expNorm = c.rows.map(_.map(x => postNorm(normCell(x))))
      if (gotNorm.length != expNorm.length)
        return Some(s"row count ${gotNorm.length} != expected ${expNorm.length}")
      val g = gotNorm.sortBy(_.mkString("\u0000"))
      val e = expNorm.sortBy(_.mkString("\u0000"))
      if (g.map(_.toList).toList != e.map(_.toList).toList) {
        val diff = g.zip(e).collectFirst { case (a, b) if a != b => s"got $a expected $b" }
        return Some(s"value mismatch: ${diff.getOrElse("?")}")
      }
      None
    } catch {
      case ex: Throwable =>
        Some(s"${ex.getClass.getSimpleName}: ${Option(ex.getMessage).getOrElse("").linesIterator.take(1).mkString}")
    }
  }

  /** The public scott demo schema (EMP/DEPT/BONUS/SALGRADE) with the
    * reference dataset's values (scott-data-hsqldb). */
  def registerScott(): Unit = {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW emp AS
      -- column names UPPERCASE: the reference uppercases unquoted
      -- identifiers, and UNPIVOT labels surface column NAMES as DATA
      -- (pivot.iq:554), so the case must match
      SELECT empno AS EMPNO, ename AS ENAME, job AS JOB, mgr AS MGR,
             hiredate AS HIREDATE,
             CAST(sal AS DECIMAL(7,2)) AS SAL,
             CAST(comm AS DECIMAL(7,2)) AS COMM, deptno AS DEPTNO
      FROM VALUES
        (7369,'SMITH','CLERK',7902,DATE'1980-12-17',800.00,CAST(NULL AS DECIMAL(7,2)),20),
        (7499,'ALLEN','SALESMAN',7698,DATE'1981-02-20',1600.00,300.00,30),
        (7521,'WARD','SALESMAN',7698,DATE'1981-02-22',1250.00,500.00,30),
        (7566,'JONES','MANAGER',7839,DATE'1981-02-04',2975.00,CAST(NULL AS DECIMAL(7,2)),20),
        (7654,'MARTIN','SALESMAN',7698,DATE'1981-09-28',1250.00,1400.00,30),
        (7698,'BLAKE','MANAGER',7839,DATE'1981-01-05',2850.00,CAST(NULL AS DECIMAL(7,2)),30),
        (7782,'CLARK','MANAGER',7839,DATE'1981-06-09',2450.00,CAST(NULL AS DECIMAL(7,2)),10),
        (7788,'SCOTT','ANALYST',7566,DATE'1987-04-19',3000.00,CAST(NULL AS DECIMAL(7,2)),20),
        (7839,'KING','PRESIDENT',CAST(NULL AS INT),DATE'1981-11-17',5000.00,CAST(NULL AS DECIMAL(7,2)),10),
        (7844,'TURNER','SALESMAN',7698,DATE'1981-09-08',1500.00,0.00,30),
        (7876,'ADAMS','CLERK',7788,DATE'1987-05-23',1100.00,CAST(NULL AS DECIMAL(7,2)),20),
        (7900,'JAMES','CLERK',7698,DATE'1981-12-03',950.00,CAST(NULL AS DECIMAL(7,2)),30),
        (7902,'FORD','ANALYST',7566,DATE'1981-12-03',3000.00,CAST(NULL AS DECIMAL(7,2)),20),
        (7934,'MILLER','CLERK',7782,DATE'1982-01-23',1300.00,CAST(NULL AS DECIMAL(7,2)),10)
        AS t(empno, ename, job, mgr, hiredate, sal, comm, deptno)""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW dept AS SELECT * FROM VALUES
        (10,'ACCOUNTING','NEW YORK'),(20,'RESEARCH','DALLAS'),
        (30,'SALES','CHICAGO'),(40,'OPERATIONS','BOSTON')
        AS t(DEPTNO, DNAME, LOC)""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW bonus AS
      SELECT CAST(NULL AS STRING) AS ENAME, CAST(NULL AS STRING) AS JOB,
             CAST(NULL AS DECIMAL(7,2)) AS SAL, CAST(NULL AS DECIMAL(7,2)) AS COMM
      WHERE 1 = 0""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW salgrade AS SELECT * FROM VALUES
        (1,700,1200),(2,1201,1400),(3,1401,2000),(4,2001,3000),(5,3001,9999)
        AS t(GRADE, LOSAL, HISAL)""")
  }
}
