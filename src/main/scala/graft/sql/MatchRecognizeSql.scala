package graft.sql

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.MatchRecognize
import graft.plans.MatchRecognize.{Skip, SkipPastLastRow, SkipToNextRow}

/** SQL surface for MATCH_RECOGNIZE (ref: sql/SqlMatchRecognize.java:1,
  * parserImpls.ftl MatchRecognizeClause, corpus match.iq) — parses
  *
  * {{{
  * SELECT ... FROM <rel> MATCH_RECOGNIZE (
  *   [PARTITION BY c1, c2]
  *   [ORDER BY c1, c2]
  *   [MEASURES expr AS alias, ...]
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *   [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
  *   PATTERN ( <pattern> )
  *   [WITHIN INTERVAL 'n' SECOND|MINUTE|HOUR|DAY]
  *   [SUBSET S = (A, B), ...]
  *   DEFINE sym AS pred, ...
  * ) [AS alias] [WHERE ...] [ORDER BY ...] [LIMIT ...]
  * }}}
  *
  * and lowers it onto [[graft.plans.MatchRecognize]] Spark-first:
  *
  *  - every DEFINE predicate is precomputed as ONE boolean column with
  *    ordinary (codegen'd) expressions — `PREV(x, n)`/`NEXT(x, n)`
  *    become `lag`/`lead` over the (PARTITION BY, ORDER BY) window,
  *    which Catalyst co-plans with the match repartition, so the
  *    automaton's DEFINE evaluation is a single boolean column read per
  *    (symbol, row), not an interpreted SQL eval;
  *  - MEASURES under ONE ROW PER MATCH lower to aggregates over
  *    (partition keys, match_no) — partial-aggregated and co-partitioned
  *    with the shuffle that produced the matches. `FIRST(X.c)`/
  *    `LAST(X.c)` become `min(struct(orderKeys, c)).v`-style ordered
  *    picks (null-safe: rows of other classifiers contribute NULL,
  *    which MIN/MAX skip); `X.c` inside other aggregates becomes
  *    `CASE WHEN classifier = 'X' THEN c END`; `MATCH_NUMBER()` is the
  *    engine's match_no; `CLASSIFIER()` (ALL ROWS only) its classifier.
  *  - ALL ROWS PER MATCH emits the input columns + match_no +
  *    classifier, with measures as FINAL-semantics window aggregates
  *    over (partition keys, match_no).
  *
  * Navigation in DEFINE is stream navigation (SQL:2016 PREV/NEXT walk
  * the ordered partition, not the match), which is exactly what
  * lag/lead compute. FIRST/LAST inside DEFINE (match-relative) are not
  * supported on the SQL surface — the programmatic DefineCtx API covers
  * them. ORDER BY directions in the spec must be ascending (matching
  * the engine's sortWithinPartitions contract; add a DESC key by
  * pre-negating a numeric column).
  */
object MatchRecognizeSql {
  import SqlText.{anyDepthIndex, closeOf, commaRanges, matchWords, topLevelIndex}

  private val SECTIONS = Seq(
    "PARTITION BY", "ORDER BY", "MEASURES", "ONE ROW PER MATCH",
    "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN", "WITHIN", "SUBSET",
    "DEFINE")

  /** If `text` is a SELECT over a MATCH_RECOGNIZE clause (at the top
    * level of the FROM), run it and return the result. */
  def maybeRun(spark: SparkSession, text: String): Option[DataFrame] = {
    val mrIdx = topLevelIndex(SqlText.mask(text), "MATCH_RECOGNIZE")
    if (mrIdx < 0) None else Some(run(spark, text, mrIdx))
  }

  private def run(spark: SparkSession, text: String, mrIdx: Int): DataFrame = {
    val masked = SqlText.mask(text)
    val fromIdx = topLevelIndex(masked, "FROM")
    require(fromIdx >= 0 && fromIdx < mrIdx, "MATCH_RECOGNIZE requires FROM <rel>")
    val selectList = {
      val s = text.substring(0, fromIdx).trim
      require(s.toUpperCase.startsWith("SELECT"), "expected SELECT ... FROM ... MATCH_RECOGNIZE")
      s.substring("SELECT".length).trim
    }
    val source = text.substring(fromIdx + "FROM".length, mrIdx).trim
    val open = masked.indexOf('(', mrIdx + "MATCH_RECOGNIZE".length)
    require(open > 0, "MATCH_RECOGNIZE requires (...)")
    val close = closeOf(masked, open)
    require(close > 0, "unbalanced MATCH_RECOGNIZE parens")
    val spec = text.substring(open + 1, close)
    // optional alias, then trailing clauses (WHERE / ORDER BY / LIMIT ...)
    var rest = text.substring(close + 1).trim
    var alias = "__mr"
    val aliasRe = "(?is)^(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\b".r
    aliasRe.findFirstMatchIn(rest).foreach { m =>
      val word = m.group(1).toUpperCase
      if (!Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "QUALIFY", "UNION",
        "INTERSECT", "EXCEPT", "OFFSET", "WINDOW").contains(word)) {
        alias = m.group(1)
        rest = rest.substring(m.end).trim
      }
    }

    val base0: DataFrame =
      if (source.startsWith("(")) spark.sql(source.substring(1, closeOf(SqlText.mask(source), 0)))
      else spark.table(source)

    val s0 = parseSpec(spec)
    // DESC sort keys: negate into helper columns so the matcher's single
    // ascending walk realizes the requested descending order (numeric
    // keys — match.iq:98-160; a non-negatable DESC key fails analysis
    // with Spark's own message).
    val descHelpers = s0.orderBy.zip(s0.orderDesc).zipWithIndex.collect {
      case ((nm, true), i) => (nm, s"__mrdesc_$i")
    }
    var base = descHelpers.foldLeft(base0) { case (b, (nm, h)) =>
      b.withColumn(h, negate(expr(nm)))
    }
    var s =
      if (descHelpers.isEmpty) s0
      else s0.copy(orderBy = s0.orderBy.map(n => descHelpers.toMap.getOrElse(n, n)))
    // The engine's one-shuffle lowering repartitions on the partition
    // keys. An unpartitioned MATCH_RECOGNIZE is a single ordered walk —
    // sequential BY SEMANTICS (every row can extend the previous match),
    // so it maps to one task on a constant key; real pipelines should
    // PARTITION BY and get the parallel path.
    if (s.partitionBy.isEmpty) {
      base = base.withColumn("__mrpart", lit(0))
      s = s.copy(partitionBy = Seq("__mrpart"))
    }
    val patternSyms = "[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(s.pattern)
      .filterNot(_.equalsIgnoreCase("PERMUTE")).toSeq
    val symbols = (s.defines.map(_._1) ++ s.subsets.keys ++ s.subsets.values.flatten ++
      patternSyms).distinct

    // ---- DEFINE lowering: nav rewrites + one boolean column per symbol
    val w = if (s.partitionBy.isEmpty) Window.orderBy(s.orderBy.map(col): _*)
            else Window.partitionBy(s.partitionBy.map(col): _*).orderBy(s.orderBy.map(col): _*)
    val navCols = mutable.ArrayBuffer.empty[(String, Column)]
    def lowerNav(pred: String): String = {
      val pm = SqlText.mask(pred)
      val sb = new StringBuilder
      var i = 0
      while (i < pred.length) {
        val isPrev = matchWords(pm, i, Array("PREV")) >= 0
        val isNext = matchWords(pm, i, Array("NEXT")) >= 0
        if (isPrev || isNext) {
          var j = i + 4
          while (j < pm.length && pm.charAt(j).isWhitespace) j += 1
          require(j < pm.length && pm.charAt(j) == '(', s"$pred: PREV/NEXT need (...)")
          val pc = closeOf(pm, j)
          require(pc > 0, s"unbalanced parens in $pred")
          val inner = pred.substring(j + 1, pc)
          // optional trailing ", n" offset at top level of inner
          val (exprSql, off) = splitNavOffset(inner)
          val lowered = stripQualifiers(exprSql, symbols)
          val name = s"__nav${navCols.length}"
          navCols += name -> (if (isPrev) lag(expr(lowered), off).over(w)
                              else lead(expr(lowered), off).over(w))
          sb.append(name)
          i = pc + 1
        } else { sb.append(pred.charAt(i)); i += 1 }
      }
      sb.toString
    }
    val defBools: Seq[(String, String)] = s.defines.map { case (symName, predSql) =>
      s"__def_$symName" -> stripQualifiers(lowerNav(predSql), symbols)
    }

    var withCols = base
    navCols.foreach { case (n, c) => withCols = withCols.withColumn(n, c) }
    defBools.foreach { case (n, sql) =>
      withCols = withCols.withColumn(n, coalesce(expr(sql).cast("boolean"), lit(false)))
    }

    val schema = withCols.schema
    val defIdx: Map[String, Int] = s.defines.map { case (symName, _) =>
      symName -> schema.fieldIndex(s"__def_$symName")
    }.toMap
    val defines: Map[String, MatchRecognize.DefineCtx] = defIdx.map { case (symName, idx) =>
      symName -> ((rows: IndexedSeq[org.apache.spark.sql.Row], pos: Int) =>
        rows(pos).getBoolean(idx))
    }

    val matched = MatchRecognize.matchRecognizeCtx(
      withCols, s.partitionBy, s.orderBy, s.pattern, defines, s.afterMatch,
      s.withinMs.map(ms => (s.orderBy.head, ms)))

    val helperCols = navCols.map(_._1) ++ defBools.map(_._1) ++
      descHelpers.map(_._2) ++ (if (s.partitionBy == Seq("__mrpart")) Seq("__mrpart") else Nil)
    val ordStruct = "struct(" + s.orderBy.mkString(", ") + ")"

    val result: DataFrame =
      if (s.allRows) {
        // FINAL-semantics measures: the aggregate over the whole match,
        // repeated on each of its rows — a window over (keys, match_no),
        // co-partitioned with the match shuffle.
        val w2 = Window.partitionBy((s.partitionBy :+ "match_no").map(col): _*)
        val aggCall = "(?s)^([A-Za-z_][A-Za-z0-9_]*)\\s*\\((.*)\\)(\\.v)?$".r
        var out = matched
        s.measures.foreach { case (mExpr, mAlias) =>
          val t = translateMeasure(mExpr, symbols, s.subsets, ordStruct, allRows = true)
          val c = t.trim match {
            case id if id.matches("[A-Za-z_][A-Za-z0-9_]*") => col(id)
            case aggCall(fn, args, fieldV) =>
              val base = expr(s"$fn($args)").over(w2)
              if (fieldV != null) base.getField("v") else base
            case other => throw new IllegalArgumentException(
              s"ALL ROWS measure must be a single aggregate call (got: $other)")
          }
          out = out.withColumn(mAlias, c)
        }
        out.drop(helperCols.toSeq: _*)
      } else {
        require(s.measures.nonEmpty, "ONE ROW PER MATCH requires MEASURES")
        val aggRefRe = "(?i)\\b(MIN|MAX|COUNT|SUM|AVG)\\s*\\(".r
        val aggs = s.measures.map { case (mExpr, mAlias) =>
          val t = translateMeasure(stripRelQualifiers(mExpr, symbols, base.columns),
            symbols, s.subsets, ordStruct, allRows = false)
          // a bare (non-aggregate) measure is the match's FINAL value
          // (SqlMatchRecognize running/final semantics: last row wins)
          val t2 =
            if (aggRefRe.findFirstIn(t).isDefined) t
            else s"MAX(named_struct('o', $ordStruct, 'v', ($t))).v"
          expr(t2).as(mAlias)
        }
        matched.groupBy((s.partitionBy :+ "match_no").map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          .drop("match_no")
          .drop(helperCols.toSeq: _*)
      }

    result.createOrReplaceTempView(alias)
    spark.sql(s"SELECT $selectList FROM $alias $rest")
  }

  // ---- measure translation ----------------------------------------------

  /** Lower one MEASURES expression to an ordinary aggregate over the
    * ALL-ROWS relation: FIRST/LAST → ordered struct pick, `X.c` →
    * classifier-scoped CASE, COUNT(X.*) → classifier-scoped COUNT,
    * MATCH_NUMBER() → match_no, CLASSIFIER() → classifier. Subsets
    * expand to an IN list over the member symbols. */
  private[sql] def translateMeasure(mExpr: String, symbols: Seq[String],
      subsets: Map[String, Seq[String]], ordStruct: String, allRows: Boolean): String = {
    var e = mExpr
    // FIRST( X.c [ , n ] ) / LAST( X.c )
    def lowerFirstLast(s: String): String = {
      Seq("FIRST", "LAST").foldLeft(s) { (acc, kw) =>
        val am = SqlText.mask(acc)
        // the first `kw` written as a call, at any depth
        var idx = anyDepthIndex(am, kw)
        while (idx >= 0 && !am.substring(idx + kw.length).trim.startsWith("("))
          idx = anyDepthIndex(am, kw, idx + kw.length)
        if (idx < 0) acc
        else {
          val open = am.indexOf('(', idx + kw.length)
          val close = closeOf(am, open)
          val inner = acc.substring(open + 1, close).trim
          val (innerExpr, _) = splitNavOffset(inner)
          val (qualifier, bare) = splitQualifier(innerExpr, symbols)
          val scope = qualifier.map(classifierIn(_, subsets)).getOrElse("true")
          val agg = if (kw == "FIRST") "MIN" else "MAX"
          val lowered =
            s"$agg(CASE WHEN $scope THEN named_struct('o', $ordStruct, 'v', ${stripQualifiers(bare, symbols)}) END).v"
          lowerFirstLast(acc.substring(0, idx) + lowered + acc.substring(close + 1))
        }
      }
    }
    e = lowerFirstLast(e)
    // MATCH_NUMBER(): a real column on the ALL-ROWS relation; constant
    // per group under ONE ROW PER MATCH, so MIN picks it.
    e = e.replaceAll("(?i)\\bMATCH_NUMBER\\s*\\(\\s*\\)",
      if (allRows) "match_no" else "MIN(match_no)")
    e = e.replaceAll("(?i)\\bCLASSIFIER\\s*\\(\\s*\\)", "classifier")
    // COUNT(X.*) → COUNT(CASE WHEN classifier-in-X THEN 1 END)
    e = ("(?i)\\bCOUNT\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\.\\s*\\*\\s*\\)").r
      .replaceAllIn(e, m => java.util.regex.Matcher.quoteReplacement(
        s"COUNT(CASE WHEN ${classifierIn(m.group(1), subsets)} THEN 1 END)"))
    // X.c → CASE WHEN classifier-in-X THEN c END
    for (symName <- symbols.sortBy(-_.length)) {
      e = (s"(?i)\\b$symName\\.([A-Za-z_][A-Za-z0-9_]*)").r
        .replaceAllIn(e, m => java.util.regex.Matcher.quoteReplacement(
          s"(CASE WHEN ${classifierIn(symName, subsets)} THEN ${m.group(1)} END)"))
    }
    e
  }

  private def classifierIn(symName: String, subsets: Map[String, Seq[String]]): String =
    subsets.get(symName) match {
      case Some(members) => members.map(m => s"'$m'").mkString("classifier IN (", ", ", ")")
      case None => s"classifier = '$symName'"
    }

  /** `(qualifier, expr-with-qualifier-kept)` if the expression's first
    * symbol-qualified reference names a known symbol/subset. */
  private def splitQualifier(e: String, symbols: Seq[String]): (Option[String], String) = {
    val m = "([A-Za-z_][A-Za-z0-9_]*)\\s*\\.".r.findFirstMatchIn(e)
    m match {
      case Some(mm) if symbols.exists(_.equalsIgnoreCase(mm.group(1))) =>
        (Some(symbols.find(_.equalsIgnoreCase(mm.group(1))).get), e)
      case _ => (None, e)
    }
  }

  /** Drop `q.` prefixes naming the input RELATION (not a pattern symbol,
    * not a column — so struct field access stays intact); the reference
    * allows table-qualified refs inside MEASURES (match.iq:145). */
  private def stripRelQualifiers(e: String, symbols: Seq[String],
      columns: Seq[String]): String =
    "([A-Za-z_][A-Za-z0-9_]*)\\s*\\.".r.replaceAllIn(e, m => {
      val q = m.group(1)
      val keep = symbols.exists(_.equalsIgnoreCase(q)) ||
        columns.exists(_.equalsIgnoreCase(q))
      if (keep) java.util.regex.Matcher.quoteReplacement(m.matched) else ""
    })

  private def stripQualifiers(e: String, symbols: Seq[String]): String =
    symbols.sortBy(-_.length).foldLeft(e) { (acc, symName) =>
      acc.replaceAll(s"(?i)\\b$symName\\.", "")
    }

  /** Split a nav call body `expr [, n]` at the top level. */
  private def splitNavOffset(inner: String): (String, Int) =
    commaRanges(SqlText.mask(inner), 0, inner.length) match {
      case Seq(_) => (inner.trim, 1)
      case (_, comma) +: _ => (inner.substring(0, comma).trim, inner.substring(comma + 1).trim.toInt)
    }

  // ---- spec parsing -----------------------------------------------------

  private case class Spec(
      partitionBy: Seq[String],
      orderBy: Seq[String],
      orderDesc: Seq[Boolean],
      measures: Seq[(String, String)],
      allRows: Boolean,
      afterMatch: Skip,
      pattern: String,
      withinMs: Option[Long],
      subsets: Map[String, Seq[String]],
      defines: Seq[(String, String)])

  private def parseSpec(spec: String): Spec = {
    // section keyword → (start of keyword, end of keyword)
    val specM = SqlText.mask(spec)
    val found = SECTIONS.flatMap { kw =>
      val at = topLevelIndex(specM, kw)
      if (at < 0) None else Some((kw, at))
    }.sortBy(_._2)
    def body(kw: String): Option[String] = {
      val idx = found.indexWhere(_._1 == kw)
      if (idx < 0) None
      else {
        val start = found(idx)._2 + kw.length
        val end = if (idx + 1 < found.length) found(idx + 1)._2 else spec.length
        Some(spec.substring(start, end).trim)
      }
    }

    val partitionBy = body("PARTITION BY").map(splitItems).getOrElse(Seq.empty)
    val orderBySpec = body("ORDER BY").map(splitItems(_).map { o =>
      val t = o.trim
      (t.replaceAll("(?i)\\s+(ASC|DESC)$", "").trim,
        t.toUpperCase.endsWith(" DESC"))
    }).getOrElse(Seq.empty)
    val orderBy = orderBySpec.map(_._1)
    require(orderBy.nonEmpty, "MATCH_RECOGNIZE requires ORDER BY")

    val measures = body("MEASURES").map(splitItems(_).map { m =>
      val asIdx = topLevelIndex(SqlText.mask(m), "AS")
      require(asIdx > 0, s"measure needs AS alias: $m")
      (m.substring(0, asIdx).trim, m.substring(asIdx + 2).trim)
    }).getOrElse(Seq.empty)

    val allRows = body("ALL ROWS PER MATCH").isDefined
    val afterMatch: Skip = body("AFTER MATCH") match {
      case Some(b) if b.toUpperCase.replaceAll("\\s+", " ").startsWith("SKIP TO NEXT ROW") =>
        SkipToNextRow
      case Some(b) if b.toUpperCase.replaceAll("\\s+", " ").startsWith("SKIP PAST LAST ROW") =>
        SkipPastLastRow
      case Some(other) => throw new IllegalArgumentException(
        s"unsupported AFTER MATCH: $other (SKIP PAST LAST ROW | SKIP TO NEXT ROW)")
      case None => SkipPastLastRow
    }

    val pattern = body("PATTERN").map { b =>
      val open = b.indexOf('(')
      require(open >= 0, "PATTERN requires (...)")
      b.substring(open + 1, closeOf(SqlText.mask(b), open))
    }.getOrElse(throw new IllegalArgumentException("MATCH_RECOGNIZE requires PATTERN"))

    val withinMs = body("WITHIN").map { b =>
      val m = "(?i)INTERVAL\\s+'(\\d+)'\\s+(SECOND|MINUTE|HOUR|DAY)S?".r.findFirstMatchIn(b)
        .getOrElse(throw new IllegalArgumentException(s"unsupported WITHIN: $b"))
      val n = m.group(1).toLong
      m.group(2).toUpperCase match {
        case "SECOND" => n * 1000L
        case "MINUTE" => n * 60000L
        case "HOUR" => n * 3600000L
        case "DAY" => n * 86400000L
      }
    }

    val subsets: Map[String, Seq[String]] = body("SUBSET").map { b =>
      splitItems(b).map { one =>
        val eq = one.indexOf('=')
        require(eq > 0, s"SUBSET needs S = (A, B): $one")
        val name = one.substring(0, eq).trim
        val open = one.indexOf('(', eq)
        val members = one.substring(open + 1, closeOf(SqlText.mask(one), open))
          .split(",").map(_.trim).toSeq
        name -> members
      }.toMap
    }.getOrElse(Map.empty)

    val defines = body("DEFINE").map(splitItems(_).map { d =>
      val asIdx = topLevelIndex(SqlText.mask(d), "AS")
      require(asIdx > 0, s"DEFINE needs sym AS pred: $d")
      (d.substring(0, asIdx).trim, d.substring(asIdx + 2).trim)
    }).getOrElse(Seq.empty)

    Spec(partitionBy, orderBy, orderBySpec.map(_._2), measures, allRows,
      afterMatch, pattern, withinMs, subsets, defines)
  }

  /** The trimmed, non-empty depth-0 comma items of a section body. */
  private def splitItems(s: String): Seq[String] =
    SqlText.splitTop(s).map(_.trim).filter(_.nonEmpty)
}
