package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry point (ref: SURVEY.md §7.0 layer 4): the default path
  * delegates to spark.sql — Spark's parser covers the shared surface —
  * while a pre-rewriter lowers Calcite-dialect syntax Spark lacks,
  * mirroring how the reference's babel parser lowers foreign dialects
  * (babel/; sql/parser/SqlParser.java:170).
  *
  * Every rewrite finds structure through [[SqlText]], the one lexical
  * rule: `'...'` literals and `` `...` `` identifiers are masked, so
  * nothing inside them can fire a rewrite or split a list, and `(` and
  * `[` both nest when a scan looks for a matching close, a depth-0
  * comma or keyword, or the start of a primary. The text passes are one
  * named list, [[passes]], that `rewrite` folds in order; a pass that
  * must re-scan after each splice walks its sites with
  * [[SqlText.spliceEach]] and only builds the replacement.
  * `FrontEndGoldenSpec` pins the list: every text of its committed
  * corpus must rewrite to its recorded output, and every pass must
  * change at least one of them, so a changed golden output is a test
  * change. Rewrites include:
  *  - `QUALIFY <pred>` (qualify.iq) → wrap the query in a subselect and
  *    filter: `SELECT * FROM (q) __q WHERE pred` (ORDER BY/LIMIT stay
  *    outside, per QUALIFY evaluation order).
  *  - `SAFE_CAST(x AS t)` (SqlLibraryOperators.java:2725) → TRY_CAST.
  *  - `<ident> SIMILAR TO <'pattern'>` (SqlStdOperatorTable.java:1734)
  *    → our similar_to expression; NOT SIMILAR TO likewise.
  */
object GraftSql {

  private val selectFromRe = "(?is)select\\s+from\\b".r
  private val createSequenceRe = "(?is)^CREATE\\s+SEQUENCE\\s+(\\w+)(?:\\s+START\\s+WITH\\s+(-?\\d+))?(?:\\s+INCREMENT\\s+BY\\s+(-?\\d+))?\\s*;?$".r
  private val dropSequenceRe = "(?is)^DROP\\s+SEQUENCE\\s+(\\w+)\\s*;?$".r
  private val selectDistinctRe = "(?is)^\\s*SELECT\\s+DISTINCT\\s".r
  private val itemAliasRe = "(?is)^(.*\\S)\\s+AS\\s+([A-Za-z_]\\w*|`[^`]*`)\\s*$".r
  private val ascDescNullsRe = "(?is)^(.*?)(\\s+(?:ASC|DESC))?(\\s+NULLS\\s+(?:FIRST|LAST))?\\s*$".r
  private val bareIdentRe = "^[A-Za-z_]\\w*$".r
  private val rowCompareRe = "(?is)\\bROW\\s*\\(([^(),]*)\\)\\s*(=|<>|!=|<=|>=|<|>)\\s*ROW\\s*\\(([^(),]*)\\)".r
  private val leadingAliasRe = "(?is)^\\s*AS\\s+(\\w+)".r
  private val asLiteralRe = "(?is)\\bAS\\s+('[^']*')".r
  private val unsTypeRe = "(?is)\\bAS\\s+((?:TINYINT|SMALLINT|INTEGER|INT|BIGINT)?)\\s*UNSIGNED\\s*$".r
  private val keywordEndRe = "(?is).*\\b(select|where|and|or|when|then|else|on|having|by|values)$".r
  private val castUuidAsVarbinaryRe = "(?is)\\bCAST\\s*\\(\\s*UUID\\s*('[^']*')\\s+AS\\s+VARBINARY\\s*\\)".r
  private val castHexAsUuidRe = "(?is)\\bCAST\\s*\\(\\s*[xX]('[^']*')\\s+AS\\s+UUID\\s*\\)".r
  private val uuidRe = "(?is)\\bUUID\\s*('[^']*')".r
  private val castLiteralAsUuidRe = "(?is)\\bCAST\\s*\\(\\s*('[^']*')\\s+AS\\s+UUID\\s*\\)".r
  private val asUuidRe = "(?is)\\bAS\\s+UUID\\b".r
  private val timestampRe = "(?i)\\bTIMESTAMP\\s*\\(\\s*\\d+\\s*\\)".r
  private val varcharRe = "(?i)\\bVARCHAR\\b(?!\\s*\\()".r
  private val varbinaryRe = "(?i)\\bVARBINARY\\b(?!\\s*\\()".r
  private val asArrayMultisetRe = "(?i)\\bAS\\s+(\\w+)\\s+(ARRAY|MULTISET)\\s*\\)".r
  private val arrayMultisetRe = "(?i)\\b(\\w+)\\s+(ARRAY|MULTISET)\\b(?=\\s*[,>])".r
  private val decimalRe = "(?is)\\bDECIMAL\\s*('[^']*')".r
  private val nullifRe = "(?is)\\bNULLIF\\s*\\(\\s*('[^']*'|-?[\\d.]+)\\s*,\\s*('[^']*'|-?[\\d.]+)\\s*\\)".r
  private val tablesampleRe = "(?is)\\bTABLESAMPLE\\s+(?:SYSTEM|BERNOULLI)\\s*\\(\\s*([\\d.]+)\\s*\\)(\\s*REPEATABLE\\s*\\(\\s*(\\d+)\\s*\\))?".r
  private val intervalWeekQuarterRe = "(?is)\\bINTERVAL\\s+('[^']*')\\s+(WEEK|QUARTER)S?\\b".r
  private val intervalUnitRe = "(?is)\\bINTERVAL\\s+(\\w+|\\((?:[^()]|\\([^()]*\\))*\\))\\s+(YEAR|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND)S?\\b".r
  private val valuesAsRe = "(?is)(\\(\\s*VALUES\\s+[^()]+?\\))\\s+AS\\s+(\\w+)(?!\\s*\\()".r
  private val byRe = "(?is)^(.*?)(?:\\s+AS\\s+(\\w+))?(\\s+(?:ASC|DESC))?(\\s+NULLS\\s+(?:FIRST|LAST))?\\s*$".r
  private val columnAliasRe = "(?is)^([\\w.`]+)(?:\\s+AS\\s+(\\w+))?$".r
  private val selectDistinctOnRe = "(?is)^(\\s*SELECT\\s+)DISTINCT\\s+ON\\s*\\(".r
  private val columnRefRe = "(?is)^[\\w.`]+$".r
  private val trailingAliasRe = "(?is)^(.*?)\\s+AS\\s+(\\w+)\\s*$".r
  private val excludeRe = "(?is)\\*\\s+EXCLUDE\\s*\\(([^)]*)\\)".r
  private val selectTopRe = "(?is)^(\\s*SELECT)\\s+TOP\\s+(\\d+)\\s".r
  private val offsetFetchRe = "(?is)\\bOFFSET\\s+(.+?)\\s+(?:ROWS?\\s+)?FETCH\\s+(?:FIRST|NEXT)\\s+(.+?)\\s+ROWS?\\s+ONLY".r
  private val fetchOnlyRe = "(?is)\\bFETCH\\s+(?:FIRST|NEXT)\\s+(.+?)\\s+ROWS?\\s+ONLY".r
  private val offsetRowsRe = "(?is)\\bOFFSET\\s+(.+?)\\s+ROWS\\b".r
  private val queryWordRe = "(?is)\\b(SELECT|FROM|WHERE|ORDER|GROUP)\\b".r
  private val hugeLimitRe = "(?is)\\b(LIMIT|OFFSET)\\s+(\\d{10,})\\b".r
  private val limitCommaRe = "(?is)\\bLIMIT\\s+(\\d+)\\s*,\\s*(\\d+|ALL)\\b".r
  private val fromDualRe = "(?is)\\bFROM\\s+DUAL\\b".r
  private val qualifiedStarRe = "(?is)^([A-Za-z_]\\w*)\\s*\\.\\s*\\*$".r
  private val safeCastRe = "(?i)\\bSAFE_CAST\\s*\\(".r
  private val nextValueRe =
    ("(?is)(NEXT|CURRENT)\\s+VALUE\\s+FOR\\s+([\\w" + "\\u0001" + "`.]+)\\s+AS\\s+(\\w+)\\s*(,)?").r
  private val selectDistinctWordRe = "(?is)^\\s*SELECT\\s+DISTINCT\\b".r
  private val operandTailRe = "(?is)[`\\)\\d]\\s*$".r
  private val castNullRe = "(?is)^\\(?\\s*CAST\\s*\\(\\s*NULL\\b.*".r
  private val selectFromDualRe = "(?is)^\\s*SELECT\\s+\\*\\s+FROM\\s+DUAL\\s*$".r
  private val variantShape =
    "(?is)(CAST\\s*\\((?:[^()]|\\([^()]*\\))*AS\\s+VARIANT\\s*\\)|VARIANTNULL\\s*\\(\\s*\\))"
  private val variantEqRe = (variantShape + "\\s*=\\s*" + variantShape).r
  private val variantItemRe = ("(?is)\\(\\s*" + variantShape + "\\s*\\)\\s*\\[(\\d+)\\]").r
  private val variantFieldRe =
    ("(?is)" + variantShape + "\\s*\\.\\s*(`[^`]*`|[A-Za-z_]\\w*)").r
  private val rowStarFieldRe = ("(?is)\\bROW\\s*\\(([^()]*\\.\\s*\\*[^()]*)\\)" +
    "\\s*\\.\\s*([A-Za-z_]\\w*?)(\\d+)\\b").r
  private val similarToRe = ("(?i)([A-Za-z_][A-Za-z0-9_\\.]*)\\s+(NOT\\s+)?SIMILAR\\s+TO\\s+" +
    "('(?:[^']|'')*')").r

  import SqlText._

  def sql(spark: SparkSession, rawText: String): DataFrame = {
    graft.GraftSession.install(spark)
    // conf-driven lattice home: adopt the session's durable tiles once,
    // BEFORE the first statement plans (no-op without the conf)
    graft.plans.MaterializedViews.autoAdopt(spark)
    // Comments go first (string-aware): every downstream rewrite is a
    // token scan, and a keyword inside `-- ...` or `/* ... */` must not
    // fire it (the reference's lexer discards comments before the
    // parser ever sees them — Parser.jj SKIP section).
    val text0 = stripComments(rawText)
    // measures first: `AS MEASURE` restructures the statement (and a
    // consumer of a measure view needs the session for type derivation)
    val text = rowStarFieldAccess(spark, MeasureSql.maybeRewrite(spark, text0))
    ddl(spark, text.trim)
      .orElse(MatchRecognizeSql.maybeRun(spark, text))
      .getOrElse {
      // NEXT VALUE FOR seq AS alias in the select list: strip the item,
      // run the remaining query, append the sequence column (the
      // sequence column lands last in the output). Ref:
      // SqlStdOperatorTable NEXT_VALUE :2555, sequence.iq.
      // the name may be backtick-quoted — the mask hides its characters,
      // so match any mask/word run and splice the original back out
      nextValueRe.findFirstMatchIn(mask(text)) match {
        case Some(m) =>
          val kind = text.substring(m.start(1), m.end(1)).toUpperCase(java.util.Locale.ROOT)
          // quoted/qualified spellings (`s`.`my_seq`) resolve by the
          // bare sequence name; the qualifying schema must actually
          // exist — registered as a sequence schema or present as a
          // database in the session catalog — else the statement fails
          // with "Table not found" (sequence.iq:57). The fixture schema
          // is registered by the conformance harness, not hardcoded.
          val parts = text.substring(m.start(2), m.end(2)).replace("`", "").split('.')
          if (parts.length > 1) {
            val schema = parts.init.last
            val known = graft.functions.Sequences.schemaKnown(schema) ||
              scala.util.Try(spark.catalog.databaseExists(schema)).getOrElse(false)
            if (!known) throw new IllegalArgumentException(
              s"Table '${parts.mkString(".")}' not found")
          }
          val seqName = parts.last
          val alias = text.substring(m.start(3), m.end(3))
          val stripped0 =
            if (m.group(4) != null) text.substring(0, m.start) + text.substring(m.end)
            else { // last item: also eat the comma before it
              val before = text.substring(0, m.start).replaceAll(",\\s*$", " ")
              before + text.substring(m.end)
            }
          // the sequence may have been the ONLY select item
          val bare = selectFromRe.findFirstIn(stripped0).isDefined
          val stripped =
            if (bare) stripped0.replaceFirst("(?is)select\\s+from\\b", "SELECT 1 AS __seq_ph FROM")
            else stripped0
          val base = spark.sql(rewrite(stripped))
          val withCol =
            if (kind == "NEXT") graft.functions.Sequences.withSequence(base, seqName, alias)
            else base.withColumn(alias,
              org.apache.spark.sql.functions.lit(graft.functions.Sequences.lastValue(seqName)))
          if (bare) withCol.drop("__seq_ph") else withCol
        case None => starReplaceOrder(spark, text, rowEq(spark, sqlWithCorrelateFallback(spark, rewrite(text))))
      }
    }
  }

  /** spark.sql with the manual-Correlate fallback (sql/Decorrelate):
    * correlated-subquery shapes Catalyst's decorrelator rejects are
    * re-executed per-outer-key, the way the reference's
    * RelDecorrelator restates them (SURVEY §7.3 #2). Only analysis
    * failures of the correlation classes reach the fallback; shapes
    * Spark plans natively never do. */
  private def sqlWithCorrelateFallback(spark: SparkSession, s: String): DataFrame =
    try {
      val df = spark.sql(s)
      // some correlation rejections only fire in the OPTIMIZER
      // (RewritePredicateSubquery — an EXISTS join predicate
      // referencing both join inputs) or during PHYSICAL planning
      // (EXISTS under a join OR — Spark's INTERNAL attribute-not-found);
      // force planning so the fallback sees them too. The plans are
      // cached lazy vals, so execution does not redo the work.
      // Streaming relations must stay lazy (their planning happens in
      // writeStream.start()).
      if (!df.isStreaming) df.queryExecution.executedPlan
      df
    } catch {
      case e: Throwable if RecursiveSql.applicable(e) =>
        RecursiveSql(spark, s).getOrElse(throw e)
      case e: Throwable if Decorrelate.applicable(e) =>
        Decorrelate(spark, s).getOrElse(throw e)
    }

  /** `SELECT * REPLACE(e AS c)` keeps c at its ORIGINAL ordinal position
    * (SqlSelect REPLACE; babel select.iq:290); the text rewrite
    * necessarily appends the replaced columns after the EXCEPT-star.
    * Restore the star's natural order by ANALYZING (never executing) the
    * same statement with its REPLACE list dropped and reordering to that
    * schema — skipped when names are ambiguous or the shapes differ. */
  private def starReplaceOrder(spark: SparkSession, text: String, df: DataFrame): DataFrame = {
    val masked = mask(text)
    val m = starReplaceRe.findFirstMatchIn(masked).getOrElse(return df)
    val open = m.end - 1
    val close = closeOf(masked, open)
    if (close < 0) return df
    val plain = text.substring(0, m.start + 1) + text.substring(close + 1)
    try {
      // name matching is case-insensitive (Spark's resolver default);
      // the replaced item's spelling may differ in case from the scan's
      val order = spark.sql(rewrite(plain)).schema.fieldNames
      val byLower = df.columns.groupBy(_.toLowerCase(java.util.Locale.ROOT))
      val mapped = order.map(n => byLower.getOrElse(n.toLowerCase(java.util.Locale.ROOT), Array.empty[String]))
      if (mapped.forall(_.length == 1) && mapped.flatten.distinct.length == df.columns.length)
        df.select(mapped.flatten.map(df.col).toIndexedSeq: _*)
      else df
    } catch { case scala.util.control.NonFatal(_) => df }
  }

  /** Standard row-equality 3VL over struct operands (plans/RowEquality):
    * patched on the analyzed plan, before the optimizer can constant-fold
    * Spark's ordering semantics into literal struct comparisons. */
  private def rowEq(spark: SparkSession, df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val patched = graft.plans.RowEquality.patch(analyzed)
    if (patched fastEquals analyzed) df
    else org.apache.spark.sql.GraftSqlBridge.ofRows(spark, patched)
  }

  // ---- validation-error surface -----------------------------------------

  /** One validator diagnostic, positioned like the reference's
    * `From line {0}, column {1}` convention. */
  final case class ValidationError(
      message: String,
      errorClass: String,
      line: Option[Int],
      column: Option[Int]) {
    /** Rendered in the reference's wrapper format
      * (CalciteContextException / resource `validatorContext`). */
    def render: String = (line, column) match {
      case (Some(l), Some(c)) => s"At line $l, column ${c + 1}: $message"
      case _ => message
    }
  }

  /** Validate without executing: analyze the (rewritten) statement and
    * map Spark's error conditions onto the reference validator's message
    * contract (runtime/CalciteResource.properties:57,83,88,92 — "No
    * match found for function signature {0}", "Object ''{0}'' not
    * found", "Column ''{0}'' not found in any table", "Column ''{0}''
    * is ambiguous"; produced by SqlValidatorImpl.newValidationError).
    * Empty result = the statement validates.
    *
    * Unlike Spark's analyzer (first error wins), this collects MULTIPLE
    * diagnostics the way the reference validator walks independent
    * nodes: when the outer statement is a plain SELECT, each select-list
    * item is re-analyzed independently (plus one pass for the
    * FROM/WHERE/GROUP side), and every distinct failure is reported,
    * positioned at its item's own offset in the original text. */
  def validate(spark: SparkSession, text: String): Seq[ValidationError] = {
    val clean = stripComments(text)
    val first = validateOne(spark, clean)
    if (first.isEmpty) return Nil
    if (first.head.errorClass == "PARSE_SYNTAX_ERROR") return first

    // per-select-item decomposition of the outer SELECT
    val masked = mask(clean)
    val up = clean.trim.toUpperCase
    val selAt = masked.toUpperCase.indexOf("SELECT")
    val fromAt = topLevelIndex(masked, "FROM")
    if (!up.startsWith("SELECT") || fromAt < 0) return first
    val listStart = selAt + "SELECT".length
    val items = commaRanges(masked, listStart, fromAt)
    val tail = clean.substring(fromAt)
    // select items re-analyze over the FROM clause alone — a failing
    // WHERE/GROUP side must not mask an item's own diagnostic (the
    // FROM side gets its own pass below)
    val fromOnlyEnd = Seq("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "QUALIFY")
      .map(kw => topLevelIndex(masked, kw, fromAt)).filter(_ >= 0)
      .reduceOption(_ min _).getOrElse(clean.length)
    val fromOnly = clean.substring(fromAt, fromOnlyEnd)

    def position(offset: Int): (Option[Int], Option[Int]) = {
      val upTo = clean.substring(0, offset)
      val line = upTo.count(_ == '\n') + 1
      val col = offset - (upTo.lastIndexOf('\n') + 1)
      (Some(line), Some(col))
    }
    val perItem = items.flatMap { case (a, b) =>
      val it = clean.substring(a, b)
      val at = a + it.takeWhile(_.isWhitespace).length
      validateOne(spark, s"SELECT ${it.trim} $fromOnly").map { e =>
        val (l, c) = position(at)
        e.copy(line = l, column = c)
      }
    }
    val fromSide = validateOne(spark, s"SELECT 1 $tail").map { e =>
      val (l, c) = position(fromAt)
      e.copy(line = l, column = c)
    }
    val all = (perItem ++ fromSide).foldLeft(Vector.empty[ValidationError]) {
      (acc, e) => if (acc.exists(a => a.message == e.message)) acc else acc :+ e
    }
    if (all.nonEmpty) all else first
  }

  private def validateOne(spark: SparkSession, clean: String): Seq[ValidationError] = {
    try {
      spark.sql(rewrite(clean)).queryExecution.assertAnalyzed()
      Nil
    } catch {
      // ParseException IS an AnalysisException in Spark 4 — match it first
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        Seq(ValidationError(e.getSimpleMessage, "PARSE_SYNTAX_ERROR",
          e.line, e.startPosition))
      case e: org.apache.spark.sql.AnalysisException => Seq(toValidationError(e))
      case scala.util.control.NonFatal(e) =>
        Seq(ValidationError(Option(e.getMessage).getOrElse(e.getClass.getSimpleName),
          "VALIDATION_ERROR", None, None))
    }
  }

  private def toValidationError(
      e: org.apache.spark.sql.AnalysisException): ValidationError = {
    val cls = Option(e.getCondition).getOrElse("")
    def param(k: String): Option[String] =
      Option(e.getMessageParameters.get(k)).map(_.replace("`", ""))
    val msg = cls match {
      case c if c.startsWith("TABLE_OR_VIEW_NOT_FOUND") =>
        s"Object '${param("relationName").getOrElse("?")}' not found"
      case c if c.startsWith("UNRESOLVED_COLUMN") =>
        val base = s"Column '${param("objectName").getOrElse("?")}' not found in any table"
        param("proposal") match {
          case Some(p) => s"$base; did you mean '${p.split(",").head.trim}'?"
          case None => base
        }
      case c if c.startsWith("UNRESOLVED_ROUTINE") =>
        s"No match found for function signature ${param("routineName").getOrElse("?")}"
      case c if c.startsWith("AMBIGUOUS_REFERENCE") =>
        s"Column '${param("name").getOrElse("?")}' is ambiguous"
      case c if c.startsWith("TABLE_OR_VIEW_ALREADY_EXISTS") =>
        // CalciteResource tableExists: "Table ''{0}'' already exists"
        // (unqualified, as the reference names it)
        s"Table '${param("relationName").map(_.split('.').last).getOrElse("?")}' already exists"
      case c if c.startsWith("WRONG_NUM_ARGS") =>
        // CalciteResource invalidArgCount: "Invalid number of arguments
        // to function ''{0}''. Was expecting {1} arguments"
        s"Invalid number of arguments to function '${param("functionName").getOrElse("?")}'. " +
          s"Was expecting ${param("expectedNum").getOrElse("?")} arguments"
      case _ => e.getSimpleMessage
    }
    ValidationError(msg, cls, e.line, e.startPosition)
  }

  // ---- literal/comment safety -----------------------------------------

  /** Remove `-- ...` and `/* ... */` comments (string-aware — a dash-dash
    * inside a literal or a backtick-quoted identifier is content, not a
    * comment, and a literal ends where [[SqlText.literalEnd]] says;
    * bracketed comments NEST, as Spark's lexer allows). Each comment
    * collapses to one space so token boundaries survive. */
  private[graft] def stripComments(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '`') {
        val end = if (c == '`') s.indexOf('`', i + 1) else literalEnd(s, i)
        val next = if (end < 0) s.length else end + 1
        sb.append(s.substring(i, next)); i = next
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') i += 1
        sb.append(' ')
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < s.length && depth > 0) {
          if (s.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        sb.append(' ')
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Statement-level DDL the engine owns (ref: server module,
    * sql/ddl/SqlCreateSequence via SqlDdlParserImpl): CREATE/DROP
    * SEQUENCE route to the sequence catalog; all other DDL (CREATE
    * TABLE/VIEW, INSERT, DROP, ...) flows through spark.sql unchanged —
    * Spark's executor IS the DDL engine. */
  private def ddl(spark: SparkSession, text: String): Option[DataFrame] = {
    text match {
      case createSequenceRe(name, start, step) =>
        graft.functions.Sequences.create(name,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L))
        Some(spark.emptyDataFrame)
      case dropSequenceRe(name) =>
        graft.functions.Sequences.drop(name)
        Some(spark.emptyDataFrame)
      case _ => MaterializedViewSql.maybeRun(spark, text)
        .orElse(MaterializedViewSql.maybeMetadataTables(spark, text))
        .orElse(TypesSql.maybeRun(spark, text))
        .orElse(GeneratedColumnsSql.maybeRun(spark, text))
        .orElse(ForeignSchemaSql.maybeRun(spark, text))
    }
  }

  /** Conformance-harness toggle (CorpusSpec only): make the reference's
    * Oracle-style default null ordering explicit AFTER every other
    * rewrite has parsed its ORDER BY clauses — running it earlier broke
    * the WITHIN GROUP / scalar-subquery-LIMIT / json_arrayagg parsers,
    * which match on unqualified sort items. */
  @volatile private[graft] var oracleNullDefault = false

  private[graft] def rewrite(sql0: String): String = {
    val sql = rewrite0(sql0)
    if (oracleNullDefault) OracleNullOrder.rewrite(sql) else sql
  }

  /** The text passes of the front end, in the order [[rewrite0]] folds
    * them, each under its name. */
  private[graft] val passes: Seq[(String, String => String)] = Seq(
    "TypesSql.expand" -> TypesSql.expand,
    "TypesSql.rewriteCastRow" -> TypesSql.rewriteCastRow,
    "MeasureSql.ddlRewrite" -> MeasureSql.ddlRewrite,
    "AsofSql.rewrite" -> AsofSql.rewrite,
    "WithinDistinctSql.rewrite" -> WithinDistinctSql.rewrite,
    "GroupingSetsSql.rewrite" -> GroupingSetsSql.rewrite,
    "ExcludeFrameSql.rewrite" -> ExcludeFrameSql.rewrite,
    "SubqueryRewrites.apply" -> SubqueryRewrites.apply,
    "rewriteProjectionIn" -> rewriteProjectionIn,
    "rewriteUnorderedWindow" -> rewriteUnorderedWindow,
    "rewriteDistinctOrderByAlias" -> rewriteDistinctOrderByAlias,
    "rewriteDistinctOn" -> rewriteDistinctOn,
    "rewriteSelectBy" -> rewriteSelectBy,
    "UnpivotTupleSql.rewrite" -> UnpivotTupleSql.rewrite,
    "rewriteExclude" -> rewriteExclude,
    "rewriteRowCompare" -> rewriteRowCompare,
    "rewriteRowNullCheck" -> rewriteRowNullCheck,
    "rewriteTupleInList" -> rewriteTupleInList,
    "rewriteRowCtor" -> rewriteRowCtor,
    "rewriteTop" -> rewriteTop,
    "rewriteMysqlLimit" -> rewriteMysqlLimit,
    "rewriteWindowTvf" -> rewriteWindowTvf,
    "rewriteExtend" -> rewriteExtend,
    "rewriteDual" -> rewriteDual,
    "rewriteFetch" -> rewriteFetch,
    "rewriteCastFormat" -> rewriteCastFormat,
    "rewriteStarReplace" -> rewriteStarReplace,
    "JsonAggSql.apply" -> JsonAggSql.apply,
    "rewriteJsonValue" -> rewriteJsonValue,
    "rewriteJsonExists" -> rewriteJsonExists,
    "rewriteSafeCast" -> rewriteSafeCast,
    "rewriteSimilarTo" -> rewriteSimilarTo,
    "rewriteQualify" -> rewriteQualify,
    "rewriteWindowFilter" -> rewriteWindowFilter,
    "rewriteUuid" -> rewriteUuid,
    "rewriteBareTypes" -> rewriteBareTypes,
    "rewriteDecimalLit" -> rewriteDecimalLit,
    "rewriteNullifFold" -> rewriteNullifFold,
    "rewriteUnsignedArith" -> rewriteUnsignedArith,
    "rewriteUnsignedCast" -> rewriteUnsignedCast,
    "rewriteVariantOps" -> rewriteVariantOps,
    "CollectionSql.apply" -> CollectionSql.apply,
    "rewriteTablesample" -> rewriteTablesample,
    "rewriteIntervalExpr" -> rewriteIntervalExpr,
    "rewriteLateralValues" -> rewriteLateralValues,
    "rewriteValuesAlias" -> rewriteValuesAlias,
    "rewritePivotAlias" -> rewritePivotAlias,
    "rewriteUnpivotLabel" -> rewriteUnpivotLabel)

  private[graft] def rewrite0(sql: String): String =
    passes.foldLeft(sql) { case (s, (_, pass)) => pass(s) }

  /** `SELECT DISTINCT ... GROUP BY ... ORDER BY <aggregate>`: Spark's
    * analyzer rejects ordering a DISTINCT by an expression that is not
    * in the (distinct) select list — but when the SAME expression
    * appears there under an alias (CALCITE-634, sort.iq:354: `select
    * distinct deptno, count(*) as c ... order by count(*)`), ordering
    * by the alias is equivalent. Substitute it. */
  private[graft] def rewriteDistinctOrderByAlias(sql: String): String = {
    val masked = mask(sql)
    if (selectDistinctWordRe.findFirstIn(masked).isEmpty) return sql
    def norm(s: String) = s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", "")
    // select items: DISTINCT .. top-level FROM
    val selM = selectDistinctRe.findFirstMatchIn(masked).getOrElse(return sql)
    val fromAt = topLevelIndex(masked, "FROM", selM.end)
    if (fromAt < 0) return sql
    val aliasOf = splitElems(sql, masked, selM.end, fromAt).flatMap { item =>
      itemAliasRe.findFirstMatchIn(item.trim)
        .map(mm => norm(mm.group(1)) -> mm.group(2))
    }.toMap
    if (aliasOf.isEmpty) return sql
    // top-level ORDER BY after FROM
    val ob = lastTopLevelIndex(masked, "ORDER BY")
    if (ob < fromAt) return sql
    val byEnd = matchWords(masked, ob, Array("ORDER", "BY"))
    val obEnd = clauseEnd(masked, byEnd, "LIMIT", "OFFSET", "FETCH") match {
      case e if e == masked.length => sql.replaceAll("[;\\s]+$", "").length
      case e => e
    }
    var changed = false
    val newItems = splitElems(sql, masked, byEnd, obEnd).map { item =>
      val t = item.trim
      val sm = ascDescNullsRe.findFirstMatchIn(t).get
      // bare identifiers stay: they resolve against OUTPUT columns
      // (possibly an alias of a different expression), so substituting
      // them could silently change the sort key; the Spark-rejected
      // shape is the non-identifier one (ORDER BY count(*))
      val isBareIdent = bareIdentRe.matches(sm.group(1).trim)
      aliasOf.get(norm(sm.group(1))).filter(_ => !isBareIdent) match {
        case Some(alias) =>
          changed = true
          alias + Option(sm.group(2)).getOrElse("") + Option(sm.group(3)).getOrElse("")
        case None => t
      }
    }
    if (!changed) sql
    else sql.substring(0, byEnd) + " " + newItems.mkString(", ") + sql.substring(obEnd)
  }

  /** Rank-family window calls WITHOUT an ORDER BY (winagg.iq:553 —
    * `row_number() over (partition by deptno)`): the reference permits
    * them with arbitrary (input) order; Spark rejects. A constant sort
    * key reproduces the permissive semantics — rows number in input
    * order, and the default RANGE frame spans the whole peer group
    * (= the whole partition under a constant key), matching
    * `nth_value(...) over ()`. */
  private val rankCallRe = ("(?is)\\b(row_number|rank|dense_rank|ntile|nth_value|" +
    "cume_dist|percent_rank)\\s*\\(").r
  private val overOpenRe = "(?is)^\\s*OVER\\s*\\(".r
  private val orderByRe = "(?is)\\bORDER\\s+BY\\b".r

  private[graft] def rewriteUnorderedWindow(sql: String): String =
    spliceEach(sql, rankCallRe) { site =>
      val m = site.m
      val argClose = site.close
      if (argClose < 0) None
      else overOpenRe.findFirstMatchIn(m.substring(argClose + 1)).flatMap { o =>
        val oOpen = argClose + o.end
        val oClose = closeOf(m, oOpen)
        if (oClose < 0 || orderByRe.findFirstIn(m.substring(oOpen, oClose)).isDefined) None
        else {
          val sep = if (site.sql.substring(oOpen + 1, oClose).trim.isEmpty) "" else " "
          Some(Splice(oClose, oClose, sep + "ORDER BY 'x'"))
        }
      }
    }

  /** `expr [NOT] IN (SELECT ...)` in the SELECT LIST (sub-query.iq:104):
    * Spark plans the projected IN as an ExistenceJoin, which returns
    * FALSE where three-valued logic requires UNKNOWN (no match but the
    * subquery or the probe value holds NULL). The exact 3VL value is
    * restated from three correlated/plain COUNT subqueries:
    * TRUE on a match; NULL when the probe is NULL and the subquery is
    * non-empty, or when the subquery contains a NULL; else FALSE.
    * WHERE-clause forms keep Spark's native (correct) semi-join path. */
  private val selectHeadRe = "(?is)^\\s*SELECT\\s".r
  private val inOpenRe = "(?is)\\b(NOT\\s+)?IN\\s*\\(".r
  private val subqueryHeadRe = "(?is)^\\s*(SELECT|WITH)\\b".r
  private val inLhsRe = "(?is)([A-Za-z_][\\w.]*|\\d+(?:\\.\\d+)?)\\s*$".r

  private[graft] def rewriteProjectionIn(sql: String): String =
    spliceEach(sql, inOpenRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val fromAt = selectHeadRe.findFirstMatchIn(masked).filter(_.end < site.start)
        .map(s => topLevelIndex(masked, "FROM", s.end)).getOrElse(-1)
      val open = site.end - 1
      val close = site.close
      if (fromAt < 0 || site.end > fromAt || close < 0 || close >= fromAt ||
          subqueryHeadRe.findFirstIn(masked.substring(open + 1, close)).isEmpty) None
      // LHS: a single identifier/qualified identifier or literal
      else inLhsRe.findFirstMatchIn(masked.substring(0, site.start)).flatMap { lm =>
        val lhs = sql.substring(lm.start(1), lm.end(1))
        // a COMPOUND LHS (`a + 1 IN (...)`) would splice the CASE
        // after the operator and break the statement — bail to the
        // native ExistenceJoin path when the captured primary is
        // preceded by an operator/non-boundary token
        val beforeLhs = masked.substring(0, lm.start(1))
          .reverse.dropWhile(_.isWhitespace).headOption
        val compound = beforeLhs.exists(c => "+-*/%^|&=<>!:".contains(c))
        if (lhs.equalsIgnoreCase("not") || compound) None
        else {
          val sub = sql.substring(open + 1, close)
          val inner =
            s"CASE WHEN (SELECT count(*) FROM ($sub) __in3(__v) WHERE __v = $lhs) > 0 THEN TRUE " +
              s"WHEN $lhs IS NULL AND (SELECT count(*) FROM ($sub) __in3t) > 0 THEN CAST(NULL AS BOOLEAN) " +
              s"WHEN (SELECT count(*) FROM ($sub) __in3n(__v) WHERE __v IS NULL) > 0 THEN CAST(NULL AS BOOLEAN) " +
              s"ELSE FALSE END"
          val rep = if (site.group(1) != null) s"(NOT $inner)" else s"($inner)"
          Some(Splice(lm.start(1), close + 1, rep))
        }
      }
    }

  /** `(a, b) [NOT] IN ((x1, y1), ...)` over a LITERAL tuple list
    * (sub-query.iq:4325): Spark's struct-typed IN requires exact field
    * types (no per-field coercion of NULL/int literals into DECIMAL),
    * so the row IN expands to the ANSI-equivalent OR of pairwise
    * conjunctions — `(a = x1 AND b = y1) OR ...` — whose scalar
    * comparisons coerce individually and whose 3VL composition is
    * identical (FALSE AND UNKNOWN = FALSE; OR yields UNKNOWN only with
    * no TRUE). Subquery RHS passes through untouched. */
  private val tupleInRe = "(?is)\\)\\s*(NOT\\s+)?IN\\s*\\(".r
  private val callWordRe = "(?is)([A-Za-z_]\\w*)\\s*$".r
  private val tupleKeywords = Set("WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN",
    "ELSE", "CASE", "SELECT", "HAVING", "BY", "ALL", "ANY", "SOME",
    "IN", "IS", "LIKE", "BETWEEN", "JOIN", "FROM", "AS", "END")
  private val rowSubqueryRe = "(?is)^\\(?\\s*(SELECT|WITH|VALUES)\\b".r

  private[graft] def rewriteTupleInList(sql: String): String =
    spliceEach(sql, tupleInRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val rOpen = site.end - 1
      val rClose = site.close
      // LHS tuple: the ')' the head starts with closes it
      val lOpen = openOf(masked, site.start)
      // must be a bare tuple, not a function call or subquery: a
      // preceding identifier makes it a call UNLESS it's a keyword
      def isCall = lOpen > 0 && {
        val before = masked.substring(0, lOpen)
        callWordRe.findFirstMatchIn(before).map(_.group(1).toUpperCase)
          .map(!tupleKeywords.contains(_))
          .getOrElse(operandTailRe.findFirstIn(before).isDefined)
      }
      if (rClose < 0 || !masked.substring(rOpen + 1, rClose).trim.startsWith("(") ||
          lOpen < 0 || isCall) None
      else {
        val lhs = splitElems(sql, masked, lOpen + 1, site.start)
        val rhsTuples = splitElems(sql, masked, rOpen + 1, rClose)
        // a row SUBQUERY on either side is not a tuple — splitting it
        // on commas would corrupt it
        val anySubq =
          rowSubqueryRe.findFirstIn(masked.substring(lOpen + 1, site.start).trim).isDefined ||
            rhsTuples.exists(t => rowSubqueryRe.findFirstIn(t.trim).isDefined)
        if (lhs.length < 2 || !rhsTuples.forall(_.trim.startsWith("(")) || anySubq) None
        else {
          val tuples = rhsTuples.map { t =>
            val tm = mask(t)
            splitElems(t, tm, tm.indexOf('(') + 1, closeOf(tm, tm.indexOf('(')))
          }
          if (!tuples.forall(_.length == lhs.length)) None
          else {
            val ors = tuples.map(vals =>
              lhs.zip(vals).map { case (l, v) => s"($l) = ($v)" }
                .mkString("(", " AND ", ")"))
              .mkString("(", " OR ", ")")
            val not = if (site.group(1) != null) "NOT " else ""
            Some(Splice(lOpen, rClose + 1, not + ors))
          }
        }
      }
    }

  /** Single-field row comparison `ROW(a) <op> ROW(b)` (misc.iq:165) —
    * unwrap to the scalar comparison so Spark's implicit coercions apply
    * (struct comparison requires identical field types). Runs before the
    * general ROW→struct rewrite. */
  private def rewriteRowCompare(sql: String): String =
    replaceMasked(sql, rowCompareRe)((m, o) =>
      s"(${origGroup(m, o, 1)}) ${m.group(2)} (${origGroup(m, o, 3)})")

  /** `FROM <rel> PIVOT (...) AS e [WHERE ...]` (pivot.iq:78) — Spark's
    * pivot clause takes no alias, so wrap the pivot in a subquery and
    * alias that. */
  private def rewritePivotAlias(sql: String): String = {
    val masked = mask(sql)
    val pAt = topLevelIndex(masked, "PIVOT")
    if (pAt < 0) return sql
    val open = masked.indexOf('(', pAt)
    if (open < 0) return sql
    val close = closeOf(masked, open)
    if (close < 0) return sql
    val am = leadingAliasRe.findFirstMatchIn(masked.substring(close + 1)).getOrElse(return sql)
    // the relation being pivoted starts after the last top-level FROM
    // before the PIVOT keyword
    var fromAt = -1
    var i = 0
    while (i >= 0 && i < pAt) {
      val next = topLevelIndex(masked, "FROM", i)
      if (next >= 0 && next < pAt) { fromAt = next; i = next + 4 } else i = -1
    }
    if (fromAt < 0) return sql
    val relStart = fromAt + 4
    sql.substring(0, relStart) + " (SELECT * FROM " +
      sql.substring(relStart, close + 1).trim + ") " + am.group(1) +
      sql.substring(close + 1 + am.end)
  }

  /** UNPIVOT IN-list labels are string literals in the reference
    * (`comm AS 'commission'`, SqlUnpivot); Spark spells them as alias
    * identifiers. Scoped to statements containing UNPIVOT. */
  private def rewriteUnpivotLabel(sql: String): String = {
    val masked0 = mask(sql)
    val up = anyDepthIndex(masked0, "UNPIVOT")
    if (up < 0) return sql
    replaceMasked(sql, asLiteralRe)((m, o) =>
      "AS `" + origGroup(m, o, 1).stripPrefix("'").stripSuffix("'") + "`")
  }

  /** A bare UNPIVOT IN-list column (`IN (sal, comm)`) labels with the
    * identifier AS WRITTEN in Spark, where the reference's lexer
    * uppercases unquoted identifiers (pivot.iq:554) — corpus-dialect
    * behavior, applied by the conformance harness only (the product
    * surface is Spark's case-preserving one; q135 depends on it). */
  private[graft] def upperUnpivotLabels(s1: String): String = {
    val masked = mask(s1)
    val upAt = anyDepthIndex(masked, "UNPIVOT")
    if (upAt < 0) return s1
    val open = masked.indexOf('(', upAt)
    if (open < 0) return s1
    val close = closeOf(masked, open)
    if (close < 0) return s1
    val inAt = masked.substring(0, close).toUpperCase.indexOf(" IN ", open)
    if (inAt < 0) return s1
    val listOpen = masked.indexOf('(', inAt)
    val listClose = closeOf(masked, listOpen)
    if (listOpen < 0 || listClose < 0 || listClose > close) return s1
    val entries = splitTop(s1.substring(listOpen + 1, listClose)).map { e =>
      val t = e.trim
      if (t.matches("\\w+")) s"$t AS `${t.toUpperCase}`" else t
    }
    s1.substring(0, listOpen + 1) + entries.mkString(", ") + s1.substring(listClose)
  }

  /** Unsigned ARITHMETIC boundaries (unsigned.iq:27/60/69/108): the
    * reference derives an UNSIGNED result type for +,-,* and unary
    * minus over an unsigned operand, then range-checks it — `-u`,
    * `u1 - u2` below zero and `u * k` past the width's max all ERROR
    * instead of wrapping into the carrier. Wraps the syntactic
    * `CAST(.. UNSIGNED) op operand` / `-CAST(.. UNSIGNED)` shapes in an
    * IF-range-check BEFORE the casts lower (single pass — the wrapped
    * text re-embeds the casts, which rewriteUnsignedCast then lowers). */
  private def rewriteUnsignedArith(sql: String): String = {
    val masked = mask(sql)
    val maxOf = Map("TINYINT" -> BigInt(255), "SMALLINT" -> BigInt(65535),
      "INT" -> BigInt("4294967295"), "INTEGER" -> BigInt("4294967295"),
      "" -> BigInt("4294967295"), "BIGINT" -> BigInt("18446744073709551615"))
    val sb = new StringBuilder
    var last = 0
    for (m <- castOpenRe.findAllMatchIn(masked) if m.start >= last) {
      val open = masked.indexOf('(', m.start)
      val close = closeOf(masked, open)
      if (close > 0) {
        val inner = masked.substring(open + 1, close)
        unsTypeRe.findFirstMatchIn(inner).foreach { tm =>
          val myMax = maxOf(tm.group(1).toUpperCase(java.util.Locale.ROOT))
          // unary minus directly before the cast, in a unary position
          // (preceded by start, a punctuation/operator, or a keyword)
          val preTrimmed = masked.substring(0, m.start)
            .reverse.dropWhile(_.isWhitespace).reverse
          val unary = preTrimmed.endsWith("-") && {
            val beforeMinus = preTrimmed.dropRight(1).trim
            beforeMinus.isEmpty || "([,=<>+*/-".contains(beforeMinus.last) ||
              keywordEndRe.matches(beforeMinus)
          }
          // binary +,-,* after the cast with a simple right operand
          var j = close + 1
          while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
          val op = if (j < masked.length && "+-*".contains(masked.charAt(j))) Some(masked.charAt(j)) else None
          if (unary) {
            val exprStart = preTrimmed.length - 1 // the '-' itself
            val expr = sql.substring(exprStart, close + 1)
            if (exprStart >= last) {
              sb.append(sql.substring(last, exprStart))
                .append(s"IF(($expr) BETWEEN 0 AND $myMax, ($expr), " +
                  s"CAST(raise_error(CONCAT('Value is out of range : ', " +
                  s"CAST(($expr) AS STRING))) AS BIGINT))")
              last = close + 1
            }
          } else op.foreach { _ =>
            // right operand: signed int literal, identifier, or a
            // balanced call/paren group (e.g. another unsigned cast)
            var k = j + 1
            while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
            var end = k
            if (end < masked.length && masked.charAt(end) == '-') end += 1
            while (end < masked.length &&
              (masked.charAt(end).isLetterOrDigit || masked.charAt(end) == '_' ||
                masked.charAt(end) == '.')) end += 1
            if (end < masked.length && masked.charAt(end) == '(') {
              val c2 = closeOf(masked, end)
              if (c2 > 0) end = c2 + 1
            }
            if (end > k && m.start >= last) {
              // the reference derives the arithmetic's type as the
              // LEAST RESTRICTIVE of the operands: a WIDER signed
              // literal absorbs a narrower unsigned operand
              // (UTINYINT * 255 is INTEGER — unsigned.iq:122 passes
              // with 65025), while same-width signed literals lose to
              // the unsigned type (UINT - 200 range-checks). Widths:
              // int literals are INTEGER (32) unless they need BIGINT.
              val widthOf = Map("TINYINT" -> 8, "SMALLINT" -> 16,
                "INT" -> 32, "INTEGER" -> 32, "" -> 32, "BIGINT" -> 64)
              val myWidth = widthOf(tm.group(1).toUpperCase(java.util.Locale.ROOT))
              val rightM = masked.substring(k, end)
              val rightOrig = sql.substring(k, end)
              val rUns = unsTypeRe.findFirstMatchIn(
                if (rightM.toUpperCase.endsWith(")")) rightM.dropRight(1) else rightM)
                .map(_.group(1).toUpperCase(java.util.Locale.ROOT))
              val rightWidth: Option[Int] =
                if (rUns.isDefined) rUns.map(widthOf)
                else if (rightOrig.trim.matches("-?\\d+"))
                  Some(if (BigInt(rightOrig.trim).abs > BigInt(Int.MaxValue)) 64 else 32)
                else None // identifier/complex: type unknown, no check
              val checked = rightWidth.exists(rw =>
                rUns.isDefined || rw <= myWidth)
              if (checked) {
                val rMax = rUns.map(maxOf)
                val max = Seq(Some(myMax), rMax).flatten.max
                val expr = sql.substring(m.start, end)
                sb.append(sql.substring(last, m.start))
                  .append(s"IF(($expr) BETWEEN 0 AND $max, ($expr), " +
                    s"CAST(raise_error(CONCAT('Value is out of range : ', " +
                    s"CAST(($expr) AS STRING))) AS BIGINT))")
                last = end
              }
            }
          }
        }
      }
    }
    sb.append(sql.substring(last)).toString
  }

  /** `CAST(e AS [TINYINT|SMALLINT|INT|INTEGER|BIGINT] UNSIGNED)` (ref:
    * sql/type/SqlTypeName.java:61-64, unsigned.iq): lower onto the
    * range-checked widened-carrier scheme of functions/Unsigned.scala —
    * each unsigned type rides the next wider signed type with an
    * explicit bounds check, erroring (like the reference) instead of
    * wrapping. Bare UNSIGNED is INTEGER UNSIGNED. Innermost-first so
    * nested unsigned casts lower cleanly. */
  private val castOpenRe = "(?is)\\bCAST\\s*\\(".r
  private val unsignedCarriers = Map(
    "TINYINT" -> ("SMALLINT", "255"), "SMALLINT" -> ("INT", "65535"),
    "INT" -> ("BIGINT", "4294967295"), "INTEGER" -> ("BIGINT", "4294967295"),
    "" -> ("BIGINT", "4294967295"),
    "BIGINT" -> ("DECIMAL(20,0)", "18446744073709551615"))
  private val unsignedTypeRe = "(?is)^AS\\s+((?:TINYINT|SMALLINT|INTEGER|INT|BIGINT)?)\\s*UNSIGNED\\s*$".r

  private def rewriteUnsignedCast(sql: String): String =
    if (!mask(sql).toUpperCase.contains("UNSIGNED")) sql
    else spliceEach(sql, castOpenRe) { site =>
      val open = site.end - 1
      val close = site.close
      val innerM = if (close < 0) "" else site.m.substring(open + 1, close)
      val asAt = lastTopLevelIndex(innerM, "AS")
      if (asAt < 0) None
      else unsignedTypeRe.findFirstMatchIn(innerM.substring(asAt)).map { m =>
        val e = site.sql.substring(open + 1, open + 1 + asAt).trim
        val (c, max) = unsignedCarriers(m.group(1).toUpperCase)
        // literal fast path: foldable at rewrite time, so the cast
        // stays usable in inline-table VALUES (unsigned.iq:21)
        val rep =
          if (e.matches("\\d+") && BigInt(e) <= BigInt(max)) s"CAST($e AS $c)"
          else s"IF(CAST(($e) AS $c) IS NULL OR CAST(($e) AS $c) BETWEEN 0 AND $max, CAST(($e) AS $c), " +
            s"CAST(raise_error(CONCAT('Value is out of range : ', CAST(($e) AS STRING))) AS $c))"
        Splice(site.start, close + 1, rep)
      }
    }

  /** VARIANT operations Spark's analyzer rejects (variant.iq):
    *  - equality: the reference delegates to the contained values,
    *    requiring the same runtime type (variant.iq:108-117) — lowered
    *    to `schema_of_variant(a)=schema_of_variant(b) AND
    *    to_json(a)=to_json(b)` (3VL preserved: a SQL-NULL operand nulls
    *    both conjuncts). Applied only when an operand is syntactically
    *    variant-typed (CAST(.. AS VARIANT) / VARIANTNULL()).
    *  - subscript: `CAST(x AS VARIANT)[n]` is the reference's 1-based
    *    ITEM over a variant array, null for non-arrays (variant.iq:131)
    *    → `try_variant_get(.., '$[n-1]')`. */
  private def rewriteVariantOps(sql: String): String = {
    val masked = mask(sql)
    if (!masked.toUpperCase.contains("VARIANT")) return sql
    val s1 = replaceMasked(sql, variantEqRe)((m, o) => {
      val (a, b) = (origGroup(m, o, 1), origGroup(m, o, 2))
      s"(schema_of_variant($a) = schema_of_variant($b) AND to_json($a) = to_json($b))"
    })
    val s2 = replaceMasked(s1, variantItemRe)((m, o) => {
      val idx = m.group(2).toInt - 1
      s"try_variant_get(${origGroup(m, o, 1)}, '$$[$idx]')"
    })
    // Field access on a variant-shaped expression: `CAST(.. AS VARIANT)
    // .`name`` reads the object field (variant.iq:168-189). A bare
    // identifier uppercases, as the reference's lexer does — that is
    // WHY variant.iq:189's unquoted `.a` finds nothing. Runs BEFORE the
    // map-cast lowering below so the CAST shape is still visible.
    val s2b = replaceMasked(s2, variantFieldRe)((m, o) => {
      val v = origGroup(m, o, 1)
      val f0 = origGroup(m, o, 2)
      val f = if (f0.startsWith("`")) f0.stripPrefix("`").stripSuffix("`")
              else f0.toUpperCase(java.util.Locale.ROOT)
      s"item($v, '${f.replace("'", "''")}')"
    })
    // CAST(map AS VARIANT): Spark's Cast has no MAP→VARIANT path —
    // lower through JSON (variant.iq:164-194; the reference's
    // VariantSqlValue accepts any map). Keys become the rendered JSON
    // field names, which is exactly how the reference's variant ITEM
    // then finds them.
    variantMapCast(s2b)
  }

  private val mapVariantRe = "(?is)^\\s*MAP\\s*[\\[(].*\\bAS\\s+VARIANT\\s*$".r
  private val asVariantRe = "(?is)\\bAS\\s+VARIANT\\s*$".r

  private def variantMapCast(sql: String): String =
    spliceEach(sql, castOpenRe) { site =>
      val open = site.end - 1
      val close = site.close
      val innerM = if (close < 0) "" else site.m.substring(open + 1, close)
      if (!mapVariantRe.matches(innerM)) None
      else {
        val asAt = asVariantRe.findFirstMatchIn(innerM).get.start
        val operand = site.sql.substring(open + 1, open + 1 + asAt).trim
        Some(Splice(site.start, close + 1, s"parse_json(to_json($operand))"))
      }
    }

  /** UUID literals and casts (SqlLibraryOperators UUID; misc.iq:70-140).
    * The engine's UUID is a 36-char canonical-form value: lower it onto
    * strings — `UUID 'x'` → lowercased string literal, `CAST(e AS UUID)`
    * → `CAST(e AS STRING)` — with the two binary conversions handled
    * first: UUID→VARBINARY emits `unhex` of the undashed hex, and
    * x'…'→UUID formats the 16 bytes at rewrite time. */
  private def rewriteUuid(sql: String): String = {
    def fmt(hex: String): String = {
      val h = hex.toLowerCase
      s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-${h.substring(16, 20)}-${h.substring(20)}"
    }
    val s1 = replaceMasked(sql, castUuidAsVarbinaryRe)((m, o) =>
      s"unhex('${origGroup(m, o, 1).stripPrefix("'").stripSuffix("'").replace("-", "")}')")
    val s2 = replaceMasked(s1, castHexAsUuidRe)((m, o) =>
      s"'${fmt(origGroup(m, o, 1).stripPrefix("'").stripSuffix("'"))}'")
    val s3 = replaceMasked(s2, uuidRe)((m, o) =>
      origGroup(m, o, 1).toLowerCase)
    // a string-literal cast VALIDATES the canonical 8-4-4-4-12 form —
    // the reference rejects bare 32-hex text (misc.iq:90)
    val s4 = replaceMasked(s3, castLiteralAsUuidRe)((m, o) => {
      val lit = origGroup(m, o, 1).stripPrefix("'").stripSuffix("'")
      if (!lit.matches("(?i)[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
        throw new IllegalArgumentException(s"Invalid UUID string: $lit")
      s"'${lit.toLowerCase(java.util.Locale.ROOT)}'"
    })
    replaceMasked(s4, asUuidRe)((_, _) => "AS STRING")
  }

  private val timestampPrecRe = "(?is)\\bAS\\s+TIMESTAMP\\s*\\(\\s*(\\d)\\s*\\)\\s*$".r

  /** Length-free character/binary types in expressions (the reference's
    * default VARCHAR/VARBINARY have unbounded precision —
    * SqlTypeName.VARCHAR; recursive_queries.iq:223 `CAST(x AS VARCHAR)`):
    * Spark requires a length, so widen to the unbounded STRING/BINARY. */
  private def rewriteBareTypes(sql: String): String = {
    // CAST(e AS TIMESTAMP(p)): the reference TRUNCATES to the declared
    // precision (TIMESTAMP(0) drops fractions — big-query.iq:2927,
    // cast-with-format.iq:29); Spark timestamps are fixed micros, so the
    // precision lowers onto date_trunc around a plain cast
    val sPrec = spliceEach(sql, castOpenRe) { site =>
      val open = site.end - 1
      val close = site.close
      val innerM = if (close < 0) "" else site.m.substring(open + 1, close)
      timestampPrecRe.findFirstMatchIn(innerM).map { p =>
        val unit = p.group(1).toInt match {
          case 0 => Some("SECOND")
          case 1 | 2 | 3 => Some("MILLISECOND")
          case 4 | 5 => Some("MICROSECOND")
          case _ => None
        }
        val castStr = s"CAST(${site.sql.substring(open + 1, open + 1 + p.start)} AS TIMESTAMP)"
        Splice(site.start, close + 1,
          unit.map(u => s"date_trunc('$u', $castStr)").getOrElse(castStr))
      }
    }
    val s0 = replaceMasked(sPrec, timestampRe)((_, _) => "TIMESTAMP")
    val s1 = replaceMasked(s0, varcharRe)((_, _) => "STRING")
    val s2 = replaceMasked(s1, varbinaryRe)((_, _) => "BINARY")
    // SQL-standard postfix collection types in CASTs (`x AS INTEGER
    // ARRAY`, lambda.iq:82) → Spark's generic spelling. Scoped to the
    // AS-type position so `ARRAY` constructors/literals stay untouched.
    val s3 = replaceMasked(s2, asArrayMultisetRe)((m, o) =>
      s"AS ARRAY<${origGroup(m, o, 1)}>)")
    // the same postfix form NESTED inside a MAP/ARRAY type argument
    // (`map<varchar multiset, ...>`, misc.iq:2554 CALCITE-5570) — scoped
    // to a `,`/`>` follower so only type positions rewrite
    replaceMasked(s3, arrayMultisetRe)((m, o) =>
      s"ARRAY<${origGroup(m, o, 1)}>")
  }

  /** `DECIMAL 'n.n'` typed literals (misc.iq:2532) → an explicit CAST
    * (Spark has no DECIMAL literal prefix). */
  private def rewriteDecimalLit(sql: String): String =
    replaceMasked(sql, decimalRe)((m, o) =>
      s"CAST(${origGroup(m, o, 1)} AS DECIMAL(38, 9))")

  /** Fold `NULLIF(x, x)` with identical literal arguments to NULL
    * (misc.iq:2435 uses it inside VALUES, where Spark's inline-table
    * evaluator only accepts foldable expressions it understands). */
  private def rewriteNullifFold(sql: String): String =
    replaceMasked(sql, nullifRe)((m, o) => {
      val (a, b) = (origGroup(m, o, 1), origGroup(m, o, 2))
      if (a == b) "NULL" else o.substring(m.start, m.end)
    })

  /** `TABLESAMPLE SYSTEM(p) [REPEATABLE(s)]` / BERNOULLI (tablesample.iq;
    * SqlSampleSpec) → Spark's `TABLESAMPLE (p PERCENT) [REPEATABLE (s)]`.
    * Both of the reference's methods are row-level Bernoulli at Spark's
    * scan granularity; p is a literal percentage. */
  private def rewriteTablesample(sql: String): String =
    replaceMasked(sql, tablesampleRe)((m, o) => {
      val rep = if (m.group(2) != null) s" REPEATABLE (${m.group(3)})" else ""
      s"TABLESAMPLE (${m.group(1)} PERCENT)$rep"
    })

  /** Interval quantities Spark's INTERVAL literal can't express
    * (misc.iq:1750-1790): WEEK/QUARTER literals scale to DAY/MONTH, and
    * a non-literal count (`INTERVAL empno DAY`, `INTERVAL (mgr/100)
    * MINUTE` — SqlIntervalQualifier over a dynamic operand) becomes
    * `make_interval`, which takes expressions. */
  private def rewriteIntervalExpr(sql: String): String = {
    val s1 = replaceMasked(sql, intervalWeekQuarterRe)((m, o) => {
      val n = origGroup(m, o, 1).stripPrefix("'").stripSuffix("'").trim.toLong
      if (m.group(2).equalsIgnoreCase("WEEK")) s"INTERVAL '${n * 7}' DAY"
      else s"INTERVAL '${n * 3}' MONTH"
    })
    replaceMasked(s1, intervalUnitRe)((m, o) => {
      val e = origGroup(m, o, 1)
      if (e.matches("(?i)\\d+|'[^']*'")) o.substring(m.start, m.end) // literal: Spark-native
      else m.group(2).toUpperCase match {
        case "YEAR" => s"make_interval($e)"
        case "MONTH" => s"make_interval(0, $e)"
        case "WEEK" => s"make_interval(0, 0, $e)"
        case "DAY" => s"make_interval(0, 0, 0, $e)"
        case "HOUR" => s"make_interval(0, 0, 0, 0, $e)"
        case "MINUTE" => s"make_interval(0, 0, 0, 0, 0, $e)"
        case _ => s"make_interval(0, 0, 0, 0, 0, 0, $e)"
      }
    })
  }

  /** `[CROSS JOIN] LATERAL (VALUES rows...) AS t (cols)` — a lateral
    * inline table whose rows reference the OUTER query (the reference's
    * CROSS APPLY VALUES unpivot idiom, pivot.iq:454). Spark's inline
    * tables only accept foldable expressions, so the construct lowers
    * to `LATERAL VIEW inline(array(struct(row1), struct(row2), ...))`
    * — a pure generator expression over the outer row, no correlated
    * subquery machinery, one pass, scale-free. */
  private val lateralValuesRe = "(?is)(\\bCROSS\\s+JOIN\\s+|,\\s*)?\\bLATERAL\\s*\\(\\s*VALUES\\b".r
  private val valuesAliasColsRe = "(?is)^\\s*(?:AS\\s+)?([A-Za-z_]\\w*)\\s*\\(([^)]*)\\)".r

  private def rewriteLateralValues(sql: String): String =
    spliceEach(sql, lateralValuesRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      // only FROM-item positions lower to LATERAL VIEW: `LEFT/INNER JOIN
      // LATERAL (VALUES ...) ON ...` would leave its ON clause dangling,
      // so anything not preceded by FROM, a comma, or CROSS JOIN passes
      // through untouched (and fails loudly downstream if unsupported)
      val fromItem = site.group(1) != null || {
        val pre = masked.substring(0, site.start).trim.toUpperCase(java.util.Locale.ROOT)
        pre.endsWith("FROM") &&
          (pre.length == 4 || !pre(pre.length - 5).isLetterOrDigit && pre(pre.length - 5) != '_')
      }
      val open = masked.indexOf('(', site.start)
      val close = closeOf(masked, open)
      if (!fromItem || close < 0) None
      else {
        val valuesAt = masked.toUpperCase(java.util.Locale.ROOT).indexOf("VALUES", open)
        val rows = splitTop(sql.substring(valuesAt + 6, close)).map(_.trim)
        // every row must be a parenthesized tuple, and the alias reads
        // AS t (c1, ..., cn)
        val tail = valuesAliasColsRe.findFirstMatchIn(masked.substring(close + 1))
        if (rows.isEmpty || !rows.forall(r => r.startsWith("(") && r.endsWith(")")) || tail.isEmpty) None
        else {
          val t = tail.get
          val cols = sql.substring(close + 1 + t.start(2), close + 1 + t.end(2))
          // field names must agree across the array's structs — alias
          // every field to its output column name
          val colNames = cols.split(",").map(_.trim)
          val items = rows.map(r => splitTop(r.substring(1, r.length - 1)))
          if (items.exists(_.length != colNames.length)) None
          else {
            val structs = items.map(_.zip(colNames).map { case (v, c) => s"($v) AS $c" }
              .mkString("struct(", ", ", ")")).mkString(", ")
            Some(Splice(site.start, close + 1 + t.end,
              s" LATERAL VIEW inline(array($structs)) ${t.group(1)} AS $cols "))
          }
        }
      }
    }

  /** `(VALUES 'a', 'b') AS f` — single-column VALUES rows take the
    * table alias as the column name in the reference (SqlValidatorImpl
    * alias derivation; unnest.iq:222), where Spark names the column
    * col1. Append an explicit column list only when every row is a bare
    * scalar (no parenthesized row constructors). */
  private def rewriteValuesAlias(sql: String): String =
    replaceMasked(sql, valuesAsRe)((m, o) =>
      s"${origGroup(m, o, 1)} AS ${m.group(2)}(${m.group(2)})")

  /** `ROW(f1, …) IS [NOT] NULL` — the reference follows the standard's
    * degenerate-row rule (SqlStdOperatorTable IS_NULL over row types;
    * struct.iq:131-145 CALCITE-3627): a row is NULL iff EVERY field is
    * null, with nested rows recursing, and IS NOT NULL is its plain
    * negation (not the all-fields-non-null form). Spark's struct IS NULL
    * only tests the struct reference, so lower to the field conjunction
    * before the constructor rewrite turns ROW into struct. */
  private val rowOpenRe = "(?is)\\bROW\\s*\\(".r
  private val rowArgsRe = "(?is)^ROW\\s*\\((.*)\\)$".r
  private val isNullTailRe = "(?is)^\\s*IS\\s+(NOT\\s+)?NULL".r

  private def rewriteRowNullCheck(sql: String): String = {
    def fieldsNull(args: String): String =
      splitTop(args).map(_.trim).map { f =>
        rowArgsRe.findFirstMatchIn(f) match {
          case Some(inner) => fieldsNull(inner.group(1))
          case None => s"$f IS NULL"
        }
      }.mkString("(", " AND ", ")")
    spliceEach(sql, rowOpenRe) { site =>
      val close = site.close
      if (close < 0) None
      else isNullTailRe.findFirstMatchIn(site.m.substring(close + 1)).map { t =>
        val conj = fieldsNull(site.sql.substring(site.end, close))
        Splice(site.start, close + 1 + t.end, if (t.group(1) != null) s"(NOT $conj)" else conj)
      }
    }
  }

  /** `ROW(a, b, …)` value constructor (SqlStdOperatorTable.ROW;
    * struct.iq) → Spark's `struct(...)`; `ROW(*)` / `ROW(t.*)` expand
    * the same way (CALCITE-7311). The harness compares by position so
    * the col1/col2 field names Spark assigns don't matter. */
  private def rewriteRowCtor(sql: String): String =
    replaceMasked(sql, rowOpenRe)((_, _) => "struct(")

  /** `SELECT items BY byItems FROM ...` (Parser.jj:3192 SqlSelectBy —
    * syntactic sugar, SqlByRewriter.java): the BY items are prepended to
    * the select list, become the GROUP BY, and (with their ASC/DESC
    * modifiers) the ORDER BY; remaining non-aggregated bare columns wrap
    * in an implicit per-group aggregate (SqlValidatorImpl.java:517-523
    * wraps in ANY_VALUE; the reference's enumerable engine computes
    * ANY_VALUE as MAX, so MAX is used here for value parity). */
  private def rewriteSelectBy(sql: String): String = {
    val masked = mask(sql)
    if (selectHeadRe.findFirstIn(masked).isEmpty) return sql
    val fromAt = topLevelIndex(masked, "FROM")
    if (fromAt < 0) return sql
    val byAt = topLevelIndex(masked, "BY")
    if (byAt < 0 || byAt >= fromAt) return sql
    val selStart = masked.toUpperCase.indexOf("SELECT") + "SELECT".length
    val selItems = splitTop(sql.substring(selStart, byAt))
    val byItems = splitTop(sql.substring(byAt + 2, fromAt))
    if (byItems.isEmpty || selItems.isEmpty) return sql
    case class By(expr: String, alias: Option[String], mods: String)
    val parsed = byItems.map(_.trim).map {
      case byRe(e, a, d, n) => By(e.trim, Option(a),
        Option(d).getOrElse("") + Option(n).getOrElse(""))
      case other => By(other, None, "")
    }
    val bySelect = parsed.map(b => b.alias.fold(b.expr)(a => s"${b.expr} AS $a")).mkString(", ")
    val byGroup = parsed.map(_.expr).mkString(", ")
    val byOrder = parsed.map(b => b.expr + b.mods).mkString(", ")
    // bare column select items get the implicit aggregate
    val wrapped = selItems.map(_.trim).map {
      case columnAliasRe(c, a) =>
        val alias = Option(a).getOrElse(c.split('.').last)
        s"max($c) AS $alias"
      case other => other
    }.mkString(", ")
    s"SELECT $bySelect, $wrapped FROM ${sql.substring(fromAt + 4)} GROUP BY $byGroup ORDER BY $byOrder"
  }

  /** Postgres `SELECT DISTINCT ON (keys) items FROM ... ORDER BY o1, ...`
    * (babel select.iq; SqlSelectKeyword.DISTINCT_ON): keep the FIRST row
    * of each key group under the statement's ORDER BY. Lowered to
    * row_number() OVER (PARTITION BY keys ORDER BY orderList) = 1, with
    * the select items computed in the INNER select — a window function
    * among the items (select.iq:390) ranks the full input, not the
    * one-per-group survivors, matching the reference. */
  private[graft] def rewriteDistinctOn(sql: String): String = {
    val masked = mask(sql)
    val m = selectDistinctOnRe.findFirstMatchIn(masked).getOrElse(return sql)
    val open = m.end - 1
    val close = closeOf(masked, open)
    if (close < 0) return sql
    val keys = splitTop(sql.substring(open + 1, close)).map(_.trim)
    val fromAt = topLevelIndex(masked, "FROM", close + 1)
    if (fromAt < 0) return sql
    val orderAt = topLevelIndex(masked, "ORDER", fromAt)
    if (orderAt < 0) return sql // Postgres requires the ORDER BY; let Spark report
    val byAt = topLevelIndex(masked, "BY", orderAt)
    val orderList = sql.substring(byAt + 2).trim.stripSuffix(";")
    val items = splitTop(sql.substring(close + 1, fromAt)).map(_.trim)
    val rest = sql.substring(fromAt + 4, orderAt).trim
    // bare columns pass through *; computed items materialize inner-side
    var n = 0
    val (innerExtra, outer) = items.map {
      case c if columnRefRe.matches(c) => (None, c.split('.').last)
      case trailingAliasRe(e, a) => (Some(s"$e AS $a"), a)
      case e => { n += 1; (Some(s"$e AS __don_$n"), s"__don_$n") }
    }.unzip
    val inner = (Seq("*") ++ innerExtra.flatten :+
      s"row_number() OVER (PARTITION BY ${keys.mkString(", ")} ORDER BY $orderList) AS __don_rn")
      .mkString(", ")
    s"SELECT ${outer.mkString(", ")} FROM (SELECT $inner FROM $rest) __don " +
      s"WHERE __don_rn = 1 ORDER BY $orderList"
  }

  /** `* EXCLUDE(cols)` (SqlSelect EXCLUDE, struct.iq:190-230) → Spark's
    * `* EXCEPT (cols)`, with column qualifiers inside the list dropped
    * (Spark's EXCEPT list takes bare names). */
  private def rewriteExclude(sql: String): String =
    replaceMasked(sql, excludeRe)((m, o) => {
      // the reference tolerates duplicates in the list (CALCITE-7310);
      // Spark's EXCEPT demands distinct names — dedup here
      val cols = origGroup(m, o, 1).split(",")
        .map(c => c.trim.replaceAll("^\\w+\\s*\\.\\s*", "")).distinct.mkString(", ")
      s"* EXCEPT ($cols)"
    })

  /** T-SQL `SELECT TOP n ...` (babel's mssql surface) → trailing
    * `LIMIT n`. Outermost select only — anchored at the statement head,
    * so a TOP inside a subquery (valid T-SQL, rare) deliberately passes
    * through to Spark's parser for a clear error rather than a silent
    * mis-scope. Likewise a statement with a TOP-LEVEL set operator
    * passes through: T-SQL binds TOP to its own SELECT branch, and a
    * trailing LIMIT would silently limit the whole union. A trailing
    * semicolon is stripped before the LIMIT is appended. */
  private def rewriteTop(sql: String): String = {
    val masked = mask(sql)
    selectTopRe.findFirstMatchIn(masked) match {
      case Some(m) if !Seq("UNION", "INTERSECT", "EXCEPT").exists(topLevelIndex(masked, _, m.end) >= 0) =>
        val body = sql.substring(m.end).replaceFirst("(?s)\\s*;\\s*$", "")
        sql.substring(0, m.end(1)) + " " + body + s" LIMIT ${m.group(2)}"
      case _ => sql
    }
  }

  /** Windowing table-valued functions TUMBLE/HOP/SESSION: full grammar
    * (named args, subquery DATA, alignment offsets, SESSION gap windows)
    * lives in [[WindowTvfSql]]. */
  private[graft] def rewriteWindowTvf(sql: String): String = WindowTvfSql.rewrite(sql)

  /** ANSI `OFFSET n ROWS FETCH FIRST|NEXT m ROWS ONLY` (fetch.iq,
    * offset.iq; Sort.fetch/offset in the algebra) → Spark's
    * LIMIT/OFFSET clauses. */
  private def rewriteFetch(sql: String): String = {
    // the count may be any expression (fetch.iq:23-173 — `(1 + abs(-2))`,
    // fractional `(1.5)` rounds half-up, beyond-BIGINT values mean "all
    // rows"); a plain integer passes through untouched, an expression is
    // clamped into Spark's INT limit domain and left to constant folding
    def num(e0: String, isFetch: Boolean = false): Option[String] = {
      val e = e0.trim
      if (e.matches("\\d+")) // beyond-INT literals clamp (sort.iq:421)
        Some(if (BigInt(e) > Int.MaxValue) Int.MaxValue.toString else e)
      else if (e.length > 200 ||
        queryWordRe.findFirstIn(e).isDefined) None
      else {
        // the reference's grammar: a non-literal FETCH count must be
        // PARENTHESIZED (`fetch next 1 + 2` is a parse error,
        // fetch.iq:103 — OFFSET takes bare expressions, offset.iq:23),
        // and a count that IS null rejects ("FETCH expression
        // evaluated to NULL", fetch.iq:75 / offset.iq:70)
        if (isFetch && !e.startsWith("("))
          throw new IllegalArgumentException(
            s"FETCH count must be an integer literal or a parenthesized expression: $e")
        if (castNullRe.matches(e))
          throw new IllegalArgumentException(
            "FETCH/OFFSET expression evaluated to NULL")
        Some(s"(CAST(LEAST(ROUND($e), 2147483647) AS INT))")
      }
    }
    val s1 = replaceMasked(sql, offsetFetchRe)((m, o) =>
      (num(origGroup(m, o, 1)), num(origGroup(m, o, 2), isFetch = true)) match {
        case (Some(off), Some(lim)) => s"LIMIT $lim OFFSET $off"
        case _ => o.substring(m.start, m.end)
      })
    val s2 = replaceMasked(s1, fetchOnlyRe)((m, o) =>
      num(origGroup(m, o, 1), isFetch = true).map(l => s"LIMIT $l").getOrElse(o.substring(m.start, m.end)))
    val s3 = replaceMasked(s2, offsetRowsRe)((m, o) =>
      num(origGroup(m, o, 1)).map(x => s"OFFSET $x").getOrElse(o.substring(m.start, m.end)))
    // plain LIMIT/OFFSET beyond Spark's INT domain (sort.iq:421
    // `limit 3000000000`) clamp to MaxInt/2 each — Spark additionally
    // requires limit + offset <= MaxInt, and a 2^30-row offset already
    // means "skip everything" at any realistic cardinality
    replaceMasked(s3, hugeLimitRe)((m, o) =>
      s"${m.group(1)} ${if (BigInt(m.group(2)) > 1073741823) "1073741823" else m.group(2)}")
  }

  /** MySQL `LIMIT offset, count` / `LIMIT offset, ALL` (sort.iq's
    * scott-mysql cases) — Spark spells these LIMIT/OFFSET. Standard SQL
    * never puts a comma after LIMIT n, so the pattern can't misfire. */
  private def rewriteMysqlLimit(sql: String): String =
    replaceMasked(sql, limitCommaRe) { (m, _) =>
      if (m.group(2).equalsIgnoreCase("ALL")) s"OFFSET ${m.group(1)}"
      else s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}"
    }

  /** Oracle `FROM DUAL` (babel; dual-table-query.iq) — a FROM-less
    * scalar select in Spark. `SELECT * FROM DUAL` surfaces DUAL's one
    * 'X' row under the reference's generated column name. */
  private def rewriteDual(sql: String): String =
    if (selectFromDualRe.findFirstIn(sql.trim).isDefined)
      "SELECT 'X' AS `EXPR$0`"
    else replaceMasked(sql, fromDualRe)((_, _) => "")

  /** Calcite `FROM t EXTEND (c TYPE, ...)` (SqlStdOperatorTable.java
    * :265 EXTEND — declare columns a schemaless/dynamic table doesn't
    * list; they read as typed NULLs when absent): lower to a subselect
    * appending `CAST(NULL AS TYPE) AS c` for each declared column.
    * Static parquet always "lacks" the declared column, matching the
    * dynamic-table case the clause exists for. */
  private val extendRe = "(?is)\\bFROM\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+EXTEND\\s*\\(".r

  private[sql] def rewriteExtend(sql: String): String =
    spliceEach(sql, extendRe) { site =>
      val close = site.close
      if (close < 0) None
      else {
        val decls = splitTop(site.sql.substring(site.end, close)).map(_.trim).map { d =>
          val parts = d.split("\\s+", 2)
          require(parts.length == 2, s"EXTEND: malformed column declaration '$d'")
          s"CAST(NULL AS ${parts(1)}) AS ${parts(0)}"
        }
        val table = site.group(1)
        Some(Splice(site.start, close + 1,
          s"FROM (SELECT *, ${decls.mkString(", ")} FROM $table) $table"))
      }
    }

  /** SQL:2016 `CAST(expr AS type FORMAT 'model')` (cast-with-format.iq;
    * parsed by SqlCastFunction, evaluated via util/format/FormatModels
    * .java): lower to to_timestamp/to_date with the Oracle format model
    * translated to a Java pattern at rewrite time (string → temporal),
    * or date_format (temporal → character). The .iq's TZH/TZM/FF9
    * cases are feature-gated off in the reference itself
    * (fixed.calcite6375) and stay unsupported here. */
  private val castFormatRe = "(?is)^(.*\\S)\\s+AS\\s+(\\w+)\\s+FORMAT\\s*'((?:[^']|'')*)'\\s*$".r

  private def rewriteCastFormat(sql: String): String =
    spliceEach(sql, castOpenRe) { site =>
      val close = site.close
      if (close < 0) None
      else site.sql.substring(site.end, close) match {
        case castFormatRe(expr, ty, fmt) =>
          // SQL:2016 FORMAT-clause models (IsoFormat): case-variant word
          // tokens, literal partial years, RR round-year, Calendar-rule
          // W/WW — semantics Java patterns can't express
          val f = s"'${quoteEscaped(fmt)}'"
          (ty.toUpperCase match {
            case "TIMESTAMP" => Some(s"fmt_to_timestamp(($expr), $f)")
            case "DATE" => Some(s"fmt_to_date(($expr), $f)")
            case "VARCHAR" | "CHAR" | "STRING" => Some(s"fmt_to_char(($expr), $f)")
            case _ => None // unsupported target: leave for the parser
          }).map(Splice(site.start, close + 1, _))
        case _ => None // plain CAST
      }
    }

  /** BigQuery `SELECT [t.]* REPLACE (expr AS col, ...)` (babel corpus
    * big-query.iq; Spark parses `* EXCEPT` natively but not REPLACE) →
    * `[t.]* EXCEPT (cols...), expr AS col, ...`. Column ORDER differs
    * from BigQuery (replaced columns move to the end) — positional
    * parity would need the resolved schema at rewrite time; name-based
    * consumers (including the driver compare, which sorts columns) see
    * identical results. */
  private val starReplaceRe = "(?is)\\*\\s+REPLACE\\s*\\(".r
  private val starQualRe = "(?is)([A-Za-z_]\\w*)\\s*\\.\\s*$".r
  private val qualAsRe = "(?is)\\s+AS\\s+([A-Za-z_]\\w*)\\s*\\.\\s*([A-Za-z_]\\w*)\\s*$".r
  private val replaceAsRe = "(?is)\\s+AS\\s+(?:[A-Za-z_]\\w*\\s*\\.\\s*)?([A-Za-z_][A-Za-z0-9_]*)\\s*$".r

  private def rewriteStarReplace(sql: String): String =
    spliceEach(sql, starReplaceRe) { site =>
      val sql = site.sql
      val close = site.close
      val items0 = if (close < 0) Nil else splitTop(sql.substring(site.end, close))
      // a QUALIFIED star's REPLACE targets must carry the same
      // qualifier (e.* REPLACE(x AS d.deptno) is "unknown column" —
      // select.iq:330); matching qualifiers strip to the simple name
      val starQual = starQualRe.findFirstMatchIn(sql.substring(0, site.start)).map(_.group(1))
      for (it <- items0; qm <- qualAsRe.findFirstMatchIn(it))
        if (!starQual.exists(_.equalsIgnoreCase(qm.group(1))))
          throw new IllegalArgumentException(
            s"SELECT * REPLACE list contains unknown column(s): ${qm.group(2).toUpperCase(java.util.Locale.ROOT)}")
      val names = items0.map(it => replaceAsRe.findFirstMatchIn(it).map(_.group(1)))
      // malformed — leave for Spark's parser to report
      if (close < 0 || names.exists(_.isEmpty)) None
      else {
        val items = items0.zip(names.flatten).map { case (it, n) =>
          replaceAsRe.replaceFirstIn(it, " AS " + n).trim }
        Some(Splice(site.start, close + 1,
          s"* EXCEPT (${names.flatten.mkString(", ")}), ${items.mkString(", ")}"))
      }
    }

  /** Lower SQL/JSON `JSON_VALUE(doc, 'path' [behavior ON EMPTY]
    * [behavior ON ERROR])` (behavior = NULL | ERROR | DEFAULT <expr>;
    * ref: SqlStdOperatorTable.java:1655, runtime/JsonFunctions.java) to
    * a CASE over get_json_object that distinguishes a malformed
    * document (ON ERROR) from a valid document whose path selects
    * nothing (ON EMPTY) — same lowering as functions/JsonValue.scala. */
  private val jsonValueRe = "(?i)\\bJSON_VALUE\\s*\\(".r
  private val jsonBehaviorRe = "(?i)\\b(NULL|ERROR|DEFAULT\\s+.+?)\\s+ON\\s+(EMPTY|ERROR)\\b".r

  private def rewriteJsonValue(sql: String): String =
    spliceEach(sql, jsonValueRe) { site =>
      for {
        // first top-level comma separates doc from path+behaviors, and
        // the path is a leading quoted string
        (doc, rest) <- jsonArgs(site)
        pe = literalEnd(rest, 0) if pe >= 0
      } yield {
        val path = "'" + quoteEscaped(rest.substring(1, pe)) + "'"
        var onEmpty = "CAST(NULL AS STRING)"
        var onError = "CAST(NULL AS STRING)"
        jsonBehaviorRe.findAllMatchIn(rest.substring(pe + 1).trim).foreach { m =>
          val beh = m.group(1).trim
          val frag =
            if (beh.equalsIgnoreCase("NULL")) "CAST(NULL AS STRING)"
            else if (beh.equalsIgnoreCase("ERROR"))
              s"raise_error('JSON_VALUE strict: ON ${m.group(2).toUpperCase} for path ${path.replace("'", "")}')"
            else s"CAST((${beh.substring("DEFAULT".length).trim}) AS STRING)"
          if (m.group(2).equalsIgnoreCase("EMPTY")) onEmpty = frag else onError = frag
        }
        val v = s"get_json_object(($doc), $path)"
        Splice(site.start, site.close + 1,
          s"""CASE WHEN ($doc) IS NULL THEN CAST(NULL AS STRING)
         WHEN get_json_object(($doc), '$$') IS NULL THEN $onError
         WHEN $v IS NULL THEN $onEmpty
         ELSE $v END""")
      }
    }

  /** A literal body whose doubled `''` is a quote, for Spark's lexer,
    * which reads `''` as two adjacent literals: the quote goes in as the
    * `\u0027` escape, which also keeps later passes' masks in step. */
  private def quoteEscaped(body: String): String = body.replace("''", "\\u0027")

  /** The trimmed first argument of a JSON call and the trimmed rest
    * after its depth-0 comma, when the rest starts with a literal. */
  private def jsonArgs(site: Site): Option[(String, String)] = {
    val close = site.close
    if (close < 0) None
    else commaRanges(site.m, site.end, close) match {
      case (a, b) +: _ +: _ =>
        val rest = site.sql.substring(b + 1, close).trim
        if (rest.startsWith("'")) Some((site.sql.substring(a, b).trim, rest)) else None
      case _ => None
    }
  }

  /** `ROW(t1.*, t2.*).<name><N>` — the reference uniquifies duplicate
    * row-field names with a numeric suffix (SqlValidatorUtil.uniquify:
    * the first occurrence keeps the name, the k-th duplicate becomes
    * name(k-2); struct.iq:330 — ROW(emp.*, dept.*).deptno0 is dept's
    * deptno). Spark keeps duplicate struct fields and resolves access
    * to the FIRST, so the renamed access is resolved here against the
    * session catalog and lowered to the direct qualified column — no
    * struct is built at all. */
  private def rowStarFieldAccess(spark: SparkSession, sql: String): String = {
    replaceMasked(sql, rowStarFieldRe) { (m, o) =>
      val whole = o.substring(m.start, m.end)
      try {
        val args = splitTop(o.substring(m.start(1), m.end(1))).map(_.trim)
        val fields = args.flatMap { a =>
          qualifiedStarRe.findFirstMatchIn(a) match {
            case Some(t) =>
              spark.table(t.group(1)).schema.fields.toSeq
                .map(f => (t.group(1), f.name))
            case None =>
              Seq(("", callWordRe.findFirstMatchIn(a)
                .map(_.group(1)).getOrElse(a)))
          }
        }
        val seen = scala.collection.mutable.Map.empty[String, Int]
        val renamed = fields.map { case (t, n) =>
          val k = seen.getOrElse(n.toLowerCase(java.util.Locale.ROOT), 0)
          seen(n.toLowerCase(java.util.Locale.ROOT)) = k + 1
          val out = if (k == 0) n else s"$n${k - 1}"
          (t, n, out)
        }
        val want = (m.group(2) + m.group(3)).toLowerCase(java.util.Locale.ROOT)
        renamed.find(_._3.toLowerCase(java.util.Locale.ROOT) == want) match {
          case Some((t, n, _)) if t.nonEmpty => s"$t.$n"
          case Some((_, n, _)) => n
          case None => whole
        }
      } catch { case scala.util.control.NonFatal(_) => whole }
    }
  }

  /** SQL/JSON `JSON_EXISTS(doc, 'path' [(TRUE|FALSE|UNKNOWN|ERROR) ON
    * ERROR])` (ref: SqlJsonExistsFunction, runtime JsonFunctions
    * jsonExists; misc.iq:2399) — a boolean CASE over get_json_object:
    * malformed document → the ON ERROR behavior (default FALSE per the
    * standard), else path-hit test. The strict/lax mode prefix is
    * dropped for Spark's path syntax (both modes agree on existence for
    * the simple member paths Spark's JSONPath accepts). */
  private val jsonExistsRe = "(?i)\\bJSON_EXISTS\\s*\\(".r
  private val jsonOnErrorRe = "(?i)\\b(TRUE|FALSE|UNKNOWN|ERROR)\\s+ON\\s+ERROR\\b".r

  private def rewriteJsonExists(sql: String): String =
    spliceEach(sql, jsonExistsRe) { site =>
      for {
        (doc, rest) <- jsonArgs(site)
        pe = literalEnd(rest, 0) if pe >= 0
      } yield {
        val path = rest.substring(1, pe).trim
          .replaceAll("(?i)^(strict|lax)\\s+", "")
        val onError = jsonOnErrorRe.findFirstMatchIn(rest.substring(pe + 1)) match {
          case Some(m) if m.group(1).equalsIgnoreCase("TRUE") => "true"
          case Some(m) if m.group(1).equalsIgnoreCase("UNKNOWN") => "CAST(NULL AS BOOLEAN)"
          case Some(m) if m.group(1).equalsIgnoreCase("ERROR") =>
            s"CAST(raise_error('JSON_EXISTS: malformed document') AS BOOLEAN)"
          case _ => "false"
        }
        Splice(site.start, site.close + 1,
          s"""CASE WHEN ($doc) IS NULL THEN CAST(NULL AS BOOLEAN)
         WHEN get_json_object(($doc), '$$') IS NULL THEN $onError
         ELSE get_json_object(($doc), '${quoteEscaped(path)}') IS NOT NULL END""")
      }
    }

  /** BigQuery SAFE_CAST (SqlLibraryOperators.java:2725) → TRY_CAST
    * (identical NULL-on-error semantics). The SAFE_ arithmetic family
    * (SAFE_ADD/SUBTRACT/MULTIPLY/DIVIDE/NEGATE :2594-2718) is registered
    * as functions instead — functions/BigQueryFns.scala — because TRY_
    * returns Infinity on DOUBLE overflow where SAFE_ must return NULL. */
  private def rewriteSafeCast(sql: String): String =
    replaceMasked(sql, safeCastRe)((_, _) => "TRY_CAST(")

  /** `<ident or dotted ident> [NOT] SIMILAR TO '<pattern>'` →
    * `[NOT] similar_to(ident, '<pattern>')`. */
  private def rewriteSimilarTo(sql: String): String = {
    // the pattern literal (group 3) is masked — splice it from the original
    replaceMasked(sql, similarToRe) { (m, orig) =>
      val not = if (m.group(2) != null) "NOT " else ""
      s"${not}similar_to(${m.group(1)}, ${origGroup(m, orig, 3)})"
    }
  }

  /** `agg(x) FILTER (WHERE p) OVER w` (SQL:2011 FILTER on a window
    * aggregate — winagg.iq:1182, CALCITE-6442): Spark rejects FILTER on
    * window functions, but for the null-ignoring aggregate family the
    * clause is exactly a null-injecting CASE on each argument:
    * `agg(CASE WHEN p THEN x END) OVER w`; `count(*)` counts a CASE'd
    * constant. FILTER on a plain (non-window) aggregate passes through —
    * Spark supports that natively. Only the true-aggregate family is
    * lowered: FILTER on a navigation function (first_value/lead/rank...)
    * is invalid SQL the reference rejects (winagg.iq:1320), so those
    * pass through for Spark's own rejection. */
  private val windowFilterAggs = Set(
    // any_value deliberately absent: Spark's default does NOT ignore
    // NULLs, so the CASE lowering could return the injected NULL
    "count", "sum", "avg", "min", "max", "every", "some",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "covar_pop", "covar_samp", "corr", "bool_and", "bool_or",
    "bit_and", "bit_or", "bit_xor", "collect_list", "collect_set",
    "array_agg", "listagg", "string_agg", "regr_sxx", "regr_syy",
    "regr_count", "regr_avgx", "regr_avgy")

  private val filterWhereRe = "(?is)\\bFILTER\\s*\\(\\s*WHERE\\b".r
  private val overHeadRe = "(?is)^\\s*OVER\\b".r
  private val fnNameTailRe = "(?is)[A-Za-z_]\\w*\\s*$".r
  private val distinctArgRe = "(?is)^(DISTINCT|ALL)\\s+(.*)$".r

  private[graft] def rewriteWindowFilter(sql: String): String =
    spliceEach(sql, filterWhereRe) { site =>
      val (masked, sql) = (site.m, site.sql)
      val fOpen = masked.indexOf('(', site.start)
      val fClose = closeOf(masked, fOpen)
      var p = site.start - 1
      while (p >= 0 && masked.charAt(p).isWhitespace) p -= 1
      val aOpen = if (p >= 0 && masked.charAt(p) == ')') openOf(masked, p) else -1
      val fnOk = aOpen > 0 &&
        fnNameTailRe.findFirstIn(masked.substring(0, aOpen))
          .exists(f => windowFilterAggs.contains(f.trim.toLowerCase))
      if (fClose < 0 || overHeadRe.findFirstIn(masked.substring(fClose + 1)).isEmpty || !fnOk) None
      else {
        val pred = sql.substring(fOpen + 1, fClose).trim
          .replaceFirst("(?is)^WHERE\\s+", "")
        val args = splitElems(sql, masked, aOpen + 1, p)
        val newArgs =
          if (args.length == 1 && args.head == "*") s"CASE WHEN $pred THEN 1 END"
          else args.zipWithIndex.map { case (a, ix) =>
            val dm = distinctArgRe.findFirstMatchIn(a).filter(_ => ix == 0)
            dm.map(d => s"${d.group(1)} CASE WHEN $pred THEN ${d.group(2)} END")
              .getOrElse(s"CASE WHEN $pred THEN $a END")
          }.mkString(", ")
        Some(Splice(aOpen + 1, fClose + 1, newArgs + ")"))
      }
    }

  /** Lower QUALIFY (recursing into subqueries/CTEs first): everything up
    * to QUALIFY becomes a subquery, the predicate a WHERE on it; trailing
    * ORDER BY/LIMIT/OFFSET remain on the outer select. Raw window
    * functions in the predicate (qualify.iq's canonical
    * `QUALIFY ROW_NUMBER() OVER (...) <= 3`) are projected as
    * auto-generated aliases in the subselect — Spark rejects window
    * functions in WHERE — then dropped via `* EXCEPT`. */
  private def rewriteQualify(sql: String): String = {
    // recurse into parenthesized groups so QUALIFY inside a subquery/CTE
    // body is lowered too
    val masked = mask(sql)
    val sb = new StringBuilder
    var last = 0
    var open = masked.indexOf('(')
    while (open >= 0) {
      val close = closeOf(masked, open)
      if (close < 0) open = -1
      else {
        sb.append(sql.substring(last, open)).append('(')
          .append(rewriteQualify(sql.substring(open + 1, close))).append(')')
        last = close + 1
        open = masked.indexOf('(', last)
      }
    }
    rewriteQualifyTop(sb.append(sql.substring(last)).toString)
  }

  private def rewriteQualifyTop(sql: String): String = {
    val masked = mask(sql)
    val qi = topLevelIndex(masked, "QUALIFY")
    if (qi < 0) return sql
    val head = sql.substring(0, qi).trim
    // the predicate runs to the first trailing clause
    val predEnd = clauseEnd(masked, qi, "ORDER BY", "LIMIT", "OFFSET", "WINDOW")
    val rawPred = sql.substring(qi + "QUALIFY".length, predEnd).trim
    val trailing = sql.substring(predEnd)
    val (pred, windows) = extractWindowExprs(rawPred)
    val fromIdx = topLevelIndex(mask(head), "FROM")
    if (windows.isEmpty || fromIdx < 0)
      s"SELECT * FROM ($head) __qualify WHERE $pred $trailing"
    else {
      // Window exprs may reference any column of the FROM relation (true
      // QUALIFY scoping), so inject the aliases into the head's own select
      // list rather than a wrapper over its (possibly narrower) output.
      val proj = windows.zipWithIndex
        .map { case (w, k) => s"$w AS __qw$k" }.mkString(", ")
      val drop = windows.indices.map(k => s"__qw$k").mkString(", ")
      val headWithWins =
        head.substring(0, fromIdx).replaceAll("\\s+$", "") + s", $proj " +
          head.substring(fromIdx)
      s"SELECT * EXCEPT ($drop) FROM ($headWithWins) __qualify WHERE $pred $trailing"
    }
  }

  /** Replace each `fn(args) OVER (spec)` span in the predicate with a
    * `__qw<k>` placeholder; returns (rewritten predicate, spans). */
  private def extractWindowExprs(pred: String): (String, Seq[String]) = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // [start, end)
    val masked = mask(pred)
    var i = 0
    val over = Array("OVER")
    while (i < masked.length) {
      val afterOver = matchWords(masked, i, over)
      if (afterOver >= 0) {
        // forward: whitespace then the (spec)
        var j = afterOver
        while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
        val specEnd = if (j < masked.length && masked.charAt(j) == '(') closeOf(masked, j) else -1
        // backward: whitespace, the fn's (args), the fn identifier
        var b = i - 1
        while (b >= 0 && masked.charAt(b).isWhitespace) b -= 1
        val fnStart: Int =
          if (b >= 0 && masked.charAt(b) == ')') {
            val open = openOf(masked, b)
            if (open < 0) -1
            else {
              var f = open - 1
              while (f >= 0 && (isWordChar(masked.charAt(f)) || masked.charAt(f) == '.')) f -= 1
              if (f + 1 == open) -1 else f + 1 // require a fn identifier
            }
          } else -1
        if (specEnd >= 0 && fnStart >= 0) {
          spans += ((fnStart, specEnd + 1))
          i = specEnd + 1
        } else i = afterOver
      } else i += 1
    }
    if (spans.isEmpty) (pred, Seq.empty)
    else {
      val sb = new StringBuilder
      var last = 0
      val texts = spans.toSeq.zipWithIndex.map { case ((s, e), k) =>
        sb.append(pred.substring(last, s)).append(s"__qw$k")
        last = e
        pred.substring(s, e)
      }
      sb.append(pred.substring(last))
      (sb.toString, texts)
    }
  }
}
