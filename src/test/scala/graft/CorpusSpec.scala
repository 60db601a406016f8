package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import graft.sql.GraftSql

/** Reference conformance corpus: executes SQL statements drawn from the
  * reference's quidem corpora (.iq files in core/src/test/resources/sql —
  * thousands of ready-made engine-neutral SQL cases with recorded
  * outputs) through GraftSql.sql and value-compares against the recorded
  * expected tables. The .iq files are parsed AT TEST TIME from the
  * read-only reference checkout — nothing is copied into this repo.
  *
  * Fixtures: the public `scott` (EMP/DEPT/BONUS/SALGRADE, the classic
  * Oracle demo schema shipped as net.hydromatic:scott-data-hsqldb) and
  * `post` (CalciteAssert.java:964-1006) schemas, registered as temp
  * views from VALUES.
  *
  * Comparison: row MULTISETS of normalized cell strings (numerics via
  * BigDecimal.stripTrailingZeros, null = empty cell, names
  * case-insensitive). Ordering under ORDER BY ties is engine-specific
  * in the recorded outputs, so order is not asserted here — dedicated
  * collation specs cover it.
  *
  * Skips are explicit: `skipConstructs` documents semantic divergences
  * (each with the reason), `skipCases` pins individual statements. The
  * gate asserts every non-skipped eligible case passes and that the
  * passing count is >= 100.
  */
class CorpusSpec extends IqHarness {

  private val refSqlDir = new java.io.File("/root/reference/core/src/test/resources/sql")

  // ---- fixture schemas --------------------------------------------------

  private def registerPost(): Unit = {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW emp AS SELECT * FROM VALUES
        ('Jane',10,'F'),('Bob',10,'M'),('Eric',20,'M'),('Susan',30,'F'),
        ('Alice',30,'F'),('Adam',50,'M'),('Eve',50,'F'),('Grace',60,'F'),
        ('Wilma',CAST(NULL AS INT),'F')
        AS t(ename, deptno, gender)""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW dept AS SELECT * FROM VALUES
        (10,'Sales'),(20,'Marketing'),(30,'Engineering'),(40,'Empty')
        AS t(deptno, dname)""")
    spark.sql("CREATE OR REPLACE TEMP VIEW dept30 AS SELECT * FROM dept WHERE deptno = 30")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW emps AS SELECT * FROM VALUES
        (100,'Fred',10,CAST(NULL AS STRING),CAST(NULL AS STRING),40,25,TRUE,FALSE,DATE'1996-08-03'),
        (110,'Eric',20,'M','San Francisco',3,80,CAST(NULL AS BOOLEAN),FALSE,DATE'2001-01-01'),
        (110,'John',40,'M','Vancouver',2,CAST(NULL AS INT),FALSE,TRUE,DATE'2002-05-03'),
        (120,'Wilma',20,'F',CAST(NULL AS STRING),1,5,CAST(NULL AS BOOLEAN),TRUE,DATE'2005-09-07'),
        (130,'Alice',40,'F','Vancouver',2,CAST(NULL AS INT),FALSE,TRUE,DATE'2007-01-01')
        AS t(empno, name, deptno, gender, city, empid, age, slacker, manager, joinedat)""")
  }

  // ---- skip lists -------------------------------------------------------

  /** Construct-level skips: (case-insensitive regex on the SQL, reason).
    * Each is a DOCUMENTED divergence or unsupported surface, not a bug. */
  private val skipConstructs: Seq[(String, String)] = Seq(
    // the AVG-family return-type derivation (reference keeps the ARG
    // type, truncating) is reproduced by the harness adapter
    // CalciteTyping.rewrite + functions/AggTyped.scala since round 8
    // composite COUNT(a, b), FLOOR/CEIL(e TO unit), multi-arg GROUPING,
    // EVERY, SQL_TSI_* units, ARRAY[..]/MAP[..] literals and 1-based ITEM
    // subscripts were construct-skips through round 6; they now lower via
    // sql/CollectionSql.scala + functions/FloorCeilTo.scala and run.
    ("(?i)\\bposition\\s*\\(.*\\bfrom\\b",
      "POSITION(x IN y FROM n) 3-arg form not in Spark's grammar."),
    ("(?i)\\bsubstring\\s*\\(.*\\bsimilar\\b",
      "SUBSTRING ... SIMILAR regex form is reference-specific."),
    ("(?i)convert\\s*\\(.*using",
      "CONVERT ... USING translation syntax not in Spark."),
    ("(?i)\\btranslate\\s*\\(.*using",
      "TRANSLATE ... USING translation syntax not in Spark."),
    ("(?i)\\bcursor\\s*\\(|\\btable\\s*\\(\\s*ramp",
      "CURSOR/TABLE(ramp()) table-function plumbing is reference-internal test machinery."),
    ("(?i)\\bextract\\s*\\(\\s*(isodow|isoyear|decade|century|millennium|epoch)",
      "EXTRACT units beyond Spark's grammar (isodow/decade/...)."),
    ("(?i)\\b(week|dayofyear|dayofweek|dayofmonth)\\s*\\(|extract\\s*\\(\\s*(week|doy|dow)\\b",
      "WEEK/DOY/DOW extraction: ISO-week numbering differs between engines; date/time family covered by q60-q62/q89."),
    ("(?i)\\blogical_or\\b|\\blogical_and\\b",
      "LOGICAL_OR/AND are BigQuery-dialect names for bool_or/and (babel surface), covered by q84."),
    ("(?i)\\bapprox_count_distinct\\b",
      "Sketch internals engine-specific; error-bounded spec + q18."),
    ("(?i)\\bsplit\\s*\\(|\\bstring_to_array\\b",
      "SPLIT semantics on empty separators differ; regex family covered by q70/q71."),
    ("(?i)interval\\s+'[^']+'\\s+(year|month)\\b.*interval|\\*\\s*interval",
      "INTERVAL arithmetic in projections: reference prints +N-N literal forms; interval family covered by q67/q68."))

  /** Individual-case skips keyed (file, statement line): true divergences
    * too narrow for a construct pattern, each with the reason. */
  private val skipCases: Map[(String, Int), String] = {
    // (former nestedCorr skips — two+-level correlated subqueries — now
    // run via the manual-Correlate fallback, sql/Decorrelate.scala)
    val existenceJoin = "Spark plans an IN-subquery in the PROJECTION as " +
      "ExistenceJoin, which yields FALSE where 3VL requires UNKNOWN when the " +
      "subquery contains NULLs — known Spark divergence; WHERE-clause forms " +
      "are unaffected (q115-q118 cover NOT IN null semantics)"
    val tupleIn = "struct-typed (a,b) IN list: Spark requires exact struct " +
      "field types (no coercion of NULL/int literals into DECIMAL fields); " +
      "row-value IN covered by q115-q118"
    // (former ordinalLiteral skips: the harness now runs with
    // spark.sql.groupByOrdinal=false — the reference's default
    // conformance reads GROUP BY <int> as a LITERAL constant, and the
    // corpus's recorded outputs reflect that semantics everywhere)
    // (former decimalTrunc skips — DOWN-rounding literal decimal casts —
    // computed at rewrite time by CalciteTyping.decimalLitCastDown;
    // column-typed casts keep Spark's HALF_UP, DecimalTypeSystemSpec)
    val caseSensitiveIds = "quoted identifiers \"a\" and \"A\" as distinct " +
      "columns: Spark's resolver is case-preserving but case-INSENSITIVE " +
      "(spark.sql.caseSensitive=false is its supported default), so the " +
      "lookup is ambiguous"
    // (former pivotCountZero / duplicatePivotValue / pivot-alias skips:
    // the conformance dialect now lowers subselect-sourced PIVOTs to
    // conditional aggregation — CalciteTyping.pivotManual — which fills
    // COUNT cells with 0, keeps duplicate IN-values as duplicate
    // columns, and names columns label_AGGALIAS like the reference)
    val matchDescQuirk = "MATCH_RECOGNIZE with ORDER BY empid DESC: the " +
      "reference's recorded output (CALCITE-7474, 'similar to BigQuery') " +
      "pairs non-adjacent rows and emits CLASSIFIER()=S under ONE ROW " +
      "PER MATCH for a pattern ending in UP, and LAST(S.empid)=100 for " +
      "two SKIP-PAST-LAST-ROW matches — internally inconsistent with " +
      "its own ascending semantics. The engine's DESC (negated-key " +
      "ascending walk, MatchRecognizeSql) finds the standard matches: " +
      "none, because no commission decreases along the DESC sequence"
    Map(
      ("agg.iq", 31) -> "duplicate of line-21 case (same SQL, kept once)",
      ("some.iq", 926) -> ("TRUE IN (SELECT b FROM UNNEST(outer array)): " +
        "the 3VL restatement correlates an UNQUALIFIED outer column " +
        "through a nested derived table — invisible to Spark's " +
        "decorrelator AND to the manual-Correlate fallback, which keys " +
        "on qualified alias.col refs; the sibling TRUE-match case " +
        "passes natively"),
      ("agg.iq", 3223) -> ("relies on non-ANSI silent int64 overflow " +
        "wraparound (+9223372036854775807 + 1); Spark (ANSI) raises"),
      ("agg.iq", 3780) -> ("ARG_MIN/ARG_MAX tie-break: the reference keeps " +
        "the first row of a tied key group, Spark's min_by/max_by an " +
        "arbitrary one; deterministic ARG_MAX/MIN covered by q16"),
      ("agg.iq", 3792) -> "same ARG_MIN/ARG_MAX tie-break divergence",
      ("agg.iq", 3804) -> "same ARG_MIN/ARG_MAX tie-break divergence",
      // (former unnest.iq:311/:327/:501 mixed-zip skips — MAP and
      // struct-array zip operands now flatten per-operand through
      // map_entries / tuple fields, CollectionSql zip lowering)
      ("operator.iq", 295) -> ("FLOOR/CEIL of TIME: Spark has no TIME " +
        "type (the engine's TIME surface is string-encoded, q109); the " +
        "DATE/TIMESTAMP family at :250/:271 runs via floor_to/ceil_to"),
      ("operator.iq", 848) -> ("FLOOR/CEIL of INTERVAL rounds to the " +
        "interval's declared leading unit (CALCITE-7692); Spark erases " +
        "interval types to month/microsecond carriers, so the leading " +
        "unit isn't recoverable — datetime FLOOR/CEIL(e TO unit) is " +
        "implemented instead (functions/FloorCeilTo.scala)"),
      ("operator.iq", 860) -> "same interval-FLOOR/CEIL leading-unit surface",
      ("operator.iq", 875) -> "same interval-FLOOR/CEIL leading-unit surface",
      ("match.iq", 98) -> matchDescQuirk,
      ("match.iq", 113) -> matchDescQuirk,
      ("match.iq", 129) -> matchDescQuirk,
      ("match.iq", 145) -> matchDescQuirk,
      ("match.iq", 160) -> matchDescQuirk,
      ("measure.iq", 369) -> ("ORDER BY <measure> DESC LIMIT: the " +
        "reference returns the three SMALLEST row-context values in " +
        "descending display (1100, 950, 800) — its sort/limit ordering " +
        "quirk; the engine's standard answer is the three largest " +
        "(5000, 3000, 3000), consistent with its own :384 semantics"),
      ("measure.iq", 589) -> ("the reference expansion drops the " +
        "DISTINCT qualifier from COUNT(DISTINCT job)+1 (dept 20 → 6 = " +
        "count(*)+1, though it has 3 distinct jobs); the engine answers " +
        "4, the standard semantics"),
      ("variant.iq", 86) -> ("bare VARIANTNULL(): csv output cannot " +
        "distinguish the variant-null value (prints null) from SQL NULL " +
        "(prints null) — the IS NULL distinction is value-checked at " +
        "variant.iq:92 and equality at :98"),
      // (former row-equality.iq:499 skip — projection-position IN-subquery
      // 3VL — lifted round 10: RowEquality.inSubquery3vl lowers the
      // literal-LHS form to a scalar aggregate before Spark's
      // ExistenceJoin rewrite can bake FALSE into the UNKNOWN case)
      ("variant.iq", 39) -> ("Spark's variant encoding normalizes integer " +
        "widths to int64 (VariantBuilder), so TYPEOF reports BIGINT where " +
        "the reference keeps the declared INTEGER"),
      ("variant.iq", 146) -> ("same int64 width normalization: TYPEOF of " +
        "a variant-array element reports BIGINT, not INTEGER"),
      ("variant.iq", 24) -> ("MAP<VARIANT, VARIANT> keys: Spark's map " +
        "type forbids VARIANT keys (INVALID_MAP_KEY_TYPE) and variants " +
        "have no ordering for key lookup"),
      ("variant.iq", 29) -> "same variant-keyed map limitation",
      ("variant.iq", 196) -> "same variant-keyed map limitation",
      // (former JSON_OBJECTAGG / JSON_OBJECT hash-order skips — the
      // reference's HashMap iteration order is deterministic and
      // JsonAggSql now renders it: bucket (h^h>>>16)&15 ascending,
      // insertion order within; CHAR(5) ename padding restored by
      // CalciteTyping.charPadInCalls — agg.iq:3256-3397 all run)
      ("winagg.iq", 943) -> ("windowed MODE over a tied group (deptno 10: " +
        "one F, one M): tie-break is engine-specific — the aggregate MODE " +
        "cases (agg.iq:3511+) are tie-free and pass"),
      ("agg.iq", 2959) -> ("REGR_SXX/SYY over DECIMAL(12,4): Spark " +
        "computes the moments in DOUBLE (94999.99999...), and the " +
        "scale-4 re-typing truncates the float artifact to 94999.9999 " +
        "where the reference's decimal arithmetic gives 95000 exactly"),
      // (former measure.iq:126/644/671 + measure-paper.iq:366 skips —
      // round 9 lifted: CTE/derived-table measures keep their argument
      // columns on strip, AGGREGATE(m) FILTER threads into the
      // expansion, detail-context WHERE lowering, quoted measure names
      // parse — MeasureSql)
      ("measure-paper.iq", 79) -> ("the reference's lax decimal runtime: " +
        "profitMargin is DECLARED DECIMAL(p,6) (division derivation, so " +
        "AVG keeps scale 6 — 0.503968) but its RUNTIME values carry 16 " +
        "digits (2.2 displays 0.3333333333333333 from the same column); " +
        "one Spark column cannot render both scales"),
      ("agg.iq", 1509) -> ("FUSION element order follows the engine's " +
        "row-accumulation order (a bag has none); cardinality-checked " +
        "FUSION at :1481/:1496 is order-free and passes"),
      ("agg.iq", 1529) -> "same FUSION accumulation-order display",
      ("misc.iq", 2574) -> ("MAP with a NULL key: Spark's map type " +
        "forbids null keys (NULL_MAP_KEY); the reference's map values " +
        "accept them"),
      ("join.iq", 978) -> ("IS NOT DISTINCT FROM over MAP-typed columns: " +
        "Spark's map type has no ordering/equality (same class as " +
        "blank.iq:219)"),
      ("variant.iq", 50) -> ("same int64 width normalization (TINYINT)"),
      ("variant.iq", 115) -> ("same int64 width normalization: INT-variant " +
        "and TINYINT-variant carry identical encodings here, so the " +
        "reference's type-sensitive inequality is not reproducible"),
      ("variant.iq", 208) -> ("UUID inside VARIANT: Spark's variant has no " +
        "UUID runtime type, the engine carries it as a JSON string (prints " +
        "quoted); value itself matches"),
      ("unsigned.iq", 127) -> ("TYPEOF of an unsigned value in a VARIANT: " +
        "the widened-carrier scheme (functions/Unsigned.scala) loses the " +
        "UNSIGNED type tag the reference's variant runtime keeps"),
      ("unsigned.iq", 132) -> ("same carrier-scheme TYPEOF divergence"),
      ("blank.iq", 219) -> ("MAX/MIN over a MAP column — Spark's map type " +
        "has no ordering (DATATYPE_MISMATCH.INVALID_ORDERING_TYPE); the " +
        "reference orders maps by entry list"),
      ("misc.iq", 1602) -> caseSensitiveIds,
      ("misc.iq", 1612) -> caseSensitiveIds,
      ("misc.iq", 2065) -> ("rand(seed) — both engines are deterministic " +
        "per seed but the PRNG streams differ (java.util.Random vs " +
        "Spark's XORShiftRandom); rand_integer(seed, n) IS matched " +
        "bit-for-bit via functions/RandInteger.scala"),
      ("struct.iq", 170) -> ("LIMIT 1 with no ORDER BY over a join — " +
        "which row survives is engine-specific (Calcite returns CLARK, " +
        "Spark's first partition yields SMITH); same query shape with an " +
        "ORDER BY passes at :221"),
      // (former misc.iq:2215 CHAR-array padding skip — lifted by
      // CalciteTyping.charLitArrayPad in VALUES display context)
      ("planner.iq", 425) -> ("LIMIT/OFFSET with no ORDER BY: which rows " +
        "the offset slice skips is engine-specific (same class as " +
        "struct.iq:170)"),
      ("planner.iq", 457) -> "same no-ORDER-BY offset slice",
      ("sequence.iq", 67) -> ("\"metadata\".tables reads the reference's " +
        "JDBC metadata schema — catalog plumbing, not a query surface"))
  }

  private def constructSkip(sql: String): Option[String] =
    skipConstructs.collectFirst {
      case (re, why) if re.r.findFirstIn(sql).isDefined => why
    }

  // ---- the gate ---------------------------------------------------------

  private val corpusFiles = Seq(
    "agg.iq", "join.iq", "sub-query.iq", "some.iq", "qualify.iq",
    "winagg.iq", "conditions.iq", "scalar.iq", "agg-reduce.iq",
    "aliasing.iq", "operator.iq", "asof.iq", "cast.iq",
    "fetch.iq", "offset.iq", "set-op.iq", "outer.iq", "lateral.iq",
    "struct.iq", "sort.iq", "unnest.iq", "blank.iq", "pivot.iq",
    "recursive_queries.iq", "tablesample.iq", "misc.iq",
    "within-distinct.iq", "row-equality.iq", "variant.iq",
    "unsigned.iq", "match.iq", "measure.iq", "dummy.iq",
    "join-agg-transpose.iq", "new-decorr.iq", "measure-paper.iq",
    "lambda.iq", "cast-with-format.iq",
    // planner-oriented corpora still carry value-checked !ok cases
    "interpreter.iq", "hep.iq", "planner.iq",
    "dual-table-query.iq", "sequence.iq")

  /** Dev loop only: GRAFT_CORPUS_ONLY=agg.iq,misc.iq runs a slice (the
    * pass/skip floors are skipped for partial runs — CI runs unset). */
  private val corpusOnly: Option[Set[String]] =
    sys.env.get("GRAFT_CORPUS_ONLY").map(_.split(",").map(_.trim).toSet)

  /** Spark-analyzer limitations this engine inherits (correlation shapes
    * Spark's decorrelator rejects, plus two known Spark internal errors
    * on EXISTS-under-join-OR). Cases hitting these are counted and
    * BOUNDED — a growing count fails the gate — but are not failures of
    * this engine's own surface. */
  private val engineLimitRe =
    ("UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY|\\[INTERNAL_ERROR" +
      "|UNSUPPORTED_CORRELATED" +
      // (unordered rank-family windows now lower via
      // GraftSql.rewriteUnorderedWindow; FILTER on window aggregates via
      // rewriteWindowFilter — neither class is a limit anymore)
      // Spark has no TIME type, no UNION-distinct recursion (its own
      // error says "not yet supported"), and DISTINCT + ORDER BY on a
      // non-selected expression is rejected by its analyzer
      "|UNSUPPORTED_TIME_TYPE" +
      "|UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE" +
      "|UNSUPPORTED_EXPR_FOR_OPERATOR").r

  private val createdTables = scala.collection.mutable.Set.empty[String]

  test("reference .iq conformance: >=100 corpus statements pass value-compare") {
    assume(refSqlDir.isDirectory, "reference checkout not present")
    var pass = 0
    var skippedConstruct = 0
    var skippedCase = 0
    val failures = ArrayBuffer.empty[String]
    val engineLimits = ArrayBuffer.empty[String]
    registerHr() // hr_-prefixed; never clobbered by the use-switching below
    // reference default conformance: GROUP BY <int> is a LITERAL
    // grouping constant, not an ordinal (SqlConformance.isGroupByOrdinal
    // = false) — the corpus's recorded outputs assume that everywhere
    spark.conf.set("spark.sql.groupByOrdinal", "false")
    // reference default null ordering (largest — Oracle-style); applied
    // as the LAST rewrite step, see GraftSql.oracleNullDefault
    graft.sql.GraftSql.oracleNullDefault = true
    // reference JSON_OBJECT key order is its runtime HashMap's
    // (JsonFunctions.java:432) — render literal keys in that order
    graft.sql.JsonAggSql.calciteHashOrder = true
    try for (fn <- corpusFiles if corpusOnly.forall(_.contains(fn))) {
      val cases = parseIq(new java.io.File(refSqlDir, fn))
        .filter(c => c.ddl || c.use == "scott" || c.use == "post" ||
          c.use == "blank" || c.use == "sparkfunc" ||
          c.use == "scott-mysql" || c.use == "scott-oracle" || c.use == "seq")
      var lastUse = ""
      for (c <- cases) {
        if (c.ddl) {
          // DDL must run against ITS OWN file's fixture (measure.iq's
          // CREATE VIEW ... FROM emp means scott's emp, not whatever the
          // previous file left registered)
          if (c.use != lastUse) {
            if (c.use == "scott") registerScott()
            else if (c.use == "post") registerPost()
            lastUse = c.use
          }
          // a DDL that replaces a fixture-named temp view (blank.iq
          // CREATE TABLE EMP) invalidates the use-cache: the next
          // scott/post case must re-register its views
          if (runDdl(c.sql)) lastUse = ""
        }
        else skipCases.get((c.file, c.line)) match {
          case Some(_) => skippedCase += 1
          case None => constructSkip(c.sql) match {
            case Some(_) => skippedConstruct += 1
            case None =>
              if (c.use != lastUse) {
                if (c.use == "scott" || c.use == "scott-mysql" || c.use == "scott-oracle") registerScott()
                else if (c.use == "post") registerPost()
                else if (c.use == "seq") {
                  // fresh sequence fixture; later cases in the file see
                  // the cursor the earlier ones advanced (sequence.iq's
                  // CURRENT VALUE case depends on it)
                  graft.functions.Sequences.drop("my_seq")
                  graft.functions.Sequences.create("my_seq")
                  // the fixture catalog's schema (sequence.iq's
                  // `"s"."my_seq"`) — declared HERE, by the harness,
                  // so product code never hardcodes it
                  graft.functions.Sequences.registerSchema("s")
                }
                lastUse = c.use
              }
              runCase(c) match {
                case None => pass += 1
                case Some(err) if engineLimitRe.findFirstIn(err).isDefined =>
                  engineLimits += s"${c.file}:${c.line}: $err"
                case Some(err) => failures += s"${c.file}:${c.line}: $err\n  SQL: ${c.sql.linesIterator.mkString(" ")}"
              }
          }
        }
      }
    }
    finally {
      spark.conf.unset("spark.sql.groupByOrdinal")
      graft.sql.GraftSql.oracleNullDefault = false
      graft.sql.JsonAggSql.calciteHashOrder = false
    }
    createdTables.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    info(s"corpus: $pass passed, $skippedConstruct construct-skips, " +
      s"$skippedCase case-skips, ${engineLimits.size} engine-limits, ${failures.size} failures")
    // full failure list on disk for diagnosis — the assert below truncates
    val fw = new java.io.PrintWriter("target/corpus-failures.txt", "UTF-8")
    try {
      failures.foreach(fw.println)
      fw.println("---- engine limits ----")
      engineLimits.foreach(fw.println)
    } finally fw.close()
    assert(failures.isEmpty, s"corpus failures (${failures.size}):\n${failures.take(15).mkString("\n")}")
    if (corpusOnly.isEmpty) {
      assert(pass >= 1618, s"corpus coverage dropped: $pass passing (floor 1618)")
      // frozen-divergence drift guard (VERDICT r9 item 5): the number of
      // case-skips actually HIT is the frozen 39 — a new skip sneaking in
      // through the table fails here, not silently in the counts. (A
      // STALE row — a skipped case that would now pass — is NOT caught,
      // since skipped cases never execute; lifting attempts stay a
      // deliberate per-row audit, as in rounds 9/10.)
      assert(skippedCase <= 39,
        s"runtime case-skips grew: $skippedCase (frozen at 39) — a new " +
          "divergence needs a CONFORMANCE.md row and a deliberate table edit")
    } else
      // a typo'd GRAFT_CORPUS_ONLY (or one exported by accident in CI)
      // must not greenlight a zero-case run with the floor disabled
      assert(pass > 0, s"GRAFT_CORPUS_ONLY=${corpusOnly.get.mkString(",")} " +
        "matched no passing cases — filter typo, or the ratchet is accidentally off")
    // round 7: ALL 45 round-6 Spark-limitation cases now execute —
    // the manual-Correlate fallback (sql/Decorrelate.scala: nested/deep
    // correlation, correlated vars under joins inside subqueries,
    // scalar subqueries in join ON, LATERAL-with-window as per-key
    // UNION ALL, EXISTS join predicates referencing both inputs,
    // correlated aggregate arguments via inner-first recursion,
    // unqualified outer GROUP BY refs per CALCITE-7297), RecursiveSql
    // (UNION-distinct recursion as a semi-naive fixpoint),
    // DISTINCT+ORDER-BY-agg alias lowering, and TIME-literal
    // arithmetic on the string TIME encoding. Execution-time INTERNAL
    // errors retry through the fallback in compareCase (AQE defers
    // physical planning past the eager force).
    assert(engineLimits.size <= 0,
      s"Spark-limitation count grew: ${engineLimits.size} (was 0) — a rewrite regressed")
  }

  /** The corpora's `!error` cases: statements the reference REJECTS
    * (parse, validation, or runtime). The contract checked here is that
    * the engine also fails them; where Spark is deliberately MORE
    * permissive (a cast it can perform, arithmetic it defines) the case
    * counts as a measured permissive-divergence, ratcheted so the
    * number can only shrink. */
  test("frozen case-skip table stays frozen (drift guard, VERDICT r9 item 5)") {
    // the inherent-divergence table in CONFORMANCE.md is end-of-round-9
    // state; adding a skip without lifting one must fail loudly here,
    // not silently widen the frozen set. Lifts shrink this number in
    // the same change.
    // 43 table rows; 39 fire at runtime (CONFORMANCE.md's count) — the
    // other 4 are same-statement alternates kept for documentation
    assert(skipCases.size == 43,
      s"case-skip table drifted: ${skipCases.size} rows (frozen at 43) — " +
        "update CONFORMANCE.md's divergence table AND this guard together")
  }

  test("reference .iq error contracts: rejected statements also fail here") {
    assume(refSqlDir.isDirectory, "reference checkout not present")
    registerHr()
    var matched = 0
    var permissive = 0
    val permissiveList = ArrayBuffer.empty[String]
    var lastUse = ""
    for (fn <- corpusFiles) {
      val cases = parseIq(new java.io.File(refSqlDir, fn), extended = true)
        .filter(c => c.kind == "error" && (c.use == "scott" || c.use == "post" ||
          c.use == "blank" || c.use == "sparkfunc" || c.use == "scott-mysql" ||
          c.use == "scott-oracle" || c.use == "seq"))
      for (c <- cases) {
        if (c.use != lastUse) {
          if (c.use == "scott" || c.use == "scott-mysql" || c.use == "scott-oracle") registerScott()
          else if (c.use == "post") registerPost()
          lastUse = c.use
        }
        try {
          graft.sql.GraftSql.sql(spark, clean(c.sql)).collect()
          permissive += 1
          permissiveList += s"${c.file}:${c.line}: ${c.sql.linesIterator.mkString(" ").take(140)}"
        } catch { case _: Throwable => matched += 1 }
      }
    }
    info(s"error contracts: $matched rejected as recorded, $permissive Spark-permissive divergences")
    val fw = new java.io.PrintWriter("target/corpus-permissive.txt", "UTF-8")
    try permissiveList.foreach(fw.println) finally fw.close()
    assert(matched >= 110, s"error-contract matches dropped: $matched")
    assert(permissive <= 11, s"permissive-divergence count grew: $permissive")
  }

  /** Corpus DDL (`!update` statements): CREATE VIEW → temp view, CREATE
    * TABLE gets a drop-first for idempotency (including a same-named
    * fixture TEMP VIEW, which would otherwise shadow the new table for
    * every later read AND reject the file's INSERTs), INSERT/CTAS run
    * through the dialect rewrites so the corpus's collection literals
    * and type spellings (ARRAY[..], ROW(..), INTEGER ARRAY, bare
    * VARCHAR) land. Returns true when a fixture temp view was dropped. */
  private def runDdl(sql0: String): Boolean = {
    val sql1 = graft.sql.GraftSql.rewrite(
      graft.sql.SparkDialect.rewrite(rowTypes(clean(sql0))))
    // ANSI store assignment rejects bare date-looking strings into DATE
    // columns (blank.iq:254 INSERT) — type the literal (unless already
    // prefixed by DATE/TIMESTAMP)
    val sql =
      if (!sql1.trim.toUpperCase.startsWith("INSERT")) sql1
      else sql1.replaceAll("(?i)(?<!DATE )(?<!TIMESTAMP )'(\\d{4}-\\d{2}-\\d{2})'", "DATE '$1'")
    val up = sql.trim.toUpperCase
    var droppedView = false
    try {
      if (up.startsWith("CREATE VIEW"))
        spark.sql(sql.trim.replaceFirst("(?i)^CREATE\\s+VIEW", "CREATE OR REPLACE TEMP VIEW"))
      else if (up.startsWith("CREATE TABLE")) {
        val name = "(?i)^CREATE\\s+TABLE\\s+(\\w+)".r.findFirstMatchIn(sql.trim).map(_.group(1))
        name.foreach { n =>
          droppedView = spark.catalog.dropTempView(n)
          spark.sql(s"DROP TABLE IF EXISTS $n")
          // a crashed prior run can leave the managed location behind
          val loc = new java.io.File(s"spark-warehouse/$n")
          if (loc.isDirectory) {
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
            }
            rm(loc)
          }
          createdTables += n
        }
        spark.sql(sql)
      } else spark.sql(sql)
    } catch {
      case ex: Throwable => info(s"corpus DDL failed (downstream cases will fail): " +
        Option(ex.getMessage).getOrElse("").linesIterator.filter(_.nonEmpty).take(2).mkString(" | ") +
        s" -- stmt: ${sql.linesIterator.mkString(" ").take(120)}")
    }
    droppedView
  }

  /** `ROW(name TYPE, ...)` column types in CREATE TABLE (blank.iq
    * complex_t) → Spark's `STRUCT<name: TYPE, ...>`; element types are
    * widened by the dialect type pass that runs after this. */
  private def rowTypes(sql: String): String =
    if (!"(?is)^\\s*CREATE\\s+TABLE\\s+\\w+\\s*\\(".r.findFirstIn(sql).isDefined) sql
    else "(?is)\\bROW\\s*\\(([^()]*)\\)".r.replaceAllIn(sql, m =>
      "STRUCT<" + m.group(1).split(",").map(_.trim.replaceFirst("\\s+", ": "))
        .mkString(", ") + ">")

  /** The corpora schema-qualify as "scott".emp / "post".emp; views are
    * session-scoped here. Remaining double-quoted identifiers become
    * backtick identifiers (the corpora's dialect quotes with ", Spark
    * with `), and Calcite's auto-generated EXPR$n names are quoted. */
  private def clean(sql: String): String =
    // reference lexer uppercases unquoted identifiers; UNPIVOT labels
    // surface identifiers as DATA, so the harness applies that dialect
    // casing (product surface stays case-preserving — q135). The
    // AVG-family re-typing is likewise corpus-dialect (the product keeps
    // Spark's wider derivations — DecimalTypeSystemSpec).
    graft.sql.CalciteTyping.rewrite(
      graft.sql.GraftSql.upperUnpivotLabels(clean0(sql)))

  private def clean0(sql: String): String = sql
    // fully-qualified "hr"."emps"."empid" column refs resolve against the
    // bare-name alias the table rule below introduces
    .replaceAll("(?i)\"hr\"\\.\"(emps|depts)\"\\.\"(\\w+)\"", "$1.\"$2\"")
    // hr tables get an hr_ prefix (post also defines an `emps`); when the
    // query has no alias of its own, alias back to the bare name so
    // qualified references ("emps"."deptno") keep resolving
    .replaceAll("(?i)\"hr\"\\.\"(emps|depts)\"(?=\\s*(\\)|,|$|\\n|WHERE\\b|JOIN\\b|ON\\b|GROUP\\b|ORDER\\b|HAVING\\b|LIMIT\\b|UNION\\b|LEFT\\b|RIGHT\\b|INNER\\b|CROSS\\b|FULL\\b|NATURAL\\b))", "hr_$1 $1")
    .replaceAll("(?i)\"hr\"\\.\"(emps|depts)\"", "hr_$1") // hr shares names with post
    .replaceAll("(?i)\"(scott|post|blank)\"\\.", "")
    .pipe(quotedIdsToBackticks)
    .replaceAll("(?<![`\\w])EXPR\\$(\\d+)", "`EXPR\\$$1`")

  /** `"ident"` → backtick-quoted, OUTSIDE single-quoted strings only —
    * a JSON document literal like '{"foo":"bar"}' (misc.iq:2399) must
    * keep its double quotes. */
  private def quotedIdsToBackticks(sql: String): String = {
    val masked = graft.sql.SqlText.mask(sql)
    val sb = new StringBuilder(sql)
    "\"([^\"]+)\"".r.findAllMatchIn(masked).toSeq.sortBy(-_.start).foreach { m =>
      sb.replace(m.start, m.end, "`" + sql.substring(m.start + 1, m.end - 1) + "`")
    }
    sb.toString
  }

  /** The public HR demo schema (CalciteAssert / HrSchema.java — emps
    * with empid/salary/commission, depts), under hr_ names because post
    * also defines an `emps`. */
  private def registerHr(): Unit = {
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW hr_emps AS SELECT * FROM VALUES
        (100, 10, 'Bill', CAST(10000 AS DOUBLE), CAST(1000 AS INT)),
        (200, 20, 'Eric', CAST(8000 AS DOUBLE), 500),
        (150, 10, 'Sebastian', CAST(7000 AS DOUBLE), CAST(NULL AS INT)),
        (110, 10, 'Theodore', CAST(11500 AS DOUBLE), 250)
        AS t(empid, deptno, name, salary, commission)""")
    spark.sql("""
      CREATE OR REPLACE TEMP VIEW hr_depts AS SELECT * FROM VALUES
        (10, 'Sales'), (30, 'Marketing'), (40, 'HR')
        AS t(deptno, name)""")
  }

  /** None = pass; Some(reason) = mismatch/error. The post fixture's
    * ename is CHAR(5) in the reference (widest VALUES literal) — its
    * padding is visible only embedded in LISTAGG/JSON strings, where
    * charPadInCalls restores it; char-literal arrays in VALUES display
    * pad to their widest element (misc.iq:2215). */
  private def runCase(c: IqCase): Option[String] = {
    val padded =
      if (c.use == "post")
        graft.sql.CalciteTyping.charPadInCalls(c.sql, Map("ename" -> 5))
      else c.sql
    compareCase(c, clean(graft.sql.CalciteTyping.charLitArrayPad(padded)))
  }
}
