package graft

import graft.sql.GraftSql

/** Dialect pre-rewriter tests (the qualify.iq / babel surface). */
class GraftSqlSpec extends SparkSpec {

  private def init(): Unit = T.registerViews(spark, sfDir)

  test("QUALIFY filters on window results like the reference dialect") {
    init()
    val got = GraftSql.sql(spark, """
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
      QUALIFY rn <= 2
      ORDER BY o_custkey, rn LIMIT 10""").collect()
    assert(got.length == 10)
    assert(got.forall(_.getInt(3) <= 2))

    val manual = spark.sql("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 2 ORDER BY o_custkey, rn LIMIT 10""").collect()
    assert(got.map(_.toSeq).toSeq == manual.map(_.toSeq).toSeq)
  }

  test("QUALIFY with a raw window function in the predicate (qualify.iq form)") {
    init()
    val got = GraftSql.sql(spark, """
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3
      ORDER   BY o_custkey, o_totalprice DESC LIMIT 20""")
    assert(got.columns.toSeq == Seq("o_custkey", "o_orderkey", "o_totalprice"))
    val rows = got.collect()
    assert(rows.length == 20)
    val manual = spark.sql("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, o_totalprice DESC LIMIT 20""").collect()
    assert(rows.map(_.toSeq).toSeq == manual.map(_.toSeq).toSeq)
  }

  test("QUALIFY with two raw window functions and boolean structure") {
    init()
    val got = GraftSql.sql(spark, """
      SELECT o_custkey, o_orderkey
      FROM orders
      QUALIFY (ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
           OR RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) = 1)""")
    assert(got.columns.toSeq == Seq("o_custkey", "o_orderkey"))
    assert(got.count() > 0)
  }

  test("QUALIFY inside a subquery / CTE is lowered too") {
    init()
    val got = GraftSql.sql(spark, """
      WITH top_orders AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
        FROM orders
        QUALIFY rn = 1
      )
      SELECT count(*) AS n FROM top_orders""").collect()(0).getLong(0)
    val manual = spark.sql(
      "SELECT count(DISTINCT o_custkey) FROM orders").collect()(0).getLong(0)
    assert(got == manual)

    val sub = GraftSql.sql(spark, """
      SELECT count(*) AS n FROM (
        SELECT o_orderkey FROM orders
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1
      ) q""").collect()(0).getLong(0)
    assert(sub == manual)
  }

  test("SAFE_CAST lowers to TRY_CAST") {
    val r = GraftSql.sql(spark,
      "SELECT SAFE_CAST('12' AS INT) AS a, SAFE_CAST('nope' AS INT) AS b").collect()(0)
    assert(r.getInt(0) == 12 && r.isNullAt(1))
  }

  test("SIMILAR TO predicate lowers to similar_to()") {
    init()
    val n = GraftSql.sql(spark,
      "SELECT count(*) AS n FROM part WHERE p_name SIMILAR TO '%(car|dog)%'")
      .collect()(0).getLong(0)
    val viaRlike = spark.sql(
      "SELECT count(*) FROM part WHERE p_name RLIKE '(car|dog)'")
      .collect()(0).getLong(0)
    assert(n == viaRlike)
    val not = GraftSql.sql(spark,
      "SELECT count(*) AS n FROM part WHERE p_name NOT SIMILAR TO '%(car|dog)%'")
      .collect()(0).getLong(0)
    val total = spark.sql("SELECT count(*) FROM part").collect()(0).getLong(0)
    assert(n + not == total)
  }

  test("JSON_VALUE behaviors lower to the strict/lax CASE form") {
    val r = GraftSql.sql(spark,
      """SELECT
        JSON_VALUE('{"a": 5}', '$.a') AS v,
        JSON_VALUE('{"a": 5}', '$.b' DEFAULT 'dflt' ON EMPTY) AS d,
        JSON_VALUE('not json', '$.a') AS lax_err,
        JSON_VALUE(CAST(NULL AS STRING), '$.a' ERROR ON ERROR) AS null_in""").collect()(0)
    assert(r.getString(0) == "5")
    assert(r.getString(1) == "dflt")
    assert(r.isNullAt(2))
    assert(r.isNullAt(3)) // NULL input is not an error
    val e = intercept[Exception] {
      GraftSql.sql(spark,
        "SELECT JSON_VALUE('broken {', '$.a' ERROR ON ERROR) AS v").collect()
    }
    assert(e.getMessage != null)
  }

  test("JSON_VALUE and JSON_EXISTS read a doubled quote as part of the path") {
    // `$.a` and `$.a'b` name different members of the one document
    import spark.implicits._
    Seq("""{"a": "1", "a'b": "2"}""").toDF("d").createOrReplaceTempView("json_quote")
    val r = GraftSql.sql(spark, """SELECT JSON_VALUE(d, '$.a''b') AS v,
      JSON_EXISTS(d, '$.a''b') AS hit, JSON_EXISTS(d, '$.a''c') AS miss FROM json_quote""")
      .collect()(0)
    assert((r.getString(0), r.getBoolean(1), r.getBoolean(2)) == (("2", true, false)))
  }

  test("DDL: CREATE/DROP SEQUENCE route to the catalog, table DDL passes through") {
    GraftSql.sql(spark, "CREATE SEQUENCE sq_ddl START WITH 10 INCREMENT BY 2")
    try {
      assert(graft.functions.Sequences.currentValue("sq_ddl") == 10L)
      import spark.implicits._
      val ids = graft.functions.Sequences
        .withSequence((1 to 3).toDF("x"), "sq_ddl", "id")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(10L, 12L, 14L))
    } finally GraftSql.sql(spark, "DROP SEQUENCE sq_ddl")
    // spark-native DDL flows through unchanged
    GraftSql.sql(spark, "CREATE OR REPLACE TEMP VIEW ddl_v AS SELECT 1 AS one")
    assert(GraftSql.sql(spark, "SELECT one FROM ddl_v").collect()(0).getInt(0) == 1)
    GraftSql.sql(spark, "DROP VIEW ddl_v")
  }

  test("NEXT VALUE FOR in a select list appends the sequence column") {
    GraftSql.sql(spark, "CREATE SEQUENCE sq_sel START WITH 100")
    try {
      init()
      val out = GraftSql.sql(spark,
        "SELECT NEXT VALUE FOR sq_sel AS id, n_name FROM nation ORDER BY n_name")
      val rows = out.select("id", "n_name").collect()
      assert(rows.length == 25)
      assert(rows.map(_.getLong(0)).sorted.toSeq == (100L to 124L))
      // second statement continues the sequence
      val out2 = GraftSql.sql(spark,
        "SELECT n_name, NEXT VALUE FOR sq_sel AS id FROM nation")
      assert(out2.select("id").collect().map(_.getLong(0)).min == 125L)
    } finally GraftSql.sql(spark, "DROP SEQUENCE sq_sel")
  }

  test("SELECT * REPLACE lowers to * EXCEPT + aliased expressions (big-query surface)") {
    init()
    val got = GraftSql.sql(spark, """
      SELECT * REPLACE (o_totalprice * 2 AS o_totalprice) FROM orders
      WHERE o_orderkey = 1""").collect()(0)
    val cols = GraftSql.sql(spark,
      "SELECT * REPLACE (o_totalprice * 2 AS o_totalprice) FROM orders WHERE o_orderkey = 1").columns
    val base = spark.sql("SELECT * FROM orders WHERE o_orderkey = 1").collect()(0)
    assert(cols.toSet == spark.table("orders").columns.toSet) // same column set
    val gotPrice = got.getDouble(cols.indexOf("o_totalprice"))
    val basePrice = base.getDouble(spark.table("orders").columns.indexOf("o_totalprice"))
    assert(gotPrice == basePrice * 2)
    // two replacements at once
    val two = GraftSql.sql(spark, """
      SELECT * REPLACE (o_totalprice * 2 AS o_totalprice, upper(o_orderstatus) AS o_orderstatus)
      FROM orders WHERE o_orderkey = 1""").collect()(0)
    assert(two.schema.fieldNames.toSet == spark.table("orders").columns.toSet)
  }

  test("CAST ... FORMAT lowers to format-model parse/render (cast-with-format.iq)") {
    init()
    // string → timestamp with a reordered Oracle model
    val ts = GraftSql.sql(spark,
      "SELECT CAST('12-2010-05' AS TIMESTAMP FORMAT 'DD-YYYY-MM') AS t").collect()(0)
    assert(ts.getAs[java.time.LocalDateTime](0).toString.startsWith("2010-05-12T00:00"))
    // punctuation separators pass through
    val d = GraftSql.sql(spark,
      "SELECT CAST('2017/06/01' AS DATE FORMAT 'YYYY/MM/DD') AS d").collect()(0)
    assert(d.getDate(0).toString == "2017-06-01")
    // temporal → character renders with the model
    val sv = GraftSql.sql(spark,
      "SELECT CAST(DATE'2017-05-01' AS VARCHAR FORMAT 'DD-MM-YYYY') AS s").collect()(0)
    assert(sv.getString(0) == "01-05-2017")
    // plain CAST is untouched
    assert(GraftSql.sql(spark, "SELECT CAST('5' AS INT) AS v").collect()(0).getInt(0) == 5)
    // a doubled quote in the model leaves the rest of the statement to later passes
    val after = GraftSql.rewrite(
      "SELECT CAST(d AS VARCHAR FORMAT 'YYYY''') AS a, JSON_VALUE(j, '$.a') AS b FROM t")
    assert(!after.contains("JSON_VALUE"), after)
  }

  test("OFFSET/FETCH FIRST and FROM DUAL lower to LIMIT/OFFSET and FROM-less selects") {
    init()
    val rows = GraftSql.sql(spark, """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey
      OFFSET 5 ROWS FETCH FIRST 3 ROWS ONLY""").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(5L, 6L, 7L))
    val one = GraftSql.sql(spark, """
      SELECT o_orderkey FROM orders ORDER BY o_orderkey
      FETCH NEXT 1 ROW ONLY""").collect()(0).getLong(0)
    assert(one == 0L)
    assert(GraftSql.sql(spark, "SELECT 1 + 1 AS v FROM DUAL").collect()(0).getInt(0) == 2)
  }

  test("rewriter leaves quoted strings and subqueries alone") {
    assert(GraftSql.rewrite("SELECT ' QUALIFY x ' AS s") == "SELECT ' QUALIFY x ' AS s")
    assert(GraftSql.rewrite("SELECT (SELECT 1 LIMIT 1) AS s") == "SELECT (SELECT 1 LIMIT 1) AS s")
  }

  test("adversarial literals: keywords inside strings never trigger a rewrite") {
    // every rewrite keyword, as literal content — all must pass through
    for (lit <- Seq(
        "FETCH FIRST 3 ROWS ONLY", "OFFSET 4 ROWS", "FROM DUAL",
        "SAFE_CAST(x AS INT)", "a SIMILAR TO ''b''",
        "TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR))",
        "* REPLACE (1 AS x)", "FROM t EXTEND (c INT)")) {
      val q = s"SELECT '$lit' AS s"
      assert(GraftSql.rewrite(q) == q, s"literal rewritten: $lit")
    }
    // end-to-end: the literal survives execution verbatim
    val v = GraftSql.sql(spark, "SELECT 'NEXT VALUE FOR seq AS x' AS s")
      .collect()(0).getString(0)
    assert(v == "NEXT VALUE FOR seq AS x")
  }

  test("comments are stripped string-aware; keywords in comments are inert") {
    init()
    // NEXT VALUE FOR inside a comment must not append a sequence column
    val df = GraftSql.sql(spark,
      "SELECT r_regionkey FROM region -- NEXT VALUE FOR seq AS x\nORDER BY 1")
    assert(df.columns.toSeq == Seq("r_regionkey"))
    // block comment holding QUALIFY
    val df2 = GraftSql.sql(spark,
      "SELECT r_regionkey /* QUALIFY row_number() over () = 1 */ FROM region")
    assert(df2.count() == 5)
    // a dash-dash INSIDE a literal is content, not a comment
    assert(GraftSql.stripComments("SELECT '--not a comment' AS s") ==
      "SELECT '--not a comment' AS s")
  }

  test("T-SQL SELECT TOP n lowers to LIMIT; TOP inside a literal is inert") {
    init()
    val got = GraftSql.sql(spark,
      "SELECT TOP 3 r_regionkey FROM region ORDER BY r_regionkey DESC")
      .collect().map(_.get(0).toString.toLong).toSeq
    assert(got == Seq(4L, 3L, 2L))
    assert(GraftSql.rewrite("SELECT 'TOP 3' AS s") == "SELECT 'TOP 3' AS s")
    // trailing semicolon: the LIMIT must land BEFORE it, not after
    val withSemi = GraftSql.sql(spark,
      "SELECT TOP 2 r_regionkey FROM region ORDER BY r_regionkey;")
      .collect().map(_.get(0).toString.toLong).toSeq
    assert(withSemi == Seq(0L, 1L))
    // top-level set operator: T-SQL binds TOP to its own branch — the
    // lowering must NOT limit the whole union (passes through unchanged)
    val unionSql = "SELECT TOP 3 r_regionkey FROM region UNION ALL SELECT r_regionkey FROM region"
    assert(GraftSql.rewrite(unionSql) == unionSql)
    // a parenthesized (subquery) UNION is fine — only depth-0 blocks it
    assert(GraftSql.rewrite(
      "SELECT TOP 1 x FROM (SELECT 1 AS x UNION ALL SELECT 2) t")
      .endsWith("LIMIT 1"))
  }

  test("nested bracketed comments and backtick identifiers survive the lexer") {
    // Spark allows NESTED /* /* */ */ comments — depth must be tracked
    assert(GraftSql.stripComments("SELECT /* a /* b */ c */ 1 AS x") ==
      "SELECT   1 AS x")
    // dash-dash inside a backtick-quoted identifier is content
    val tick = "SELECT 1 AS `weird--name`"
    assert(GraftSql.stripComments(tick) == tick)
    // keywords inside backtick identifiers must not fire rewrites
    val qualifyTick = "SELECT 1 AS `has QUALIFY inside`"
    assert(GraftSql.rewrite(qualifyTick) == qualifyTick)
  }

  test("quoted and bracketed text keeps its structure") {
    // (a) a comma inside ARRAY[...] does not split a FILTER'd window call
    val a = GraftSql.sql(spark,
      "SELECT collect_list(ARRAY[a, b]) FILTER (WHERE a > 0) OVER () AS l " +
        "FROM VALUES (1, 2), (0, 3) AS t(a, b)").collect()
    assert(a.length == 2)
    a.foreach(r => assert(r.getSeq[Seq[Int]](0) == Seq(Seq(1, 2)), r))
    // (b) a paren inside a literal does not end a window TVF argument
    def tumble(lit: String) = GraftSql.rewriteWindowTvf(
      s"SELECT * FROM TABLE(TUMBLE((SELECT * FROM ev WHERE s <> $lit), " +
        "DESCRIPTOR(ts), INTERVAL '1' HOUR))")
    val control = tumble("'x'")
    assert(tumble("'('") == control.replace("'x'", "'('"))
    assert(control.contains("'3600000 milliseconds'"), control)
    // (c) a paren inside a backtick identifier does not end a call
    def jsonValue(col: String) = GraftSql.sql(spark,
      s"""SELECT JSON_VALUE($col, '$$.a') AS v FROM VALUES ('{"a":"7"}') AS t($col)""")
      .collect().map(_.getString(0)).toSeq
    assert(jsonValue("dx") == Seq("7"))
    assert(jsonValue("`d)x`") == Seq("7"))
  }

  test("a backslash-escaped quote stays inside its literal for the mask") {
    def safeCast(lit: String) =
      GraftSql.rewrite(s"SELECT $lit AS a, SAFE_CAST(x AS INT) AS b FROM t")
    assert(safeCast("'ok'") == "SELECT 'ok' AS a, TRY_CAST(x AS INT) AS b FROM t")
    assert(safeCast("'it\\'s'") == "SELECT 'it\\'s' AS a, TRY_CAST(x AS INT) AS b FROM t")
  }

  test("comment stripping keeps a backslash-escaped quote inside its literal") {
    val q = "SELECT 'it\\'s -- not a comment' AS a, 1 AS b"
    assert(GraftSql.stripComments(q) == q)
    assert(GraftSql.stripComments("SELECT 'it\\'s' AS a -- gone\n, 1 AS b") ==
      "SELECT 'it\\'s' AS a  \n, 1 AS b")
  }

  test("EXCLUDE-frame lowering keeps a select alias that ends in _from") {
    // `_` is a word character: the alias `s_from` holds no FROM keyword
    val sql = "SELECT empno, sum(sal) OVER (PARTITION BY deptno ORDER BY empno " +
      "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s_from " +
      "FROM emp ORDER BY empno"
    val out = GraftSql.rewrite(sql)
    assert(out != sql && !out.contains("FROM FROM"), out)
    assert(out.replace("AS s_from", "AS s") ==
      GraftSql.rewrite(sql.replace("AS s_from", "AS s")), out)
  }

  test("BigQuery SAFE_ arithmetic family lowers to TRY_ builtins") {
    val r = GraftSql.sql(spark, """
      SELECT SAFE_DIVIDE(1, 0) AS d, SAFE_ADD(9223372036854775807, 1) AS a,
             SAFE_MULTIPLY(9223372036854775807, 2) AS m,
             SAFE_SUBTRACT(-9223372036854775808, 1) AS s,
             SAFE_DIVIDE(10, 4) AS ok""").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    assert(r.getDouble(4) == 2.5)
  }

  test("window TVF: HOP swaps Calcite (slide, size) into Spark (size, slide)") {
    val out = GraftSql.rewriteWindowTvf(
      "SELECT * FROM TABLE(HOP(TABLE ev, DESCRIPTOR(ts), INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))")
    // Spark's window(col, size, slide): 10-minute windows every 5 minutes
    assert(out.contains("window(ts, '600000 milliseconds', '300000 milliseconds'"), out)
  }

  test("window TVF: SESSION lowers to keyed sessionization; non-TVF text passes through") {
    val out = GraftSql.rewriteWindowTvf(
      "SELECT * FROM TABLE(SESSION(TABLE ev, DESCRIPTOR(ts), DESCRIPTOR(k), INTERVAL '5' MINUTE))")
    assert(out.contains("PARTITION BY k"), out)
    assert(out.contains("window_start") && out.contains("window_end"), out)
    val plain = "SELECT window_start FROM somewhere"
    assert(GraftSql.rewriteWindowTvf(plain) == plain)
  }

  test("window TVF: named arguments and alignment offset") {
    val out = GraftSql.rewriteWindowTvf(
      "SELECT * FROM TABLE(TUMBLE(DATA => TABLE ev, TIMECOL => DESCRIPTOR(ts), " +
        "SIZE => INTERVAL '10' MINUTE, OFFSET => INTERVAL '3' MINUTE))")
    assert(out.contains("window(ts, '600000 milliseconds', '600000 milliseconds', '180000 milliseconds')"), out)
    // compound interval: MINUTE TO SECOND
    val c = GraftSql.rewriteWindowTvf(
      "SELECT * FROM TABLE(TUMBLE(TABLE ev, DESCRIPTOR(ts), INTERVAL '20:10.525' MINUTE TO SECOND))")
    assert(c.contains("'1210525 milliseconds'"), c)
  }
}
