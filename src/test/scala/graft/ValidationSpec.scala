package graft

import graft.sql.GraftSql

/** Validator error contract — the reference treats its error messages as
  * a product feature (CalciteResource.properties, newValidationError in
  * SqlValidatorImpl.java; .iq corpora assert exact text). validate()
  * maps Spark's analysis conditions onto that contract. */
class ValidationSpec extends SparkSpec {

  private def init(): Unit = T.registerViews(spark, sfDir)

  test("a valid statement produces no diagnostics") {
    init()
    assert(GraftSql.validate(spark, "SELECT r_regionkey FROM region").isEmpty)
  }

  test("unknown table: Object 'x' not found") {
    val errs = GraftSql.validate(spark, "SELECT * FROM no_such_table")
    assert(errs.length == 1)
    assert(errs.head.message == "Object 'no_such_table' not found", errs.head)
    assert(errs.head.errorClass.startsWith("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("unknown column: Column 'x' not found in any table (+ suggestion)") {
    init()
    val errs = GraftSql.validate(spark, "SELECT r_nosuch FROM region")
    assert(errs.length == 1)
    assert(errs.head.message.startsWith("Column 'r_nosuch' not found in any table"),
      errs.head)
    // Spark offers a proposal; the reference's DidYouMean form carries it
    assert(errs.head.message.contains("did you mean"), errs.head)
  }

  test("unknown function: No match found for function signature") {
    val errs = GraftSql.validate(spark, "SELECT no_such_fn(1)")
    assert(errs.length == 1)
    assert(errs.head.message.startsWith("No match found for function signature no_such_fn"),
      errs.head)
  }

  test("ambiguous column: Column 'x' is ambiguous") {
    init()
    val errs = GraftSql.validate(spark,
      "SELECT r_name FROM region a JOIN region b ON a.r_regionkey = b.r_regionkey")
    assert(errs.length == 1)
    assert(errs.head.message == "Column 'r_name' is ambiguous", errs.head)
  }

  test("diagnostics carry a position and render in the reference's context format") {
    init()
    val errs = GraftSql.validate(spark, "SELECT r_nosuch FROM region")
    assert(errs.head.line.contains(1))
    assert(errs.head.render.startsWith("At line 1, column "), errs.head.render)
  }

  test("two independent bad select items produce TWO positioned diagnostics") {
    init()
    val errs = GraftSql.validate(spark,
      "SELECT r_bad1, r_regionkey, r_bad2 FROM region")
    assert(errs.length == 2, errs)
    assert(errs(0).message.startsWith("Column 'r_bad1' not found in any table"), errs(0))
    assert(errs(1).message.startsWith("Column 'r_bad2' not found in any table"), errs(1))
    // positions point at each item's own offset, ascending
    assert(errs(0).column.exists(c => errs(1).column.exists(_ > c)), errs)
  }

  test("a comma inside a quoted select item does not split the item") {
    spark.sql("CREATE OR REPLACE TEMP VIEW v AS SELECT 1 AS `a,b`")
    val errs = GraftSql.validate(spark, "SELECT `a,b`, nosuch FROM v")
    assert(errs.length == 1, errs)
    assert(errs.head.message.startsWith("Column 'nosuch' not found"), errs.head)
    assert(errs.head.column.contains(14), errs.head)
  }

  test("select-side and where-side errors are both reported") {
    init()
    val errs = GraftSql.validate(spark,
      "SELECT r_bad1 FROM region WHERE r_alsobad = 1")
    assert(errs.length == 2, errs)
    assert(errs.exists(_.message.startsWith("Column 'r_bad1' not found")), errs)
    assert(errs.exists(_.message.startsWith("Column 'r_alsobad' not found")), errs)
  }

  test("duplicate failures dedup to one diagnostic") {
    init()
    val errs = GraftSql.validate(spark, "SELECT r_bad1, r_bad1 FROM region")
    assert(errs.length == 1, errs)
  }

  test("table exists: Table 'x' already exists") {
    init()
    spark.sql("CREATE TABLE IF NOT EXISTS validation_probe_t (i INT)")
    try {
      val errs = GraftSql.validate(spark, "CREATE TABLE validation_probe_t (i INT)")
      assert(errs.length == 1)
      assert(errs.head.message == "Table 'validation_probe_t' already exists", errs.head)
    } finally spark.sql("DROP TABLE IF EXISTS validation_probe_t")
  }

  test("wrong argument count: Invalid number of arguments to function") {
    val errs = GraftSql.validate(spark, "SELECT substring()")
    assert(errs.length == 1)
    assert(errs.head.message.startsWith("Invalid number of arguments to function"), errs.head)
  }

  test("syntax errors surface as parse diagnostics, not exceptions") {
    val errs = GraftSql.validate(spark, "SELEC 1")
    assert(errs.length == 1)
    assert(errs.head.errorClass == "PARSE_SYNTAX_ERROR")
  }

  test("validation runs AFTER the dialect rewrites — dialect syntax validates clean") {
    init()
    assert(GraftSql.validate(spark,
      "SELECT TOP 2 r_regionkey FROM region QUALIFY ROW_NUMBER() OVER (ORDER BY r_regionkey) <= 3").isEmpty)
  }
}
