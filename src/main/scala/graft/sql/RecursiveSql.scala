package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import SqlText.{closeOf, mask}

/** SQL surface for UNION-DISTINCT recursive CTEs: Spark's native
  * recursive CTE (4.1) only accepts UNION ALL
  * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), but the reference runs the
  * distinct form, whose termination depends on dedup — a cycle's
  * revisited rows must not re-enter the working table
  * (recursive_queries.iq:310/337, rel/core/RepeatUnion all=false).
  *
  * `WITH RECURSIVE name(cols) AS (seed UNION step) main` executes via
  * plans/RecursiveUnion.repeatUnionDistinct — the semi-naive fixpoint,
  * each step a distributed job — with `name` registered as a temp view
  * for the step and the main query. Triggered from GraftSql only after
  * Spark rejects the statement, so the native ALL path is untouched.
  */
object RecursiveSql {

  def applicable(e: Throwable): Boolean =
    Option(e.getMessage).getOrElse("").contains("UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE")

  def apply(spark: SparkSession, sql: String): Option[DataFrame] =
    try run(spark, sql)
    catch { case scala.util.control.NonFatal(_) => None }

  private def run(spark: SparkSession, sql: String): Option[DataFrame] = {
    val masked = mask(sql)
    val head = ("(?is)^\\s*WITH\\s+RECURSIVE\\s+([A-Za-z_]\\w*)\\s*" +
      "\\(([^)]*)\\)\\s+AS\\s*\\(").r.findFirstMatchIn(masked).getOrElse(return None)
    val name = head.group(1)
    val cols = head.group(2).split(",").map(_.trim).toSeq
    val bodyOpen = sql.lastIndexOf('(', head.end - 1)
    val bodyClose = closeOf(masked, bodyOpen)
    if (bodyClose < 0) return None
    // single recursive CTE only — a following comma starts another CTE
    val afterBody = masked.substring(bodyClose + 1)
    if ("^\\s*,".r.findFirstIn(afterBody).isDefined) return None
    val main = sql.substring(bodyClose + 1).trim
    if (!main.toUpperCase(java.util.Locale.ROOT).startsWith("SELECT")) return None

    // top-level UNION (not ALL) splits seed | step
    val body = sql.substring(bodyOpen + 1, bodyClose)
    val bodyM = masked.substring(bodyOpen + 1, bodyClose)
    val um = "(?is)\\bUNION\\b(?!\\s+ALL)".r.findAllMatchIn(bodyM).find { u =>
      val pre = bodyM.substring(0, u.start)
      pre.count(_ == '(') == pre.count(_ == ')')
    }.getOrElse(return None)
    val seedSql = body.substring(0, um.start).trim
    val stepSql = body.substring(um.end).trim

    // the CTE name must not permanently shadow a same-named session
    // temp view (or linger, shadowing a catalog table): capture any
    // prior temp view, and restore/drop after the main query ANALYZES
    // (analysis inlines the view's plan, so the DataFrame stays valid)
    val priorTemp =
      try {
        if (spark.catalog.tableExists(name) &&
          spark.catalog.getTable(name).isTemporary) Some(spark.table(name))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    try {
      val seed = spark.sql(seedSql).toDF(cols: _*)
      // failOnLimit: SQL WITH RECURSIVE has no user-specified bound —
      // the limit is an implicit safety cap, so hitting it must error
      // rather than silently truncate (unlike DSL repeatUnion(limit=n))
      val acc = graft.plans.RecursiveUnion.repeatUnionDistinct(
        seed,
        delta => {
          delta.createOrReplaceTempView(name)
          spark.sql(stepSql).toDF(cols: _*)
        },
        failOnLimit = true)
      acc.createOrReplaceTempView(name)
      Some(spark.sql(main))
    } finally priorTemp match {
      case Some(df) => df.createOrReplaceTempView(name)
      case None => spark.catalog.dropTempView(name): Unit
    }
  }
}
