package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.GraftFunctions
import graft.plans._

/** The engine spine: the one ordered list of graft optimizer rules, the
  * one idempotent install point that puts it (and the function
  * registry) into a session, and the one local-session builder every
  * main and spec uses.
  *
  * Every path into the engine reaches [[install]]: [[local]], the table
  * loader `T.apply`, `GraftSql.sql`, `StreamSql.sql`, MV registration
  * and adoption, constraint and statistics declarations, and the
  * `spark.sql.extensions=graft.GraftExtensions` hook. So a
  * session plans with the same rules in the same order whichever path
  * touched it first (ref: the single `setup(session)` injection point
  * of Pathling's `SqlStrategy`).
  */
object GraftSession {

  /** The 7 graft rules, in the order Spark's "User Provided Optimizers"
    * batch runs them. The semi-join rewrite precedes eager aggregation,
    * a strictly better plan for the same multiplicity-insensitive
    * shape. The order is not cosmetic: reversing the list changes
    * q164's plan. Each rule changes at least one declared path's plan
    * and no path's rows (`RuleAblationSpec`). ASOF JOIN has no rule:
    * `AsofJoin.leftAsof` (DataFrame) and `AsofSql` (SQL text) lower it
    * to built-in operators before the optimizer runs. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    MaterializedViews.MvRewrite, FkJoinElimination,
    UniqueKeyAggregateRemove, SemiJoinRewrite, EagerAggregation,
    AggregateUnionTranspose, OrJoinToUnion)

  /** Sessions already set up; weak, so a dropped session is not kept. */
  private val installed = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Put [[rules]] into the session's optimizer and register the
    * function surface, once per session. A rule of the same name already
    * there (a session cloned from an installed one) is replaced, and
    * any other user rule is kept ahead of the graft rules. */
  def install(spark: SparkSession): Unit = installed.synchronized {
    if (!installed.containsKey(spark)) {
      val names = rules.map(_.ruleName).toSet
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(r => names(r.ruleName)) ++ rules
      GraftFunctions.registerAll(spark)
      installed.put(spark, true)
    }
  }

  /** Empty the JVM-global MV, constraint and statistics registries, so
    * the next path a main builds plans alone: never answered by a tile,
    * or rewritten by a constraint, that an earlier path left behind. */
  def clearRegistries(): Unit = {
    MaterializedViews.clear()
    graft.catalog.Constraints.clear()
    graft.catalog.Statistics.clear()
  }

  /** The local session of the mains and specs: `SPARK_GRAFT_CPUS` cores
    * (default: every available processor), as many shuffle partitions,
    * UTC, no UI, ERROR logging, and the graft rules and functions
    * installed. Other Spark settings come from `spark.*` system
    * properties (SparkConf reads them), e.g.
    * `-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev`. */
  def local(app: String): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    install(spark)
    spark
  }
}
