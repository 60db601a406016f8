package graft

import org.apache.spark.sql.SparkSession

import graft.catalog.{Constraints, Statistics}
import graft.plans.MaterializedViews

/** Spine parity: one ordered rule list, installed one way. Every engine
  * entry point leaves a session with exactly [[GraftSession.rules]], and
  * a session built through `spark.sql.extensions=graft.GraftExtensions`
  * ends with the same list and plans every declared path like the
  * embedded session.
  */
class ExtensionsSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // the corpus sweep registers tiles and declares constraints and stats
  // in the JVM-global registries; leave them empty for later suites
  override def afterAll(): Unit = {
    try {
      MaterializedViews.clear()
      Constraints.clear()
      Statistics.clear()
    } finally super.afterAll()
  }

  private def ruleNames(s: SparkSession) =
    s.experimental.extraOptimizations.map(_.ruleName)

  test("(a) the rule list holds the 7 graft rules, each once") {
    val names = GraftSession.rules.map(_.ruleName)
    assert(names.size == 7 && names.distinct == names, names)
  }

  test("(b) every engine entry point leaves the installed rule list as it is") {
    GraftSession.install(spark)
    val want = GraftSession.rules
    assert(spark.experimental.extraOptimizations == want)

    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spine").toString
    val fact = s"$root/fact"
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "tag", "amt")
      .write.parquet(fact)
    try {
      MaterializedViews.register(spark, "spine_t", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.persistTile(spark, "spine_t", s"$root/lat"): Unit
      MaterializedViews.adoptTiles(spark, s"$root/lat"): Unit
      Constraints.declareUniqueKey(spark, fact, Seq("id"))
      Statistics.declare(spark, fact, 2L, Map("tag" -> 2L))
      graft.sql.GraftSql.sql(spark, "SELECT 1 AS one").collect()
    } finally MaterializedViews.drop(spark, "spine_t")
    assert(spark.experimental.extraOptimizations == want,
      s"${ruleNames(spark)} != ${want.map(_.ruleName)}")
  }

  /** A second session on the shared context, built the cluster way. The
    * default and active sessions are cleared so the builder makes a new
    * session rather than returning the shared one, and restored after.
    * It starts from the embedded session's runtime SQL conf, so the
    * install path is the only difference between the two. */
  private lazy val extSession: SparkSession = {
    val (default, active) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        default.foreach(SparkSession.setDefaultSession)
        active.foreach(SparkSession.setActiveSession)
      }
    assert(s ne spark, "the builder returned the embedded session")
    spark.conf.getAll.foreach { case (k, v) => if (s.conf.isModifiable(k)) s.conf.set(k, v) }
    s
  }

  test("(c) a session built through GraftExtensions ends with the same rule list") {
    extSession.range(1).queryExecution.analyzed // builds the analyzer: the hook runs
    assert(extSession.experimental.extraOptimizations == GraftSession.rules,
      ruleNames(extSession))
  }

  test("(c) a session built through GraftExtensions plans every declared path alike") {
    def plan(s: SparkSession, name: String): String =
      SparkSpec.maskedPlan(SparkEntry.queries(name)(s, sfDir).queryExecution.optimizedPlan)
    val diffs = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      plan(spark, name) // register-once side effects land before either plan
      val (embedded, ext) = (plan(spark, name), plan(extSession, name))
      if (SparkSpec.planTokens(embedded) == SparkSpec.planTokens(ext)) None
      else Some(s"$name:\n--- embedded\n$embedded\n--- extensions\n$ext")
    }
    assert(diffs.isEmpty, s"${diffs.size} paths plan differently:\n${diffs.mkString("\n")}")
  }
}
