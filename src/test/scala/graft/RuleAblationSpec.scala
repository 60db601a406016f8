package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

/** Rules on ≡ rules off, one graft rule at a time (the per-rule
  * ablation of the Synapse optimizer paper, PAPERS.md). Each declared
  * path is built once at sf0.01 on empty registries; its analyzed plan
  * is optimized with every rule on, then once per graft rule with that
  * rule in Spark's own `spark.sql.optimizer.excludedRules`. Plans
  * compare with ids masked, as in `ExtensionsSpec` (c). Where excluding
  * a rule changes the plan, both plans run and their rows must be equal
  * as multisets; a rule that changes no path's plan is dead code.
  *
  * The changed (path, rule) pairs are written to `target/ABLATION.md`;
  * the repository's `ABLATION.md` is a copy of it. */
class RuleAblationSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.01"

  // the sweep registers tiles and declares constraints and stats in the
  // JVM-global registries; leave them empty for later suites
  override def afterAll(): Unit =
    try GraftSession.clearRegistries() finally super.afterAll()

  /** One (path, rule) pair whose plan changes when the rule is off. */
  private case class Change(path: String, rule: String, rowsEqual: Boolean, rows: Long)

  private def shortName(rule: String) = rule.split("[.$]").last

  /** `body` with `rule` (if any) in Spark's excluded-rules conf. */
  private def excluding[A](rule: Option[String])(body: => A): A = {
    val key = SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    rule.foreach(spark.conf.set(key, _))
    try body finally spark.conf.unset(key)
  }

  /** A fresh DataFrame over `analyzed`, optimized with `rule` off. */
  private def optimized(analyzed: LogicalPlan, rule: Option[String]): (DataFrame, String) =
    excluding(rule) {
      val df = GraftSqlBridge.ofRows(spark, analyzed)
      (df, SparkSpec.maskedPlan(df.queryExecution.optimizedPlan))
    }

  /** A value as text that is equal exactly when the values are equal
    * (byte arrays and nested rows included; map entries sorted). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.mkString("0x[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** The rows of `df`, run with `rule` off, as a sorted multiset. */
  private def rows(df: DataFrame, rule: Option[String]): Seq[String] =
    excluding(rule)(df.collect().toSeq.map(canon).sorted)

  private val rules = GraftSession.rules.map(_.ruleName)

  /** The sweep's findings: the changed pairs, the paths whose rules-on
    * plan is not the same twice running (they would make every rule
    * look live), and its wall time. */
  private case class Sweep(changes: Seq[Change], unstable: Seq[String], wallS: Double)

  private lazy val sweep: Sweep = {
    val t0 = System.nanoTime()
    val unstable = Seq.newBuilder[String]
    val changes = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      GraftSession.clearRegistries()
      val analyzed = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      val (on, onPlan) = optimized(analyzed, None)
      val onTokens = SparkSpec.planTokens(onPlan)
      if (SparkSpec.planTokens(optimized(analyzed, None)._2) != onTokens) unstable += name
      lazy val onRows = rows(on, None)
      rules.flatMap { rule =>
        val (off, offPlan) = optimized(analyzed, Some(rule))
        if (SparkSpec.planTokens(offPlan) == onTokens) None
        else Some(Change(name, shortName(rule), rows(off, Some(rule)) == onRows, onRows.size))
      }
    }
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target", "ABLATION.md"), table(changes).getBytes(UTF_8))
    Sweep(changes, unstable.result(), (System.nanoTime() - t0) / 1e9)
  }

  private def table(changes: Seq[Change]): String = {
    val head =
      s"""# Rule ablation
         |
         |Written by `RuleAblationSpec` (tier-1) to `target/ABLATION.md`; this
         |file is a copy. Each of the ${SparkEntry.queries.size} declared paths is built once at
         |sf0.01 on empty registries. Its analyzed plan is optimized with every
         |graft rule on, then once per rule with that rule in Spark's
         |`spark.sql.optimizer.excludedRules`. One row per (path, rule) pair
         |whose plan changes when the rule is off. Both plans ran; "rows equal"
         |compares their rows as multisets, and "rows" is the rules-on count.
         |
         || path | rule | plan changed | rows equal | rows |
         || --- | --- | --- | --- | --- |
         |""".stripMargin
    head + changes.map { c =>
      s"| ${c.path} | ${c.rule} | yes | ${if (c.rowsEqual) "yes" else "NO"} | ${c.rows} |\n"
    }.mkString
  }

  test("every path's rules-on plan is the same twice running") {
    assert(sweep.unstable.isEmpty, s"unstable plans: ${sweep.unstable.mkString(", ")}")
  }

  test("every graft rule changes at least one path's plan") {
    info(f"${sweep.changes.size} changed (path, rule) pairs in ${sweep.wallS}%.0f s")
    val dead = rules.map(shortName).filterNot(r => sweep.changes.exists(_.rule == r))
    assert(dead.isEmpty, s"rules that change no path's plan: ${dead.mkString(", ")}")
  }

  test("rows are equal on every (path, rule) pair whose plan changes") {
    val wrong = sweep.changes.filterNot(_.rowsEqual)
    assert(wrong.isEmpty, wrong.map(c => s"${c.path} without ${c.rule}").mkString("\n"))
  }
}
