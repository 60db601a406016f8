package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dev-only plan capture: write `.explain("formatted")` of the plan that
  * ran for the named `SparkEntry.queries` (the Bench headline set if no
  * names given) to `<outDir>/<query>_<tag>.txt`, one file per query,
  * using the Bench session so the captured plan is the benched plan.
  * The data comes from `$SPARK_GRAFT_SF_DIR` (default sf0.1). Usage:
  *   sbt "runMain graft.ExplainDump plans/r15 before q01_pricing_summary ..."
  */
object ExplainDump {

  /** The query as the bench runs it, executed, so its AQE plan is final
    * (isFinalPlan=true): runtime exchange/stage reuse, AQE join
    * downgrades and coalesced reads only appear post-execution. Built
    * twice: queries with register-once MV/constraint side effects
    * (q148/q150/q159/q160/...) show their HIT plan only on the second
    * build — the plan the timed bench runs actually execute. The
    * JVM-global registries are cleared first, so each path is described
    * alone. */
  def executed(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftSession.clearRegistries()
    SparkEntry.queries(name)(spark, sfDir)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.foreach(_ => ())
    df
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val tag = if (args.length > 1) args(1) else "before"
    val names = if (args.length > 2) args.drop(2).toSeq else Bench.headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-explain")
    new File(outDir).mkdirs()
    for (name <- names) {
      try {
        val txt = executed(spark, sfDir, name).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val pw = new PrintWriter(new File(outDir, s"${name}_$tag.txt"))
        try pw.write(txt) finally pw.close()
        println(s"[explain] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
