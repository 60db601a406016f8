package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sql.{GraftSql, MeasureSql, TypesSql}
import scala.jdk.CollectionConverters._

/** The front end's golden corpus: every text the tier-1 suites send
  * through `GraftSql.rewrite`, plus seeded texts for the passes and
  * splice sites those texts do not reach, each with the output the
  * rewrite gives (`src/test/resources/frontend-golden.jsonl`, one JSON
  * object per line). A line holds `in` and either `out` or `error` (the
  * exception's class and message); `types` lists the CREATE TYPE
  * statements registered before the replay, and `stage: "measure"`
  * replays through `MeasureSql.maybeRewrite` instead of `rewrite`.
  *
  * Any change to a golden output is a test change: regenerate the line
  * and say why. */
class FrontEndGoldenSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private case class Golden(in: String, expected: String, types: Seq[String], measure: Boolean)

  private lazy val corpus: Seq[Golden] = {
    val om = new ObjectMapper()
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/frontend-golden.jsonl"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val n = om.readTree(line)
      def text(k: String) = Option(n.get(k)).map(_.asText)
      Golden(n.get("in").asText,
        text("out").getOrElse("!" + text("error").get),
        Option(n.get("types")).map(_.elements.asScala.map((t: JsonNode) => t.asText).toSeq).getOrElse(Nil),
        text("stage").contains("measure"))
    }.toVector finally src.close()
  }

  override def afterAll(): Unit = try TypesSql.clearRegistry() finally super.afterAll()

  /** `f` applied to `g`'s input with exactly its types registered; an
    * exception reads as `!` + its class and message. */
  private def replay(g: Golden)(f: String => String): String = {
    TypesSql.clearRegistry()
    g.types.foreach(TypesSql.maybeRun(spark, _))
    try f(g.in)
    catch { case e: Exception => s"!${e.getClass.getName}: ${e.getMessage}" }
  }

  test("every golden text rewrites to its recorded output") {
    assert(corpus.size > 217)
    val wrong = corpus.zipWithIndex.flatMap { case (g, i) =>
      val got = replay(g)(s => if (g.measure) MeasureSql.maybeRewrite(spark, s) else GraftSql.rewrite(s))
      if (got == g.expected) None
      else Some(s"line ${i + 1}: ${g.in.take(120)}\n  expected: ${g.expected.take(400)}\n  got:      ${got.take(400)}")
    }
    assert(wrong.isEmpty, s"${wrong.size} golden outputs differ:\n" + wrong.take(5).mkString("\n"))
  }

  test("every front-end pass changes at least one golden text") {
    val fired = scala.collection.mutable.Set.empty[String]
    for (g <- corpus if !g.measure)
      replay(g) { in =>
        GraftSql.passes.foldLeft(in) { case (s, (name, pass)) =>
          val next = pass(s)
          if (next != s) fired += name
          next
        }
      }
    val silent = GraftSql.passes.map(_._1).filterNot(fired)
    assert(silent.isEmpty, s"passes that change no golden text: ${silent.mkString(", ")}")
  }
}
