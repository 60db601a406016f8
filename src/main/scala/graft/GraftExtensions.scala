package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's SparkSessionExtensions entry point (ref: SURVEY §7.0
  * layer 5 — "custom Rule[LogicalPlan] + SparkStrategy via
  * spark.extensions"): deployments set
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * and every session they build runs [[GraftSession.install]] when its
  * analyzer is built, before its first query plans. That is the same
  * install point embedded and test sessions reach through
  * [[GraftSession.local]], the table loader and the engine's APIs, so a
  * cluster deployment plans with the same ordered rule list, in the same
  * optimizer batch, as every other session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectCheckRule { session =>
      // the hook that hands over the session itself, once per session
      GraftSession.install(session)
      _ => ()
    }
}
