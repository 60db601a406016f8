package graft

import graft.plans.MaterializedViews
import org.apache.spark.sql.functions._

/** Child program for RestartAdoptSpec: each phase runs in its OWN JVM,
  * so "adopt" exercises a genuine driver restart — fresh SparkContext,
  * fresh CacheManager, fresh JVM-global registries — not a newSession
  * analog. Exits non-zero on any violated expectation. */
object RestartAdoptChild {

  def main(args: Array[String]): Unit = {
    val Array(phase, fact, lat) = args
    val spark = GraftSession.local("graft-restart-child")
    try phase match {
      case "persist" =>
        import spark.implicits._
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
          .toDF("id", "tag", "amt").write.mode("overwrite").parquet(fact)
        MaterializedViews.register(spark, "restart_t",
          spark.read.parquet(fact), keys = Seq("tag"), sums = Seq("amt"))
        MaterializedViews.persistTile(spark, "restart_t", lat): Unit
        // a clean shutdown releases, never deletes, the durable home
        MaterializedViews.release(spark, "restart_t")

      case "adopt" =>
        val adopted = MaterializedViews.adoptTiles(spark, lat)
        require(adopted == Seq("restart_t"), s"adopted $adopted")
        val q = spark.read.parquet(fact).groupBy("tag")
          .agg(sum("amt").as("t")).orderBy("tag")
        val plan = q.queryExecution.optimizedPlan
        require(plan.toString.contains("InMemoryRelation"),
          s"rollup must ride the adopted tile:\n$plan")
        require(plan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
        }.isEmpty, s"fact must not be rescanned:\n$plan")
        val got = q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        require(got == Seq(("a", 40.0), ("b", 20.0)), s"got $got")

      case other => sys.error(s"unknown phase $other")
    } finally spark.stop()
  }
}
