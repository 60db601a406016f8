package graft

import graft.plans.AsofJoinPlan
import org.apache.spark.sql.functions._

/** The custom AsofJoinPlan node + LowerAsofJoin rule must produce the
  * same relation as calling the lowering directly (q96 path). */
class AsofPlanSpec extends SparkSpec {

  test("custom logical node lowers to the same result as direct leftAsof") {
    val ev = T(spark, sfDir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("click_ts"), col("click_id"))

    val viaNode = AsofJoinPlan.asof(spark, purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts",
      payload = Seq("click_id"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq

    val direct = run("q96_asof_join").collect().map(_.toSeq).toSeq

    assert(viaNode.map(_.toSet) == direct.map(_.toSet))
    assert(viaNode.nonEmpty)
  }

  test("NULL field in the matched right row stays NULL (whole-row integrity)") {
    // Right rows: (t=1, a=7, b="x"), (t=2, a=NULL, b="y"). A left row at t=3
    // must match the WHOLE t=2 row: a=NULL, b="y" — not a=7 carried from t=1.
    import spark.implicits._
    val left = Seq((1L, 3L)).toDF("id", "ts")
    val right = Seq(
      (1L, 1L, Option(7L), Option("x")),
      (1L, 2L, Option.empty[Long], Option("y"))
    ).toDF("id", "rts", "a", "b")
    val out = graft.plans.AsofJoin
      .leftAsof(left, right, "id", "ts", "rts", Seq("a", "b"))
      .select("id", "ts", "a", "b", "rts").collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.isNullAt(2), "a must be NULL from the matched t=2 row")
    assert(r.getString(3) == "y")
    assert(r.getLong(4) == 2L)
  }

  test("node survives downstream operators (filter + aggregate over it)") {
    val ev = T(spark, sfDir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val matchedCount = AsofJoinPlan.asof(spark, purchases, clicks,
      "user_id", "ts", "click_ts", Seq("click_id"))
      .filter(col("click_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(matchedCount > 0)
  }
}
