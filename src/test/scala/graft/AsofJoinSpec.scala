package graft

/** `AsofJoin.leftAsof`, the DataFrame lowering of ASOF JOIN (q96 and
  * `GraftOps.asofJoin` call it; `AsofSql` lowers the SQL form). */
class AsofJoinSpec extends SparkSpec {

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
}
