package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.catalog.{Constraints, Statistics}
import graft.plans.{AggregateUnionTranspose, EagerAggregation, MaterializedViews, OrJoinToUnion, SemiJoinRewrite}

/** The aggregate-pushdown rule family (SemiJoinRule /
  * AggregateJoinTransposeRule / AggregateUnionTransposeRule parity):
  * plan-gated positives, value parity against the same query with the
  * rules removed, and the refusal negatives that keep each rewrite
  * sound. */
class AggPushdownSpec extends SparkSpec {

  private def orders = T(spark, sfDir, "orders")
  private def customer = T(spark, sfDir, "customer")
  private def lineitem = T(spark, sfDir, "lineitem")
  private def nation = T(spark, sfDir, "nation")

  private val family: Seq[Rule[LogicalPlan]] =
    Seq(SemiJoinRewrite, EagerAggregation, AggregateUnionTranspose,
      OrJoinToUnion)

  /** Ground truth: the same frame evaluated with the family removed
    * from the session optimizer (extraOptimizations is re-read per
    * query, so the removal takes effect immediately). */
  private def withoutRules[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(r => family.contains(r))
    try f finally spark.experimental.extraOptimizations = saved
  }

  private def joinTypes(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect { case j: Join => j.joinType }

  private def aggCount(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSameValues(q: => DataFrame): Unit = {
    val got = sortedRows(q)
    val want = withoutRules(sortedRows(q))
    assert(got == want, s"rewritten values diverge:\n got=$got\nwant=$want")
  }

  // ---- SemiJoinRewrite ------------------------------------------------

  test("multiplicity-insensitive aggregate over an inner join becomes LEFT SEMI") {
    def q = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(max("o_totalprice").as("mx"), countDistinct("o_custkey").as("nc"))
    assert(joinTypes(q) == Seq(LeftSemi),
      s"expected a lone LeftSemi join:\n${q.queryExecution.optimizedPlan}")
    assertSameValues(q)
  }

  test("SELECT DISTINCT over the fan-out side also goes semi, preserved side swapped") {
    // reads the RIGHT side only: the preserved side becomes the left child
    def q = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select("o_orderpriority").distinct()
    assert(joinTypes(q) == Seq(LeftSemi),
      s"expected LeftSemi:\n${q.queryExecution.optimizedPlan}")
    assertSameValues(q)
  }

  test("a multiplicity-SENSITIVE aggregate (SUM) keeps the inner join") {
    val q = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").agg(sum("o_totalprice").as("rev"))
    assert(joinTypes(q) == Seq(Inner), "SUM observes multiplicity; must refuse")
  }

  test("an aggregate reading both sides keeps the inner join") {
    val q = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(max("o_totalprice").as("mx"), max("l_quantity").as("mq"))
    assert(joinTypes(q) == Seq(Inner), "both sides read; must refuse")
  }

  test("FK coverage deletes a LEFT SEMI join outright (the composition end state)") {
    Constraints.declareForeignKey(spark, s"$sfDir/orders.parquet", "o_custkey",
      s"$sfDir/customer.parquet", "c_custkey")
    try {
      def q = orders.join(customer,
          col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus").agg(min("o_totalprice").as("mn"))
      assert(joinTypes(q).isEmpty,
        s"containment makes the semi probe vacuous:\n${q.queryExecution.optimizedPlan}")
      assertSameValues(q)
      // and the full fixed point: insensitive agg over INNER join with a
      // declared FK ends at a bare fact scan, whichever rule fires first
      def q2 = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(min("o_totalprice").as("mn"))
      assert(joinTypes(q2).isEmpty,
        s"semi rewrite + FK elimination must compose:\n${q2.queryExecution.optimizedPlan}")
    } finally Constraints.clear()
  }

  // ---- EagerAggregation -----------------------------------------------

  private def starRollup = orders
    .withColumn("o_totalprice", T.dec2(col("o_totalprice")))
    .join(customer, col("o_custkey") === col("c_custkey"))
    .groupBy("c_mktsegment")
    .agg(sum("o_totalprice").as("rev"), count(lit(1)).as("n"))

  test("declared stats push a partial aggregate below the join") {
    Statistics.profileAndDeclare(spark, s"$sfDir/orders.parquet", Seq("o_custkey"))
    try {
      def q = starRollup
      val plan = q.queryExecution.optimizedPlan
      assert(aggCount(q) == 2, s"expected partial+final aggregates:\n$plan")
      val belowJoin = plan.collect { case j: Join => j }.exists(
        _.children.exists(_.exists(_.isInstanceOf[Aggregate])))
      assert(belowJoin, s"the partial must sit BELOW the join:\n$plan")
      assertSameValues(q)
    } finally Statistics.clear()
  }

  test("no declared stats: no eager aggregation") {
    assert(aggCount(starRollup) == 1, "without NDV evidence the rule must refuse")
  }

  test("reduction below the threshold: no eager aggregation") {
    Statistics.declare(spark, s"$sfDir/orders.parquet", 1500L,
      Map("o_custkey" -> 1000L))
    try assert(aggCount(starRollup) == 1,
      "1.5x is below the 4x gate; the partial would not pay for its shuffle")
    finally Statistics.clear()
  }

  test("eager aggregation cascades down a snowflake at the fixed point") {
    Statistics.profileAndDeclare(spark, s"$sfDir/orders.parquet", Seq("o_custkey"))
    Statistics.profileAndDeclare(spark, s"$sfDir/customer.parquet", Seq("c_nationkey"))
    try {
      def q = orders
        .withColumn("o_totalprice", T.dec2(col("o_totalprice")))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum("o_totalprice").as("rev"), count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan
      assert(aggCount(q) == 3,
        s"expected a partial above orders, a partial above the customer join, and the final:\n$plan")
      assertSameValues(q)
    } finally Statistics.clear()
  }

  test("eager aggregation pushes into the PRESERVED side of a LEFT join") {
    Statistics.profileAndDeclare(spark, s"$sfDir/orders.parquet", Seq("o_custkey"))
    try {
      // half the customers filtered away: dangling orders null-extend,
      // and their partials must land in the NULL group intact
      def q = orders
        .withColumn("o_totalprice", T.dec2(col("o_totalprice")))
        .join(customer.filter(col("c_custkey") % 2 === 0),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(sum("o_totalprice").as("rev"), count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan
      assert(aggCount(q) == 2, s"expected partial+final:\n$plan")
      assert(joinTypes(q) == Seq(LeftOuter), s"outer join must survive:\n$plan")
      assertSameValues(q)
      val got = q.collect().map(r => (Option(r.getString(0)), r.getLong(2))).toMap
      assert(got.contains(None) && got(None) > 0, "the NULL group must carry the dangling orders")
    } finally Statistics.clear()
  }

  test("eager aggregation refuses the null-extensible side of a LEFT join") {
    Statistics.profileAndDeclare(spark, s"$sfDir/customer.parquet", Seq("c_custkey"))
    try {
      // aggregate inputs come from the RIGHT (null-extended) side: a
      // pushed partial could never produce the extension rows
      val q = orders
        .join(customer.withColumn("c_acctbal", T.dec2(col("c_acctbal"))),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("o_orderpriority")
        .agg(sum("c_acctbal").as("bal"), count(lit(1)).as("n"))
      assert(aggCount(q) == 1,
        s"must refuse:\n${q.queryExecution.optimizedPlan}")
    } finally Statistics.clear()
  }

  test("MIN/MAX-only shapes go semi, not eager (rule order inside the family)") {
    Statistics.profileAndDeclare(spark, s"$sfDir/orders.parquet", Seq("o_custkey"))
    try {
      val q = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(max("o_totalprice").as("mx"))
      assert(joinTypes(q) == Seq(LeftSemi) && aggCount(q) == 1,
        s"semi is the strictly better plan:\n${q.queryExecution.optimizedPlan}")
    } finally Statistics.clear()
  }

  // ---- OrJoinToUnion ------------------------------------------------------

  private def part = T(spark, sfDir, "part")

  test("OR-of-equi join expands to a union of two hash joins") {
    def q = lineitem.join(part,
        col("l_partkey") === col("p_partkey") ||
          col("l_suppkey") === col("p_partkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val lp = q.queryExecution.optimizedPlan
    assert(lp.collect { case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.nonEmpty &&
      lp.collect { case j: Join => j }.size == 2,
      s"expected a union of two joins:\n$lp")
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin") &&
      !physical.contains("CartesianProduct"),
      s"the whole point is avoiding the quadratic join:\n$physical")
    assertSameValues(q)
  }

  test("a hashable conjunct beside the OR: no expansion (the OR is a cheap filter)") {
    val q = lineitem.join(part,
        col("l_partkey") === col("p_partkey") &&
          (col("l_suppkey") === col("p_size") || col("l_linenumber") === col("p_size")))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.collect { case j: Join => j }.size == 1,
      "top level is AND; Spark hash-joins on the equi conjunct already")
  }

  test("a disjunct with no equi pair: no expansion (its branch could not hash)") {
    val q = lineitem.join(part,
        col("l_partkey") === col("p_partkey") ||
          col("l_suppkey") < col("p_size"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.collect { case j: Join => j }.size == 1,
      "the non-equi disjunct cannot hash; expansion must refuse")
  }

  // ---- AggregateUnionTranspose ------------------------------------------

  private def liDec = lineitem
    .withColumn("l_quantity", T.dec2(col("l_quantity")))

  private def unionRollup = liDec.select("l_returnflag", "l_quantity")
    .union(liDec.filter(col("l_linestatus") === "F")
      .select("l_returnflag", "l_quantity"))
    .groupBy("l_returnflag")
    .agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))

  test("a registered tile pulls the aggregate below UNION ALL, tile branch from cache") {
    MaterializedViews.register(spark, "ut_tile", liDec,
      keys = Seq("l_returnflag"), sums = Seq("l_quantity"))
    try {
      def q = unionRollup
      val plan = q.queryExecution.optimizedPlan
      assert(plan.exists(_.isInstanceOf[Union]) &&
        plan.toString.contains("InMemoryRelation"),
        s"the tile branch must splice from cache:\n$plan")
      val partialBelowUnion = plan.collect { case u: Union => u }.exists(
        _.children.exists(_.exists(_.isInstanceOf[Aggregate])))
      assert(partialBelowUnion, s"the raw branch must pre-aggregate:\n$plan")
      assertSameValues(q)
    } finally MaterializedViews.clear()
  }

  test("no tile: the union transpose refuses (the bare transpose is a pessimization)") {
    val q = unionRollup
    assert(aggCount(q) == 1,
      s"without a tile to buy, one shuffle beats N+1:\n${q.queryExecution.optimizedPlan}")
  }
}
