package graft

import graft.catalog.Constraints
import graft.plans.MaterializedViews
import org.apache.spark.sql.functions._

/** Constraint-based tile answering (RelOptReferentialConstraint parity):
  * a DECLARED foreign key proves the tile's extra joins lossless, so a
  * fact-only rollup is answered from a star tile — and without the
  * declaration, or with a wrong-column declaration, nothing rewrites. */
class MvConstraintSpec extends SparkSpec {

  private def factPath = s"$sfDir/orders.parquet"
  private def dimPath = s"$sfDir/customer.parquet"

  private def star = {
    val orders = T(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    val customer = T(spark, sfDir, "customer")
    orders.join(customer, col("o_custkey") === col("c_custkey"))
  }

  private def factRollup = T(spark, sfDir, "orders")
    .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    .groupBy("o_orderstatus")
    .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
    .orderBy("o_orderstatus")

  private def hasTile(q: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = q.queryExecution.optimizedPlan
    plan.toString.contains("InMemoryRelation") &&
      plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty
  }

  test("declared FK: a fact-only rollup is answered from the star tile, zero scans") {
    MaterializedViews.register(spark, "fk_star", star,
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
    try {
      // no declaration yet: the join-subset query must NOT ride the tile
      assert(!hasTile(factRollup),
        "without a declared constraint the star tile must not answer a fact-only query")

      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      val q = factRollup
      assert(hasTile(q),
        s"FK-declared star tile must answer the fact-only rollup:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      MaterializedViews.clear()
      val exp = factRollup.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp, s"tile answer must equal the direct fact rollup")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("a WRONG-column declaration does not admit the tile") {
    MaterializedViews.register(spark, "fk_star2", star,
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_orderkey", dimPath, "c_custkey")
      assert(!hasTile(factRollup),
        "an FK on a different column pair must not prove the join lossless")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("a constraint declared for a DIFFERENT table never covers a same-named pair") {
    MaterializedViews.register(spark, "fk_star6", star,
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
    try {
      // same COLUMN names, but the declared fact table is lineitem —
      // not a leaf of this tile: name matching alone must not admit it
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        "o_custkey", dimPath, "c_custkey")
      assert(!hasTile(factRollup),
        "a foreign key declared for another table must not cover this tile's join")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("a tile with its own dim-side filter stays blocked for fact-only queries") {
    MaterializedViews.register(spark, "fk_star3",
      star.filter(col("c_nationkey") >= 10),
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      assert(!hasTile(factRollup),
        "a dim-filtered tile is missing fact rows and must never answer the full fact")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("grouping sets over the fact alone ride the FK-declared star tile") {
    MaterializedViews.register(spark, "fk_star5", star,
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .rollup(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy("gid", "o_orderstatus")
      assert(hasTile(q),
        s"the fact-only ROLLUP must ride the star tile:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSeq
      MaterializedViews.clear()
      val exp = q.collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == exp)
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("fact-side compensation still applies on the FK path") {
    MaterializedViews.register(spark, "fk_star4", star,
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      // a key-only fact filter re-applies on the tile
      val q = T(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasTile(q),
        s"key-only filter must compensate on the tile:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      MaterializedViews.clear()
      val exp = T(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp)
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("tile choice: GROUP BY prefers the exact-signature tile, ROLLUP the cheapest") {
    // both tiles can answer a fact-only rollup by status: the fact tile
    // on (status, priority) by its own signature, the smaller star tile
    // on (status) through the declared FK
    val orders = T(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    MaterializedViews.register(spark, "choice_fact", orders,
      keys = Seq("o_orderstatus", "o_orderpriority"), sums = Seq("o_totalprice"))
    MaterializedViews.register(spark, "choice_star", star,
      keys = Seq("o_orderstatus"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def byStatus = orders.groupBy("o_orderstatus")
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      def rollupStatus = orders.rollup(col("o_orderstatus"))
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy("gid", "o_orderstatus")
      // the fact tile is the only one carrying o_orderpriority
      def readsFactTile(q: org.apache.spark.sql.DataFrame) =
        q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.output
        }.flatten.exists(_.name == "o_orderpriority")
      def rows(q: org.apache.spark.sql.DataFrame) = q.collect().map(_.toSeq).toSeq
      assert(hasTile(byStatus) && readsFactTile(byStatus),
        s"GROUP BY must read the exact-signature tile first:\n${byStatus.queryExecution.optimizedPlan}")
      assert(hasTile(rollupStatus) && !readsFactTile(rollupStatus),
        s"ROLLUP must read the smaller FK tile:\n${rollupStatus.queryExecution.optimizedPlan}")
      val got = (rows(byStatus), rows(rollupStatus))
      MaterializedViews.clear()
      assert(!hasTile(byStatus) && !hasTile(rollupStatus))
      assert((rows(byStatus), rows(rollupStatus)) == got,
        "both tile answers must equal the unrewritten recompute")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  // ---- FK union compensation (r14) --------------------------------------

  test("a wider fact-side range unions the star tile with a FACT-ONLY residual slice") {
    val orders = T(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    val hot = orders.filter(col("o_orderdate") >= "1997-07-01")
      .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
    MaterializedViews.register(spark, "fk_union", hot,
      keys = Seq("o_orderstatus", "o_orderdate"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .filter(col("o_orderdate") >= "1997-01-01")
        .groupBy("o_orderstatus")
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      val plan = q.queryExecution.optimizedPlan
      assert(plan.toString.contains("InMemoryRelation"),
        s"covered slice must come from the tile cache:\n$plan")
      val scans = plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }
      assert(scans.size == 1, s"exactly the fact residual may scan:\n$plan")
      val scanned = scans.head.relation
        .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.map(_.toString).mkString
      assert(scanned.contains("orders"), s"residual must scan the FACT, got $scanned")
      assert(!scanned.contains("customer"), "the dims are NEVER scanned on this path")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      MaterializedViews.clear()
      val exp = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp, "union answer must equal the direct fact rollup")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("a tile whose layout needs a DIM column refuses the fact-only union residual") {
    val orders = T(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    val hot = orders.filter(col("o_orderdate") >= "1997-07-01")
      .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
    // c_nationkey is a KEY of the tile: the residual's partials cannot be
    // computed from the fact alone, so the rewrite must decline — the
    // query falls back to the scan and stays correct
    MaterializedViews.register(spark, "fk_union_dim", hot,
      keys = Seq("o_orderstatus", "o_orderdate", "c_nationkey"),
      sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .filter(col("o_orderdate") >= "1997-01-01")
        .groupBy("o_orderstatus")
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      assert(!hasTile(q),
        "a dim-keyed tile must not union a fact-only residual")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      MaterializedViews.clear()
      val exp = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp)
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("grouping sets over a WIDER fact range union the FK tile with the fact residual") {
    val orders = T(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    val hot = orders.filter(col("o_orderdate") >= "1997-07-01")
      .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
    MaterializedViews.register(spark, "fk_union_gs", hot,
      keys = Seq("o_orderstatus", "o_orderdate"), sums = Seq("o_totalprice"))
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .filter(col("o_orderdate") >= "1997-01-01")
        .rollup(col("o_orderstatus"))
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy("gid", "o_orderstatus")
      val plan = q.queryExecution.optimizedPlan
      assert(plan.toString.contains("InMemoryRelation"),
        s"covered slice must come from the tile cache:\n$plan")
      val scans = plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }
      assert(scans.size == 1, s"exactly the fact residual may scan:\n$plan")
      assert(!scans.head.relation
        .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.map(_.toString).mkString.contains("customer"),
        "the dims are NEVER scanned on this path")
      val got = q.collect()
        .map(r => (r.get(0), r.getDecimal(1).doubleValue, r.getLong(2), r.getLong(3))).toSeq
      MaterializedViews.clear()
      val exp = q.collect()
        .map(r => (r.get(0), r.getDecimal(1).doubleValue, r.getLong(2), r.getLong(3))).toSeq
      assert(got == exp, "union rollup panels must equal the direct scan")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("verifyAndDeclare refuses an invalid claim: no unsound lossless proof enters the registry") {
    try {
      // l_orderkey is NOT unique in lineitem: the verification must
      // fail and the constraint must NOT cover the pair
      val bad = Constraints.verifyAndDeclare(spark,
        s"$sfDir/orders.parquet", "o_orderkey",
        s"$sfDir/lineitem.parquet", "l_orderkey")
      assert(!bad.uniqueKey && !bad.valid)
      MaterializedViews.register(spark, "fk_verify",
        T(spark, sfDir, "orders")
          .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
          .join(T(spark, sfDir, "lineitem"),
            col("o_orderkey") === col("l_orderkey")),
        keys = Seq("o_orderstatus"), sums = Seq("o_totalprice"))
      assert(!hasTile(factRollup),
        "a refused FK must never admit the tile for fact-only queries")

      // the valid claim passes and declares: the tile now answers
      val good = Constraints.verifyAndDeclare(spark,
        factPath, "o_custkey", dimPath, "c_custkey")
      assert(good.valid)
      MaterializedViews.clear()
      MaterializedViews.register(spark, "fk_verify2", star,
        keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
      assert(hasTile(factRollup),
        "the verified FK must admit the star tile")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  // ---- FK join elimination (r14; ref: rel/rules/ProjectJoinRemoveRule) --

  test("a declared FK eliminates a join whose dim side is never read") {
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      val plan = q.queryExecution.optimizedPlan
      assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
        s"the lossless join must be eliminated:\n$plan")
      val scans = plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }
      assert(scans.size == 1 && scans.head.relation
        .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.rootPaths.map(_.toString).mkString.contains("orders"),
        s"only the fact may scan:\n$plan")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      Constraints.clear()
      val exp = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp, "elimination must not change values")
    } finally Constraints.clear()
  }

  test("join elimination declines when it must: dim column read, dim filtered, wrong direction, no FK") {
    def joined = T(spark, sfDir, "orders")
      .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
    def hasJoin(q: org.apache.spark.sql.DataFrame): Boolean =
      q.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    try {
      // no declaration: nothing may fire
      val q0 = joined.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasJoin(q0), "no FK declared: the join must stay")

      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      // a dim column in the output keeps the join
      val q1 = joined.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      assert(hasJoin(q1), "dim output column: the join must stay")
      // a FILTERED dim could drop matched fact rows — never lossless
      val q2 = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer").filter(col("c_nationkey") >= 10),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasJoin(q2), "filtered dim: the join must stay")
      // dropping the FACT side is never lossless (fact multiplicity
      // weights the dim rows): a dim-only projection keeps the join
      val q3 = joined.groupBy("c_nationkey")
        .agg(sum("c_acctbal").as("t"))
      assert(hasJoin(q3), "fact side is not droppable")
      // a joined dim SUBTREE may change multiplicity through its own
      // inner join even when the outer pair is covered: never dropped
      val q4 = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer")
            .join(T(spark, sfDir, "nation"),
              col("c_nationkey") === col("n_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasJoin(q4), "a multi-leaf dim subtree must never be dropped")
    } finally Constraints.clear()
  }

  test("FAN-OUT extension never covers: a second fact-like table off a shared dim multiplies rows") {
    val customer = T(spark, sfDir, "customer")
    val nation = T(spark, sfDir, "nation")
    val supplier = T(spark, sfDir, "supplier")
    try {
      // BOTH constraints are TRUE (nation keys are unique, both FK
      // columns contained) — yet the tile is customer × its nation's
      // SUPPLIERS: a customer-only rollup from it would over-count.
      Constraints.declareForeignKey(spark, s"$sfDir/customer.parquet",
        "c_nationkey", s"$sfDir/nation.parquet", "n_nationkey")
      Constraints.declareForeignKey(spark, s"$sfDir/supplier.parquet",
        "s_nationkey", s"$sfDir/nation.parquet", "n_nationkey")
      val fanout = customer
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(supplier, col("s_nationkey") === col("n_nationkey"))
      MaterializedViews.register(spark, "fk_fanout", fanout,
        keys = Seq("c_mktsegment", "n_name", "s_nationkey"), sums = Nil)
      def q = T(spark, sfDir, "customer")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
      assert(!hasTile(q),
        s"a fan-out tile must never answer the base-only rollup:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      MaterializedViews.clear()
      val exp = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp)
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  // ---- r15: composite keys, outer-join elimination, snowflake drops ----

  private def hasJoin(q: org.apache.spark.sql.DataFrame): Boolean =
    q.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty

  private def scanPaths(q: org.apache.spark.sql.DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString).mkString
    }

  /** A composite-keyed dim: one row per DISTINCT (l_orderkey,
    * l_linenumber) — unique by construction. */
  private def withCompositeDim(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compdim").toString
    T(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min("l_linestatus").as("d_status"))
      .select(col("l_orderkey").as("d_orderkey"),
        col("l_linenumber").as("d_linenumber"), col("d_status"))
      .write.mode("overwrite").parquet(tmp)
    try f(tmp)
    finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("a COMPOSITE two-column FK eliminates the composite-key join") {
    withCompositeDim { tmp =>
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        Seq("l_orderkey", "l_linenumber"), tmp, Seq("d_orderkey", "d_linenumber"))
      def q = T(spark, sfDir, "lineitem")
        .join(spark.read.parquet(tmp),
          col("l_orderkey") === col("d_orderkey") &&
            col("l_linenumber") === col("d_linenumber"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
      assert(!hasJoin(q),
        s"the composite-covered join must be eliminated:\n${q.queryExecution.optimizedPlan}")
      assert(scanPaths(q).forall(_.contains("lineitem")), "only the fact may scan")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      Constraints.clear()
      val exp = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp, "composite elimination must not change values")
    }
  }

  test("two SINGLE-column FKs never prove a composite join; a PARTIAL composite match never fires") {
    withCompositeDim { tmp =>
      // two single-column declarations over the same leaves: the two
      // unique matches need not be the same dim row — must refuse
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        "l_orderkey", tmp, "d_orderkey")
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        "l_linenumber", tmp, "d_linenumber")
      def q = T(spark, sfDir, "lineitem")
        .join(spark.read.parquet(tmp),
          col("l_orderkey") === col("d_orderkey") &&
            col("l_linenumber") === col("d_linenumber"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(hasJoin(q),
        "two single-column FKs must NOT combine into a composite proof")

      Constraints.clear()
      // composite FK declared, but the query joins only HALF the key:
      // d_orderkey repeats across line numbers — the join multiplies
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        Seq("l_orderkey", "l_linenumber"), tmp, Seq("d_orderkey", "d_linenumber"))
      def qPartial = T(spark, sfDir, "lineitem")
        .join(spark.read.parquet(tmp),
          col("l_orderkey") === col("d_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(hasJoin(qPartial),
        "a partial composite match must NOT fire the constraint")
    }
  }

  test("a COMPOSITE FK star tile answers the fact-only rollup; two singles do not") {
    withCompositeDim { tmp =>
      val star = T(spark, sfDir, "lineitem")
        .withColumn("l_extendedprice", col("l_extendedprice").cast("decimal(12,2)"))
        .join(spark.read.parquet(tmp),
          col("l_orderkey") === col("d_orderkey") &&
            col("l_linenumber") === col("d_linenumber"))
      MaterializedViews.register(spark, "comp_star", star,
        keys = Seq("l_returnflag", "d_status"), sums = Seq("l_extendedprice"))
      def factQ = T(spark, sfDir, "lineitem")
        .withColumn("l_extendedprice", col("l_extendedprice").cast("decimal(12,2)"))
        .groupBy("l_returnflag")
        .agg(sum("l_extendedprice").as("t"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")

      // two single-column declarations: the tile must NOT answer
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        "l_orderkey", tmp, "d_orderkey")
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        "l_linenumber", tmp, "d_linenumber")
      assert(!hasTile(factQ),
        "two single-column FKs must not admit the composite star tile")

      Constraints.clear()
      Constraints.declareForeignKey(spark, s"$sfDir/lineitem.parquet",
        Seq("l_orderkey", "l_linenumber"), tmp, Seq("d_orderkey", "d_linenumber"))
      val q = factQ
      assert(hasTile(q),
        s"the composite FK must admit the star tile:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      MaterializedViews.clear()
      val exp = factQ.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp, "composite tile answer must equal the direct rollup")
    }
  }

  test("composite verifyAndDeclare: joint uniqueness holds where single columns fail") {
    withCompositeDim { tmp =>
      val good = Constraints.verifyAndDeclare(spark, s"$sfDir/lineitem.parquet",
        Seq("l_orderkey", "l_linenumber"), tmp, Seq("d_orderkey", "d_linenumber"))
      assert(good.valid, s"the derived composite key must verify: $good")
      // d_orderkey alone repeats across line numbers: refused
      val bad = Constraints.verifyAndDeclare(spark, s"$sfDir/lineitem.parquet",
        Seq("l_orderkey"), tmp, Seq("d_orderkey"))
      assert(!bad.uniqueKey && !bad.valid,
        "a non-unique single column of the composite key must refuse")
    }
  }

  test("LEFT join to a declared unique key eliminates with no integrity conditions") {
    try {
      Constraints.declareUniqueKey(spark, dimPath, Seq("c_custkey"))
      def q = T(spark, sfDir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .join(T(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("o_orderpriority")
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
      assert(!hasJoin(q),
        s"LEFT join to a unique key with no dim column read must vanish:\n${q.queryExecution.optimizedPlan}")
      assert(scanPaths(q).forall(_.contains("orders")), "only the fact may scan")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      Constraints.clear()
      val exp = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp, "LEFT-join elimination must not change values")
    } finally Constraints.clear()
  }

  test("LEFT-join elimination declines without a covering unique key") {
    try {
      // no declaration at all: the join stays
      def qNone = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasJoin(qNone), "no unique key declared: the join must stay")

      // a unique key on a DIFFERENT column than the join pins: stays
      Constraints.declareUniqueKey(spark, dimPath, Seq("c_custkey"))
      def qWrong = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer"),
          col("o_custkey") === col("c_nationkey"), "left")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasJoin(qWrong), "the pinned column is not the declared key: stays")

      // a dim column in the output keeps the join
      def qRead = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      assert(hasJoin(qRead), "dim output column: the join must stay")
    } finally Constraints.clear()
  }

  test("a declared FK's dim side counts as a unique key for LEFT-join elimination") {
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(!hasJoin(q),
        s"the FK's dim key is unique by declaration — LEFT join must vanish:\n${q.queryExecution.optimizedPlan}")
    } finally Constraints.clear()
  }

  test("LEFT join to a COMPOSITE unique key eliminates; a half-pinned key keeps the join") {
    withCompositeDim { tmp =>
      Constraints.declareUniqueKey(spark, tmp, Seq("d_orderkey", "d_linenumber"))
      def q = T(spark, sfDir, "lineitem")
        .join(spark.read.parquet(tmp),
          col("l_orderkey") === col("d_orderkey") &&
            col("l_linenumber") === col("d_linenumber"), "left")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
      assert(!hasJoin(q),
        s"a fully pinned composite unique key must eliminate:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // pinning only HALF the key proves nothing about multiplicity
      def qHalf = T(spark, sfDir, "lineitem")
        .join(spark.read.parquet(tmp),
          col("l_orderkey") === col("d_orderkey"), "left")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      assert(hasJoin(qHalf), "half the composite key pinned: the join must stay")
      Constraints.clear()
      val exp = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp, "composite LEFT elimination must not change values")
    }
  }

  test("RIGHT join mirrors: unique key on the LEFT side eliminates") {
    try {
      Constraints.declareUniqueKey(spark, dimPath, Seq("c_custkey"))
      def q = T(spark, sfDir, "customer")
        .join(T(spark, sfDir, "orders"),
          col("o_custkey") === col("c_custkey"), "right")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      assert(!hasJoin(q),
        s"RIGHT join dropping the unique-keyed left side must vanish:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      Constraints.clear()
      val exp = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp)
    } finally Constraints.clear()
  }

  test("right-deep snowflake: the whole FK-covered dim subtree drops in one step") {
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      Constraints.declareForeignKey(spark, dimPath, "c_nationkey",
        s"$sfDir/nation.parquet", "n_nationkey")
      def q = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer")
            .join(T(spark, sfDir, "nation"),
              col("c_nationkey") === col("n_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      assert(!hasJoin(q),
        s"both FK edges declared: the right-deep subtree must vanish:\n${q.queryExecution.optimizedPlan}")
      assert(scanPaths(q).forall(_.contains("orders")), "only the fact may scan")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      Constraints.clear()
      val exp = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp, "snowflake elimination must not change values")
    } finally Constraints.clear()
  }

  test("right-deep snowflake declines when the INNER pair has no FK") {
    try {
      // only the outer edge declared: customer ⋈ nation is unproven —
      // an unmatched customer would silently drop fact rows
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      def q = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer")
            .join(T(spark, sfDir, "nation"),
              col("c_nationkey") === col("n_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(hasJoin(q), "a missing inner FK must keep the whole subtree")
    } finally Constraints.clear()
  }

  test("dim-side IsNotNull binds by exprId: a same-named nullable dim column declines") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_namedim").toString
    // a dim keyed dk = distinct custkeys, carrying its OWN nullable
    // column that borrows the fact key's NAME
    T(spark, sfDir, "orders").select(col("o_custkey").as("dk")).distinct()
      .withColumn("o_custkey", when(col("dk") % 2 === 0, col("dk")))
      .write.mode("overwrite").parquet(tmp)
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", tmp, "dk")
      val o = T(spark, sfDir, "orders")
      val d = spark.read.parquet(tmp).filter(col("o_custkey").isNotNull)
      def q = o.join(d, o("o_custkey") === d("dk"))
        .groupBy(o("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      // the user-written IS NOT NULL on the dim's same-named column
      // genuinely drops rows: elimination MUST decline
      assert(hasJoin(q),
        s"a real dim filter on a same-named column must keep the join:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      Constraints.clear()
      val exp = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exp, "declined plans must match the direct join")
    } finally Constraints.clear()
  }

  private def hasAggregate(q: org.apache.spark.sql.DataFrame): Boolean =
    q.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty

  test("DISTINCT over a declared unique key drops the Aggregate (and its shuffle)") {
    try {
      Constraints.declareUniqueKey(spark, factPath, Seq("o_orderkey"))
      def q = T(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus").distinct()
        .orderBy("o_orderkey")
      assert(!hasAggregate(q),
        s"DISTINCT including the unique key must collapse to a Project:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      Constraints.clear()
      val exp = q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == exp, "aggregate removal must not change values")
    } finally Constraints.clear()
  }

  test("GROUP BY the unique key with MIN/MAX collapses: singleton groups are identity") {
    try {
      Constraints.declareUniqueKey(spark, factPath, Seq("o_orderkey"))
      def q = T(spark, sfDir, "orders")
        .groupBy("o_orderkey")
        .agg(min("o_totalprice").as("mn"), max("o_orderpriority").as("mx"))
        .orderBy("o_orderkey")
      assert(!hasAggregate(q),
        s"MIN/MAX over singleton groups must collapse:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      Constraints.clear()
      val exp = q.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(got == exp, "singleton-group identity must not change values")
    } finally Constraints.clear()
  }

  test("aggregate removal declines when it must: non-key, post-join, rename, real aggregate") {
    try {
      Constraints.declareUniqueKey(spark, factPath, Seq("o_orderkey"))
      // grouping on NON-key columns genuinely dedups: keep
      val q1 = T(spark, sfDir, "orders")
        .select("o_orderstatus", "o_orderpriority").distinct()
      assert(hasAggregate(q1), "non-key DISTINCT must keep the Aggregate")
      // below a JOIN the chain is not a single leaf: keep (conservative)
      val q2 = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_mktsegment").distinct()
      assert(hasAggregate(q2), "post-join DISTINCT must keep the Aggregate")
      // a RENAMED column borrowing the key's name must not resolve
      val q3 = T(spark, sfDir, "orders")
        .select(col("o_custkey").as("o_orderkey"), col("o_orderstatus"))
        .distinct()
      assert(hasAggregate(q3), "an alias borrowing the key name must keep the Aggregate")
      // SUM is not identity on a singleton's TYPE contract: keep
      val q4 = T(spark, sfDir, "orders")
        .groupBy("o_orderkey").agg(sum("o_totalprice").as("t"))
      assert(hasAggregate(q4), "SUM must keep the Aggregate")
    } finally Constraints.clear()
  }

  test("profileAndDeclare closes the loop: one call, then tiles answer and joins eliminate") {
    try {
      // fresh session state: nothing declared, nothing registered
      Constraints.clear(); MaterializedViews.clear()
      val verdicts = graft.catalog.Lattice.profileAndDeclare(spark,
        factPath, dimPath,
        Seq(("o_custkey", "c_custkey"), ("o_custkey", "c_nationkey")))
        .collect().map(r => (r.getString(1), r.getBoolean(2), r.getBoolean(3))).toSeq
      assert(verdicts.contains(("c_custkey", true, true)),
        s"c_custkey must profile unique and declare: $verdicts")
      assert(verdicts.contains(("c_nationkey", false, false)),
        s"c_nationkey must be rejected by the sketch: $verdicts")

      // the declaration from profiling alone admits the star tile…
      MaterializedViews.register(spark, "prof_star", star,
        keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
      assert(hasTile(factRollup),
        "a profiled-then-declared FK must admit the star tile")
      // …and fires join elimination (q164's shape)
      def q = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(!hasJoin(q),
        "a profiled-then-declared FK must fire join elimination")
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }

  test("profileAndDeclareKeys closes the key loop: discovery alone fuels the eliminations") {
    try {
      Constraints.clear()
      val verdicts = graft.catalog.Lattice.profileAndDeclareKeys(spark,
        dimPath, Seq("c_custkey", "c_nationkey"))
        .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSeq
      assert(verdicts.contains(("c_custkey", true, true)),
        s"c_custkey must profile and declare as a key: $verdicts")
      assert(verdicts.contains(("c_nationkey", false, false)),
        s"c_nationkey must be rejected by the sketch: $verdicts")
      // the discovered key alone eliminates a LEFT join…
      def q = T(spark, sfDir, "orders")
        .join(T(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      assert(!hasJoin(q),
        "a discovered-then-declared key must fire LEFT-join elimination")
      // …and collapses a DISTINCT over the key
      def d = T(spark, sfDir, "customer")
        .select("c_custkey", "c_mktsegment").distinct()
      assert(!hasAggregate(d),
        "a discovered-then-declared key must fire DISTINCT removal")
    } finally Constraints.clear()
  }

  test("a directed snowflake CHAIN still covers: fact → dim → dim-of-dim") {
    val orders = T(spark, sfDir, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
    val customer = T(spark, sfDir, "customer")
    val nation = T(spark, sfDir, "nation")
    try {
      Constraints.declareForeignKey(spark, factPath, "o_custkey", dimPath, "c_custkey")
      Constraints.declareForeignKey(spark, dimPath, "c_nationkey",
        s"$sfDir/nation.parquet", "n_nationkey")
      val snow = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
      MaterializedViews.register(spark, "fk_chain", snow,
        keys = Seq("o_orderstatus", "n_name"), sums = Seq("o_totalprice"))
      def q = T(spark, sfDir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
        .groupBy("o_orderstatus")
        .agg(sum("o_totalprice").as("t"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
      assert(hasTile(q),
        s"an FK chain directed away from the fact must cover:\n${q.queryExecution.optimizedPlan}")
      val got = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      MaterializedViews.clear()
      val exp = q.collect()
        .map(r => (r.getString(0), r.getDecimal(1).doubleValue, r.getLong(2))).toSeq
      assert(got == exp)
    } finally { MaterializedViews.clear(); Constraints.clear() }
  }
}
