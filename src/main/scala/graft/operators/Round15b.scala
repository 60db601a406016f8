package graft.operators

import org.apache.spark.sql.functions._

import graft.{Q, T}
import graft.catalog.Statistics
import graft.plans.MaterializedViews

/** Round-15 pack B: the aggregate-pushdown rule family — rewrites the
  * reference applies through its Volcano planner and Catalyst never
  * attempts on its own.
  *
  *   - q173: multiplicity-insensitive aggregate over an inner join →
  *     LEFT SEMI (ref: rel/rules/SemiJoinRule.java)
  *   - q174: statistics-gated eager aggregation — the partial aggregate
  *     evaluates below the join (ref:
  *     rel/rules/AggregateJoinTransposeRule.java)
  *   - q175: aggregate-union transpose fired by a registered tile
  *     answering one branch (ref:
  *     rel/rules/AggregateUnionTransposeRule.java)
  *
  * Each runs the REWRITTEN plan; the oracle runs the query as written,
  * so a hash match proves the rewrite value-preserving end-to-end. */
object Round15b {

  /** Orders fan out ~4× through lineitem, but MAX and COUNT(DISTINCT)
    * cannot see the fan-out — the optimizer replaces the join with a
    * semi probe, so at 100 TB the fact stops shipping one duplicated
    * row per matching line item (plan-gated in AggPushdownSpec). */
  val q173_semi_join_agg = Q(
    (s, dir) => {
      T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(max("o_totalprice").as("mx"),
          countDistinct(col("o_custkey")).as("nc"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, MAX(o_totalprice) AS mx,
             COUNT(DISTINCT o_custkey) AS nc
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** The profiled NDV of o_custkey proves a ~10× reduction, so the SUM
    * and COUNT partially evaluate below the customer join, grouped by
    * the join key — the shuffle ships one row per customer instead of
    * one per order (plan-gated in AggPushdownSpec; the same profile
    * pass that feeds the lattice advisor feeds this gate). */
  val q174_eager_agg = Q(
    (s, dir) => {
      Statistics.profileAndDeclare(s, s"$dir/orders.parquet", Seq("o_custkey"))
      T(s, dir, "orders")
        .withColumn("o_totalprice", T.dec2(col("o_totalprice")))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum("o_totalprice").cast("double").as("rev"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev,
             COUNT(*) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** An aggregate over UNION ALL transposes below the union exactly
    * because a registered tile answers the first branch from cache —
    * the hot branch costs a cache read, only the residual branch is
    * scanned (plan-gated in AggPushdownSpec, with the no-tile refusal
    * negative). */
  val q175_union_tile_transpose = Q(
    (s, dir) => {
      def li = T(s, dir, "lineitem")
        .withColumn("l_quantity", T.dec2(col("l_quantity")))
      MaterializedViews.registerOnce(s, "q175_mv", li,
        keys = Seq("l_returnflag"), sums = Seq("l_quantity"))
      li.select("l_returnflag", "l_quantity")
        .union(li.filter(col("l_linestatus") === "F")
          .select("l_returnflag", "l_quantity"))
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").cast("double").as("q"), count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
             CAST(SUM(q0) AS DOUBLE) AS q, COUNT(*) AS n
      FROM (
        SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS q0
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, CAST(l_quantity AS DECIMAL(12,2)) AS q0
        FROM lineitem WHERE l_linestatus = 'F')
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Eager aggregation into the PRESERVED side of a LEFT join (ref:
    * AggregateJoinTransposeRule's outer-join admission): half the
    * customers are filtered away, so dangling orders null-extend — an
    * unmatched partial group null-extends exactly once and still
    * carries its whole partial into the NULL group, which the oracle
    * reproduces running the outer join as written (plan-gated in
    * AggPushdownSpec, with the null-extensible-side refusal). */
  val q176_eager_agg_outer = Q(
    (s, dir) => {
      Statistics.profileAndDeclare(s, s"$dir/orders.parquet", Seq("o_custkey"))
      T(s, dir, "orders")
        .withColumn("o_totalprice", T.dec2(col("o_totalprice")))
        .join(T(s, dir, "customer").filter(col("c_custkey") % 2 === 0),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(sum("o_totalprice").cast("double").as("rev"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev,
             COUNT(*) AS n
      FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
        ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** SCD Type-2 apply-changes — the versioned-dimension maintenance
    * op every warehouse pipeline runs (the functional counterpart of
    * TableDml's MERGE + FOR SYSTEM_TIME surface; ref: the reference's
    * temporal-table machinery, SqlSnapshot / LogicalSnapshot): current
    * rows whose key appears in the change feed CLOSE (valid_to = the
    * change date), the feed INSERTS the new version (open-ended), and
    * untouched rows pass through. One change per key here (min order
    * date per customer past a cutoff) keeps it deterministic. Scale:
    * one hash join dim ⋈ changes on the key plus a union — no windows,
    * no skew beyond the key itself. */
  val q177_scd2_apply = Q(
    (s, dir) => {
      val dim = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          lit("1990-01-01").cast("timestamp").as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"))
      val changes = T(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("chg_date"))
      val closed = dim.join(changes, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("valid_from"),
          col("chg_date").as("valid_to"))
      val fresh = changes.select(col("o_custkey").as("c_custkey"),
        lit("MOVED").as("c_mktsegment"), col("chg_date").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val untouched = dim.join(changes,
        col("c_custkey") === col("o_custkey"), "left_anti")
      untouched.unionByName(closed).unionByName(fresh)
        .orderBy(col("c_custkey"), col("valid_from"))
    },
    Some("""
      WITH dim AS (SELECT c_custkey, c_mktsegment,
                          CAST('1990-01-01' AS TIMESTAMP) AS valid_from,
                          CAST(NULL AS TIMESTAMP) AS valid_to
                   FROM customer),
      changes AS (SELECT o_custkey, MIN(o_orderdate) AS chg_date
                  FROM orders WHERE o_orderdate >= CAST('1997-06-01' AS TIMESTAMP)
                  GROUP BY o_custkey)
      SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM (
        SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to
        FROM dim d LEFT JOIN changes c ON d.c_custkey = c.o_custkey
        WHERE c.o_custkey IS NULL
        UNION ALL
        SELECT d.c_custkey, d.c_mktsegment, d.valid_from, c.chg_date
        FROM dim d JOIN changes c ON d.c_custkey = c.o_custkey
        UNION ALL
        SELECT c.o_custkey, 'MOVED', c.chg_date, CAST(NULL AS TIMESTAMP)
        FROM changes c)
      ORDER BY c_custkey, valid_from"""))

  /** Declarative data-quality expectations (catalog/Expectations.scala
    * — the DLT/dbt-test shape): five rules over orders — null, range,
    * set membership, key uniqueness, referential containment — in ONE
    * row-local aggregation pass plus one grouped count and one
    * anti-join probe; the oracle recomputes each count independently.
    * The range rule is deliberately tight enough to FAIL (real
    * violations in the report), the others pass. */
  val q178_expectations = Q(
    (s, dir) => {
      import graft.catalog.Expectations._
      report(T(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0, 100000),
        InSet("o_orderstatus", Seq("F", "O", "P")),
        Unique(Seq("o_orderkey")),
        RefIn("o_custkey", T(s, dir, "customer"), "c_custkey")))
        .orderBy("rule")
    },
    Some("""
      WITH t AS (SELECT count(*) AS total FROM orders)
      SELECT rule, CAST(violations AS BIGINT) AS violations, total,
             violations = 0 AS pass FROM (
        SELECT 'not_null(o_custkey)' AS rule,
               (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations,
               total FROM t
        UNION ALL
        SELECT 'in_range(o_totalprice,0.0,100000.0)',
               (SELECT count(*) FROM orders WHERE o_totalprice IS NOT NULL
                  AND (o_totalprice < 0 OR o_totalprice > 100000)), total FROM t
        UNION ALL
        SELECT 'in_set(o_orderstatus)',
               (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('F', 'O', 'P')), total FROM t
        UNION ALL
        SELECT 'unique(o_orderkey)',
               (SELECT COALESCE(SUM(c), 0) FROM (
                  SELECT count(*) AS c FROM orders GROUP BY o_orderkey
                  HAVING count(*) > 1)), total FROM t
        UNION ALL
        SELECT 'ref_in(o_custkey)',
               (SELECT count(*) FROM orders o LEFT JOIN
                  (SELECT DISTINCT c_custkey FROM customer) c
                  ON o.o_custkey = c.c_custkey
                  WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL),
               total FROM t)
      ORDER BY rule"""))

  /** Morton z-keys for two-dimensional layout clustering (the
    * `interleave_bits` codegen expression; ZOrderSpec proves the
    * LAYOUT consequence — per-file min/max locality in both keys at
    * once). The oracle restates the 5-step magic-mask spread with
    * plain shift/mask arithmetic. */
  val d49_zorder_keys = Q(
    (s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders_v49")
      s.sql("""
        SELECT o_orderkey, o_custkey,
               interleave_bits(o_orderkey, o_custkey) AS z
        FROM orders_v49 ORDER BY o_orderkey""")
    },
    Some("""
      WITH m AS (SELECT o_orderkey, o_custkey,
          o_orderkey & 2147483647 AS a, o_custkey & 2147483647 AS b FROM orders),
      s1 AS (SELECT o_orderkey, o_custkey,
          (a | (a << 16)) & 281470681808895 AS a,
          (b | (b << 16)) & 281470681808895 AS b FROM m),
      s2 AS (SELECT o_orderkey, o_custkey,
          (a | (a << 8)) & 71777214294589695 AS a,
          (b | (b << 8)) & 71777214294589695 AS b FROM s1),
      s3 AS (SELECT o_orderkey, o_custkey,
          (a | (a << 4)) & 1085102592571150095 AS a,
          (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
      s4 AS (SELECT o_orderkey, o_custkey,
          (a | (a << 2)) & 3689348814741910323 AS a,
          (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
      s5 AS (SELECT o_orderkey, o_custkey,
          (a | (a << 1)) & 6148914691236517205 AS a,
          (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
      SELECT o_orderkey, o_custkey, CAST(a | (b << 1) AS BIGINT) AS z
      FROM s5 ORDER BY o_orderkey"""))

  /** Z-range pruning (ref: rel/rules/SpatialRules.java FilterHilbertRule
    * — curve-range sargs compensated by the exact predicate): the
    * two-dimensional box filter gains a disjunction of z-BETWEENs from
    * the quadtree covering, and because the covering is complete, the
    * conjunction returns exactly the box — which is what the oracle
    * checks, running the plain box filter. The BETWEENs are the part
    * that pushes into footer stats over a z-laid-out table
    * (ZOrderSpec proves the file skipping end-to-end). */
  val d50_zrange_prune = Q(
    (s, dir) => {
      import graft.functions.ZOrder
      // inside every sf's key range (orders: orderkey 0..1499 at
      // sf0.001, custkey 0..149) so the smoke gate sees rows at any sf
      val (aLo, aHi, bLo, bHi) = (200L, 1100L, 20L, 120L)
      val ranges = ZOrder.coveringRanges(aLo, aHi, bLo, bHi,
        widthBits = 24, maxLevel = 6)
      T(s, dir, "orders")
        .withColumn("z",
          ZOrder.interleaveBits(col("o_orderkey"), col("o_custkey")))
        .filter(ZOrder.rangeFilter(col("z"), ranges) &&
          col("o_orderkey").between(aLo, aHi) &&
          col("o_custkey").between(bLo, bHi))
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey", "o_custkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderkey BETWEEN 200 AND 1100
        AND o_custkey BETWEEN 20 AND 120
      ORDER BY o_orderkey, o_custkey"""))

  /** OR-of-equi join → UNION ALL of hash joins (ref:
    * rel/rules/JoinExpandOrToUnionRule.java): without the rule Spark
    * nested-loops this condition — O(|lineitem|·|part|) at any scale;
    * with it, two hash joins and a dedup conjunct (plan-gated in
    * AggPushdownSpec with the hashable-conjunct and
    * non-equi-disjunct negatives). The oracle runs the OR join as
    * written. */
  val q179_or_join_union = Q(
    (s, dir) => {
      T(s, dir, "lineitem")
        .withColumn("l_quantity", T.dec2(col("l_quantity")))
        .join(T(s, dir, "part"),
          col("l_partkey") === col("p_partkey") ||
            col("l_suppkey") === col("p_partkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").cast("double").as("q"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS q
      FROM lineitem JOIN part
        ON l_partkey = p_partkey OR l_suppkey = p_partkey
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  val all: Map[String, Q] = Map(
    "d50_zrange_prune" -> d50_zrange_prune,
    "q179_or_join_union" -> q179_or_join_union,
    "q173_semi_join_agg" -> q173_semi_join_agg,
    "q174_eager_agg" -> q174_eager_agg,
    "q175_union_tile_transpose" -> q175_union_tile_transpose,
    "q176_eager_agg_outer" -> q176_eager_agg_outer,
    "q177_scd2_apply" -> q177_scd2_apply,
    "q178_expectations" -> q178_expectations,
    "d49_zorder_keys" -> d49_zorder_keys)
}
