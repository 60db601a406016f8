package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lattice tile recommendation (ref: materialize/Lattice.java,
  * materialize/TileSuggester.java — propose aggregate materializations
  * over a star's dimension lattice, sized with the HLL profiler of
  * profile/ProfilerImpl.java). Spark-first shape: ONE profiling pass
  * collects per-dimension HLL cardinalities, tile sizes are estimated
  * as min(rowCount, Π card(dim)) (the profiler's independence model),
  * and a greedy sweep keeps the largest dimension sets that fit the
  * row budget and are not already answerable from a kept tile by
  * rollup. A kept tile feeds `MaterializedViews.register`, whose
  * substitution rule then rewrites matching aggregates — together the
  * profile → recommend → materialize → rewrite loop of the reference.
  */
object Lattice {

  final case class TileSuggestion(
      dims: Seq[String], estRows: Long, compression: Double)

  /** One sketch pass over `df`: the row count, each column's HLL
    * distinct count, and (with `withPairs`) each column PAIR's, pairs in
    * `dims.combinations(2)` order. */
  private final case class Sketch(rows: Long, card: Map[String, Long],
      pairs: Seq[(Seq[String], Long)]) {
    private val byPair = pairs.map { case (pr, n) => pr.toSet -> n }.toMap
    def pair(cols: Iterable[String]): Long = byPair(cols.toSet)
  }

  private def sketch(df: DataFrame, dims: Seq[String],
      withPairs: Boolean = true): Sketch = {
    val pairs = if (withPairs) dims.combinations(2).toSeq else Nil
    val aggs = dims.map(c => approx_count_distinct(col(c)).as(c)) ++
      pairs.zipWithIndex.map { case (Seq(a, b), i) =>
        approx_count_distinct(struct(col(a), col(b))).as(s"__p$i") }
    val row = df.agg(count(lit(1)).as("__n"), aggs: _*).collect()(0)
    Sketch(row.getLong(0),
      dims.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap,
      pairs.zipWithIndex.map { case (pr, i) => pr -> row.getLong(1 + dims.size + i) })
  }

  def suggestTiles(df: DataFrame, dims: Seq[String],
      budgetRows: Long, maxTiles: Int = 3): Seq[TileSuggestion] = {
    require(dims.nonEmpty && dims.size <= 12, "1..12 dimensions")
    // ONE profiling pass: per-dimension HLLs plus per-PAIR HLLs (at most
    // 66 at 12 dims). The pairs are what the reference's profiler mines
    // for functional dependencies (profile/ProfilerImpl.java — its
    // surprise-driven sketches exist to find exactly these): when
    // card(a,b) is close to card(a), b is determined by a (month to
    // quarter, city to state) and the independence product wildly
    // OVER-estimates every tile containing both — rejecting tiles that
    // in truth fit the budget. At 100 TB correlated hierarchies are the
    // norm, so the pair-aware bound is the difference between a usable
    // advisor and one that refuses every calendar tile.
    val sk = sketch(df, dims)
    val (n, card) = (sk.rows, sk.card)
    val subsets = (1 to dims.size).flatMap(k => dims.combinations(k))
    val sized = subsets.map { ds =>
      val prod = ds.foldLeft(1.0)((acc, d) => acc * card(d).max(1))
      // tightest pairwise bound: distinct(S) <= distinct(a,b) * prod of
      // the remaining singles — take the best pair (the joint count
      // absorbs the correlation the independence product double-counts)
      val viaPair = ds.combinations(2).map { pr =>
        val rest = ds.filterNot(pr.contains)
        rest.foldLeft(sk.pair(pr).max(1).toDouble)(
          (acc, c) => acc * card(c).max(1))
      }.minOption.getOrElse(prod)
      val est = math.min(n.toDouble, math.min(prod, viaPair)).toLong
      TileSuggestion(ds, est, n.toDouble / est.max(1))
    }
    val inBudget = sized.filter(_.estRows <= budgetRows)
      .sortBy(t => (-t.dims.size, t.estRows))
    // greedy: keep a tile only if no kept tile already covers it
    val kept = scala.collection.mutable.ArrayBuffer.empty[TileSuggestion]
    for (t <- inBudget if kept.size < maxTiles)
      if (!kept.exists(k => t.dims.forall(k.dims.contains))) kept += t
    kept.toSeq
  }

  /** Discovered functional dependencies over `dims` (ref: profile/
    * ProfilerImpl.java — the reference's profiler mines FDs from its
    * sketch lattice; the same pairwise-HLL pass drives the verdicts
    * here): a→b HOLDS when the joint cardinality stays within `slack`
    * of card(a) — a determined dependent adds no combinations.
    * Estimates carry ~1.6% HLL error, so the default slack cleanly
    * separates true FDs (ratio ≈ 1) from non-FDs (ratio ≥ the
    * dependent's branching factor, ≥ 2 in practice). Returns one row
    * per ORDERED pair (determinant, dependent, fd), determinant-major.
    * One profiling pass regardless of dim count — at 100 TB this is
    * how a pipeline discovers hierarchy columns (month→quarter,
    * city→state) before choosing lattice tiles or partition keys. */
  def functionalDependencies(df: DataFrame, dims: Seq[String],
      slack: Double = 1.1): DataFrame = {
    require(dims.size >= 2 && dims.size <= 12, "2..12 dimensions")
    val sk = sketch(df, dims)
    val rows = for {
      a <- dims; b <- dims if a != b
    } yield (a, b, sk.pair(Seq(a, b)).toDouble <= slack * sk.card(a).max(1))
    val session = df.sparkSession
    import session.implicits._
    rows.toDF("determinant", "dependent", "fd")
  }

  /** Unique-key discovery over `dims` (ref: profile/ProfilerImpl.java
    * unique-key output + schema/Statistic.java getKeys — the third leg
    * of the reference's table metadata beside rowCount and referential
    * constraints): a column set is a KEY when its distinct count reaches
    * the row count. Verdicts come from the same single profiling pass
    * (singles + pairs); HLL error (~1.6%) sits far from the default
    * slack for real data, where non-keys repeat at least 2×. Returns
    * one row per single and pair: (columns, est_distinct, unique_key).
    * At 100 TB: key discovery feeds dedup, FK verification targets, and
    * bucketing choices without one groupBy per candidate. */
  def uniqueKeyCandidates(df: DataFrame, dims: Seq[String],
      slack: Double = 1.1): DataFrame = {
    require(dims.nonEmpty && dims.size <= 12, "1..12 dimensions")
    val sk = sketch(df, dims)
    val rows = (dims.map(c => (c, sk.card(c))) ++
      sk.pairs.map { case (pr, est) => (pr.mkString(","), est) })
      .map { case (cols, est) => (cols, est, est.toDouble * slack >= sk.rows) }
    val session = df.sparkSession
    import session.implicits._
    rows.toDF("columns", "est_distinct", "unique_key")
  }

  /** Close the profile → constraint loop (ref: profile/ProfilerImpl.java
    * feeding schema/Statistic.java `getKeys` /
    * `getReferentialConstraints`, the metadata Lattice.java and the
    * join-removal rules then trust): ONE sketch pass over the dim
    * classifies each candidate key column as unique-or-not; the
    * survivors get the exact three-condition verification
    * (Constraints.verifyAndDeclare) and, when valid, are DECLARED — so
    * an UNDECLARED schema gains FK star tiles
    * (MaterializedViews.MvRewrite's fkCovers) and join elimination
    * (FkJoinElimination) from one profiling call, no manual catalog
    * work. The sketch is the 100-TB gate: a non-unique key (ratio ≥ 2
    * in practice, far from the ~1.6% HLL error) is rejected for the
    * cost of one HLL instead of an exact groupBy + anti-join.
    * Returns one row per candidate:
    * (fact_col, dim_key, sketch_unique, declared). */
  def profileAndDeclare(spark: SparkSession, factPath: String,
      dimPath: String, candidates: Seq[(String, String)],
      slack: Double = 1.1): DataFrame = {
    require(candidates.nonEmpty, "1+ (factCol, dimKey) candidates")
    val dim = graft.T.normalizeTimestamps(spark.read.parquet(dimPath))
    val sk = sketch(dim, candidates.map(_._2).distinct, withPairs = false)
    val (n, est) = (sk.rows, sk.card)
    // the same pass feeds the NDV statistics registry, so the
    // eager-aggregation gate (AggPushdown) arms alongside the
    // constraints — one profile, three kinds of metadata
    Statistics.declare(spark, dimPath, n, est)
    val rows = candidates.map { case (fc, dk) =>
      val sketchUnique = est(dk).toDouble * slack >= n
      val declared = sketchUnique &&
        Constraints.verifyAndDeclare(spark, factPath, fc, dimPath, dk).valid
      (fc, dk, sketchUnique, declared)
    }
    val session = spark
    import session.implicits._
    rows.toDF("fact_col", "dim_key", "sketch_unique", "declared")
  }

  /** The unique-key side of the closed profile → constraint loop
    * (ref: profile/ProfilerImpl.java unique-key output feeding
    * schema/Statistic.java `getKeys`): ONE sketch pass classifies each
    * single column and column pair of `dims` as key-or-not; the
    * sketch-unique survivors get ONE exact groupBy verification each
    * and, when real, are DECLARED — so outer-join elimination and
    * unique-key aggregate removal fire on an undeclared schema from
    * one profiling call. Non-keys (repetition ≥ 2×, far from the
    * ~1.6% HLL error) are rejected for the cost of a sketch. Returns
    * one row per candidate: (columns, sketch_unique, declared). */
  def profileAndDeclareKeys(spark: SparkSession, path: String,
      dims: Seq[String], slack: Double = 1.1): DataFrame = {
    require(dims.nonEmpty && dims.size <= 12, "1..12 columns")
    val t = graft.T.normalizeTimestamps(spark.read.parquet(path))
    val sk = sketch(t, dims)
    // single-column NDVs also feed the statistics registry (the
    // eager-aggregation gate) — same pass, third metadata kind
    Statistics.declare(spark, path, sk.rows, sk.card)
    val cands = dims.map(c => (Seq(c), sk.card(c))) ++ sk.pairs
    val rows = cands.map { case (cols, est) =>
      val sketchUnique = est.toDouble * slack >= sk.rows
      val declared = sketchUnique &&
        Constraints.verifyAndDeclareUniqueKey(spark, path, cols)
      (cols.mkString(","), sketchUnique, declared)
    }
    val session = spark
    import session.implicits._
    rows.toDF("columns", "sketch_unique", "declared")
  }

  /** Materialize a suggested tile as a substitutable MV. */
  def materialize(spark: SparkSession, name: String, source: DataFrame,
      tile: TileSuggestion, sums: Seq[String]): DataFrame =
    graft.plans.MaterializedViews.register(spark, name, source, tile.dims, sums)

  /** The closed advisor loop (ref: materialize/TileSuggester.java feeding
    * Lattice.java — the reference's lattice auto-materializes recommended
    * tiles so the first matching query already rewrites): profile the
    * star ONCE, keep the suggestions that fit `budgetRows`, and register
    * each as a substitutable MV named `<prefix>_<dims>`. An over-budget
    * dimension set is never materialized — the budget is the knob that
    * keeps tile building from re-paying the fact scan it exists to
    * amortize. Returns the registered tile names (empty when nothing
    * fits). Idempotent per definition via registerOnce. */
  def materializeSuggestions(spark: SparkSession, prefix: String,
      source: DataFrame, dims: Seq[String], sums: Seq[String],
      budgetRows: Long, maxTiles: Int = 3): Seq[String] =
    suggestTiles(source, dims, budgetRows, maxTiles).map { t =>
      // dimension names may themselves contain '_', so a plain join can
      // collide across distinct dim sets (["a_b"] vs ["a","b"]) and
      // registerOnce would silently replace one suggested tile with
      // another (ADVICE r13) — a short hash of the dim LIST disambiguates
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.dims.mkString("\u0001").getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      val name = s"${prefix}_${t.dims.mkString("_")}_$h"
      graft.plans.MaterializedViews.registerOnce(spark, name, source,
        t.dims, sums): Unit
      name
    }
}
