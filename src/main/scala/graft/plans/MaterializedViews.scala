package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Divide, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Materialized-view substitution — the reference's MV rewrite family
  * (ref: rel/rules/materialize/MaterializedViewRules.java:1 +
  * plan/SubstitutionVisitor.java:1, lattices materialize/Lattice
  * .java:1). [[MvRewrite]] answers an aggregate from a tile of the
  * same scan/join shape, of a join-superset star whose extra joins
  * declared foreign keys prove lossless, or of a star the query joins
  * further dimensions onto; plain GROUP BY and GROUPING SETS / ROLLUP /
  * CUBE alike.
  *
  * `register` materializes `source.groupBy(keys).agg(partials)` into
  * the Spark cache; a user-provided optimizer rule then rewrites any
  * later `Aggregate` over the same source whose grouping keys are a
  * subset of the MV's keys and whose aggregates are rollup-able
  * (SUM→SUM of partial sums, COUNT(*)→SUM of partial counts, MIN/MAX→
  * MIN/MAX of partials) to aggregate the CACHED MV instead of
  * rescanning the source.
  *
  * The source may be a single file scan OR inner equi-joins of file
  * scans (the lattice star-join case): matching is by canonical
  * signature — leaf scan paths + the set of join column pairs, both
  * name-based, read off the shared [[StarShape]] walk — so
  * column-pruning Projects, broadcast hints, aliases,
  * and join reorder on the query side don't break recognition
  * (plan/SubstitutionVisitor.java's canonicalize-then-unify). Both
  * compensation directions are supported: a query predicate IMPLYING
  * the MV's re-applies residually on the rollup (filter subsumption),
  * and a strictly WIDER single-range query unions the cached partials
  * with a partial aggregate over only the residual slice of the source
  * (the reference's partial-coverage union rewrite).
  *
  * At 100 TB this is the lattice play: one wide pre-aggregation pass
  * (keys × partials, typically 10⁴-10⁶ rows) absorbs every subsequent
  * rollup query — the fact table is scanned once, not per query.
  *
  * One tile definition: [[TileDef]] holds a tile's keys and its ORDERED
  * partial columns, each a [[Partial]] of one [[Kind]] (its stored name,
  * the aggregate that builds it from source rows, the merge that folds
  * two generations). Registration, delta folds, compaction, adoption,
  * the union residual slice and the rollup (`MvRewrite.rollupAgg`) all
  * read that one list, and CREATE MATERIALIZED VIEW builds it from the
  * analyzed aggregate (`MvRewrite.rollupTile`). The stored layout
  * (partial names, types and order) and the [[TileMeta]] row are an
  * ON-DISK format: a lattice directory one build persisted adopts under
  * the next, so neither changes without a migration.
  *
  * Scope guard: the substitution target stored per MV is the
  * cache-resolved plan (an InMemoryRelation leaf), so rewritten plans
  * contain no file-source relation and the rule cannot re-fire on its
  * own output — fixed-point safe by construction. */
object MaterializedViews {

  /** Canonical shape of an MV's defining query: the multiset of leaf
    * scans (by root path) and the set of inner equi-join column pairs,
    * both name-based — so a later query matches regardless of column
    * pruning Projects, broadcast hints, aliases, or join order
    * (the SubstitutionVisitor's canonicalize-then-match, tolerant of
    * the projections Catalyst interleaves). */
  private final case class Signature(
      leaves: Seq[Set[String]], joinPairs: Set[(String, String)])

  /** One kind of stored partial: its name prefix, the aggregate that
    * builds it from its input column, and the merge that folds two
    * generations of it at the stored type. Every kind is a commutative
    * monoid, so a merge of any split of the rows equals the build over
    * all of them. */
  private final case class Kind(prefix: String, build: Column => Column,
      merge: (Column, DataType) => Column)
  private object Kind {
    // a decimal SUM re-widens on every merge (sum(decimal(p,s)) →
    // p+10): the cast back keeps the stored type, or each fold or
    // compaction would silently mutate the durable layout and a later
    // positional Union (generations, union compensation) would splice
    // mismatched types mid-optimizer
    val Sum = Kind("__mv_sum_", sum(_), (c, t) => sum(c).cast(t))
    // per-column non-null count: COUNT(x) sums these, and AVG(x) rolls
    // up as Σsum/Σcount even when x has NULLs
    val NonNull = Kind("__mv_cntn_", count(_), (c, _) => sum(c))
    val Min = Kind("__mv_min_", min(_), (c, _) => min(c))
    val Max = Kind("__mv_max_", max(_), (c, _) => max(c))
    // HLL sketches (ref: profile/ProfilerImpl.java:577-659 — lattice
    // tiles carry HLL for distinct-count rollups): Datasketches binaries,
    // mergeable across groups, so an APPROX_COUNT_DISTINCT rollup never
    // rescans the fact
    val Hll = Kind("__mv_hll_", hll_sketch_agg(_), (c, _) => hll_union_agg(c))
    // the group's row count (a count of a literal): COUNT(*) and the
    // join path's re-weighting
    val Rows = Kind("__mv_cnt", count(_), (c, _) => sum(c))
  }

  /** One stored partial column: `kind` over the source column `of`, or
    * over the derived measure named `of` when `measure` holds its
    * defining Column (the row count reads no column). */
  private final case class Partial(kind: Kind, of: String,
      measure: Option[Column] = None) {
    val name: String = kind.prefix + of
    def build: Column =
      kind.build(if (kind == Kind.Rows) lit(1) else measure.getOrElse(col(of))).as(name)
    def merge(stored: StructType): Column =
      kind.merge(col(name), stored(name).dataType).as(name)
  }

  /** A tile's definition — the reference lattice's Tile
    * (materialize/Lattice.java: dimensions plus measures): the grouping
    * keys and the ORDERED partial columns. The order is the stored
    * layout: generations and union-compensation branches union
    * POSITIONALLY, so every partials frame of a tile (registration,
    * delta, compaction, adoption, residual slice) is built from this one
    * list, and the rollup reads partial names from it. */
  private final case class TileDef(keys: Seq[String], partials: Seq[Partial]) {
    private val names = partials.map(p => (p.kind, p.of, p.measure.isDefined) -> p.name).toMap
    def isKey(c: String): Boolean = keys.contains(c)
    /** The stored `kind` partial over source column `of`, or over the
      * derived measure named `of`. */
    def partial(kind: Kind, of: String, derived: Boolean = false): Option[String] =
      names.get((kind, of, derived))
    /** The plain source columns a `kind` partial is carried for. */
    def over(kind: Kind): Seq[String] =
      partials.collect { case p if p.kind == kind && p.measure.isEmpty => p.of }
    /** Derived measures (name, defining Column), in declaration order. */
    def measures: Seq[(String, Column)] =
      partials.collect { case Partial(Kind.Sum, n, Some(c)) => n -> c }
    /** Identity up to the measures' Columns (which compare by their
      * canonical SQL, `MvDef.sumDefs`). */
    def layout: (Seq[String], Seq[(String, Boolean)]) =
      (keys, partials.map(p => p.name -> p.measure.isDefined))
    /** The partials of `src`'s rows at the tile's keys. */
    def aggregate(src: DataFrame): DataFrame = {
      val cols = partials.map(_.build)
      src.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    }
    /** Fold generations of partials into one, at the `stored` types. */
    def fold(gens: Seq[DataFrame], stored: StructType): DataFrame = {
      val cols = partials.map(_.merge(stored))
      gens.reduce(_ unionByName _).groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    }
  }
  private object TileDef {
    /** The layout of a declaration: sums (and derived measures) with
      * their non-null counts, count-only columns (a COUNT(x) over a
      * non-summable column such as a string), MIN, MAX, HLL sketches,
      * then the row count. */
    def declare(keys: Seq[String], sums: Seq[String], mins: Seq[String],
        maxs: Seq[String], approxes: Seq[String],
        measures: Seq[(String, Column)], counts: Seq[String]): TileDef =
      TileDef(keys,
        sums.map(Partial(Kind.Sum, _)) ++
          measures.map { case (n, c) => Partial(Kind.Sum, n, Some(c)) } ++
          measures.map { case (n, c) => Partial(Kind.NonNull, n, Some(c)) } ++
          (sums ++ counts).map(Partial(Kind.NonNull, _)) ++
          mins.map(Partial(Kind.Min, _)) ++
          maxs.map(Partial(Kind.Max, _)) ++
          approxes.map(Partial(Kind.Hll, _)) :+
          Partial(Kind.Rows, ""))
  }

  /** One tile: its definition (signature, keys and partials, defining
    * filter, derived measures), its partials frame and its maintenance
    * state. [[store]] takes this record with `mvDf` still the
    * unmaterialized partial aggregate and registers it with `mvDf`
    * replaced by the cached, lineage-cut checkpoint. */
  private final case class MvDef(
      name: String,
      signature: Signature,
      tile: TileDef,
      mvDf: DataFrame,
      // the MV's own defining filter, as literal-folded conjuncts; a
      // query substitutes only when its predicate IMPLIES this one —
      // or, for a strictly WIDER query range, via union compensation
      filterConjuncts: Seq[Expression],
      // the defining source with its filters stripped: the relation the
      // union-compensation residual slice scans
      baseDf: DataFrame,
      // derived measures (the reference lattice's measure EXPRESSIONS,
      // e.g. revenue = price * (1 - discount)): canonical folded SQL of
      // the defining expression → partial name
      sumDefs: Map[String, String] = Map.empty,
      // pending stream-appended delta generations (cached partial-agg
      // frames whose targets are unioned into `target`); compaction
      // merges them back into one generation
      gens: Seq[DataFrame] = Nil,
      // false once a delta that is NOT backed by the source files has
      // been folded in (stream maintenance, ad-hoc refresh): the cached
      // partials stay exact, but union compensation's residual FILE scan
      // could no longer see those rows — so unionTarget refuses such MVs
      unionSafe: Boolean = true,
      // materialized tile size: the substitution's cost key — among
      // MVs that can answer a query, the smallest adequate tile wins
      // (the reference's lattice tile selection, materialize/Lattice
      // .java getTile — pick the least-cost materialization)
      rowCount: Long = Long.MaxValue,
      // durable home of this tile (persistTile/adoptTiles): partials +
      // metadata live here across sessions; DML invalidation deletes it
      durableDir: Option[String] = None,
      // number of gen-N increments currently on disk under durableDir
      // (stream write-through): compaction's full swap resets to 0; a
      // new gen appends at this index so adopted-but-uncompacted gens
      // on disk are never overwritten
      durableGens: Int = 0) {
    // every cached partials frame: the base generation, then the gens
    def frames: Seq[DataFrame] = mvDf +: gens
    // the substitution target: the cache-resolved plan of the partials
    // (an InMemoryRelation leaf once stored), with every pending stream
    // generation unioned on in append order
    val target: LogicalPlan =
      gens.foldLeft(mvDf.queryExecution.withCachedData) { (t, g) =>
        logical.Union(Seq(t, g.queryExecution.withCachedData),
          byName = false, allowMissingCol = false)
      }
    val targetOut: Map[String, Attribute] =
      mvDf.queryExecution.withCachedData.output.map(a => a.name -> a).toMap
    // the defining source's output types: a refresh delta is cast to
    // these before partial-aggregating, so a cast-projected source
    // (e.g. a money column normalized to DECIMAL below the rollup)
    // folds deltas in at the SAME type — otherwise unionByName's set-op
    // widening would silently degrade an exact decimal partial to
    // double
    val srcTypes: Map[String, DataType] =
      baseDf.queryExecution.analyzed.output.map(a => a.name -> a.dataType).toMap
    // the file scans of the defining source: the leaves' relations
    def fileRelations: Seq[HadoopFsRelation] =
      baseDf.queryExecution.analyzed.collect { case lr: LogicalRelation => lr.relation }
        .collect { case fs: HadoopFsRelation => fs }
  }

  private val registry = new ConcurrentHashMap[String, MvDef]()
  private def registered(name: String): MvDef = Option(registry.get(name))
    .getOrElse(throw new IllegalArgumentException(s"unknown MV: $name"))

  /** (signature, filter conjuncts) of a [[StarShape]] plan; None for
    * anything else. Name-based and order-insensitive: leaves sort
    * canonically, join pairs normalize to sorted column-name tuples. */
  private def signatureOf(p: LogicalPlan): Option[(Signature, Seq[Expression])] =
    StarShape.of(p).map { star =>
      val pairs = star.joins.flatMap(_._2).map { case (a, b) =>
        if (a.name <= b.name) (a.name, b.name) else (b.name, a.name)
      }
      (Signature(star.leaves.sortBy(_.toSeq.sorted.mkString("|")), pairs.toSet),
        star.filters)
    }

  /** Register + materialize an MV over `source` (a file-based scan,
    * optionally FILTERED — the reference's MaterializedViewFilterScanRule
    * family: a query substitutes when its own predicate implies the
    * MV's, with the query predicate re-applied on the rollup as the
    * compensating filter). Partials: sum per `sums` column, min/max per
    * `mins`/`maxs`, an HLL sketch per `approxDistincts` column (answers
    * APPROX_COUNT_DISTINCT rollups only — never exact ones), and a group
    * count. Returns the materialized frame (already cached).
    *
    * Exactness invariants the registry enforces, so ANY later matching
    * rollup may be answered from ANY registered MV:
    *   - every carried partial except the HLL sketches is exact, and the
    *     sketches only ever substitute an already-approximate function.
    *     One recombination caveat: AVG answers as Σsum/Σcount through
    *     DOUBLE division (ulp-level vs the unrewritten Average's decimal
    *     division — MaterializedViewSpec pins the 1e-9 contract), so a
    *     hash-compared surface should cast AVG outputs to double, as
    *     every oracle query here does;
    *   - a source with duplicate output column names is rejected here
    *     (all matching is name-based — ambiguity would be unsound);
    *   - staleness: TableDml's mutating writes drop every MV reading
    *     the written path before the write returns (invalidatePath), so
    *     a registered MV always reflects the live table. Appends are
    *     the one algebraically foldable write: TableDml.insertInto
    *     folds them into every MV over the path
    *     (foldAppendOrInvalidate) — a single-leaf MV in place, a join
    *     MV through its star delta on the maintenance thread. */
  def register(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      approxDistincts: Seq[String] = Nil,
      sumExprs: Seq[(String, Column)] = Nil,
      counts: Seq[String] = Nil): DataFrame =
    registerTile(spark, name, source,
      TileDef.declare(keys, sums, mins, maxs, approxDistincts, sumExprs, counts))

  private def registerTile(spark: SparkSession, name: String, source: DataFrame,
      tile: TileDef): DataFrame = maintLock.synchronized {
    val d = defineTile(spark, name, source, tile)
    // a re-registration under an existing name CARRIES the prior durable
    // home forward (ADVICE r13): silently detaching it would leave a
    // stale old-definition tile on disk that a later session re-adopts
    val prior = Option(registry.get(name))
    val carried = prior.flatMap(_.durableDir)
    // a fresh registration recomputes partials from the CURRENT files —
    // any queued deferred fold would re-add rows those files already
    // carry; cancel it
    bumpEpoch(name)
    val out = store(spark, d.copy(durableDir = carried),
      replacedAll = prior.toSeq.flatMap(_.frames))
    // conf-driven lattice home: tiles registered through a session with
    // spark.graft.lattice.dir set persist durably without explicit
    // persistTile calls (the reference stores EVERY materialization).
    // Without the conf, a carried durable home is re-persisted with the
    // NEW definition so the disk never trails the registry.
    confLatticeDir(spark) match {
      case Some(dir) => persistTile(spark, name, dir): Unit
      case None => carried.foreach(_ => writeDurable(spark, registry.get(name)))
    }
    out
  }

  /** The one tile-record constructor (registration and adoption): the
    * signature, defining filter, unfiltered base, measure SQL and
    * unmaterialized partials of `tile` over `source`. */
  private def defineTile(spark: SparkSession, name: String, source: DataFrame,
      tile: TileDef): MvDef = {
    val (signature, srcFilters) = signatureOf(source.queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException(
        "MV source must be projects/filters over inner equi-joins of file scans"))
    // every matching/rebinding step downstream (implication, residual
    // rebind, targetOut) is name-keyed; a join source carrying two
    // identically-named columns would let a query predicate absorb
    // against the WRONG table's column — an unsound substitution. Fail
    // loudly at registration instead.
    val outNames = source.queryExecution.analyzed.output.map(_.name)
    val dupNames = outNames.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    require(dupNames.isEmpty,
      s"MV source has ambiguous duplicate output columns ${dupNames.mkString(", ")}: " +
        "alias one side before registering (matching is name-based)")
    // literal-fold the defining filter so register-time (analyzed, casts
    // unfolded) conjuncts compare equal to query-time (optimized, folded)
    // conjuncts
    val filterConjuncts = srcFilters.map(foldLiterals)
    // the unfiltered base relation — union compensation scans ONLY the
    // residual slice of it when a query's range is wider than the MV's
    val baseDf =
      if (filterConjuncts.isEmpty) source
      else org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        source.queryExecution.analyzed.transformUp {
          case f: logical.Filter => f.child
        })
    MvDef(name, signature, tile, tile.aggregate(source), filterConjuncts, baseDf,
      sumDefs = sumDefsOf(source, tile.measures))
  }

  /** Register-once (the lattice usage pattern: a defining query runs on
    * every dashboard refresh, the tile materializes once): if `name` is
    * already registered with the SAME source signature, keep the live
    * MV and return its frame. A name collision with a DIFFERENT
    * signature re-registers — the same query re-run against another
    * dataset must not silently run unrewritten behind a stale guard. */
  def registerOnce(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], sums: Seq[String],
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil,
      approxDistincts: Seq[String] = Nil,
      sumExprs: Seq[(String, Column)] = Nil,
      counts: Seq[String] = Nil): DataFrame =
    registerTileOnce(spark, name, source,
      TileDef.declare(keys, sums, mins, maxs, approxDistincts, sumExprs, counts))

  private def registerTileOnce(spark: SparkSession, name: String, source: DataFrame,
      tile: TileDef): DataFrame = maintLock.synchronized {
    // identity = the FULL definition: scan/join signature, the defining
    // filter conjuncts (a differently-filtered slice of the same table
    // is a different MV), the keys and partial layout, and the derived
    // measures by canonical SQL
    val parsed = signatureOf(source.queryExecution.analyzed)
    val qFilters = parsed.toSeq.flatMap(_._2).map(e => foldLiterals(e).sql).toSet
    Option(registry.get(name)) match {
      case Some(d) if parsed.map(_._1).contains(d.signature) &&
          d.filterConjuncts.map(_.sql).toSet == qFilters &&
          d.tile.layout == tile.layout && d.sumDefs == sumDefsOf(source, tile.measures) =>
        // the registry is JVM-global but extraOptimizations are
        // per-session: a SECOND session hitting this fast path must
        // still get the rewrite rule installed (ADVICE r12)
        graft.GraftSession.install(spark)
        // a conf'd lattice home must hold on EVERY registration path:
        // a tile that predates the conf (registered homeless, then
        // re-requested through a configured session) gains its home
        if (d.durableDir.isEmpty)
          confLatticeDir(spark).foreach(dir => persistTile(spark, name, dir): Unit)
        d.mvDf
      case _ => registerTile(spark, name, source, tile)
    }
  }

  /** Register-once the tile a rollup-shaped `df` defines over its
    * aggregate's child (the CREATE MATERIALIZED VIEW path); no-op for
    * any shape without a tile form (MvRewrite.rollupTile). */
  private[graft] def registerRollup(spark: SparkSession, name: String, df: DataFrame): Unit =
    Some(df.queryExecution.analyzed).collect { case agg: Aggregate => agg }
      .foreach(agg => MvRewrite.rollupTile(agg).foreach(tile => registerTileOnce(spark, name,
        org.apache.spark.sql.GraftSqlBridge.ofRows(spark, agg.child), tile): Unit))

  /** Fold foldable subtrees (e.g. the implicit CAST a comparison wraps
    * around a string literal) to bare literals, so analyzed-plan filters
    * are comparable with optimizer-folded query filters. */
  private def foldLiterals(e: Expression): Expression = e.transformUp {
    case f if f.foldable && !f.isInstanceOf[Literal] =>
      Literal.create(f.eval(null), f.dataType)
  }

  /** A derived measure's defining Column resolved against `df`, as
    * literal-folded SQL: the canonical form query-side aggregate
    * arguments are matched against. An UNRESOLVED Column's .sql is not
    * re-parseable (Spark 4 renders the ColumnNode wrapper), while the
    * analyzed expression's .sql is plain name-based SQL that expr()
    * round-trips — so the durable metadata stores this form too. */
  private def measureSql(df: DataFrame, name: String, c: Column): String =
    foldLiterals(df.select(c.as(name)).queryExecution.analyzed
      .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child).sql

  /** Canonical measure SQL → partial name, per derived measure. */
  private def sumDefsOf(source: DataFrame,
      sumExprs: Seq[(String, Column)]): Map[String, String] =
    sumExprs.map { case (n, c) => measureSql(source, n, c) -> n }.toMap

  /** Persist the tile's partials (`d.mvDf`, no pending generations),
    * splice the tile into the registry, keep the rewrite rule
    * installed; unpersists the MV generations it replaces. */
  private def store(spark: SparkSession, d: MvDef,
      replacedAll: Seq[DataFrame]): DataFrame = {
    // the row count is the tile's cost key
    val (snapped, rows) = materialize(d.mvDf)
    registry.put(d.name, d.copy(mvDf = snapped, rowCount = rows))
    // every store caches a fresh checkpoint, so the replaced generations
    // can always unpersist (the sameResult guard is kept for the
    // degenerate case of the same frame instance being re-stored)
    val newPlan = snapped.queryExecution.analyzed
    replacedAll.filterNot(_.queryExecution.analyzed.sameResult(newPlan))
      .foreach(_.unpersist())

    graft.GraftSession.install(spark)
    snapped
  }

  /** Store a generation of partials as a table: lineage cut, cached
    * and counted by ONE job that has finished when this returns. The
    * cut comes BEFORE caching: a later append to a source path recaches
    * (refreshByPath) every cache entry reading it, so a tile whose plan
    * still read the files would rebuild from the post-append listing and
    * the next fold would double-count the delta (DmlLatticeSpec's
    * queued-folds case). A checkpointed plan is a LogicalRDD leaf with
    * no file lineage: a stored table, as in the reference's
    * materialize/MaterializationService.java. The lazy checkpoint runs
    * only the plan's shuffle-map stages here; the count over the
    * cache-resolved plan writes its blocks and builds the columnar cache
    * in one pass. DISK_ONLY blocks keep each tile resident once (ADVICE
    * r14): they only cut lineage and rebuild evicted cache partitions. */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val snapped = df.localCheckpoint(false,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    snapped.persist()
    (snapped, snapped.queryExecution.toRdd.count())
  }

  /** Serializes registry read-modify-write sections (refresh, append,
    * compaction, drop-and-fold barriers) so a stream micro-batch cannot
    * resurrect an MV a concurrent DML barrier just dropped, and two
    * concurrent appends cannot lose a generation. The rewrite rule's
    * read path stays lock-free (plain ConcurrentHashMap reads);
    * maintenance is rare, so holding the lock across the merge job is
    * acceptable. */
  private val maintLock = new Object

  /** Incremental maintenance (ref: materialize/MaterializationService
    * .java — the reference re-populates tiles; here the merge is
    * algebraic): given `delta` = rows APPENDED to the MV's source since
    * registration/last refresh, fold them in without rescanning the
    * source. Every carried partial is a commutative monoid — SUM and
    * the counts merge by SUM, MIN/MAX by MIN/MAX — so
    * refresh(MV, delta) ≡ register(source ∪ delta) exactly, at the
    * cost of aggregating only the delta (the 100 TB nightly-load path:
    * the fact table is never rescanned). Caller contract: delta holds
    * only new rows (append-only source); updates/deletes need DML-side
    * recompute of the affected partitions.
    *
    * `deltaInFiles`: pass true ONLY when the delta rows are also
    * physically present in the MV's source files (TableDml.insertInto's
    * fold path) — otherwise the MV is marked union-unsafe, because a
    * union-compensation residual scan of the files could not see those
    * rows. */
  def refreshIncremental(spark: SparkSession, name: String, delta: DataFrame,
      deltaInFiles: Boolean = false): DataFrame = maintLock.synchronized {
    val d = registered(name)
    val deltaAgg = deltaPartials(spark, d, delta)
    compactInto(spark, d, Some(deltaAgg), deltaInFiles)
  }

  /** Merge the base generation, any pending stream generations, and an
    * optional fresh delta into ONE generation (a single bounded-by-
    * |MV|+deltas aggregation), replacing every previous cache entry. */
  private def compactInto(spark: SparkSession, d: MvDef,
      extra: Option[DataFrame], deltaInFiles: Boolean,
      asFold: Boolean = false,
      snapshotEntries: Option[Seq[String]] = None): DataFrame = {
    // store() checkpoints every generation (lineage-cut, see there), so
    // the merged frame needs no extra snapshot here: the old partials it
    // unions are already LogicalRDD leaves no recache can rebuild, and
    // the durable overwrite below can never invalidate what the new
    // generation reads
    val merged = d.tile.fold(Seq(d.mvDf) ++ d.gens ++ extra, d.mvDf.schema)
    // one generation again: the cached gens merge here, and the next
    // durable write (below, or the queued fold's) is a full swap that
    // removes the gen dirs on disk
    val out = store(spark, d.copy(mvDf = merged, gens = Nil,
        unionSafe = d.unionSafe && (extra.isEmpty || deltaInFiles), durableGens = 0),
      replacedAll = d.frames)
    // a durable tile's on-disk copy tracks every compaction (the DML
    // append-fold path lands here), so a later adopt sees fresh partials.
    // A DEFERRED fold writes with the barrier-time leaf entries its delta
    // reflects (never the live listing — later queued appends would pair
    // a post-append fingerprint with partials lacking the append, one
    // crash from an adopter serving them stale); a later adopt of an
    // intermediate-fold copy catches the remaining appends up from the
    // entry diff (adoptOne). A NON-fold caller (refresh, stream
    // compaction, persistTile, single-leaf fold) writes only when NO fold
    // is queued — inferring last-fold-ness from the counter alone was
    // the r14 hazard (ADVICE): with one fold still queued, its live
    // fingerprint would cover partials missing that fold's delta.
    if (asFold || pendingMaintenance(d.name) == 0)
      d.durableDir.foreach(_ =>
        writeDurable(spark, registry.get(d.name), snapshotEntries))
    out
  }

  /** O(|delta|) incremental append (the stream-maintenance fast path):
    * instead of re-aggregating the whole MV per micro-batch, the delta's
    * partial aggregate is cached as an extra GENERATION and unioned into
    * the substitution target — the rollup's final aggregate merges
    * generations exactly as it already merges union-compensation
    * branches, so results are identical at any generation count. Every
    * `compactEvery`-th append folds all generations back into one
    * (amortized O(|MV|)/compactEvery per batch). `generations(name)`
    * exposes the current count. */
  def appendIncremental(spark: SparkSession, name: String, delta: DataFrame,
      compactEvery: Int = 8, deltaInFiles: Boolean = false): DataFrame =
    maintLock.synchronized {
      require(compactEvery >= 2, "compactEvery must be at least 2")
      val d = registered(name)
      val deltaAgg = deltaPartials(spark, d, delta)
      if (d.gens.size + 2 > compactEvery) compactInto(spark, d, Some(deltaAgg), deltaInFiles)
      else {
        val (gen, _) = materialize(deltaAgg)
        // durable write-through: the on-disk copy tracks every batch,
        // not just compactions — a crash loses nothing (the gen merges
        // back at adopt time exactly as the cached generation would).
        // With a deferred FOLD queued the write defers to the fold's
        // compaction instead (its metadata would otherwise pair a live
        // fingerprint with partials lacking the queued append).
        val writeThrough = d.durableDir.isDefined && pendingMaintenance(name) == 0
        // the record unions the gen's cached plan onto its target
        val updated = d.copy(gens = d.gens :+ gen,
          unionSafe = d.unionSafe && deltaInFiles,
          durableGens = if (writeThrough) d.durableGens + 1 else d.durableGens)
        registry.put(name, updated)
        // `updated` so the rewritten metadata carries the POST-append
        // unionSafe; the new gen lands at the pre-append index.
        if (writeThrough)
          writeDurableGen(spark, updated, d.durableGens, gen, deltaInFiles)
        gen
      }
    }

  /** Number of cached generations (1 = fully compacted). */
  def generations(name: String): Int =
    Option(registry.get(name)).map(_.gens.size + 1).getOrElse(0)

  /** Is `name` currently registered? Lets a caller register once and
    * answer every later rollup from the cache (the lattice usage
    * pattern; a DML write to the source drops the registration via
    * invalidatePath, after which this returns false again). */
  def isRegistered(name: String): Boolean = registry.containsKey(name)

  /** Partial-aggregate the delta at the MV's keys, keeping only the rows
    * the MV's defining predicate admits. Conjuncts rebind to the delta's
    * attributes BY NAME (not via a SQL round-trip, which breaks when the
    * registered source carried qualifiers); a type gap from the loader's
    * NTZ normalization closes with a cast on the delta side. */
  private def deltaPartials(spark: SparkSession, d: MvDef, delta0: DataFrame): DataFrame = {
    // fold the delta in AS IF it had been appended to the defining
    // source: columns the source reads through a normalization cast
    // (srcTypes) are cast to the registered type first, so partials
    // merge at identical types (no set-op widening)
    val delta = delta0.select(delta0.schema.fields.map { f =>
      d.srcTypes.get(f.name) match {
        case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    val deltaOut = delta.queryExecution.analyzed.output
      .map(a => a.name -> (a: Attribute)).toMap
    val deltaKept = d.filterConjuncts.foldLeft(delta) { (df, c) =>
      val missing = c.references.map(_.name).filterNot(deltaOut.contains)
      require(missing.isEmpty,
        s"MV ${d.name}: delta is missing filter columns ${missing.mkString(", ")}")
      val bound = c.transform {
        case a: AttributeReference =>
          val out = deltaOut(a.name)
          if (out.dataType == a.dataType) out
          else Cast(out, a.dataType,
            Some(spark.sessionState.conf.sessionLocalTimeZone))
      }
      df.filter(org.apache.spark.sql.GraftSqlBridge.column(bound))
    }
    d.tile.aggregate(deltaKept)
  }

  // ---- deferred join-tile append folds ---------------------------------
  // A one-sided append to a JOIN tile needs the OTHER leaves to compute
  // its star delta (Δ(A⋈B) = ΔA⋈B) — for a dimension append that is a
  // full fact pass, which must not stall the DML thread (the r13 scale
  // flag). The barrier builds the delta PLAN synchronously (schema-only:
  // the other leaves pinned to a file-list snapshot), marks the tile
  // pending — the rewrite skips pending tiles, never serving one that
  // has not absorbed a committed append — and a single maintenance
  // thread runs the fold jobs FIFO. The snapshot is what keeps QUEUED
  // folds exact: fold_i must join the other leaves as of barrier_i;
  // reading live roots at execution time would double-count ΔA⋈ΔB once
  // a later append lands on another leaf.

  /** In-flight deferred folds per tile name. */
  private val pendingFolds = new ConcurrentHashMap[String, Integer]()
  /** Count one more fold the tile must absorb before it serves. */
  private def holdFold(name: String): Unit =
    pendingFolds.merge(name, 1, (a, b) => a + b): Unit
  /** Release one counted fold; the tile serves again at zero. */
  private def releaseFold(name: String): Unit =
    pendingFolds.compute(name, (_, v) => if (v == null || v <= 1) null else v - 1): Unit

  /** Monotone per-name epoch: bumped by every operation after which a
    * queued fold's delta no longer applies — re-register (fresh partials
    * already include the appended files), drop, release, clear. A
    * deferred task applies only at its enqueue-time epoch. */
  private val foldEpochs = new ConcurrentHashMap[String, java.lang.Long]()
  private def epochOf(name: String): Long =
    Option(foldEpochs.get(name)).map(_.toLong).getOrElse(0L)
  private def bumpEpoch(name: String): Unit =
    foldEpochs.merge(name, 1L, (a, b) => a + b): Unit

  private val foldExecutor = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-mv-maintenance"); t.setDaemon(true); t
    })

  /** Block until every deferred fold enqueued so far has completed (the
    * executor is FIFO, so an empty barrier task suffices). Determinism
    * hook for tests and for callers that need read-your-append on a join
    * tile. */
  def awaitMaintenance(): Unit =
    foldExecutor.submit(new Runnable { def run(): Unit = () }).get(): Unit

  /** Deferred folds currently outstanding for `name` (0 = tile serves). */
  def pendingMaintenance(name: String): Int =
    Option(pendingFolds.get(name)).map(_.toInt).getOrElse(0)

  /** Test instrumentation: runs at the start of every deferred fold
    * task, before any lock is taken. */
  private[graft] var foldTaskHook: () => Unit = () => ()

  /** Registered tiles cheapest-first: among MVs that can all answer a
    * query, the smallest adequate tile is tried first — the reference's
    * cost-based tile choice (materialize/Lattice.java getTile picks the
    * least-cost covering materialization). Cross-tile subsumption falls
    * out of the full sweep: a query a COARSE tile cannot answer (e.g.
    * COUNT(DISTINCT c) with c only a key of a FINER tile) keeps probing
    * until the finer tile admits it. Tiles with an in-flight deferred
    * fold are SKIPPED — a committed append they have not absorbed yet
    * must never be missing from an answer. */
  private def candidates: Seq[MvDef] =
    registry.values.toArray.map(_.asInstanceOf[MvDef])
      .filter(d => pendingMaintenance(d.name) == 0)
      .sortBy(_.rowCount).toSeq

  // drop/clear hold maintLock like every other registry write: an
  // unsynchronized drop racing a stream micro-batch could be resurrected
  // by the batch's registry.put, with its cache already unpersisted
  def drop(spark: SparkSession, name: String): Unit = maintLock.synchronized {
    bumpEpoch(name)
    Option(registry.remove(name)).foreach { d =>
      d.frames.foreach(_.unpersist())
      // a dropped durable tile must not be resurrected by a later adopt
      d.durableDir.foreach(deleteDir(spark, _))
    }
  }
  def clear(): Unit = maintLock.synchronized {
    registry.values.forEach { d =>
      bumpEpoch(d.name)
      d.frames.foreach(_.unpersist())
    }
    registry.clear()
  }

  /** DML write-barrier (ref: materialize/MaterializationService.java +
    * MaterializationActor.java — materializations are keyed and
    * re-resolved, never served stale after the backing table changes):
    * drop every registered MV whose defining signature reads `path`, so
    * a rollup issued after an UPDATE/DELETE/MERGE recomputes from the
    * rewritten source instead of answering from a pre-DML cache.
    * TableDml calls this before each mutating write returns; appends go
    * through foldAppendOrInvalidate instead, which folds them in. Path
    * containment is prefix-based so a partition-scoped write under the
    * table root invalidates MVs over the whole table. Returns the names
    * of the dropped MVs (empty when nothing read the path). */
  def invalidatePath(spark: SparkSession, path: String): Seq[String] =
    maintLock.synchronized {
      val hit = touchedBy(spark, path).map(_.name)
      hit.foreach(drop(spark, _))
      hit
    }

  /** Does any MV read `path`? (TableDml.insertInto persists the append
    * rows before writing when this is true, so the fold sees the same
    * snapshot that was written.) */
  def watchesPath(spark: SparkSession, path: String): Boolean =
    touchedBy(spark, path).nonEmpty

  /** APPEND write-barrier (TableDml.insertInto): an append is exactly
    * refreshIncremental's delta contract, so an MV over the appended
    * path folds the new rows in algebraically and stays live — the
    * nightly-load path never re-registers. A JOIN MV folds too (r13):
    * inner joins distribute over union on either input, so the star's
    * delta is the appended rows joined against the OTHER leaves' files
    * — Δ(A ⋈ B) = ΔA ⋈ B when only A changed (starDeltaSnapshot; at
    * 100 TB a fact append joins the broadcast-small dims, a dim append
    * pays one fact pass — both beat rebuilding the tile), and the fold
    * runs on the maintenance thread (foldAppend). The appended rows ARE
    * in the files, so the MV stays union-compensation-safe: the base
    * relation's file indexes are refreshed so a residual scan sees the
    * new files. A fold that fails for any reason — including a path
    * matching MORE than one leaf (self-join: the delta would need both
    * sides simultaneously) or another leaf listing no data files —
    * downgrades to DROP (the barrier's guarantee is no-stale-MV, never
    * at the cost of failing a committed write). `releaseRows`: the
    * caller hands ownership of a PERSISTED delta to the barrier —
    * unpersisted once every fold that reads it (including deferred
    * ones, which outlive this call) has completed. Returns (folded,
    * dropped) names. */
  def foldAppendOrInvalidate(spark: SparkSession, path: String,
      rows: DataFrame, releaseRows: Boolean = false): (Seq[String], Seq[String]) =
    maintLock.synchronized {
    var deferredAny = false
    val outcomes = touchedBy(spark, path).map { d =>
      try {
        d.fileRelations.foreach(_.location.refresh())
        // the append is committed and the barrier holds the lock: the
        // listing NOW is exactly what this fold's delta reflects
        deferredAny |= foldAppend(spark, d, path, rows,
          leafEntries(spark, d.signature.leaves))
        (d.name, true)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] MV ${d.name}: append fold failed (${e.getMessage}); dropping")
          drop(spark, d.name)
          (d.name, false)
      }
    }
    if (releaseRows) {
      if (deferredAny) foldExecutor.submit(new Runnable {
        def run(): Unit = { rows.unpersist(): Unit }
      }): Unit
      else rows.unpersist(): Unit
    }
    (outcomes.collect { case (n, true) => n },
      outcomes.collect { case (n, false) => n })
  }

  /** Fold `rows`, appended under `path`, into tile `d`: the one append
    * fold of the DML barrier and the adopt catch-up. A single-leaf tile
    * compacts the delta in now: one job (materialize) after AQE's
    * shuffle-map jobs. A JOIN tile's fold (a fact pass for a dim append)
    * runs on the maintenance thread instead (the r13 scale flag): the
    * star delta PLAN is built here from a file listing and the leaves'
    * registered schemas, with no Spark job, so an ambiguous recipe still
    * throws to the caller — and the tile stays pending, skipped by the
    * rewrite, until the fold lands. Its durable
    * copy is then written with `entries`, the listing the delta
    * reflects (by execution time a later queued append may already be
    * live). Throws when no fold can be built; returns whether the fold
    * was deferred. */
  private def foldAppend(spark: SparkSession, d: MvDef, path: String,
      rows: DataFrame, entries: => Seq[String]): Boolean =
    if (d.signature.leaves.size == 1) {
      compactInto(spark, d, Some(deltaPartials(spark, d, rows)), deltaInFiles = true)
      false
    } else {
      val deltaAgg = deltaPartials(spark, d, starDeltaSnapshot(spark, d, path, rows))
      val entriesNow = d.durableDir.map(_ => entries)
      holdFold(d.name)
      val epoch = epochOf(d.name)
      foldExecutor.submit(new Runnable {
        def run(): Unit = runDeferredFold(spark, d.name, epoch, deltaAgg, entriesNow)
      }): Unit
      true
    }

  /** Execute one deferred fold at its enqueue-time epoch; a bumped epoch
    * (re-register/drop/release since the barrier) skips — the delta no
    * longer applies to what the registry holds. Failures drop the tile,
    * the barrier's no-stale guarantee. The fold's jobs carry only its
    * own description: the maintenance thread inherits the local
    * properties of the DML caller that started it, whose
    * cancelJobGroup must not cancel (so drop) every later fold. */
  private def runDeferredFold(spark: SparkSession, name: String, epoch: Long,
      deltaAgg: DataFrame, snapshotEntries: Option[Seq[String]]): Unit = {
    org.apache.spark.sql.GraftSqlBridge.clearLocalProperties(spark.sparkContext)
    spark.sparkContext.setJobDescription(s"graft MV fold $name")
    foldTaskHook()
    maintLock.synchronized {
      try {
        if (epochOf(name) == epoch) Option(registry.get(name)).foreach { d =>
          try compactInto(spark, d, Some(deltaAgg), deltaInFiles = true,
            asFold = true, snapshotEntries = snapshotEntries): Unit
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft] MV $name: deferred append fold " +
                s"failed (${e.getMessage}); dropping")
              drop(spark, name)
          }
        }
      } finally releaseFold(name)
    }
  }

  /** The star's delta for a one-sided append: the appended rows stand in
    * for their leaf, and every OTHER leaf reads an explicit file list
    * captured NOW (the snapshot that keeps queued folds exact) with the
    * schema of its relation in the defining source, so building the
    * delta runs no Spark job. Exact because inner joins distribute over
    * union on either input.
    * Throws when the appended path does not identify exactly one leaf
    * (self-join ambiguity), or another leaf has no relation in the
    * source, lists no data files or cannot be listed (the caller drops
    * the tile). */
  private def starDeltaSnapshot(spark: SparkSession, d: MvDef, path: String,
      rows: DataFrame): DataFrame = {
    val touches = touchesPath(spark, path)
    val hits = d.signature.leaves.zipWithIndex
      .collect { case (l, i) if l.exists(touches) => i }
    require(hits.size == 1,
      s"append touches ${hits.size} leaves of MV ${d.name}; delta needs exactly one")
    // each leaf's schema, keyed by the root paths StarShape derives the
    // leaf from: a bare read of the pinned files would infer it from
    // their footers in a job
    val schemas = d.fileRelations
      .map(fs => fs.location.rootPaths.map(_.toString).toSet -> fs.schema).toMap
    val frames = d.signature.leaves.zipWithIndex.map { case (l, i) =>
      if (i == hits.head) rows
      else {
        val schema = schemas.getOrElse(l, throw new IllegalArgumentException(
          s"a leaf of MV ${d.name} has no file relation in its source"))
        val groups = listLeafFiles(spark, l)
        require(groups.nonEmpty, s"a leaf of MV ${d.name} lists no data files")
        // one pinned frame per (files, basePath) group, unioned by
        // name: a FLAT multi-root leaf is one group; a PARTITIONED
        // root reads its own files under itself as basePath, so the
        // directory-encoded columns re-derive per root exactly as the
        // original joint read resolved them relative to each root
        groups.map { case (files, basePath) =>
          val reader = basePath.foldLeft(spark.read.schema(schema))(
            (r, bp) => r.option("basePath", bp))
          graft.T.normalizeTimestamps(reader.parquet(files: _*))
        }.reduce(_ unionByName _)
      }
    }
    joinFrames(frames, d.signature.joinPairs.toSeq)
  }

  /** Pinned snapshot of a leaf as (files, basePath) read groups, listed
    * NOW: flat roots pool into one group; a partitioned root becomes its
    * own group read under itself as basePath, so partition columns
    * re-derive from the pinned file paths — a fact partitioned by day
    * folds off the DML thread like a flat one. Empty when the leaf has
    * no data files at all. */
  private def listLeafFiles(spark: SparkSession, roots: Set[String])
      : Seq[(Seq[String], Option[String])] = {
    val conf = spark.sessionState.newHadoopConf()
    val listed = roots.toSeq.sorted.map { root =>
      val (files, nested) = dataFiles(conf, root)
      (root, files.map(_.getPath.toString), nested)
    }
    val flat = listed.collect { case (_, files, false) => files }.flatten
    listed.collect { case (root, files, true) if files.nonEmpty => (files, Some(root)) } ++
      (if (flat.isEmpty) Nil else Seq((flat, None)))
  }

  /** The data files under one source root, walked recursively with
    * Spark's hidden-path rule at every level (a `_` or `.` name other
    * than a `k=v` partition directory, or an in-flight `._COPYING_`
    * file, is not table data — so neither `_SUCCESS` nor the files of
    * a `_temporary` write directory count), and whether any sit below
    * a subdirectory (a partitioned layout). Throws when the root cannot
    * be listed. */
  private def dataFiles(conf: org.apache.hadoop.conf.Configuration, root: String)
      : (Seq[org.apache.hadoop.fs.FileStatus], Boolean) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(conf)
    var nested = false
    def walk(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.filterNot { st =>
        val nm = st.getPath.getName
        (nm.startsWith("_") && !nm.contains("=")) || nm.startsWith(".") ||
          nm.endsWith("._COPYING_")
      }.flatMap { st =>
        if (st.isDirectory) { nested = true; walk(st.getPath) } else Seq(st)
      }
    val files = walk(p)
    (files, nested)
  }

  /** The touched-leaf test for a write to `path`: a leaf root is touched
    * when it is the path, lies under it, or contains it. */
  private def touchesPath(spark: SparkSession, path: String): String => Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val qualified =
      p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
    leaf => leaf == qualified || leaf.startsWith(qualified + "/") ||
      qualified.startsWith(leaf + "/")
  }

  private def touchedBy(spark: SparkSession, path: String): Seq[MvDef] = {
    val touches = touchesPath(spark, path)
    import scala.jdk.CollectionConverters._
    registry.values.asScala
      .filter(_.signature.leaves.exists(_.exists(touches))).toSeq
  }

  /** Continuous MV maintenance from a stream (ref: the reference's
    * materializations never see streams — this is the Spark-native
    * composition: STREAM Δ rows ARE the append-only delta contract of
    * the incremental refresh). Each micro-batch APPENDS its partial
    * aggregate as a cached generation — per-batch cost O(|batch|), not
    * O(|MV|) — and every `compactEvery`-th batch folds the generations
    * back into one, so rollup queries see data as fresh as the last
    * completed batch at a bounded union width. Returns the
    * StreamingQuery handle (caller stops it). */
  def maintainFromStream(spark: SparkSession, name: String,
      delta: DataFrame, compactEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(delta.isStreaming, "maintainFromStream needs a streaming DataFrame")
    delta.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) { appendIncremental(spark, name, batch, compactEvery); () }
      }
      .start()
  }

  // ---- durable tiles ---------------------------------------------------
  // (ref: materialize/MaterializationService.java + MaterializationActor
  // .java — the reference stores materializations as actual schema tables
  // keyed and re-resolved centrally, surviving the connection. Here the
  // durable home is a lattice directory: each tile's partials persist as
  // parquet next to a metadata row, and a new session re-adopts them —
  // the scan-once economics survive a driver restart. Validity is keyed
  // by a fingerprint of the source leaves' file listings, the analog of
  // the reference's keyed-validity model: a tile whose source changed
  // while no session watched it is discarded at adopt time, never served
  // stale.)

  /** Serialized tile definition — one row beside the partials parquet. */
  private[plans] final case class TileMeta(
      name: String, keys: Seq[String], sums: Seq[String],
      cntns: Seq[String], mins: Seq[String], maxs: Seq[String],
      approxes: Seq[String],
      leaves: Seq[String],     // each leaf's sorted root paths, \u0001-joined
      joinPairs: Seq[String],  // "a\u0001b", name-normalized
      filterSqls: Seq[String], // folded defining conjuncts, re-parseable SQL
      sumDefKeys: Seq[String], sumDefNames: Seq[String],   // derived measures
      sumExprNames: Seq[String], sumExprSqls: Seq[String], // their columns
      unionSafe: Boolean,
      fingerprint: String,
      // the defining source's OUTPUT schema (name + DataType.json, in
      // source column order): adoptOne re-applies it on the rebuilt
      // base, so a same-name cast projection the registered source
      // carried (e.g. a money column normalized to DECIMAL) survives
      // adoption — without it, post-adopt folds would compute partials
      // at the raw file types and silently widen the durable layout
      // (ADVICE r13 medium)
      srcCols: Seq[String], srcTypeJsons: Seq[String],
      // declared foreign keys whose BOTH sides are tile leaves, as
      // 4-field -joined rows: re-declared at adopt time so a
      // zero-API restarted driver regains fact-only FK-tile subsumption
      // (ref: constraints live on table metadata, schema/Statistic.java
      // getReferentialConstraints — they belong wherever the catalog
      // stores the materialization)
      fks: Seq[String],
      // the exact `path|length|mtime` listing the fingerprint hashes —
      // adoptOne diffs it against the live listing, so a copy written
      // before a crash can be caught UP (append-only diff folds in)
      // instead of discarded
      leafEntries: Seq[String],
      // how many gen-<idx> increments this meta ACCOUNTS for (indices
      // 0 until gens): adoption drops any on-disk gen at an index ≥
      // gens — the in-files-delta crash window (gen renamed, meta
      // write lost) whose rows the append-only catch-up re-derives
      // from the files; keeping such a gen would double-count the
      // delta. A LISTED-but-missing gen (meta-first stream order,
      // crash before the gen rename) stays the documented conservative
      // loss.
      gens: Long)

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit =
    try { val (fs, p) = hadoopFs(spark, dir); fs.delete(p, true): Unit }
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] durable tile cleanup failed for $dir: ${e.getMessage}")
    }

  /** The source leaves' data-file listings as `path|length|mtime`
    * entries, root-sorted then entry-sorted within each root — the
    * tile's validity evidence (the fingerprint hashes this list, and
    * adoptOne diffs it to catch appended files up). It lists through
    * dataFiles, so Spark bookkeeping (_SUCCESS, dot-files, an
    * uncommitted `_temporary` write) is excluded; it changes benignly. */
  private def leafEntries(spark: SparkSession,
      leaves: Seq[Iterable[String]]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    leaves.flatten.sorted.flatMap { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      if (p.getFileSystem(conf).exists(p))
        dataFiles(conf, root)._1
          .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
      else Seq(s"missing:$root")
    }
  }

  /** MD5 over the leaf entries — the tile's validity key. */
  private def fingerprintOf(entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def leafFingerprint(spark: SparkSession,
      leaves: Seq[Iterable[String]]): String =
    fingerprintOf(leafEntries(spark, leaves))

  /** Hadoop paths reject ':' in components (ddl:name); collapse to a
    * filesystem-safe slug. A sanitized name gets a short hash suffix so
    * distinct names (ddl:x vs ddl_x) can never share a durable home —
    * the true name travels in the metadata row either way. */
  private def pathSlug(name: String): String = {
    val safe = name.replaceAll("[^A-Za-z0-9._-]", "_")
    if (safe == name) name
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(name.getBytes("UTF-8"))
      safe + "-" + md.take(4).map("%02x".format(_)).mkString
    }
  }

  /** Test instrumentation: runs between the staged durable write (the
    * fingerprint is computed inside it) and the commit swap — the window
    * an out-of-band source write races. Production value is a no-op. */
  private[graft] var durableCommitHook: () => Unit = () => ()
  /** Fires between a committed gen rename and its meta write — the
    * in-files-delta crash window the gen fingerprint marker exists
    * for; tests crash here. */
  private[graft] var durableGenMetaHook: () => Unit = () => ()

  /** Write the tile's current partials + metadata to its durable home —
    * staged into a dot-prefixed sibling then swapped in (TableDml's
    * commit pattern), so a concurrent adopter never reads a
    * half-written directory: it sees the old tile, or briefly none
    * (skipped with a warning), never a torn one. Dot-prefixed staging
    * dirs are invisible to adoptTiles.
    *
    * The swap also resolves the store/adopt race (ADVICE r12/r13): a
    * source write landing between the fingerprint computation and the
    * commit would leave a tile claiming validity for files it never
    * folded. After the swap the fingerprint is recomputed; on mismatch
    * the tile SELF-INVALIDATES (registration dropped, durable home
    * deleted) — the same never-serve-stale rule the DML barrier applies. */
  private def writeDurable(spark: SparkSession, d: MvDef,
      snapshotEntries: Option[Seq[String]] = None): Unit = {
    val dir = d.durableDir.getOrElse(
      throw new IllegalStateException(s"MV ${d.name} has no durable home"))
    // the fingerprint recorded in the metadata row: from the snapshot
    // entries when given, else the live source listings at write time
    val fp = commitStaged(spark, dir, beforeSwap = () => durableCommitHook()) { staged =>
      d.mvDf.write.mode("overwrite").parquet(s"$staged/data")
      val meta = tileMetaOf(spark, d, snapshotEntries)
      writeMeta(spark, meta, staged)
      meta.fingerprint
    }
    // the full swap removed any gen-N increments; the registry entry
    // tracks the on-disk generation count for the write-through path
    registry.computeIfPresent(d.name, (_, cur) =>
      if (cur.durableDir.contains(dir)) cur.copy(durableGens = 0) else cur): Unit
    // with SNAPSHOT entries the recorded listing is authoritative for
    // what the partials reflect — divergence from the live listing is
    // expected (later queued appends) and adoptOne reconciles it from
    // the entry diff; only a LIVE-listing write self-checks for the
    // out-of-band race
    if (snapshotEntries.isEmpty &&
        leafFingerprint(spark, d.signature.leaves) != fp) {
      System.err.println(s"[graft] durable tile ${d.name}: source changed " +
        "during persist; self-invalidating")
      drop(spark, d.name)
    }
  }

  /** The one staged commit of every durable write: `write` fills a
    * dot-prefixed `.<name>.staging` sibling of `target`, `beforeSwap`
    * runs, and the sibling is renamed over `target` (TableDml's commit
    * pattern). A concurrent or cross-process adopter sees the old copy
    * or the new one, never a torn one; the staging dirs are invisible
    * to adoptTiles. */
  private def commitStaged[A](spark: SparkSession, target: String,
      beforeSwap: () => Unit = () => ())(write: String => A): A = {
    val p = new org.apache.hadoop.fs.Path(target)
    val staged = new org.apache.hadoop.fs.Path(
      p.getParent, "." + p.getName + ".staging")
    val out = write(staged.toString)
    beforeSwap()
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    if (!fs.rename(staged, p))
      throw new java.io.IOException(s"durable commit failed: $staged -> $p")
    out
  }

  private def tileMetaOf(spark: SparkSession, d: MvDef,
      entriesOverride: Option[Seq[String]] = None,
      gens: Long = 0L): TileMeta = {
    val sumDefSeq = d.sumDefs.toSeq.sortBy(_._2)
    // a deferred fold passes the barrier-time listing its partials
    // actually reflect; everything else records the live listing
    val entries = entriesOverride.getOrElse(
      leafEntries(spark, d.signature.leaves))
    val srcFields = d.baseDf.queryExecution.analyzed.output
    // the declaration's lists, read back off the layout (tileOf(meta) is
    // the inverse): the non-null counts of the sums come first, then the
    // count-only columns
    val t = d.tile
    val sums = t.over(Kind.Sum)
    TileMeta(
      name = d.name, keys = t.keys, sums = sums,
      cntns = t.over(Kind.NonNull).drop(sums.size),
      mins = t.over(Kind.Min), maxs = t.over(Kind.Max), approxes = t.over(Kind.Hll),
      leaves = d.signature.leaves.map(_.toSeq.sorted.mkString("\u0001")),
      joinPairs = d.signature.joinPairs.toSeq.sorted
        .map { case (a, b) => s"${a}\u0001${b}" },
      filterSqls = d.filterConjuncts.map(_.sql),
      sumDefKeys = sumDefSeq.map(_._1), sumDefNames = sumDefSeq.map(_._2),
      sumExprNames = t.measures.map(_._1),
      sumExprSqls = t.measures.map { case (n, c) => measureSql(d.baseDf, n, c) },
      unionSafe = d.unionSafe,
      fingerprint = fingerprintOf(entries),
      srcCols = srcFields.map(_.name),
      srcTypeJsons = srcFields.map(_.dataType.json),
      // column LISTS \u0002-joined within each \u0001 field — a
      // single-column key round-trips byte-identically with the
      // pre-composite format
      fks = graft.catalog.Constraints.forLeaves(d.signature.leaves).map(fk =>
        Seq(fk.factPath, fk.factCols.mkString("\u0002"), fk.dimPath,
          fk.dimKeys.mkString("\u0002")).mkString("\u0001")),
      leafEntries = entries,
      gens = gens)
  }

  /** The tile definition a metadata row records (tileMetaOf's inverse):
    * derived measures re-parse from their canonical SQL. */
  private def tileOf(meta: TileMeta): TileDef =
    TileDef.declare(meta.keys, meta.sums, meta.mins, meta.maxs, meta.approxes,
      meta.sumExprNames.zip(meta.sumExprSqls.map(expr)), meta.cntns)

  /** Stage-and-rename the metadata row (ADVICE r14): an in-place
    * overwrite would let a concurrent cross-process adopter read a
    * missing or torn `meta`; after the rename it sees the old row or
    * the new one, never neither. */
  private def writeMeta(spark: SparkSession, meta: TileMeta, dir: String): Unit = {
    val session = spark
    import session.implicits._
    commitStaged(spark, s"$dir/meta") { staged =>
      Seq(meta).toDS().repartition(1).write.mode("overwrite").parquet(staged)
    }
  }

  /** Stream-generation write-through (the r13 durability-window fix):
    * persist one appendIncremental generation as `gen-<idx>` beside the
    * tile's base partials, so the durable copy is as fresh as the last
    * micro-batch — the crash window that previously spanned
    * compactEvery−1 cache-only batches closes. Write order is chosen so
    * a crash between the two writes always leaves a CONSERVATIVE state
    * (ADVICE r14): a stream delta (not in the source files) writes
    * metadata first — the adopter sees tighter metadata (unionSafe may
    * flip) without the newest gen, never a gen the metadata does not
    * account for; an IN-FILES delta moves the fingerprint, so the gen
    * commits first — the adopter then sees old metadata whose
    * fingerprint mismatches the appended files and reconciles from the
    * entry diff (or discards), never a post-append fingerprint
    * validating partials that lack the delta. Both writes stage +
    * rename, so adoptTiles never reads a torn increment or a missing
    * meta. */
  private def writeDurableGen(spark: SparkSession, d: MvDef, idx: Int,
      gen: DataFrame, deltaInFiles: Boolean): Unit = {
    val dir = d.durableDir.getOrElse(
      throw new IllegalStateException(s"MV ${d.name} has no durable home"))
    // the meta records which gen indices it ACCOUNTS for (idx + 1 —
    // this gen included): a crash between the gen rename and the meta
    // write leaves a gen at an index the surviving meta's `gens` does
    // not reach, which adoption recognizes and drops — its rows are
    // exactly what the append-only catch-up re-derives, so keeping it
    // would double-count the delta
    val meta = tileMetaOf(spark, d, gens = idx + 1L)
    if (!deltaInFiles) writeMeta(spark, meta, dir)
    commitStaged(spark, s"$dir/gen-$idx", beforeSwap = () => durableCommitHook()) { staged =>
      gen.write.mode("overwrite").parquet(staged)
    }
    durableGenMetaHook()
    if (deltaInFiles) writeMeta(spark, meta, dir)
    if (leafFingerprint(spark, d.signature.leaves) != meta.fingerprint) {
      System.err.println(s"[graft] durable tile ${d.name}: source changed " +
        "during gen persist; self-invalidating")
      drop(spark, d.name)
    }
  }

  /** Conf-driven durable lattice home (the zero-API MaterializationService
    * mode): with `spark.graft.lattice.dir` set on a session, every tile
    * registered THROUGH that session persists durably under the dir, and
    * the SQL front door (GraftSql.sql) adopts the dir's tiles once per
    * session before the first statement — so a dashboard driver restarts
    * into its warmed lattice with no orchestration code. */
  val LatticeDirConf = "spark.graft.lattice.dir"

  private val autoAdopted = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def confLatticeDir(spark: SparkSession): Option[String] =
    Option(spark.conf.get(LatticeDirConf, null)).filter(_.nonEmpty)

  /** Adopt the session's configured lattice dir, once per session (no-op
    * without the conf). Called by the SQL front door; programmatic users
    * call adoptTiles directly. */
  def autoAdopt(spark: SparkSession): Unit =
    confLatticeDir(spark).foreach { dir =>
      if (autoAdopted.add(spark)) adoptTiles(spark, dir): Unit
    }

  /** Persist a registered tile's partials under `latticeDir/<name>` so a
    * later session can re-adopt them (adoptTiles) without re-scanning the
    * fact. Pending stream generations are compacted first — the durable
    * copy is always one generation. From here on, every compaction
    * (including DML append folds) re-persists, and drop/invalidatePath
    * deletes the durable home, so the on-disk tile is never left stale
    * behind an in-session invalidation. */
  def persistTile(spark: SparkSession, name: String, latticeDir: String): String =
    maintLock.synchronized {
      val d0 = registered(name)
      if (d0.gens.nonEmpty) compactInto(spark, d0, None, deltaInFiles = false): Unit
      val tileDir = s"$latticeDir/${pathSlug(name)}"
      registry.put(name, registry.get(name).copy(durableDir = Some(tileDir)))
      // with a deferred fold QUEUED, the write belongs to the fold's
      // final compaction: persisting NOW would pair the live
      // (post-append) fingerprint with partials that lack the append —
      // one crash away from adopting stale data as valid. The home is
      // set; the last queued fold writes it.
      if (pendingMaintenance(name) == 0)
        writeDurable(spark, registry.get(name))
      tileDir
    }

  /** Re-adopt every valid tile under `latticeDir` into THIS session's
    * registry + rewrite rule. Cost: one read of each tile's partials
    * (tile-scale rows) — the fact is never scanned; the defining source
    * is rebuilt from the recipe for compensation/fold purposes only
    * (schema resolution, no jobs). A tile whose source fingerprint no
    * longer matches (the table changed while no session watched — e.g.
    * DML from another driver) is DISCARDED, the keyed-validity rule.
    * Returns adopted names. */
  def adoptTiles(spark: SparkSession, latticeDir: String): Seq[String] =
    maintLock.synchronized {
      val (fs, root) = hadoopFs(spark, latticeDir)
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).filter(_.isDirectory).toSeq
        .filterNot(_.getPath.getName.startsWith(".")) // staging dirs
        .sortBy(_.getPath.getName)
        .flatMap(st => adoptOne(spark, st.getPath.toString))
    }

  private def adoptOne(spark: SparkSession, tileDir: String): Option[String] = try {
    val session = spark
    import session.implicits._
    // a crash between writeMeta's delete and rename leaves a COMPLETE
    // staged meta (_SUCCESS present) and no live one — finish the
    // rename instead of failing this adopt forever
    locally {
      val (fs0, _) = hadoopFs(spark, tileDir)
      val metaP = new org.apache.hadoop.fs.Path(s"$tileDir/meta")
      val staged = new org.apache.hadoop.fs.Path(s"$tileDir/.meta.staging")
      if (!fs0.exists(metaP) &&
          fs0.exists(new org.apache.hadoop.fs.Path(staged, "_SUCCESS")))
        fs0.rename(staged, metaP): Unit
    }
    // a meta written by a PRE-leafEntries/gens build cannot support the
    // append-only reconciliation contract — discard the tile (one
    // re-materialization) instead of failing every future adopt
    if (!Seq("leafEntries", "gens").forall(
        spark.read.parquet(s"$tileDir/meta").columns.contains)) {
      System.err.println(s"[graft] durable tile at $tileDir predates the " +
        "entry-list format; discarding for re-materialization")
      deleteDir(spark, tileDir)
      return None
    }
    val meta = spark.read.parquet(s"$tileDir/meta").as[TileMeta].collect()(0)
    val leaves: Seq[Seq[String]] = meta.leaves.map(_.split('\u0001').toSeq)
    // a changed source is reconciled, not reflexively discarded: when
    // the recorded entry list is a strict append-only prefix of the
    // live listing (files only ADDED, flat, one leaf), the new files
    // are exactly a fold delta — the crash-between-queued-folds state
    // recovers the persisted partials and catches the appends up
    // instead of re-paying the fact scan (ref: the reference
    // re-populates materializations, MaterializationService.java; here
    // re-population is the algebraic delta fold)
    val liveEntries = leafEntries(spark, leaves)
    val changed = fingerprintOf(liveEntries) != meta.fingerprint
    val catchUp =
      if (!changed) None
      else appendOnlyDiff(leaves, meta.leafEntries, liveEntries)
    if (changed && catchUp.isEmpty) {
      System.err.println(
        s"[graft] durable tile ${meta.name}: source changed since persist; discarding")
      deleteDir(spark, tileDir)
      None
    } else if (registry.containsKey(meta.name)) {
      // live registration wins (it is at least as fresh); just make sure
      // THIS session rewrites through it
      graft.GraftSession.install(spark)
      Some(meta.name)
    } else {
      // re-apply the recorded source schema on the rebuilt base (ADVICE
      // r13): a same-name cast projection the registered source carried
      // must survive adoption, or post-adopt folds/union compensation
      // would run at the raw file types — silently widening the durable
      // partial layout or splicing a type-mismatched positional Union
      val base0 = rebuildJoin(spark, leaves,
        meta.joinPairs.map { s => val Array(a, b) = s.split('\u0001'); (a, b) })
      val srcTypes = meta.srcCols.zip(
        meta.srcTypeJsons.map(DataType.fromJson))
      val have = base0.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = srcTypes.collect { case (n, _) if !have.contains(n) => n }
      require(missing.isEmpty,
        s"rebuilt source is missing recorded columns ${missing.mkString(", ")}")
      val base = base0.select(srcTypes.map { case (n, t) =>
        if (have(n) == t) col(n) else col(n).cast(t).as(n)
      }.toIndexedSeq: _*)
      val source = meta.filterSqls.foldLeft(base)((df, s) => df.filter(expr(s)))
      val rebuilt = defineTile(spark, meta.name, source, tileOf(meta))

      // verify the rebuilt source reproduces the stored partial layout
      // exactly (names + types): a drift here would corrupt the first
      // post-adopt fold — discard instead (the tile can never adopt)
      def shape(st: StructType) =
        st.fields.map(f => (f.name, f.dataType)).toSeq
      val expected = rebuilt.mvDf.schema
      val data = spark.read.parquet(s"$tileDir/data")
      if (shape(expected) != shape(data.schema)) {
        System.err.println(s"[graft] durable tile ${meta.name}: rebuilt " +
          s"partial layout ${shape(expected)} does not match stored " +
          s"${shape(data.schema)}; discarding")
        deleteDir(spark, tileDir)
        return None
      }

      // durable gen increments (stream write-through): merge them with
      // the base partials — identical to how the cached generations
      // would merge (tile-scale work, the fact is never scanned)
      val (fs, _) = hadoopFs(spark, tileDir)
      val genDirs0 = fs.listStatus(new org.apache.hadoop.fs.Path(tileDir))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .sortBy(_.getPath.getName.stripPrefix("gen-").toInt).toSeq
      // a gen at an index the meta's `gens` does not reach is
      // UNACCOUNTED — the in-files-delta crash window (gen renamed,
      // meta write lost): its rows are exactly what the append-only
      // catch-up below re-derives from the files, so keeping it would
      // double-count the delta. Drop it. Accounted-but-missing indices
      // (meta-first stream order, crash before the gen rename) remain
      // the documented conservative loss.
      val genDirs = genDirs0.filter { g =>
        val idx = g.getPath.getName.stripPrefix("gen-").toInt
        val accounted = idx < meta.gens
        if (!accounted) {
          System.err.println(s"[graft] durable tile ${meta.name}: dropping " +
            s"unaccounted ${g.getPath.getName} (its delta re-derives from files)")
          fs.delete(g.getPath, true): Unit
        }
        accounted
      }
      val genFrames = genDirs.map(g => spark.read.parquet(g.getPath.toString))
      genFrames.zip(genDirs).foreach { case (g, dir2) =>
        if (shape(g.schema) != shape(data.schema)) {
          System.err.println(s"[graft] durable tile ${meta.name}: gen " +
            s"${dir2.getPath.getName} layout ${shape(g.schema)} does not " +
            s"match base ${shape(data.schema)}; discarding tile")
          deleteDir(spark, tileDir)
          return None
        }
      }
      val mv =
        if (genFrames.isEmpty) data else rebuilt.tile.fold(data +: genFrames, data.schema)

      // re-declare the constraints persisted with the tile, so a
      // zero-API restarted driver regains fact-only FK subsumption
      // (MvRewrite's fkCovers) without a model file
      meta.fks.foreach { row =>
        val Array(fp, fc, dp, dk) = row.split('\u0001')
        graft.catalog.Constraints.declareQualified(
          graft.catalog.Constraints.ForeignKey(
            fp, fc.split('\u0002').toSeq, dp, dk.split('\u0002').toSeq))
      }

      // with a catch-up pending, the tile must not serve until the
      // delta lands: the guard is counted BEFORE the store makes the
      // registration visible to the lock-free rewrite path
      if (catchUp.isDefined) holdFold(meta.name)
      try {
        // durableGens: on-disk gen dirs must not be overwritten by the
        // next append
        store(spark, rebuilt.copy(mvDf = mv, unionSafe = meta.unionSafe,
            durableDir = Some(tileDir), durableGens = meta.gens.toInt),
          replacedAll = Nil): Unit
      } catch {
        case scala.util.control.NonFatal(e) =>
          // adoptCatchUp's own finally never ran: balance the guard
          // here, or the name stays excluded from every rewrite and
          // write-through for the life of the JVM
          if (catchUp.isDefined) releaseFold(meta.name)
          throw e
      }
      catchUp.foreach { case (root, files) =>
        adoptCatchUp(spark, meta.name, root, files, liveEntries)
      }
      Some(meta.name)
    }
  } catch {
    case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] durable tile at $tileDir not adopted: ${e.getMessage}")
      None
  }

  /** End-of-session analog for ONE tile: drop the in-session
    * registration and caches but KEEP the durable home — the inverse of
    * adoptTiles (a clean shutdown never deletes durable tiles; drop()/
    * invalidatePath do, because they mean the tile is WRONG, not merely
    * unloaded). */
  def release(spark: SparkSession, name: String): Unit = maintLock.synchronized {
    // a queued deferred fold must not apply to a future re-adoption of
    // this name: the durable copy it would fold into predates the append,
    // and adopt-time reconciliation already handles the gap itself
    // (append-only entry diff → catch-up fold; anything else → discard)
    bumpEpoch(name)
    Option(registry.remove(name)).foreach(d =>
      d.frames.foreach(_.unpersist()))
  }

  /** The live listing as an APPEND-ONLY extension of the recorded one:
    * Some((anchor root, new data files)) when every recorded entry is
    * still present byte-identically and every new file sits FLAT under
    * a root of ONE leaf (a single-leaf tile may gain files under any of
    * its roots). None for anything else — deletes, rewrites, nested
    * (partitioned) additions, or appends spanning several join leaves
    * reconcile by discard, never by a guessed fold. */
  private def appendOnlyDiff(leaves: Seq[Seq[String]], recorded: Seq[String],
      live: Seq[String]): Option[(String, Seq[String])] = {
    if (recorded.isEmpty) return None
    if ((recorded ++ live).exists(_.startsWith("missing:"))) return None
    val rec = recorded.toSet
    if (!rec.subsetOf(live.toSet)) return None
    val fresh = live.filterNot(rec)
    if (fresh.isEmpty) return None
    val files = fresh.map { e =>
      val i2 = e.lastIndexOf('|'); val i1 = e.lastIndexOf('|', i2 - 1)
      if (i1 <= 0) return None
      e.substring(0, i1)
    }
    def rootOf(f: String): Option[(Int, String)] = (for {
      (roots, i) <- leaves.zipWithIndex.iterator
      r <- roots.iterator
      if f.startsWith(r + "/") && !f.stripPrefix(r + "/").contains('/')
    } yield (i, r)).nextOption()
    val owners = files.map(rootOf)
    if (owners.exists(_.isEmpty)) return None
    val leafIdxs = owners.flatten.map(_._1).distinct
    if (leaves.size > 1 && leafIdxs.size != 1) return None
    Some((owners.flatten.head._2, files))
  }

  /** Fold the appended files into the just-adopted tile through the
    * barrier's foldAppend — THIS tile only (the DML barrier's
    * multi-tile fan-out would double-count the delta into sibling tiles
    * adopted with a fresher copy). The adoption guard taken before
    * store() is released here; the single-leaf sync fold ran under it
    * (so its durable write was skipped) and re-persists with the live
    * listing once caught up, while a deferred join fold persists itself
    * with the adopt-time listing. Failures drop the tile —
    * never-serve-stale. */
  private def adoptCatchUp(spark: SparkSession, name: String, root: String,
      files: Seq[String], liveEntries: Seq[String]): Unit = {
    try {
      val d = Option(registry.get(name)).getOrElse(return)
      System.err.println(s"[graft] durable tile $name: ${files.size} " +
        "appended file(s) since persist; catching up")
      val rows = graft.T.normalizeTimestamps(spark.read.parquet(files: _*))
      foldAppend(spark, d, root, rows, liveEntries): Unit
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] durable tile $name: catch-up fold failed (${e.getMessage}); dropping")
        drop(spark, name)
    } finally releaseFold(name)
    // the sync fold ran with the adoption guard counted, so compactInto
    // skipped the durable write: persist the caught-up tile now
    if (pendingMaintenance(name) == 0)
      Option(registry.get(name)).filter(_.durableDir.isDefined)
        .foreach(writeDurable(spark, _))
  }

  /** Rebuild inner equi-joins of parquet leaves from the serialized
    * recipe. Greedy: repeatedly join two frames connected by a pending
    * pair, folding EVERY pair bridging the same two frames into one
    * condition — inner equi-joins are associative/commutative, so any
    * tree reproduces the original signature. Leaf reads go through the
    * same timestamp normalization the loader applies, so rebuilt
    * attribute types match what was registered. */
  private def rebuildJoin(spark: SparkSession, leaves: Seq[Seq[String]],
      pairs: Seq[(String, String)]): DataFrame =
    joinFrames(leaves.map(paths =>
      graft.T.normalizeTimestamps(spark.read.parquet(paths: _*))), pairs)

  /** Fold `frames0` into one inner-join tree along `pairs` (the greedy
    * merge rebuildJoin documents); also reused by starDeltaSnapshot with an
    * append delta standing in for one leaf. */
  private def joinFrames(frames0: Seq[DataFrame],
      pairs: Seq[(String, String)]): DataFrame = {
    val frames = scala.collection.mutable.ArrayBuffer(frames0: _*)
    val pending = scala.collection.mutable.ArrayBuffer(pairs: _*)
    def frameOf(c: String): Int = frames.indexWhere(_.columns.contains(c))
    var guard = pairs.size + frames.size + 1
    while (frames.size > 1) {
      guard -= 1
      require(guard >= 0, "join recipe does not connect the leaves")
      val idx = pending.indexWhere { case (a, b) =>
        val (fi, fj) = (frameOf(a), frameOf(b))
        fi >= 0 && fj >= 0 && fi != fj
      }
      require(idx >= 0, "join recipe does not connect the leaves")
      val (a0, b0) = pending(idx)
      val (fi, fj) = (frameOf(a0), frameOf(b0))
      val bridging = pending.filter { case (a, b) =>
        Set(frameOf(a), frameOf(b)) == Set(fi, fj)
      }
      val cond = bridging.map { case (a, b) => col(a) === col(b) }
        .reduce(_ && _)
      val joined = frames(fi).join(frames(fj), cond, "inner")
      val (hi, lo) = (fi max fj, fi min fj)
      frames.remove(hi); frames.remove(lo)
      frames += joined
      bridging.foreach(p => pending -= p)
    }
    require(pending.isEmpty,
      "cyclic join recipe cannot be rebuilt losslessly")
    frames.head
  }

  /** The substitution rule (runs in the user-provided optimizer batch). */
  object MvRewrite extends Rule[LogicalPlan] with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan =
      // fast path: the rule stays installed after the last drop()/
      // invalidation — don't pay signature extraction per Aggregate for
      // an empty registry
      if (registry.isEmpty) plan
      else plan.transformUp {
        case agg @ Aggregate(groupings, aggExprs, child, _) =>
          (child match {
            case expand: logical.Expand =>
              expandRewrite(groupings, aggExprs, expand)
            // a predicate on a GROUPING output (grouping-id, or a
            // per-set key copy) pushes between the Aggregate and the
            // Expand — e.g. `rollup(...).agg(...).filter(gid = 1)`, the
            // drill-panel shape. Those attributes keep their exprIds
            // across the tile substitution (the rewrite preserves every
            // grouping position), so the filter re-applies verbatim
            // above the rewritten Expand.
            case logical.Filter(cond, expand: logical.Expand)
                if cond.references.subsetOf(
                  AttributeSet(expand.output.filterNot(expand.child.outputSet.contains))) =>
              expandRewrite(groupings, aggExprs, expand).map {
                case Aggregate(g2, a2, newExpand, _) =>
                  Aggregate(g2, a2, logical.Filter(cond, newExpand), None)
                case other => other
              }
            case _ =>
              val (g2, a2, child2) = inlineGroupingProject(groupings, aggExprs, child)
              exactRewrite(g2, a2, child2)
                .orElse(joinCompRewrite(g2, a2, child2))
          }).getOrElse(agg)
      }

    /** A Project holding more than the star walk peels (bare attributes
      * and same-name normalization casts): Catalyst's extracted grouping
      * expressions, which hide the scan shape from signature matching. */
    private def groupingProject(ps: Seq[NamedExpression]): Boolean =
      !ps.forall(StarShape.peelable)

    /** A deterministic, aggregate-free expression over at least one
      * attribute, every one of which `ok` admits. */
    private def derivedFrom(e: Expression)(ok: Attribute => Boolean): Boolean =
      e.deterministic && e.references.nonEmpty &&
        !e.exists(_.isInstanceOf[AggregateExpression]) && e.references.forall(ok)

    /** Catalyst extracts non-trivial grouping expressions into a
      * `_groupingexpression` Project below the Aggregate (so the plan
      * groups by a bare attribute). Inline a grouping Project's alias
      * definitions back into the grouping/aggregate expressions and
      * match against its child. Only fires when every alias is
      * deterministic and aggregate-free. */
    private def inlineGroupingProject(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], child: LogicalPlan)
        : (Seq[Expression], Seq[NamedExpression], LogicalPlan) = child match {
      case Project(ps, ch) if ps.forall {
            case _: AttributeReference => true
            case Alias(e, _) => e.deterministic &&
              !e.exists(_.isInstanceOf[AggregateExpression])
            case _ => false
          } && groupingProject(ps) =>
        val defs = ps.collect { case al @ Alias(e, _) => al.exprId -> e }.toMap
        // a bare reference to an inlined alias at the TOP of the agg
        // list would stop being a NamedExpression after substitution
        if (aggExprs.exists {
          case ar: AttributeReference => defs.contains(ar.exprId)
          case _ => false
        }) return (groupings, aggExprs, child)
        def sub(e: Expression): Expression = e.transform {
          case ar: AttributeReference if defs.contains(ar.exprId) => defs(ar.exprId)
        }
        inlineGroupingProject(groupings.map(sub),
          aggExprs.map(x => sub(x).asInstanceOf[NamedExpression]), ch)
      case _ => (groupings, aggExprs, child)
    }

    /** Tile substitution for a plain aggregate: signatureOf peels pruning
      * Projects and collects Filters, and a query matches a tile when its
      * scan+join shape is the tile's own — or a join-subset the tile's
      * declared foreign keys cover (fkCovers) — its predicate IMPLIES the
      * tile's defining predicate (filter subsumption — the
      * MaterializedViewFilterScanRule / SubstitutionVisitor analog), and
      * the compensating residual references grouping-key columns only
      * (so it commutes with the rollup and can re-apply on the tile).
      * One candidate loop (firstTile) tries exact-signature tiles first,
      * then FK-covered ones, each cheapest first; rollupExprs maps the
      * aggregate and tileTarget builds the compensated target. */
    private def exactRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] =
      signatureOf(child).flatMap { case (sig, conjs) =>
        // rollup-ability first: it is the cheap check, and a union
        // target runs a full analyzer pass building the residual
        // subtree — never pay that for an aggregate the tile cannot
        // answer anyway
        def answer(mv: MvDef) = rollupExprs(mv, groupings, aggExprs).flatMap {
          case (g, a) => tileTarget(mv, conjs, sig).map(Aggregate(g, a, _, None))
        }
        firstTile(_.signature == sig)(answer)
          .orElse(firstTile(fkCovers(_, sig))(answer))
      }

    /** The candidate loop: the first registered tile, cheapest first,
      * that `admits` the query and that `answer` turns into a plan. */
    private def firstTile(admits: MvDef => Boolean)(
        answer: MvDef => Option[LogicalPlan]): Option[LogicalPlan] =
      candidates.iterator.filter(admits).flatMap(answer).nextOption()

    /** Multiset containment: `b` removed from `a` leaf-by-leaf; Some =
      * the leftover leaves of `a`, None = `b` has a leaf `a` lacks. */
    private def bagDiff(a: Seq[Set[String]], b: Seq[Set[String]])
        : Option[Seq[Set[String]]] = {
      val rem = scala.collection.mutable.ArrayBuffer(a: _*)
      val ok = b.forall { l =>
        val i = rem.indexOf(l); if (i >= 0) { rem.remove(i); true } else false
      }
      if (ok) Some(rem.toSeq) else None
    }

    /** Is every join `mv` has beyond `sig` proven lossless by a declared
      * foreign key? (False when the signatures are identical — the exact
      * signature owns that case.)
      *
      * Constraint-based tile answering (ref: rel/rules/materialize/
      * MaterializedViewJoinRule compensation over
      * RelOptReferentialConstraint; Statistic.getReferentialConstraints):
      * a query over a SUBSET of a tile's star — most importantly the
      * fact table alone — is answered from the tile when every join the
      * tile has and the query lacks is proven LOSSLESS by a declared
      * foreign key (`catalog/Constraints`): FK→unique-key inner joins
      * add exactly one match per fact row, so every fact-side aggregate
      * and grouping is identical on the fact and on the star. The usual
      * compensation applies on the shared part: a tile carrying its own
      * dim-side filter is never implied by a fact-only query and stays
      * blocked. A strictly wider fact-side range unions the tile with a
      * FACT-ONLY residual slice, never the dims (fkUnionTarget).
      *
      * At 100 TB: ONE wide star tile answers every join-subset rollup —
      * without constraints each subset would need its own
      * materialization (or re-pay the fact scan). */
    private def fkCovers(mv: MvDef, sig: Signature): Boolean =
      mv.signature != sig &&
        sig.joinPairs.subsetOf(mv.signature.joinPairs) &&
        bagDiff(mv.signature.leaves, sig.leaves).exists { extraLeaves =>
          val extraPairs = mv.signature.joinPairs -- sig.joinPairs
          // the extras must be a TREE of FK edges directed away from
          // the query's own leaves (Constraints.losslessExtension) —
          // per-pair coverage admitted fan-out extensions (a second
          // fact-like table hanging off a shared dim multiplies rows)
          extraLeaves.nonEmpty && extraPairs.nonEmpty &&
            graft.catalog.Constraints.losslessExtension(
              sig.leaves, extraLeaves, extraPairs)
        }

    /** JOIN compensation (ref: rel/rules/materialize/
      * MaterializedViewRules.java join variants + plan/
      * SubstitutionVisitor.java unification): a query whose join set
      * strictly contains the MV's star — extra inner equi-joins to
      * dimension tables, each bridged on columns the MV carries as
      * grouping keys (or on columns of an earlier dimension, the
      * snowflake case) — rewrites to
      * Aggregate(rollup-exprs, compensated-MV ⋈ dim₁ ⋈ … ⋈ dimₙ).
      *
      * Soundness: the extra joins' matching depends only on key columns,
      * which are constant within an MV group, so every source row of a
      * group matches exactly the dim rows the group's MV row matches.
      * MIN/MAX / DISTINCT value sets are preserved; SUM/COUNT/AVG of a
      * DIM column re-weight each dim match by the group's row count
      * (__mv_cnt) — the aggregate-join-transpose identity; star-column
      * aggregates roll up from partials exactly as the row-level join
      * would. NULL join keys drop the whole group on both plans (all
      * rows of a group share the key), keeping inner-join semantics
      * exact.
      *
      * At 100 TB this removes the fact-side shuffle entirely: the joins
      * run MV-rows × dimensions — typically all broadcast-small. */
    private def joinCompRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
      // peel attribute-only projects/aliases/hints, collecting filters —
      // by rewrite time Catalyst has pushed predicates below the join,
      // but a conjunct can legally remain here (e.g. one it could not
      // push); same-name-cast projects are NOT peeled (they would break
      // attribute identity between the aggregate and the join output)
      @scala.annotation.tailrec
      def peel(p: LogicalPlan, fs: Seq[Expression]): (LogicalPlan, Seq[Expression]) = p match {
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) => peel(ch, fs)
        case logical.Filter(cond, ch) => peel(ch, fs ++ splitConjunctivePredicates(cond))
        case a: logical.SubqueryAlias => peel(a.child, fs)
        case h: logical.ResolvedHint => peel(h.child, fs)
        case other => (other, fs)
      }
      // descend the inner-join tree looking for a subtree whose
      // signature matches a registered MV; everything joined ABOVE that
      // subtree is collected as (dimension, condition) layers,
      // innermost first
      def findStar(p0: LogicalPlan, dims: List[(LogicalPlan, Expression)],
          above: Seq[Expression])
          : Option[(Signature, LogicalPlan, Seq[Expression], List[(LogicalPlan, Expression)])] = {
        val (p, fs) = peel(p0, above)
        val direct = signatureOf(p).collect {
          case (sig, starFs) if candidates.exists(_.signature == sig) =>
            (sig, p, fs ++ starFs, dims)
        }
        direct.orElse(p match {
          case j: Join if j.joinType == Inner && j.condition.isDefined =>
            findStar(j.left, (j.right, j.condition.get) :: dims, fs)
              .orElse(findStar(j.right, (j.left, j.condition.get) :: dims, fs))
          case _ => None
        })
      }
      // the exact path upstream already handles a dim-less match, so
      // require at least one dim layer; try every MV sharing the
      // signature (all carried partials are exact, any works)
      findStar(child, Nil, Nil).filter(_._4.nonEmpty).flatMap {
        case (sig, star, collected, dims) =>
          firstTile(_.signature == sig)(
            buildJoinComp(_, star, collected, dims, groupings, aggExprs))
      }
    }

    /** Assemble the compensated plan for one (MV, star-subtree, dims)
      * decomposition, or None when a condition/filter/aggregate falls
      * outside what the MV can answer. */
    private def buildJoinComp(mv: MvDef, star: LogicalPlan,
        collected: Seq[Expression], dims: List[(LogicalPlan, Expression)],
        groupings: Seq[Expression], aggExprs: Seq[NamedExpression])
        : Option[LogicalPlan] = {
      val starOut = star.outputSet
      val dimOut = AttributeSet(dims.flatMap(_._1.output))
      // every join-condition conjunct must be attr=attr where each
      // star-side column is an MV grouping key (dim-side attrs pass
      // through, covering dim-to-dim snowflake bridges)
      def condOk(e: Expression): Boolean = StarShape.equiPairs(e).exists(_.forall {
        case (a, b) => Seq(a, b).forall(at => dimOut.contains(at) ||
          (starOut.contains(at) && mv.tile.isKey(at.name)))
      })
      if (!dims.forall { case (_, cond) => condOk(cond) }) return None
      // filters collected along the way must split cleanly: star-side
      // conjuncts join the MV compensation, dim-side conjuncts re-apply
      // above the compensated join
      val (starAbove, rest) = collected.partition(_.references.subsetOf(starOut))
      val (dimAbove, mixed) = rest.partition(_.references.subsetOf(dimOut))
      if (mixed.nonEmpty) return None

      rollupExprs(mv, groupings, aggExprs, dimOut).flatMap { case (g, a) =>
        tileTarget(mv, starAbove, mv.signature).map { newStar =>
          val joined = dims.foldLeft(newStar: LogicalPlan) {
            case (acc, (dim, cond)) => Join(acc, dim, Inner,
              Some(rebindToTile(mv, cond)(starOut.contains)), logical.JoinHint.NONE)
          }
          val filtered = dimAbove.foldLeft(joined)(
            (p, f) => logical.Filter(f, p))
          Aggregate(g, a, filtered, None)
        }
      }
    }

    /** GROUPING SETS / ROLLUP / CUBE answered from a tile (ref:
      * rel/rules/AggregateStarTableRule.java + materialize/Lattice.java
      * — a tile whose keys cover every grouping column answers any
      * grouping-set query over them). Catalyst plans grouping sets as
      * Aggregate over Expand: each source row is replicated once per
      * grouping set, with the keys OUTSIDE that set nulled and a
      * grouping-id literal appended. Substituting the tile below the
      * SAME Expand is exact — all rows of a tile group share every key,
      * so nulling a key per set merges whole groups, which is precisely
      * what the partial merge computes. The rewrite:
      *   - re-points Expand's child at the compensated tile (tileTarget,
      *     as in the exact path; an FK-matched tile unions a FACT-ONLY
      *     residual slice — sound under Expand because the union adds
      *     one more generation of partials, and the per-set merge treats
      *     generations alike);
      *   - routes the needed tile columns (partials + keys the
      *     aggregates read) THROUGH Expand as passthrough outputs;
      *   - rewrites each grouping ENTRY (a key attribute, by name) to
      *     the tile's key column, keeping Catalyst's null/grouping-id
      *     literals verbatim;
      *   - converts the aggregate functions to partial merges
      *     (rollupOutput) over the passthrough attributes.
      * The Aggregate's own grouping attributes and grouping-id keep
      * their exprIds, so nothing above the node re-resolves. At 100 TB
      * this is the cube-dashboard play: one day×dim tile answers every
      * ROLLUP/CUBE panel with zero fact scans. */
    private def expandRewrite(groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], expand: logical.Expand): Option[LogicalPlan] = {
      if (!groupings.forall(_.isInstanceOf[AttributeReference])) return None
      // Catalyst extracts a non-trivial grouping expression (year(d) in
      // ROLLUP(year(d), ...)) into the Project below Expand and lets the
      // grouping ENTRIES reference its alias. Collect those definitions —
      // a key-DERIVED entry rebinds through them (the time-hierarchy ×
      // grouping-sets shape: one day tile answers every year/month
      // ROLLUP panel) — and strip them for signature extraction, which
      // otherwise rejects the Project.
      val exprDefs = expand.child match {
        case Project(ps, _) => ps.collect {
          case al @ Alias(e, _) if e.deterministic &&
              !e.exists(_.isInstanceOf[AggregateExpression]) => al.exprId -> e
        }.toMap
        case _ => Map.empty[org.apache.spark.sql.catalyst.expressions.ExprId, Expression]
      }
      val sigPlan = expand.child match {
        case Project(ps, ch) if groupingProject(ps) =>
          Project(ps.filter(StarShape.peelable), ch)
        case other => other
      }
      signatureOf(sigPlan).flatMap { case (sig, conjs) =>
        val childOut = expand.child.outputSet
        // grouping positions carry fresh attributes (key-or-null copies
        // + the grouping-id); passthrough positions reuse the child's
        // exprIds — that identity is how Catalyst builds Expand
        val groupPos = expand.output.zipWithIndex.filterNot {
          case (a, _) => childOut.contains(a)
        }
        // aggregate arguments must read PASSTHROUGH columns only: an
        // aggregate over a nulled grouping copy (e.g. MIN(status) of the
        // per-set column) does not commute with the tile merge
        val aggArgRefs = aggExprs.flatMap(_.collect {
          case ae: AggregateExpression => ae.references
        }).foldLeft(AttributeSet.empty)(_ ++ _)
        val groupingAttrSet = AttributeSet(groupings.flatMap(_.references))
        if (!aggArgRefs.subsetOf(childOut)) None
        // the tile answers its own signature, or a join-SUBSET of its
        // star when declared foreign keys prove the extra joins
        // lossless (fkCovers — the fact-only grouping-sets panel)
        else firstTile(mv => mv.signature == sig || fkCovers(mv, sig)) { mv =>
          // tile columns the rewritten plan reads, routed through
          // Expand: one passthrough attribute per partial/key name,
          // allocated on first use (nullable — a union-compensated
          // target may widen nullability)
          val passed = scala.collection.mutable.LinkedHashMap[String, Attribute]()
          def lookup(name: String): Expression = passed.getOrElseUpdate(name,
            mv.targetOut(name).newInstance().withNullability(true))
          val newAggExprs = StarShape.sequence(aggExprs.map {
            case a: AttributeReference if groupingAttrSet.contains(a) =>
              Some(a: NamedExpression)
            // any deterministic expression over the GROUPING outputs
            // (a bare copy, or a Cast the optimizer collapsed into the
            // select list) passes through — those attrs keep their
            // exprIds across the rewrite
            case al @ Alias(e, _) if derivedFrom(e)(groupingAttrSet.contains) =>
              Some(al: NamedExpression)
            case other => rollupOutput(mv, lookup, AttributeSet.empty)(other)
          })
          // each grouping ENTRY is a tile key, a key-DERIVED expression
          // (via the extracted Project alias — equal keys imply equal
          // value, so the set-merge IS the partial merge, as in the
          // exact path's keyDerived groupings), or one of Catalyst's
          // planted literals (typed null / grouping-id). Key references
          // rebind by name (rebindToTile).
          def keyExpr(e: Expression): Option[Expression] =
            if (derivedFrom(e)(a => mv.tile.isKey(a.name)))
              Some(rebindToTile(mv, e)(a => mv.tile.isKey(a.name)))
            else None
          // exprId lookup FIRST: a grouping alias that merely shares a
          // tile key's NAME (e.g. date_trunc(..).as("o_orderdate"))
          // must rebind through its definition, never to the raw key —
          // the same exprId-before-name rule rollupExprs documents
          def entryOf(e: Expression): Option[Expression] = e match {
            case a: AttributeReference if exprDefs.contains(a.exprId) =>
              keyExpr(exprDefs(a.exprId))
            case a: AttributeReference if mv.tile.isKey(a.name) => keyExpr(a)
            case l: Literal => Some(l)
            case _ => None
          }
          val groupRows = StarShape.sequence(expand.projections.map(row =>
            StarShape.sequence(groupPos.map { case (_, i) => entryOf(row(i)) })))
          for {
            aggs <- newAggExprs
            rows <- groupRows
            target <- tileTarget(mv, conjs, sig)
          } yield {
            val passSeq = passed.toSeq
            val newOutput = passSeq.map(_._2) ++ groupPos.map(_._1)
            val newProjections = rows.map(groupEntries =>
              passSeq.map { case (n, _) => mv.targetOut(n): Expression } ++
                groupEntries)
            Aggregate(groupings, aggs,
              logical.Expand(newProjections, newOutput, target), None)
          }
        }
      }
    }

    /** A column-range conjunct `col op literal` in normalized form. */
    private final case class RangePred(col: String, op: String, lit: Literal)

    private def asRange(e: Expression): Option[RangePred] = e match {
      case EqualTo(a: AttributeReference, l: Literal) => Some(RangePred(a.name, "=", l))
      case EqualTo(l: Literal, a: AttributeReference) => Some(RangePred(a.name, "=", l))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => Some(RangePred(a.name, ">=", l))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some(RangePred(a.name, "<=", l))
      case GreaterThan(a: AttributeReference, l: Literal) => Some(RangePred(a.name, ">", l))
      case GreaterThan(l: Literal, a: AttributeReference) => Some(RangePred(a.name, "<", l))
      case LessThanOrEqual(a: AttributeReference, l: Literal) => Some(RangePred(a.name, "<=", l))
      case LessThanOrEqual(l: Literal, a: AttributeReference) => Some(RangePred(a.name, ">=", l))
      case LessThan(a: AttributeReference, l: Literal) => Some(RangePred(a.name, "<", l))
      case LessThan(l: Literal, a: AttributeReference) => Some(RangePred(a.name, ">", l))
      case _ => None
    }

    private def litTrue(e: Expression): Boolean =
      scala.util.Try(e.eval(null) == true).getOrElse(false)

    /** Does range predicate q imply range predicate m (same column)?
      * Sound, not complete: literal comparisons evaluate through
      * Catalyst, type mismatches conservatively fail. NTZ-vs-TIMESTAMP
      * literal pairs compare as raw micros, which is only wall-clock
      * sound under the UTC session — refuse the implication elsewhere. */
    private def rangeImplies(q0: RangePred, m0: RangePred): Boolean = {
      val q = q0.copy(lit = normalizeNtz(q0.lit).asInstanceOf[Literal])
      val m = m0.copy(lit = normalizeNtz(m0.lit).asInstanceOf[Literal])
      if (q.lit.dataType != m.lit.dataType &&
          Seq(q.lit.dataType, m.lit.dataType).exists(
            _ == org.apache.spark.sql.types.TimestampNTZType)) return false
      q.col == m.col && ((q.op, m.op) match {
        case (_, "=")    => q.op == "=" && litTrue(EqualTo(q.lit, m.lit))
        case ("=", ">=") => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case (">=", ">=") => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case (">", ">=") => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case ("=", ">")  => litTrue(GreaterThan(q.lit, m.lit))
        case (">", ">")  => litTrue(GreaterThanOrEqual(q.lit, m.lit))
        case (">=", ">") => litTrue(GreaterThan(q.lit, m.lit))
        case ("=", "<=") => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("<=", "<=") => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("<", "<=") => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("=", "<")  => litTrue(LessThan(q.lit, m.lit))
        case ("<", "<")  => litTrue(LessThanOrEqual(q.lit, m.lit))
        case ("<=", "<") => litTrue(LessThan(q.lit, m.lit))
        case _ => false
      })
    }

    /** Filters Catalyst pushed below the loader's TIMESTAMP_NTZ→
      * TIMESTAMP normalization Project carry NTZ-typed literals while
      * the MV's (registered above it) carry TIMESTAMP — under a
      * pinned-UTC session the two are wall-clock identical, so fold NTZ
      * literals onto TIMESTAMP before any comparison. In a non-UTC
      * session the identity does NOT hold; callers must treat
      * mixed-type literal comparisons as unknown there. */
    private def normalizeNtz(e: Expression): Expression =
      if (conf.sessionLocalTimeZone == "UTC") e.transformUp {
        case Literal(v, org.apache.spark.sql.types.TimestampNTZType) =>
          Literal(v, org.apache.spark.sql.types.TimestampType)
      } else e

    /** Canonical name-based SQL form for conjunct equality. */
    private def canonSql(e: Expression): String = normalizeNtz(e).sql

    /** Catalyst-inferred isnotnull conjuncts that are vacuous — on a
      * join key (the MV's inner join discarded null keys) or alongside
      * a range predicate on the same column (which already rejects
      * nulls) — dropped before implication/compensation reasoning. */
    private def dropVacuousNotNull(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Seq[Expression] = {
      val joinCols = sig.joinPairs.flatMap(p => Seq(p._1, p._2))
      val rangeCols = (conjsAll ++ mv.filterConjuncts).flatMap(asRange).map(_.col).toSet
      conjsAll.filterNot {
        case IsNotNull(a: AttributeReference) =>
          joinCols.contains(a.name) || rangeCols.contains(a.name)
        case _ => false
      }
    }

    /** q ⇒ m: exact name-based equality (attribute SQL form carries no
      * exprIds) or literal-range subsumption on the same column. */
    private def implies(q: Expression, m: Expression): Boolean =
      canonSql(q) == canonSql(m) || ((asRange(q), asRange(m)) match {
        case (Some(a), Some(b)) => rangeImplies(a, b)
        case _ => false
      })

    /** The compensating conjuncts to re-apply on the MV, or None when
      * the query cannot be answered from it. Requirements:
      *   1. every MV defining conjunct is implied by some query conjunct
      *      (else the MV is missing rows the query needs);
      *   2. query conjuncts not exactly absorbed by an MV conjunct must
      *      reference MV key columns only (they re-apply on the rollup).
      * Vacuous isnotnull conjuncts are dropped first
      * (dropVacuousNotNull). */
    private def compensation(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[Seq[Expression]] = {
      val conjs = dropVacuousNotNull(mv, conjsAll, sig)
      val implied = mv.filterConjuncts.forall(m => conjs.exists(q => implies(q, m)))
      if (!implied) return None
      val mvCanon = mv.filterConjuncts.map(canonSql).toSet
      val comp = conjs.filterNot(q => mvCanon.contains(canonSql(q)))
      if (comp.forall(_.references.forall(a => mv.tile.isKey(a.name)))) Some(comp)
      else None
    }

    /** The one tile target every path substitutes: the tile under the
      * compensating filters when the query's predicate implies the
      * tile's, else union compensation — over the tile's own source for
      * an exact-signature tile (unionTarget), over the query's FACT-side
      * relation for an FK-covered one (fkUnionTarget). */
    private def tileTarget(mv: MvDef, conjs: Seq[Expression],
        sig: Signature): Option[LogicalPlan] =
      compensation(mv, conjs, sig).map(targetWithFilters(mv, _))
        .orElse(if (mv.signature == sig) unionTarget(mv, conjs, sig)
          else fkUnionTarget(mv, conjs, sig))

    /** The compensated substitution target: key-only filters commute
      * with the rollup and re-apply on the MV, with references rebound
      * to its attributes. */
    private def targetWithFilters(mv: MvDef, filters: Seq[Expression]): LogicalPlan =
      filters.foldLeft(mv.target) { (t, cond) =>
        logical.Filter(rebindToTile(mv, cond)(a => mv.tile.isKey(a.name)), t)
      }

    /** `e` with every attribute `rebinds` admits re-pointed, by name, at
      * the tile's output column. An expression Catalyst pushed or
      * inlined from below the loader's type-normalization Project
      * references the pre-cast type (TIMESTAMP_NTZ) — cast the tile
      * column back so the expression stays resolved. */
    private def rebindToTile(mv: MvDef, e: Expression)(
        rebinds: AttributeReference => Boolean): Expression = e.transform {
      case a: AttributeReference if rebinds(a) =>
        val out = mv.targetOut(a.name)
        if (out.dataType == a.dataType) out
        else Cast(out, a.dataType, Some(conf.sessionLocalTimeZone))
    }

    /** Range negation for the union-compensation residual. */
    private def negate(e: Expression): Option[Expression] = e match {
      case GreaterThanOrEqual(a, b) => Some(LessThan(a, b))
      case GreaterThan(a, b) => Some(LessThanOrEqual(a, b))
      case LessThanOrEqual(a, b) => Some(GreaterThan(a, b))
      case LessThan(a, b) => Some(GreaterThanOrEqual(a, b))
      case _ => None
    }

    /** UNION compensation (the reference's partial-coverage rewrite,
      * MaterializedViewRules union case): the query's range is strictly
      * WIDER than the MV's on exactly one conjunct, so answer it as
      *   rollup( MV-partials ∪ partial-agg(base WHERE shared ∧ q ∧ ¬m) )
      * — the fact relation is scanned ONLY for the residual slice (a
      * pure conjunction, so it pushes to the scan), the covered slice
      * comes from the cache. NULL keys fail q on both paths, so the
      * union is exact. The two sides may share any number of EXACTLY
      * matching conjuncts (canonical-SQL equality) — e.g. a region
      * equality carried by both the MV and the query — as long as the
      * leftover is one range conjunct per side on the same column with
      * the MV's slice strictly inside the query's. A residual with two
      * widened ranges would be a disjunction that defeats pushdown,
      * which is when a user materializes a second tile instead. */
    private def unionTarget(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[LogicalPlan] =
      residualSlicePred(mv, conjsAll, sig)
        .flatMap(residual => unionWithResidual(mv, mv.baseDf, residual))

    /** The residual slice's predicate (q ∧ ¬m ∧ shared) when the query's
      * range is strictly wider than the MV's on exactly one conjunct —
      * the admissibility half of union compensation; None otherwise. */
    private def residualSlicePred(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[Expression] = {
      // an MV fed deltas that are NOT in the source files (stream
      // maintenance, ad-hoc refresh) answers covered slices from its
      // exact cached partials, but a residual FILE scan would miss those
      // rows — refuse union compensation for it
      if (!mv.unionSafe) return None
      val conjs = dropVacuousNotNull(mv, conjsAll, sig)
      val mCanon = mv.filterConjuncts.map(canonSql).toSet
      val qCanon = conjs.map(canonSql).toSet
      val sharedKeys = mCanon intersect qCanon
      val mRest = mv.filterConjuncts.filterNot(c => sharedKeys.contains(canonSql(c)))
      val qRest = conjs.filterNot(c => sharedKeys.contains(canonSql(c)))
      // the query-side spellings of the shared conjuncts re-apply on the
      // residual slice (the MV's cached side already satisfies them)
      val shared = conjs.filter(c => sharedKeys.contains(canonSql(c)))
      if (mRest.size != 1 || qRest.size != 1) return None
      val (m, q) = (mRest.head, qRest.head)
      val (mR, qR) = (asRange(m), asRange(q)) match {
        case (Some(a), Some(b)) if a.col == b.col => (a, b)
        case _ => return None
      }
      // the MV's slice must sit strictly INSIDE the query's range
      if (!rangeImplies(mR, qR) || canonSql(m) == canonSql(q)) return None
      val negM = negate(m).getOrElse(return None)
      Some((Seq(q, negM) ++ shared).reduce(And))
    }

    /** Union the MV's cached partials with `residual` partial-aggregated
      * over `base` — the assembly half of union compensation. `base` is
      * the MV's own unfiltered source (exact-signature path), or the
      * query-shaped FACT subset (FK path, where the lossless joins make
      * fact-only partials equal the star's). */
    private def unionWithResidual(mv: MvDef, base: DataFrame,
        residual: Expression): Option[LogicalPlan] = {
      // rebind the predicate to the base relation's attributes by name;
      // analysis only (no optimizer re-entry)
      val baseOut = base.queryExecution.analyzed.output
        .map(a => a.name -> (a: Expression)).toMap
      val refs = residual.references.map(_.name).toSet
      if (!refs.forall(baseOut.contains)) return None
      // a conjunct Catalyst pushed below the loader's normalization
      // Project carries TIMESTAMP_NTZ literals; the base relation's
      // surface is TIMESTAMP — normalize (UTC-gated) so the analyzer
      // resolves the rebound comparison
      val bound = normalizeNtz(residual).transform {
        case a: AttributeReference => baseOut(a.name)
      }
      val resid = mv.tile.aggregate(
        base.filter(org.apache.spark.sql.GraftSqlBridge.column(bound)))
      // splice the OPTIMIZED residual: this rule runs in the final
      // user-provided batch, after logical column pruning — an analyzed
      // splice would keep the loader's all-column normalization Project
      // and read every column off the fact scan. Optimizing here prunes
      // the residual's ReadSchema to keys + aggregated columns.
      Some(logical.Union(Seq(mv.target, resid.queryExecution.optimizedPlan),
        byName = false, allowMissingCol = false))
    }

    /** FK union compensation (ref: rel/rules/materialize/
      * MaterializedViewAggregateRule.java union rewriting, composed with
      * the constraint-based join compensation): a FACT-SIDE query whose
      * range is strictly wider than the star tile's unions the tile's
      * cached partials with a partial aggregate over the FACT-ONLY
      * residual slice — the dims are never scanned. Sound exactly when
      * the tile's whole partial LAYOUT (keys, partial arguments, derived
      * measures, the residual predicate) is computable from the query's
      * own fact relation: the declared-FK joins add exactly one match
      * per fact row, so the star's partials over the residual slice
      * EQUAL the fact-only partials. A layout touching any dim column
      * fails analysis below and refuses (a second tile is the right tool
      * there).
      *
      * At 100 TB: the nightly dashboard widening its window by a day
      * scans one day of the FACT — not the star, not the dims. */
    private def fkUnionTarget(mv: MvDef, conjsAll: Seq[Expression],
        sig: Signature): Option[LogicalPlan] =
      residualSlicePred(mv, conjsAll, sig).flatMap { residual =>
        try {
          val spark = org.apache.spark.sql.SparkSession.active
          // the query's own relation shape (the fact, or a join subset
          // of the star), at the REGISTERED source types — a same-name
          // cast the tile's source carried re-applies so the residual
          // partials union positionally at identical types
          val raw = rebuildJoin(spark, sig.leaves.map(_.toSeq),
            sig.joinPairs.toSeq)
          val base = raw.select(raw.columns.map { c =>
            mv.srcTypes.get(c) match {
              case Some(t) if t != raw.schema(c).dataType => col(c).cast(t).as(c)
              case _ => col(c)
            }
          }.toIndexedSeq: _*)
          unionWithResidual(mv, base, residual)
        } catch {
          // any column of the tile's layout missing from the fact side
          // surfaces as an analysis error — the rewrite just declines
          case scala.util.control.NonFatal(_) => None
        }
      }

    /** One aggregate OUTPUT rolled up over the tile's carried columns,
      * keeping its name and exprId: a plain aggregate, a Cast the
      * optimizer collapsed around one (it commutes with the rollup, so
      * it re-applies around the rolled-up expression), or
      * COUNT(DISTINCT k). The tile carries every distinct key
      * combination as a row, so a distinct count over a GROUPING-KEY
      * column re-aggregates exactly over the key column (duplicated
      * (g, k) rows from a union-compensated target dedup away); DISTINCT
      * over a dim column is multiplicity-insensitive too. None for any
      * other shape. Both rollupExprs and expandRewrite map their
      * aggregates through here, each after its own pass-through cases;
      * `tout` and `dimOut` are as in rollupAgg. */
    private def rollupOutput(mv: MvDef, tout: String => Expression,
        dimOut: AttributeSet)(ne: NamedExpression): Option[NamedExpression] = {
      def named(al: Alias)(e: Expression): NamedExpression =
        Alias(e, al.name)(exprId = al.exprId)
      ne match {
        case al @ Alias(ae: AggregateExpression, _)
            if !ae.isDistinct && ae.filter.isEmpty =>
          rollupAgg(mv, tout, dimOut)(ae.aggregateFunction).map(named(al))
        case al @ Alias(c @ Cast(ae: AggregateExpression, _, _, _), _)
            if !ae.isDistinct && ae.filter.isEmpty =>
          rollupAgg(mv, tout, dimOut)(ae.aggregateFunction)
            .map(e => named(al)(c.copy(child = e)))
        case al @ Alias(ae: AggregateExpression, _)
            if ae.isDistinct && ae.filter.isEmpty =>
          (ae.aggregateFunction match {
            case Count(Seq(a: AttributeReference)) if dimOut.contains(a) =>
              Some(Count(a).toAggregateExpression(isDistinct = true))
            case Count(Seq(a: AttributeReference)) if mv.tile.isKey(a.name) =>
              Some(Count(tout(a.name)).toAggregateExpression(isDistinct = true))
            case _ => None
          }).map(named(al))
        case _ => None
      }
    }

    /** Rewrite ONE aggregate function into its partial-merge form over
      * the MV's carried columns, or None when the MV cannot answer it
      * (rollupOutput's per-function step).
      * `tout` resolves a target-output column NAME (a partial like
      * `__mv_sum_x`, or a grouping key) to the expression that carries
      * it in the rewritten plan — rollupExprs (the exact, FK and join
      * paths) passes `mv.targetOut` (the cached relation's own
      * attributes); expandRewrite passes a lookup that routes the same
      * columns THROUGH the Expand node. `dimOut` is the compensated
      * dimensions' output (join path only): dim-column aggregates
      * re-weight by the carried group count — the aggregate-join-
      * transpose identity. Decimal dim columns are left blocked (the
      * weighted product would re-type the result). */
    private def rollupAgg(mv: MvDef, tout: String => Expression,
        dimOut: AttributeSet)(fn: AggregateFunction): Option[Expression] = {
      def cntAttr: Expression = tout(Kind.Rows.prefix)
      def weighted(a: AttributeReference): Option[Expression] = a.dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          Some(org.apache.spark.sql.catalyst.expressions.Multiply(
            Cast(a, DoubleType), Cast(cntAttr, DoubleType)))
        case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType =>
          Some(org.apache.spark.sql.catalyst.expressions.Multiply(
            Cast(a, org.apache.spark.sql.types.LongType),
            Cast(cntAttr, org.apache.spark.sql.types.LongType)))
        case _ => None
      }
      // COUNT(dim-col) = Σ over pairs where the dim value is non-null of
      // the group count
      def dimCount(a: AttributeReference): Expression =
        Sum(org.apache.spark.sql.catalyst.expressions.If(
          IsNotNull(a), Cast(cntAttr, org.apache.spark.sql.types.LongType),
          Literal(0L))).toAggregateExpression()

      // derived-measure lookup: does this aggregate argument match one
      // of the MV's registered defining expressions (canonical folded
      // SQL — attribute SQL carries no exprIds, so the comparison is
      // name-based like every other matching step)? Dim attributes must
      // not leak into the match.
      def derivedOf(e: Expression): Option[String] =
        if (mv.sumDefs.isEmpty || e.isInstanceOf[AttributeReference] ||
            e.references.exists(dimOut.contains)) None
        else mv.sumDefs.get(foldLiterals(e).sql)
      // the carried `kind` partial of an aggregate argument — a source
      // column, or a derived measure — as the expression that reads it
      final class Carried(kind: Kind) {
        def unapply(e: Expression): Option[Expression] = (e match {
          case a: AttributeReference => mv.tile.partial(kind, a.name)
          case _ => derivedOf(e).flatMap(mv.tile.partial(kind, _, derived = true))
        }).map(tout)
      }
      val SumOf = new Carried(Kind.Sum)
      val CountOf = new Carried(Kind.NonNull)
      val MinOf = new Carried(Kind.Min)
      val MaxOf = new Carried(Kind.Max)
      val SketchOf = new Carried(Kind.Hll)

      fn match {
        // MIN/MAX over a DIM column (join compensation): the value set
        // per group is preserved by the MV-side join, so the function
        // re-applies unchanged
        case Min(a: AttributeReference) if dimOut.contains(a) =>
          Some(Min(a).toAggregateExpression())
        case Max(a: AttributeReference) if dimOut.contains(a) =>
          Some(Max(a).toAggregateExpression())
        case Sum(a: AttributeReference, _) if dimOut.contains(a) =>
          weighted(a).map(w =>
            Cast(Sum(w).toAggregateExpression(), fn.dataType))
        case Count(Seq(a: AttributeReference)) if dimOut.contains(a) =>
          Some(dimCount(a))
        case avg: Average if avg.child.isInstanceOf[AttributeReference] &&
            dimOut.contains(avg.child.asInstanceOf[AttributeReference]) =>
          val a = avg.child.asInstanceOf[AttributeReference]
          weighted(a).map { w =>
            val s = Sum(w).toAggregateExpression()
            Cast(Divide(Cast(s, DoubleType), Cast(dimCount(a), DoubleType)),
              fn.dataType)
          }
        // a carried SUM partial, of a column or of a DERIVED MEASURE (the
        // reference lattice's measure expressions, materialize/
        // Lattice.java Measure.args — e.g. revenue = price * (1 -
        // discount)): the aggregate's ARGUMENT matches a registered
        // defining expression by canonical folded SQL, so SUM/COUNT/AVG
        // roll up from its partials exactly as a plain column's would
        case Sum(SumOf(s), _) =>
          val inner = Sum(s).toAggregateExpression()
          Some(if (inner.dataType == fn.dataType) inner else Cast(inner, fn.dataType))
        case Min(MinOf(m)) => Some(Min(m).toAggregateExpression())
        case Max(MaxOf(m)) => Some(Max(m).toAggregateExpression())
        // MIN/MAX of a GROUPING-KEY column: the MV carries every key
        // combination as a row, so min/max re-aggregate over the key
        // column directly — no partial needed
        case Min(a: AttributeReference) if mv.tile.isKey(a.name) =>
          Some(Min(tout(a.name)).toAggregateExpression())
        case Max(a: AttributeReference) if mv.tile.isKey(a.name) =>
          Some(Max(tout(a.name)).toAggregateExpression())
        case Count(Seq(Literal(_, _))) =>
          Some(Sum(cntAttr).toAggregateExpression())
        // COUNT(x): the per-column non-null partial counts (carried for
        // the AVG rollup, or registered count-only for non-summable
        // types) sum to exactly COUNT(x)
        case Count(Seq(CountOf(c))) => Some(Sum(c).toAggregateExpression())
        // AVG(x) = SUM(partial sums) / SUM(partial non-null counts)
        case Average(x @ SumOf(s), _) => CountOf.unapply(x).map(c => Cast(Divide(
          Cast(Sum(s).toAggregateExpression(), DoubleType),
          Cast(Sum(c).toAggregateExpression(), DoubleType)), fn.dataType))
        // APPROX_COUNT_DISTINCT(x) rolls up from the carried HLL sketch
        // partials: union the per-group sketches, then estimate — the
        // reference's lattice-tile HLL column stats
        // (profile/ProfilerImpl.java:577-659). Only the APPROXIMATE
        // function substitutes; an exact COUNT(DISTINCT x) on a non-key
        // stays blocked below (a sketch estimate must never contaminate
        // an exact path). The rsd guard keeps the substitution within
        // contract: the carried Datasketches partial (lgK=12, ~1.63%
        // standard error) may only answer requests whose tolerance is
        // looser — a tighter-than-sketch relativeSD must run unrewritten.
        case hpp: HyperLogLogPlusPlus if hpp.relativeSD >= 0.0165 => hpp.child match {
          case SketchOf(h) =>
            Some(org.apache.spark.sql.catalyst.expressions.HllSketchEstimate(
              HllUnionAgg(h, Literal(true)).toAggregateExpression()))
          case _ => None
        }
        case _ => None
      }
    }

    /** The tile a rollup-shaped aggregate defines — rollupAgg's
      * inverse, for CREATE MATERIALIZED VIEW: bare-attribute grouping
      * keys, and SUM/MIN/MAX/COUNT/AVG over bare columns, each mapped to
      * the partial rollupAgg answers it from. COUNT(x) and AVG(x) read a
      * non-null count: a NUMERIC column rides the sums, any other
      * carries a count-only partial (a SUM over a string is an ANSI
      * error). None for any other shape. */
    private[MaterializedViews] def rollupTile(agg: Aggregate): Option[TileDef] = {
      val keys = agg.groupingExpressions.collect { case a: AttributeReference => a.name }
      def needs(ne: NamedExpression): Option[Seq[(Kind, String)]] = ne match {
        case a: AttributeReference if keys.contains(a.name) => Some(Nil)
        case Alias(a: AttributeReference, _) if keys.contains(a.name) => Some(Nil)
        case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Sum(a: AttributeReference, _) => Some(Seq(Kind.Sum -> a.name))
            case Min(a: AttributeReference) => Some(Seq(Kind.Min -> a.name))
            case Max(a: AttributeReference) => Some(Seq(Kind.Max -> a.name))
            case Count(Seq(Literal(_, _))) => Some(Nil)
            case Count(Seq(a: AttributeReference)) => Some(Seq((if (a.dataType
              .isInstanceOf[org.apache.spark.sql.types.NumericType]) Kind.Sum
              else Kind.NonNull) -> a.name))
            case avg: Average => avg.child match {
              case a: AttributeReference => Some(Seq(Kind.Sum -> a.name))
              case _ => None
            }
            case _ => None
          }
        case _ => None
      }
      if (keys.isEmpty || keys.size != agg.groupingExpressions.size) None
      else StarShape.sequence(agg.aggregateExpressions.map(needs)).map { ns =>
        def of(k: Kind) = ns.flatten.collect { case (`k`, c) => c }.distinct
        val sums = of(Kind.Sum)
        TileDef.declare(keys, sums, of(Kind.Min), of(Kind.Max), Nil, Nil,
          of(Kind.NonNull).filterNot(sums.contains))
      }
    }

    /** The rolled-up grouping + aggregate expressions over the MV's
      * output, or None when the query's shape cannot be answered from
      * the carried partials. Pure expression work — the cheap
      * admissibility check that runs BEFORE any target construction.
      * `dimOut` (join compensation only) is the extra dimension's output:
      * its attributes pass through verbatim — matched by exprId FIRST so
      * a dim column that merely shares an MV key's name never rebinds to
      * the wrong side. */
    private def rollupExprs(mv: MvDef, groupings: Seq[Expression],
        aggExprs: Seq[NamedExpression], dimOut: AttributeSet = AttributeSet.empty)
        : Option[(Seq[Expression], Seq[NamedExpression])] = {
      // a deterministic expression whose every reference is an MV
      // grouping key (or a compensated-dim column) commutes with the
      // rollup: equal keys ⇒ equal expression value, so grouping by it
      // merely MERGES MV groups — which is exactly what the partial
      // merge computes (the lattice time-hierarchy rollup:
      // GROUP BY year(d) answered from a day-keyed tile)
      def keyDerived(e: Expression): Boolean =
        derivedFrom(e)(a => dimOut.contains(a) || mv.tile.isKey(a.name))
      def rebindKeys(e: Expression): Expression =
        rebindToTile(mv, e)(a => !dimOut.contains(a) && mv.tile.isKey(a.name))
      for {
        // grouping keys must be bare attributes covered by the MV keys,
        // attributes of the compensated dimension (kept as-is), or
        // key-derived expressions (rebound)
        g <- StarShape.sequence(groupings.map {
          case a: AttributeReference if dimOut.contains(a) => Some(a)
          case a: AttributeReference if mv.tile.isKey(a.name) =>
            Some(mv.targetOut(a.name))
          case e if keyDerived(e) => Some(rebindKeys(e))
          case _ => None
        })
        a <- StarShape.sequence(aggExprs.map {
          case a: AttributeReference if dimOut.contains(a) => Some(a)
          case a: AttributeReference if mv.tile.isKey(a.name) =>
            Some(Alias(mv.targetOut(a.name), a.name)(exprId = a.exprId))
          // grouping-expression pass-through (the SELECT-list copy of a
          // key-derived grouping like year(d)): rebind its key references
          case al @ Alias(e, nm) if keyDerived(e) =>
            Some(Alias(rebindKeys(e), nm)(exprId = al.exprId))
          case other => rollupOutput(mv, mv.targetOut, dimOut)(other)
        })
      } yield (g, a)
    }
  }
}
