package graft.catalog

import org.apache.spark.sql.SparkSession

/** Declared referential constraints (ref: schema/Statistic.java
  * `getReferentialConstraints` + plan/RelOptReferentialConstraint — the
  * reference's planner trusts catalog-declared FK→PK pairs to prove a
  * join LOSSLESS, enabling join elimination and materialized-view
  * unification across differing join sets, rel/rules/materialize/
  * MaterializedViewJoinRule's constraint-based compensation). Column
  * LISTS are first-class, as in the reference — a referential
  * constraint is a `List<IntPair>` of column pairs
  * (rel/RelReferentialConstraint.java:45), so multi-tenant schemas
  * keyed on (tenant_id, key) get the same rewrites as single-column
  * stars.
  *
  * Declaring `factPath.(f₁…fₙ) → dimPath.(d₁…dₙ)` asserts, as the
  * caller's catalog contract (exactly like the reference's — constraints
  * are metadata, never re-verified per query):
  *   - (d₁…dₙ) is UNIQUE in the dim table (a key, jointly),
  *   - each fᵢ is non-NULL in the fact table,
  *   - every (f₁…fₙ) tuple appears among the (d₁…dₙ) tuples.
  * Under those three, fact ⋈ dim on ⋀ fᵢ = dᵢ has EXACTLY one row per
  * fact row — so an aggregate over fact columns is identical on the
  * fact and on the star, which is what lets a fact-only rollup be
  * answered from a star tile (MaterializedViews.MvRewrite's fkCovers)
  * and a never-read dim join be deleted (FkJoinElimination).
  *
  * Unique keys (ref: schema/Statistic.java `getKeys` +
  * rel/rules/ProjectJoinRemoveRule.java) are the weaker declaration: a
  * LEFT/RIGHT outer join to a unique key preserves multiplicity by
  * construction (≤1 match, unmatched rows retained), so elimination
  * needs no containment or non-nullness — uniqueness alone suffices.
  *
  * At 100 TB this is the missing half of the lattice play: ONE wide
  * star tile (fact ⋈ all dimensions, pre-aggregated) answers not just
  * star queries but every fact-only rollup too — without constraints,
  * each join subset would need its own materialization. */
object Constraints {

  /** A (possibly composite) declared foreign key: positional column
    * pairs factCols(i) → dimKeys(i), all of which must join together
    * for the losslessness proof to apply — two single-column FKs are
    * NOT a composite FK (their two unique matches need not be the same
    * dim row). */
  final case class ForeignKey(
      factPath: String, factCols: Seq[String],
      dimPath: String, dimKeys: Seq[String]) {
    require(factCols.nonEmpty && factCols.size == dimKeys.size,
      "foreign key needs 1+ column pairs of equal length")
    /** Unordered name-pair sets, for signature-pair matching. */
    def pairSets: Seq[Set[String]] =
      factCols.zip(dimKeys).map { case (f, d) => Set(f, d) }
  }

  /** A declared unique key: `cols` (jointly) are distinct in the table
    * at `path`. */
  final case class UniqueKey(path: String, cols: Seq[String])

  private val fks = java.util.concurrent.ConcurrentHashMap
    .newKeySet[ForeignKey]()
  private val uks = java.util.concurrent.ConcurrentHashMap
    .newKeySet[UniqueKey]()

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
  }

  /** Declare factPath.factCol → dimPath.dimKey (idempotent). */
  def declareForeignKey(spark: SparkSession, factPath: String, factCol: String,
      dimPath: String, dimKey: String): Unit =
    declareForeignKey(spark, factPath, Seq(factCol), dimPath, Seq(dimKey))

  /** Declare the composite factPath.(f₁…fₙ) → dimPath.(d₁…dₙ)
    * (idempotent; positional pairs). */
  def declareForeignKey(spark: SparkSession, factPath: String,
      factCols: Seq[String], dimPath: String, dimKeys: Seq[String]): Unit = {
    fks.add(ForeignKey(qualify(spark, factPath), factCols,
      qualify(spark, dimPath), dimKeys)): Unit
    graft.GraftSession.install(spark)
  }

  /** Declare `cols` (jointly) unique in the table at `path`
    * (idempotent). Order-insensitive: the key is a column SET. */
  def declareUniqueKey(spark: SparkSession, path: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "unique key needs 1+ columns")
    uks.add(UniqueKey(qualify(spark, path), cols.sorted)): Unit
    graft.GraftSession.install(spark)
  }

  def clear(): Unit = { fks.clear(); uks.clear() }

  /** Fast path for the rules: with nothing declared, no elimination can
    * fire. */
  private[graft] def nothingDeclared: Boolean = fks.isEmpty && uks.isEmpty

  /** Per-condition verdicts of a foreign-key verification. */
  final case class FkCheck(uniqueKey: Boolean, noNulls: Boolean,
      contained: Boolean) {
    def valid: Boolean = uniqueKey && noNulls && contained
  }

  /** Check the three conditions `declareForeignKey` ASSERTS — dim keys
    * jointly unique, fact columns non-null, every fact tuple present
    * among the dim key tuples — with real (exact) queries, and declare
    * the constraint only when all hold. The reference trusts declared
    * metadata outright (schema/Statistic.java getReferentialConstraints
    * is never re-verified); at 100 TB a one-off verification — one
    * aggregate on the dim, one null count on the fact, one anti-join —
    * is cheap insurance before the rewrite starts serving every
    * fact-only rollup from a star tile on the strength of the claim. */
  def verifyAndDeclare(spark: SparkSession, factPath: String, factCol: String,
      dimPath: String, dimKey: String): FkCheck =
    verifyAndDeclare(spark, factPath, Seq(factCol), dimPath, Seq(dimKey))

  /** Composite-key verification; positional pairs as in
    * `declareForeignKey`. All comparisons are qualified through the
    * DataFrames themselves, so natural-key schemas where both sides
    * share a column name never hit an ambiguous-reference error. */
  def verifyAndDeclare(spark: SparkSession, factPath: String,
      factCols: Seq[String], dimPath: String, dimKeys: Seq[String]): FkCheck = {
    import org.apache.spark.sql.functions._
    require(factCols.nonEmpty && factCols.size == dimKeys.size,
      "foreign key needs 1+ column pairs of equal length")
    val fact = graft.T.normalizeTimestamps(spark.read.parquet(factPath))
    val dim = graft.T.normalizeTimestamps(spark.read.parquet(dimPath))
    val uniqueKey = dim.groupBy(dimKeys.map(dim(_)): _*)
      .count().filter(col("count") > 1).isEmpty
    val noNulls = fact.filter(factCols.map(fact(_).isNull).reduce(_ || _)).isEmpty
    val contained = fact
      .join(dim, factCols.zip(dimKeys)
        .map { case (f, d) => fact(f) === dim(d) }.reduce(_ && _), "left_anti")
      .isEmpty
    val check = FkCheck(uniqueKey, noNulls, contained)
    if (check.valid) declareForeignKey(spark, factPath, factCols, dimPath, dimKeys)
    check
  }

  /** Check that `cols` are jointly unique in the table at `path` with
    * one exact aggregate, and declare the key when they are. */
  def verifyAndDeclareUniqueKey(spark: SparkSession, path: String,
      cols: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions._
    val t = graft.T.normalizeTimestamps(spark.read.parquet(path))
    val unique = t.groupBy(cols.map(t(_)): _*)
      .count().filter(col("count") > 1).isEmpty
    if (unique) declareUniqueKey(spark, path, cols)
    unique
  }

  /** Declare an ALREADY-QUALIFIED constraint verbatim — the durable-tile
    * adoption path (MaterializedViews.adoptOne): TileMeta serializes the
    * qualified paths `declareForeignKey` produced, so re-declaring them
    * must not re-qualify against a possibly different working FS. */
  private[graft] def declareQualified(fk: ForeignKey): Unit = fks.add(fk): Unit

  /** Declared constraints BOTH of whose sides are leaves of the given
    * tile — the set worth persisting beside it (ref: constraints live ON
    * the table metadata, schema/Statistic.java getReferentialConstraints,
    * so they travel with whatever catalog stores the materialization).
    * Deterministic order, so TileMeta round-trips stably. */
  private[graft] def forLeaves(leaves: Seq[Set[String]]): Seq[ForeignKey] = {
    import scala.jdk.CollectionConverters._
    fks.asScala.toSeq
      .filter(fk => leaves.exists(_.contains(fk.factPath)) &&
        leaves.exists(_.contains(fk.dimPath)))
      .sortBy(fk => (fk.factPath, fk.factCols.mkString(","),
        fk.dimPath, fk.dimKeys.mkString(",")))
  }

  /** Is a column set containing all of `keyCols` declared UNIQUE for a
    * table rooted at one of `paths`? A declared FK's dim side is a
    * unique key by that declaration's own contract, so both registries
    * answer. The caller passes the columns its join condition PINS
    * (equated to the preserved side or to literals); any declared key
    * covered by the pinned set proves ≤1 match per preserved row. */
  private[graft] def uniqueKeyOn(paths: Set[String],
      pinnedCols: Set[String]): Boolean = {
    import scala.jdk.CollectionConverters._
    uks.asScala.exists(k => paths.contains(k.path) &&
      k.cols.forall(pinnedCols.contains)) ||
      fks.asScala.exists(fk => paths.contains(fk.dimPath) &&
        fk.dimKeys.forall(pinnedCols.contains))
  }

  /** Is `colName` on a table rooted at one of `paths` declared NON-NULL
    * — i.e. the fact side of some declared FK? An IsNotNull filter on
    * such a column is vacuous by the catalog contract (the residue an
    * earlier elimination of ITS dim join leaves behind). The caller
    * resolves `paths` through the attribute's producing leaf, so a
    * same-named column elsewhere never borrows the declaration. */
  private[graft] def declaredNonNull(paths: Set[String],
      colName: String): Boolean = {
    import scala.jdk.CollectionConverters._
    fks.asScala.exists(fk => paths.contains(fk.factPath) &&
      fk.factCols.contains(colName))
  }

  /** One equi-join pair with each side bound to the root-path set of
    * the scan leaf that PRODUCES its attribute — the exprId-resolved
    * currency of join elimination, immune to name borrowing (a
    * same-named column on another leaf resolves to different paths and
    * never matches a declared constraint). Sides are unordered. */
  final case class ResolvedPair(
      aPaths: Set[String], aCol: String, bPaths: Set[String], bCol: String)

  /** Is joining the `extras` leaves onto the `reached0` leaves along
    * the leaf-RESOLVED equi `pairs` provably LOSSLESS — exactly one
    * added match per existing row? The extras must form a TREE of
    * declared FK edges DIRECTED AWAY from the reached set: an FK edge
    * fires only when its fact side is an already-reached leaf, its dim
    * side a still-unreached extra, and EVERY one of its column pairs
    * matches a distinct pending resolved pair between those two leaves
    * (a composite FK is one edge consuming all its pairs together — a
    * partial match never fires). Anything that cannot traverse refuses
    * the whole extension:
    *   - FAN-OUT — the pair's FK fact side is the FAR leaf (several
    *     fact-like rows per reached row);
    *   - a composite join covered only by single-column FKs (the two
    *     unique matches need not be the same dim row, so the
    *     conjunction can drop rows) — the leftover pairs stay pending;
    *   - a pair with no declared FK at all. */
  private[graft] def losslessResolved(reached0: Seq[Set[String]],
      extras: Seq[Set[String]], pairs0: Seq[ResolvedPair]): Boolean = {
    import scala.jdk.CollectionConverters._
    val all = fks.asScala.toSeq
    val reached = scala.collection.mutable.ArrayBuffer(reached0: _*)
    val unreached = scala.collection.mutable.ArrayBuffer(extras: _*)
    val pending = scala.collection.mutable.ArrayBuffer(pairs0: _*)
    var progress = true
    while (progress && unreached.nonEmpty) {
      progress = false
      all.find { fk =>
        val i = unreached.indexWhere(_.contains(fk.dimPath))
        i >= 0 && reached.exists(_.contains(fk.factPath)) && {
          val dimLeaf = unreached(i)
          // bind every column pair of the FK to a DISTINCT pending
          // resolved pair between a reached fact leaf and this dim leaf
          def matches(p: ResolvedPair, fc: String, dk: String): Boolean = {
            def oneWay(fp: Set[String], fc0: String,
                dp: Set[String], dc0: String) =
              fc0 == fc && dc0 == dk && fp.contains(fk.factPath) &&
                dp == dimLeaf && reached.contains(fp)
            oneWay(p.aPaths, p.aCol, p.bPaths, p.bCol) ||
              oneWay(p.bPaths, p.bCol, p.aPaths, p.aCol)
          }
          val idxs = fk.factCols.zip(fk.dimKeys)
            .foldLeft(Option(Set.empty[Int])) {
              case (Some(taken), (fc, dk)) =>
                pending.indices.find(idx =>
                  !taken.contains(idx) && matches(pending(idx), fc, dk))
                  .map(taken + _)
              case (None, _) => None
            }
          idxs match {
            case Some(taken) =>
              taken.toSeq.sorted.reverse.foreach(pending.remove(_): Unit)
              reached += unreached.remove(i)
              true
            case None => false
          }
        }
      } match {
        case Some(_) => progress = true
        case None => ()
      }
    }
    pending.isEmpty && unreached.isEmpty
  }

  /** Name-based variant of [[losslessResolved]] for the MV signature
    * world, where pairs are canonical column-name tuples and leaves are
    * root-path sets (names are unambiguous within one tile — duplicate
    * output names are rejected at register). Same directed-tree
    * traversal: a (possibly composite) FK edge consumes ALL of its
    * name pairs together and reaches its dim leaf; per-pair coverage
    * without the direction/tree argument admitted the fan-out case —
    * the r14 audit's fix. */
  private[graft] def losslessExtension(base: Seq[Set[String]],
      extras: Seq[Set[String]], pairs: Set[(String, String)]): Boolean = {
    import scala.jdk.CollectionConverters._
    val all = fks.asScala.toSeq
    val reached = scala.collection.mutable.ArrayBuffer(base: _*)
    val unreached = scala.collection.mutable.ArrayBuffer(extras: _*)
    val pending = scala.collection.mutable.Set(pairs.toSeq: _*)
    var progress = true
    while (progress && unreached.nonEmpty) {
      progress = false
      all.find { fk =>
        reached.exists(_.contains(fk.factPath)) && {
          val i = unreached.indexWhere(_.contains(fk.dimPath))
          i >= 0 && {
            // every column pair of the FK must match a DISTINCT pending
            // name pair (pending is a set of canonical tuples, so
            // distinct pair-sets map to distinct members)
            val matches = fk.pairSets.map(ps =>
              pending.find(p => Set(p._1, p._2) == ps))
            matches.forall(_.isDefined) &&
              matches.flatten.distinct.size == fk.pairSets.size && {
                matches.flatten.foreach(pending -= _)
                reached += unreached.remove(i)
                true
              }
          }
        }
      } match {
        case Some(_) => progress = true
        case None => ()
      }
    }
    pending.isEmpty && unreached.isEmpty
  }

  /** Does a declared SINGLE-column FK prove the join pair `(a, b)`
    * (name-normalized, as in an MV signature) lossless? BOTH declared
    * tables must be present: the DIM side among `dimLeaves` (the tile's
    * extra leaves — the side whose join must add exactly one match per
    * row), and the FACT side among `allLeaves` (every leaf of the tile —
    * the fact itself, or an inner dim of a snowflake chain). Without the
    * fact-side check, a constraint declared for table A would falsely
    * cover a same-NAMED column pair in a tile over a different table.
    * A composite FK never covers a lone pair — its conjunction is the
    * unit of proof. */
  def coversPair(pair: (String, String), dimLeaves: Seq[Set[String]],
      allLeaves: Seq[Set[String]]): Boolean = {
    import scala.jdk.CollectionConverters._
    fks.asScala.exists { fk =>
      fk.factCols.size == 1 &&
        Set(pair._1, pair._2) == Set(fk.factCols.head, fk.dimKeys.head) &&
        dimLeaves.exists(_.contains(fk.dimPath)) &&
        allLeaves.exists(_.contains(fk.factPath))
    }
  }
}
