package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `CREATE/DROP MATERIALIZED VIEW` statement surface (ref: server
  * module, sql/ddl/SqlCreateMaterializedView.java + the
  * materialized_view.iq contract):
  *
  *   CREATE MATERIALIZED VIEW [IF NOT EXISTS] name [(col, ...)] AS query
  *   DROP MATERIALIZED VIEW [IF EXISTS] name
  *
  * The view body runs through GraftSql (so the full dialect surface is
  * available), materializes once (persist + count), and registers under
  * the given name — later queries read the materialized relation by
  * name, like the reference's materialization table. An unqualified
  * name lands as a cached temp view; a schema-qualified name (s.d10)
  * materializes as a managed table in that schema so qualified reads
  * resolve through the catalog. Name collisions follow the reference:
  * plain CREATE on an existing name fails with "Table 'NAME' already
  * exists"; IF NOT EXISTS is silent and keeps the existing contents.
  * The optional column list must be bare aliases (a typed entry is the
  * reference's parse error) and must match the query's degree.
  *
  * This is the statement-level GENERAL materialization; the
  * aggregate-rollup registry with transparent query rewrite (the 100 TB
  * scale path: partial-aggregate tiles + substitution) stays in
  * plans/MaterializedViews.scala. A rollup-shaped body ALSO registers
  * there (maybeRegisterTile), with deliberately DIFFERENT staleness
  * contracts after source DML:
  *   - the NAMED read target keeps serving its materialized snapshot
  *     until re-created — the standard materialized-view contract
  *     (PostgreSQL REFRESH semantics; the reference's materialization
  *     tables likewise hold their populated contents);
  *   - the transparent REWRITE is invalidated by TableDml's write
  *     barrier (both registries key the same path), because a rewrite
  *     the user never asked for must never silently answer with
  *     pre-DML data — so an explicit `SELECT * FROM mv` may lag the
  *     table, but an ordinary rollup query never does.
  */
object MaterializedViewSql {

  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Forget every registered MV name (test isolation). */
  def clearRegistry(): Unit = registered.clear()

  private val createRe =
    ("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\s+(?:(IF\\s+NOT\\s+EXISTS)\\s+)?" +
      "([\\w`.]+)\\s*(?:\\(([^)]*)\\)\\s*)?AS\\s+(.+)$").r
  private val createNoAsRe =
    "(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\b.*$".r
  private val dropRe =
    "(?is)^DROP\\s+MATERIALIZED\\s+VIEW\\s+(?:(IF\\s+EXISTS)\\s+)?([\\w`.]+)\\s*;?\\s*$".r

  private def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
  private def uc(s: String): String = s.toUpperCase(java.util.Locale.ROOT)

  private def exists(spark: SparkSession, name: String): Boolean =
    registered.contains(lc(name)) ||
      (try spark.catalog.tableExists(name) catch { case _: Exception => false })

  /** Some(df) if the statement is MV DDL (df is empty); None otherwise. */
  def maybeRun(spark: SparkSession, text: String): Option[DataFrame] = text.trim.stripSuffix(";") match {
    case createRe(ifNotExists, name0, colList, query) =>
      val name = name0.replace("`", "")
      if (exists(spark, name)) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(
            s"Table '${uc(name.split('.').last)}' already exists")
      } else {
        val body =
          if (query.trim.toUpperCase(java.util.Locale.ROOT).startsWith("VALUES"))
            s"SELECT * FROM ($query) __mv_vals" // bare VALUES body
          else query
        var df = GraftSql.sql(spark, body)
        Option(colList).map(_.trim).filter(_.nonEmpty).foreach { cl =>
          val cols = cl.split(",").map(_.trim.replaceAll("[`\"]", ""))
          if (cols.exists(_.contains(" ")))
            throw new IllegalArgumentException(
              s"CREATE MATERIALIZED VIEW column list must be bare aliases, got ($cl)")
          if (cols.length != df.columns.length)
            throw new IllegalArgumentException(
              s"List of column aliases must have same degree as table; table has " +
                s"${df.columns.length} columns, whereas alias list has ${cols.length} columns")
          df = df.toDF(cols.toIndexedSeq: _*)
        }
        if (name.contains(".")) {
          // schema-qualified: materialize as a managed table so
          // qualified reads resolve through the catalog
          df.write.saveAsTable(name)
        } else {
          // a materialized view is a SNAPSHOT at creation (the
          // reference POPULATES a table, server/ddl): cut lineage so a
          // later write to the source neither silently refreshes the
          // named view (Spark's write-path recache rebuilds cached
          // plans that still read the files) nor strands its cache on
          // deleted files after a copy-on-write swap
          df.localCheckpoint(true).createOrReplaceTempView(name)
        }
        registered.add(lc(name))
        // tile registration signs the ORIGINAL plan (the checkpoint is
        // a LogicalRDD leaf and cannot be signed)
        maybeRegisterTile(spark, lc(name), df)
      }
      Some(spark.emptyDataFrame)
    case dropRe(ifExists, name0) =>
      val name = name0.replace("`", "")
      if (registered.remove(lc(name))) {
        if (name.contains(".")) spark.sql(s"DROP TABLE IF EXISTS $name")
        else spark.catalog.dropTempView(name)
        graft.plans.MaterializedViews.drop(spark, s"ddl:${lc(name)}")
        ()
      } else if (ifExists == null)
        throw new IllegalArgumentException(
          s"Materialized view '${uc(name.split('.').last)}' not found")
      Some(spark.emptyDataFrame)
    case createNoAsRe() =>
      // CREATE MATERIALIZED VIEW without an AS query — parse error, per
      // the reference's grammar
      throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW requires AS <query>")
    case _ => None
  }

  /** Opportunistic PLANNER registration (ref: the reference's CREATE
    * MATERIALIZED VIEW feeds MaterializationService — the planner then
    * substitutes the materialization into OTHER queries matching its
    * defining expression, jdbc/CalcitePrepareImpl + materialize/
    * MaterializationService.java — not just named reads): when the view
    * body analyzes to a plain rollup — bare-attribute grouping keys,
    * SUM/MIN/MAX/COUNT/AVG over bare attributes — over a file-backed
    * source the tile registry can sign, register the equivalent tile
    * under `ddl:<name>`. Later rollup queries over the same source are
    * then answered from this materialization transparently, exactly
    * like a programmatically registered lattice tile (every carried
    * partial is exact, so the registry's any-MV-may-answer invariant
    * holds). Anything else — joins with expressions, windows,
    * VALUES-backed temp views — stays a plain named materialization;
    * failures here never fail the DDL.
    *
    * Cost note: the tile aggregates the source a second time (the named
    * snapshot's result lacks the cntn/cnt partials the rollup merge
    * needs) — a deliberate one-time 2× DDL cost for zero-fact-scan
    * answers afterwards; a shared-scan derivation is possible if DDL
    * latency ever matters. */
  private def maybeRegisterTile(spark: SparkSession, name: String, df: DataFrame): Unit =
    try graft.plans.MaterializedViews.registerRollup(spark, s"ddl:$name", df)
    catch { case scala.util.control.NonFatal(_) => () }

  private val metadataTablesRe =
    "(?is)^select\\s+\\*\\s+from\\s+[`\"]?metadata[`\"]?\\s*\\.\\s*tables\\s*$".r

  /** The reference's JDBC metadata schema, `"metadata".TABLES` (ref:
    * jdbc CalciteMetaImpl — Avatica surfaces DatabaseMetaData.getTables
    * as a queryable system table; recorded in materialized_view.iq:247).
    * Row shape = java.sql.DatabaseMetaData.getTables columns. Contents:
    * every registered schema-qualified materialized view (tableType
    * MATERIALIZED VIEW) plus the metadata system tables themselves.
    * Root-schema objects are omitted — the reference's own recorded
    * behavior (materialized_view.iq:246: root-schema MVs "currently do
    * not" appear in the catalog). */
  def maybeMetadataTables(spark: SparkSession, text: String): Option[DataFrame] =
    text.trim.stripSuffix(";") match {
      case metadataTablesRe() =>
        import scala.jdk.CollectionConverters._
        val header = Seq("tableCat", "tableSchem", "tableName", "tableType",
          "remarks", "typeCat", "typeSchem", "typeName",
          "selfReferencingColName", "refGeneration")
        def row(schem: String, name: String, typ: String) =
          org.apache.spark.sql.Row(null, schem, name, typ,
            null, null, null, null, null, null)
        val mvRows = registered.asScala.toSeq.sorted.filter(_.contains("."))
          .map { n =>
            val parts = n.split('.')
            row(uc(parts.init.mkString(".")), uc(parts.last), "MATERIALIZED VIEW")
          }
        val sysRows = Seq(row("metadata", "COLUMNS", "SYSTEM TABLE"),
          row("metadata", "TABLES", "SYSTEM TABLE"))
        val schema = org.apache.spark.sql.types.StructType(header.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType, nullable = true)))
        Some(spark.createDataFrame(
          spark.sparkContext.parallelize(mvRows ++ sysRows, 1), schema))
      case _ => None
    }
}
