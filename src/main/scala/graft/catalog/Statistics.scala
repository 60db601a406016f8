package graft.catalog

import org.apache.spark.sql.SparkSession

/** Declared per-table statistics — row count and per-column distinct
  * counts (ref: schema/Statistic.java `getRowCount` + the NDV metadata
  * of rel/metadata/RelMdDistinctRowCount.java — the numbers the
  * reference's cost model consults before firing a transposition rule
  * like rel/rules/AggregateJoinTransposeRule.java). The reference gets
  * these from the catalog or its profiler; here the same single-pass
  * HLL profile that drives the lattice advisor feeds them
  * ([[Statistics.profileAndDeclare]]), closing a third
  * profile → metadata → rewrite loop beside constraints and keys.
  *
  * Consumers estimate the distinct count of a column SET with the
  * independence upper bound min(rowCount, Π ndv(c)) — the same model
  * [[Lattice.suggestTiles]] uses for tile sizing. An over-estimate can
  * only SUPPRESS a rewrite that needed a low group count, never admit
  * one, so the bound errs on the safe side for the eager-aggregation
  * gate. */
object Statistics {

  final case class TableStats(path: String, rows: Long, ndv: Map[String, Long])

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, TableStats]()

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
  }

  /** Declare statistics (idempotent). Per-column NDVs MERGE with any
    * earlier declaration for the same table — separate profiling calls
    * each see a column subset, and dropping the complement would
    * un-gate rewrites it had armed; the row count refreshes to the
    * latest pass. */
  def declare(spark: SparkSession, path: String, rows: Long,
      ndv: Map[String, Long]): Unit = {
    val q = qualify(spark, path)
    tables.merge(q, TableStats(q, rows, ndv),
      (old, fresh) => TableStats(q, fresh.rows, old.ndv ++ fresh.ndv)): Unit
    graft.GraftSession.install(spark)
  }

  /** ONE profiling pass — exact row count + an HLL distinct sketch per
    * column — declared into the registry. At 100 TB this is a single
    * scan with a constant-size aggregation buffer; the numbers then
    * gate every eager-aggregation decision for free. */
  def profileAndDeclare(spark: SparkSession, path: String,
      cols: Seq[String]): TableStats = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "profile needs 1+ columns")
    val df = graft.T.normalizeTimestamps(spark.read.parquet(path))
    val row = df.agg(count(lit(1)).as("__n"),
      cols.map(c => approx_count_distinct(col(c)).as(c)): _*).collect()(0)
    val stats = TableStats(qualify(spark, path), row.getLong(0),
      cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
    declare(spark, path, stats.rows, stats.ndv)
    stats
  }

  def clear(): Unit = tables.clear()

  /** Independence upper bound on the distinct count of `cols` in the
    * table whose root paths are `paths`: min(rows, Π ndv). None when no
    * stats are declared for the table or any column is unprofiled —
    * consumers treat None as "no evidence", never as zero. */
  private[graft] def estimatedNdv(paths: Set[String],
      cols: Set[String]): Option[Double] = {
    import scala.jdk.CollectionConverters._
    tables.values.asScala.find(t => paths.contains(t.path)).flatMap { t =>
      if (cols.forall(t.ndv.contains))
        Some(math.min(t.rows.toDouble,
          cols.foldLeft(1.0)((acc, c) => acc * t.ndv(c).max(1L))))
      else None
    }
  }

  private[graft] def rowCount(paths: Set[String]): Option[Long] = {
    import scala.jdk.CollectionConverters._
    tables.values.asScala.find(t => paths.contains(t.path)).map(_.rows)
  }
}
