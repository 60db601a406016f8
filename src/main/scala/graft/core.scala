package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared operator/query from SURVEY.md §2.
  *
  * @param build  Spark-side implementation `(session, sfDir) => result`.
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               parquet tables; None → driver records a rows-only check.
  */
final case class Q(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Table access + numeric-determinism helpers shared by every operator.
  *
  * Determinism contract with the DuckDB oracle: all SUM/AVG over the
  * double-typed money columns go through DECIMAL(12,2) so partial
  * aggregation is exact and order-independent (a plain double sum is
  * neither — its value depends on shuffle partitioning, which breaks the
  * driver's hash compare). The exact decimal is cast back to DOUBLE at
  * the end; decimal→double is a single deterministic IEEE rounding, so
  * Spark and DuckDB produce bit-identical values.
  */
object T {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Process-level parquet schema cache, keyed by file path. Schema
    * inference on a bare-path `read.parquet` launches a footer-read JOB
    * on every call (measured ~25–35 ms each — a multi-table query paid
    * ~0.1 s of pure metadata re-reads per run); passing the schema
    * explicitly skips it. This caches METADATA only (what a catalog
    * does), never data or results — every query still computes from the
    * parquet bytes. The source tables are immutable driver inputs, so a
    * path's schema cannot change within a process lifetime. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    // a session built elsewhere (not by GraftSession.local) gets the
    // graft rules and functions on its first table read
    GraftSession.install(s)
    // events.parquet carries TIMESTAMP(NANOS), which Spark only reads as
    // a raw long (DuckDB truncates ns→µs, so we do the same to stay
    // oracle-identical).
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => s.read.parquet(p).schema)
    val df0 = s.read.schema(schema).parquet(path)
    // timestamp[us] without isAdjustedToUTC infers as TIMESTAMP_NTZ in
    // Spark 4; the session TZ is pinned to UTC everywhere (Bench/Verify/
    // specs), so casting back to TIMESTAMP is wall-clock identity and
    // keeps every operator (and DuckDB, which reads the same naive
    // values) on the instant-typed column they were written against.
    normalizeTimestamps(df0)
  }

  /** Rows-per-core floor below which [[spread]] is a no-op: when a scan
    * already carries this little work per task, a redistribution costs
    * more than the serial compute it would parallelize. */
  private val SpreadMinRows = 4096L

  /** Parallelize CPU-heavy work over an UNSPLITTABLE scan (guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"): the driver's tables are single-row-group parquet
    * files, and a parquet row group is read by exactly one task, so a
    * scan feeding per-row-expensive work (decimal aggregation, N
    * broadcast-join probes) serializes onto one core no matter how many
    * cores the session has. When the layout cannot fill half the
    * session's cores, redistribute right after the read; filters and
    * column pruning still push THROUGH the repartition to the scan
    * (PushDownPredicates handles RepartitionByExpression), so
    * PushedFilters/ReadSchema are unchanged. On a healthy layout
    * (row groups ≥ cores/2 — any production table) this is the identity
    * and the plan is untouched. Hash-distributes on a stated key rather
    * than round-robin: round-robin pays a defensive local sort per task
    * (SPARK-23207) and is retry-fragile. */
  def spread(s: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val df = apply(s, dir, name)
    val cores = s.sparkContext.defaultParallelism
    if (scanTasks(s, dir, name) < cores / 2 &&
        approxRows(dir, name) >= SpreadMinRows * cores)
      df.repartition(cores, col(key))
    else df
  }

  /** Row groups summed over the table's parquet files = the number of
    * tasks that can do real scan work (cached: metadata only). */
  private val rgCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def footerStats(dir: String, name: String): (Long, Long) =
    rgCache.computeIfAbsent(s"$dir/$name.parquet", { p =>
      try {
        // Resolve listing AND reading through the Hadoop FileSystem of the
        // path's scheme (r16, advisor/verdict item 7): the old
        // java.io.File listing silently hit the catch-all on any
        // non-local dir (hdfs://, s3a://), disabling spread/row-aware
        // sizing exactly where an unsplittable layout might occur.
        val conf = new org.apache.hadoop.conf.Configuration()
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(conf)
        val status = fs.getFileStatus(path)
        val files: Seq[org.apache.hadoop.fs.Path] =
          if (status.isDirectory)
            fs.listStatus(path).toSeq.map(_.getPath)
              .filter(_.getName.endsWith(".parquet"))
          else Seq(path)
        var groups = 0L; var rows = 0L
        files.foreach { file =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try { groups += r.getRowGroups.size(); rows += r.getRecordCount }
          finally r.close()
        }
        (groups, rows)
      } catch {
        case e: Throwable =>
          // fail toward identity/more-parallelism, but say so once
          System.err.println(
            s"[graft] footer stats unavailable for $p (${e.getClass.getSimpleName}); " +
              "spread/row-aware sizing degrade to identity for this table")
          (Long.MaxValue, 0L)
      }
    })

  private def scanTasks(s: SparkSession, dir: String, name: String): Long =
    footerStats(dir, name)._1

  private def approxRows(dir: String, name: String): Long =
    footerStats(dir, name)._2

  /** Cached footer row count for a source table (metadata only;
    * Long.MaxValue when unreadable so callers fail toward MORE
    * parallelism, never toward serializing the work). */
  def tableRows(dir: String, name: String): Long = approxRows(dir, name) match {
    case 0L => Long.MaxValue
    case n => n
  }

  /** Explicit partition count for a CPU-bound per-row stage fed by a
    * source table: enough tasks to spread the rows (`rowsPerTask` per
    * task), capped at the session's parallelism — the row-aware sizing
    * textops' dedup passes introduced (r15, 512 docs per task), shared
    * so per-operator repartitions scale with the input instead of
    * hard-coding a core count. Unreadable footers size to full parallelism (tableRows =
    * Long.MaxValue), never toward serializing the work. */
  def sizedParts(s: SparkSession, dir: String, name: String,
      rowsPerTask: Long = 4096L): Int =
    math.max(2L, math.min(s.sparkContext.defaultParallelism.toLong,
      tableRows(dir, name) / rowsPerTask)).toInt

  /** Normalize however the generator wrote time columns onto plain
    * TIMESTAMP: TIMESTAMP_NTZ casts over (identity under the pinned UTC
    * session TZ), and a raw-long `ts` (TIMESTAMP(NANOS) read with
    * nanosAsLong) truncates ns→µs. Streaming readers share this so the
    * batch and stream sides of every Δ≡batch spec see one schema. */
  def normalizeTimestamps(df0: DataFrame): DataFrame = {
    val df = df0.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df0)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      // integer DIV, not `/`: epoch-nanos exceed double's 53-bit mantissa
      case Some(_) => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case None => df
    }
  }

  /** Register all tables as temp views (for spark.sql-based operators). */
  def registerViews(s: SparkSession, dir: String): Unit =
    tableNames.foreach(n => apply(s, dir, n).createOrReplaceTempView(n))

  /** Exact money arithmetic: cast to DECIMAL(12,2). */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact decimal sum surfaced as a deterministic double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Order-independent average: exact decimal sum / count, in double. */
  def davg(c: Column): Column = sum(dec2(c)).cast(DoubleType) / count(lit(1))

  /** Monday epoch for week/day-of-week arithmetic in oracle-checked
    * shapes (ds64/ds78/ds95 and their DuckDB twins, which must spell
    * `date_diff('day', TIMESTAMP '1970-01-05', x)`). 1970-01-05 is a
    * Monday BELOW any plausible data domain, so the day diff is always
    * non-negative and truncation == floor and pmod == % on BOTH
    * engines — the cross-engine determinism the shapes rely on would
    * silently break for pre-epoch dates (Spark casts toward zero and
    * pmod is non-negative; DuckDB floors and % keeps the sign). */
  val weekEpoch = "1970-01-05"

  /** Days since [[weekEpoch]] (non-negative over any sane data). */
  def epochDays(c: Column): Column =
    datediff(c, lit(weekEpoch).cast("timestamp"))

  /** Week number since [[weekEpoch]]. */
  def weekSeq(c: Column): Column = (epochDays(c) / 7).cast(LongType)

  /** Day-of-week, 0=Monday..6=Sunday, from pure day arithmetic —
    * never an engine week/dow function (ISO-week rules differ). */
  def dow(c: Column): Column = pmod(epochDays(c), lit(7))
}
