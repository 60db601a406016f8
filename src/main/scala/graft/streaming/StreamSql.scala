package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `STREAM` keyword (ref: site/_docs/stream.md; algebra
  * rel/stream/Delta.java, Chi.java; validation error
  * STREAMING_AGGREGATION_REQUIRES_MONOTONIC tested in
  * core/src/test/resources/sql/stream.iq).
  *
  * Semantics, per the reference: `SELECT STREAM ... FROM s` over a
  * stream-table is a continuous delta query; the same query WITHOUT the
  * keyword reads the table's relation (its history so far); STREAM over
  * a non-stream table is an error ("not a stream"); aggregation on a
  * stream requires a monotonic grouping expression (a time window),
  * otherwise the group never closes.
  *
  * Spark-first lowering: the Δ-pushdown rules (StreamRules.java:57-365)
  * ARE Structured Streaming's incrementalization, so the rewrite is
  * only a frontend matter — strip the keyword, resolve the FROM tables
  * against the stream catalog (streaming DataFrames registered as temp
  * views; Spark plans SQL over them incrementally), and validate:
  *
  *  - STREAM over a name registered only as a static table → error,
  *    like the reference's "not a stream".
  *  - no STREAM keyword but the name is stream-only → error pointing at
  *    the keyword (the reference serves history instead; we have no
  *    history store, so we fail loudly rather than silently change
  *    semantics).
  *
  * Monotonic-aggregation validation is left to Spark's own
  * UnsupportedOperationChecker, which raises at `writeStream.start()`
  * for a non-windowed, non-watermarked streaming aggregate — same
  * contract, enforced at the same point in the lifecycle (plan time,
  * before any data moves).
  */
object StreamSql {

  /** name → streaming DataFrame (the `StreamableTable.stream()` side);
    * static tables live in Spark's own temp-view catalog. */
  private val streams = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Register a stream-table (ref: schema/StreamableTable.java). The
    * same name may also carry a static temp view — that pair is the
    * reference's "table that can be queried both ways". */
  def registerStream(name: String, df: DataFrame): Unit = {
    require(df.isStreaming, s"registerStream($name): DataFrame is not streaming")
    streams.put(name.toLowerCase, df)
  }

  def dropStream(name: String): Unit = streams.remove(name.toLowerCase)

  private val streamKw = "(?is)^\\s*SELECT\\s+STREAM\\b".r

  /** Run a query that may carry the STREAM keyword. Returns a streaming
    * DataFrame for STREAM queries, a batch one otherwise. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    graft.GraftSession.install(spark)
    val isStream = streamKw.findFirstIn(text).isDefined
    val referenced = tableIdents(text)
    if (isStream) {
      val known = referenced.filter(streams.containsKey)
      require(known.nonEmpty, {
        val t = referenced.mkString(", ")
        s"SELECT STREAM: none of [$t] is a registered stream (reference: 'not a stream')"
      })
      // expose each stream under its name for this query
      known.foreach(n => streams.get(n).createOrReplaceTempView(n))
      val stripped = streamKw.replaceFirstIn(text, "SELECT ")
      spark.sql(stripped)
    } else {
      referenced.find(n =>
        streams.containsKey(n) && !spark.catalog.tableExists(n)).foreach { n =>
        throw new IllegalArgumentException(
          s"table $n is stream-only; use SELECT STREAM (no history relation is stored)")
      }
      spark.sql(text)
    }
  }

  /** Identifiers following FROM/JOIN at any depth — good enough to
    * resolve which registered streams a query touches (quoted strings
    * are skipped; subqueries recurse naturally since their FROM/JOIN
    * keywords are still present in the text). */
  private def tableIdents(text: String): Seq[String] = {
    val noStrings = text.replaceAll("'[^']*'", "''")
    "(?is)\\b(?:FROM|JOIN)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
      .findAllMatchIn(noStrings).map(_.group(1).toLowerCase).toSeq.distinct
  }
}
