package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.T
import graft.plans.{MaterializedViews, TableDml}

/** One line of the generated op list: `pass kind name arg`. Kinds:
  * `q` a SparkEntry query builder, `r` an append_rollup read, `w` an
  * append_rollup insert of the batch file `arg`, and `d` a drain of the
  * tile maintenance thread. */
final case class Op(pass: Int, kind: String, name: String, arg: String) {
  def isWrite: Boolean = kind == "w"
  def isDrain: Boolean = kind == "d"
}

/** What a workload adds to a bare session, and how it runs its ops. */
trait Workload {
  /** Views, table copies and tiles. */
  def setup(spark: SparkSession): Unit
  def build(spark: SparkSession, op: Op): DataFrame
  /** Does `build` send SQL text through GraftSql.sql? */
  def viaGraftSql(op: Op): Boolean
  /** Runs a write op; returns fields for its record. */
  def write(spark: SparkSession, op: Op): Seq[(String, Any)] = Nil
  /** Waits for background tile maintenance. */
  def drain(): Unit = ()
  /** The key a read's answer is checked under. */
  def checkKey(op: Op): String = op.name
  /** Fields recorded with a read (before it runs). */
  def readFields(op: Op): Seq[(String, Any)] = Nil
  /** Ends background work after the timed window; returns its fields. */
  def finish(spark: SparkSession): Seq[(String, Any)] = Nil
  /** Reference checksums for the given check keys. */
  def expected(spark: SparkSession, keys: Set[String]): Map[String, (Long, Long)]
}

object Workload {
  def apply(name: String, input: String): Workload = name match {
    case "olap_mix" => new OlapMix(input)
    case "append_rollup" => new AppendRollup(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** olap_mix: SparkEntry query builders over the generated tables,
  * checked against the DuckDB results run.py wrote to expected/. */
final class OlapMix(input: String) extends Workload {
  private val data = s"$input/data"
  private lazy val queries = graft.SparkEntry.queries

  def setup(spark: SparkSession): Unit = T.registerViews(spark, data)

  def build(spark: SparkSession, op: Op): DataFrame = queries(op.name)(spark, data)

  def viaGraftSql(op: Op): Boolean = false

  def expected(spark: SparkSession, keys: Set[String]): Map[String, (Long, Long)] =
    Checksum.of(keys.toSeq.sorted.map(k =>
      k -> T.normalizeTimestamps(spark.read.parquet(s"$input/expected/$k.parquet"))))
}

/** append_rollup: inserts into a run-private copy of `orders` beside
  * rollups answered from two tiles (a single-leaf tile folded in the
  * insert, a join tile folded on the maintenance thread) and a SQL read,
  * sent through GraftSql, that must scan the fact table. A drain op
  * waits for the join tile's folds, so the join rollup after it must be
  * answered by the folded tile. */
final class AppendRollup(input: String) extends Workload {
  import AppendRollup._

  private val dir = s"$input/tables"
  private def ordersPath = s"$dir/orders.parquet"
  // files of the orders copy after each completed insert (index = version)
  private val versions = mutable.ArrayBuffer.empty[Seq[String]]

  def setup(spark: SparkSession): Unit = {
    for (t <- Seq("orders", "customer"))
      T(spark, s"$input/data", t).write.parquet(s"$dir/$t.parquet")
    versions += parquetFiles(ordersPath)
    // a SQL view is re-resolved on every use, so it lists the appended files
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $LiveView AS SELECT * FROM parquet.`$ordersPath`")
    MaterializedViews.register(spark, LeafTile, orders(spark),
      keys = Seq("o_orderstatus", "o_orderpriority"), sums = Seq("o_totalprice"),
      maxs = Seq("o_orderkey"))
    MaterializedViews.register(spark, JoinTile, star(spark, orders(spark)),
      keys = Seq("o_orderstatus", "c_nationkey"), sums = Seq("o_totalprice"))
  }

  private def orders(spark: SparkSession): DataFrame =
    T(spark, dir, "orders").withColumn("o_totalprice", T.dec2(col("o_totalprice")))

  private def star(spark: SparkSession, o: DataFrame): DataFrame =
    o.join(T(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))

  private def read(spark: SparkSession, name: String, o: DataFrame): DataFrame = name match {
    // answered by the single-leaf tile (a coarser grouping of its keys)
    case "leaf_rollup" =>
      o.groupBy("o_orderstatus").agg(sum("o_totalprice").cast("double").as("rev"),
        count(lit(1)).as("n"), max("o_orderkey").as("last_key"))
    // answered by the join tile once it has folded the last insert
    case "join_rollup" | "folded_join_rollup" =>
      star(spark, o).groupBy("c_nationkey").agg(
        sum("o_totalprice").cast("double").as("rev"), count(lit(1)).as("n"))
    // a predicate on a measure column: no tile can answer it (the timed
    // op sends FactScanSql through GraftSql; this is its reference form)
    case "fact_scan" =>
      o.filter(col("o_totalprice") > 250000).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), max("o_orderdate").as("latest"))
  }

  def build(spark: SparkSession, op: Op): DataFrame =
    if (op.name == "fact_scan") graft.sql.GraftSql.sql(spark, FactScanSql)
    else read(spark, op.name, orders(spark))

  def viaGraftSql(op: Op): Boolean = op.name == "fact_scan"

  override def checkKey(op: Op): String = s"${op.name}@${versions.size - 1}"
  override def readFields(op: Op): Seq[(String, Any)] =
    Seq("ver" -> (versions.size - 1), "mv_eligible" -> MvEligible(op.name))

  override def write(spark: SparkSession, op: Op): Seq[(String, Any)] = {
    val batch = T(spark, s"$input/batches", op.arg)
    TableDml.insertInto(spark, ordersPath, batch)
    val pending = MaterializedViews.pendingMaintenance(JoinTile)
    val before = versions.last.toSet
    val now = parquetFiles(ordersPath)
    versions += now
    val added = now.filterNot(before)
    Seq("pending" -> pending, "files_added" -> added.size,
      "bytes_added" -> added.map(f => new File(f).length).sum)
  }

  override def drain(): Unit = MaterializedViews.awaitMaintenance()

  override def finish(spark: SparkSession): Seq[(String, Any)] = {
    drain()
    Seq("final_rows" -> spark.read.parquet(ordersPath).count())
  }

  /** Each read recomputed over the files of the version it saw, with the
    * tile rewrite excluded. */
  def expected(spark: SparkSession, keys: Set[String]): Map[String, (Long, Long)] = {
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, (prior.toSeq :+ MaterializedViews.MvRewrite.ruleName).mkString(","))
    try {
      val schema = spark.read.parquet(ordersPath).schema
      def at(v: Int): DataFrame = T.normalizeTimestamps(
        spark.read.schema(schema).parquet(versions(v): _*))
        .withColumn("o_totalprice", T.dec2(col("o_totalprice")))
      val frames = keys.toSeq.sorted.map { k =>
        val Array(name, v) = k.split("@")
        k -> read(spark, name, at(v.toInt))
      }
      Checksum.of(frames)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object AppendRollup {
  val LeafTile = "graftbench_leaf"
  val JoinTile = "graftbench_join"
  val LiveView = "graftbench_orders"
  val FactScanSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n, MAX(o_orderdate) AS latest
       |FROM $LiveView WHERE o_totalprice > 250000 GROUP BY o_orderpriority""".stripMargin
  val MvEligible: Map[String, Boolean] =
    Map("leaf_rollup" -> true, "join_rollup" -> true, "folded_join_rollup" -> true,
      "fact_scan" -> false)

  def parquetFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
}
