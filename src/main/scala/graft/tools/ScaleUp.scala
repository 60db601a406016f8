package graft.tools

import graft.{GraftSession, T}
import org.apache.spark.sql.functions._

/** Dev-only deterministic scale-up of a driver test-data directory, for
  * the larger-SF bench artifact the r15 verdict asked for (sf0.1 is
  * overhead-bound: the 8-core bench beats the 32-core one, so no scale
  * claim is falsifiable at that SF). NOT part of any declared query.
  *
  * Construction (pure function of the source tables — no RNG):
  * K copies of every fact/doc table with all join keys offset by a
  * fixed stride per copy, so intra-copy join structure and value
  * distributions are EXACTLY the source's; `region`/`nation` stay
  * shared dims (their int32 keys are never offset). Document text is
  * caesar-rotated per copy (letter-bijective `translate`), which
  * preserves word lengths, duplicate structure and shingle statistics
  * within a copy while making cross-copy vocabularies disjoint — so
  * near-dup pair counts scale linearly with K instead of quadratically.
  * Output is written splittable (multiple files per table) — the
  * production layout, unlike the single-row-group driver files.
  *
  * Usage: sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"
  */
object ScaleUp {
  private val keyCols = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val stride = 100000000L
    val spark = GraftSession.local("graft-scaleup")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(n: Int): String = {
      val m = n % 26
      lower.drop(m) + lower.take(m) + upper.drop(m) + upper.take(m)
    }

    for (t <- T.tableNames) {
      val base = T(spark, src, t)
      val out =
        if (!keyCols.contains(t)) base
        else (0 until k).map { i =>
          val shifted = keyCols(t).foldLeft(base)((d, c) =>
            d.withColumn(c, col(c) + lit(i * stride)))
          if (t == "documents" && i > 0)
            shifted.withColumn("text",
              translate(col("text"), lower + upper, rot(i)))
          else shifted
        }.reduce(_ unionByName _)
      val srcBytes =
        try java.nio.file.Files.size(java.nio.file.Paths.get(src, s"$t.parquet"))
        catch { case _: Exception => 1L << 20 }
      val files = math.max(1L, srcBytes * k / (8L << 20)).toInt
      out.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst/$t.parquet ($files files)")
    }
    spark.stop()
  }
}
