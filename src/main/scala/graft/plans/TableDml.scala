package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TableModify DML surface (ref: rel/core/TableModify.java:1-313 —
  * INSERT/UPDATE/DELETE/MERGE; executed by EnumerableTableModify.java
  * against ModifiableTable): copy-on-write over a parquet table path.
  *
  * Shape: read → transform → write to a shadow directory → atomic-ish
  * directory swap. Each operation is one distributed pass — the
  * transform is a plain Catalyst plan, so UPDATE's SET expressions and
  * MERGE's join run codegen'd and partition-parallel. What this
  * deliberately does NOT provide is transactional concurrency (a table
  * format — Delta/Iceberg — adds the commit protocol; the operator
  * semantics here are the reference's, which is also single-writer).
  * At 100 TB the rewrite cost is bounded by touched data if the table
  * is partitioned and the predicate prunes partitions — Spark only
  * rewrites what the plan reads when `cond` aligns with partition
  * columns (scale note: pair with partitioned layouts).
  */
object TableDml {

  /** INSERT INTO path VALUES rows. MVs over the path fold the appended
    * rows in algebraically and stay live (the append IS
    * refreshIncremental's delta contract) — including JOIN MVs, whose
    * delta is the appended rows joined against the unchanged leaves
    * (MaterializedViews.foldAppendOrInvalidate; inner joins distribute
    * over union).
    * When a fold will run, `rows` is persisted BEFORE the write so the
    * fold aggregates the same snapshot that landed in the files (a
    * non-deterministic source plan would otherwise fold a different
    * delta than it wrote). */
  def insertInto(spark: SparkSession, path: String, rows: DataFrame): Unit = {
    val watched = MaterializedViews.watchesPath(spark, path)
    val r = if (watched) rows.persist() else rows
    try r.write.mode("append").parquet(path)
    catch { case e: Throwable => if (watched) r.unpersist(); throw e }
    // ownership of the persisted delta passes to the barrier: a JOIN
    // tile's fold runs on the maintenance thread and may outlive this
    // call (MaterializedViews.awaitMaintenance for read-your-append)
    MaterializedViews.foldAppendOrInvalidate(spark, path, r,
      releaseRows = watched): Unit
  }

  /** UPDATE path SET assignments WHERE cond; returns updated-row count. */
  def update(spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column]): Long = {
    val cur = spark.read.parquet(path)
    val n = cur.filter(cond).count()
    val updated = cur.select(cur.columns.map { c =>
      set.get(c) match {
        case Some(v) => when(cond, v).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    swapIn(spark, path, updated)
    n
  }

  /** DELETE FROM path WHERE cond; returns deleted-row count. */
  def delete(spark: SparkSession, path: String, cond: Column): Long = {
    val cur = spark.read.parquet(path)
    val n = cur.filter(cond).count()
    swapIn(spark, path, cur.filter(!coalesce(cond, lit(false))))
    n
  }

  /** MERGE INTO path USING source ON key: upsert form — matched target
    * rows are replaced by the source row, unmatched source rows are
    * inserted, untouched target rows kept. Duplicate source keys are a
    * cardinality violation (the reference/SQL-standard MERGE error). */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      key: String): Unit = {
    val dups = source.groupBy(col(key)).count().filter(col("count") > 1).count()
    require(dups == 0, s"MERGE: $dups duplicate source keys (cardinality violation)")
    val t = spark.read.parquet(path)
    require(t.columns.sameElements(source.columns),
      "MERGE upsert form requires identical schemas")
    val s = source.select(source.columns.map(c => col(c).as(s"__s_$c")): _*)
    val joined = t.join(s, t(key) === col(s"__s_$key"), "full")
    val out = joined.select(t.columns.map { c =>
      when(col(s"__s_$key").isNotNull, col(s"__s_$c")).otherwise(t(c)).as(c)
    }: _*)
    swapIn(spark, path, out)
  }

  /** Materialize `next` beside `path`, then swap directories. Before the
    * write returns, every registered MV reading `path` is dropped (ref:
    * materialize/MaterializationService.java keyed-validity model —
    * materializations are never served stale after the backing table
    * changes): a rollup issued after this commit recomputes from the
    * rewritten source instead of a pre-DML cache. */
  private def swapIn(spark: SparkSession, path: String, next: DataFrame): Unit = {
    val tmp = path + ".__dml_tmp"
    next.write.mode("overwrite").parquet(tmp)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // retire the pre-image as a numbered version instead of deleting it:
    // DML history IS the temporal table (rel/core/Snapshot.java reads it).
    // The MV barrier sits in a finally: once the archive rename lands the
    // table has changed, and an abort between the two renames must not
    // leave a stale tile live (dropping on a failed-before-any-change
    // commit merely forces a recompute — conservative, never wrong).
    val v = history(spark, path).size
    try {
      if (!fs.rename(new Path(path), new Path(versionDir(path, v))))
        throw new java.io.IOException(s"DML commit failed: archive v$v")
      appendLog(fs, path, s"$v,${System.currentTimeMillis()}")
      if (!fs.rename(new Path(tmp), new Path(path)))
        throw new java.io.IOException(s"DML commit failed: rename $tmp -> $path")
    } finally barrier(spark, path)
  }

  /** The MV write-barrier, guarded: a barrier failure (e.g. an unpersist
    * hiccup) must never REPLACE the commit exception a surrounding
    * finally is propagating — log it and let the original error win. */
  private def barrier(spark: SparkSession, path: String): Unit =
    try MaterializedViews.invalidatePath(spark, path): Unit
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] MV invalidation barrier failed for $path: ${e.getMessage}")
    }

  // ---- time travel over the DML write history -------------------------
  // (ref: rel/core/Snapshot.java:51-80 FOR SYSTEM_TIME AS OF; the
  // reference validates against TemporalTable — here the temporal store
  // is the retired copy-on-write pre-images. Full-copy versions: a
  // table format does file-level reuse; the OPERATOR semantics are
  // what's provided. vacuum() bounds the storage.)

  private def versionDir(path: String, v: Int) = s"$path.__v$v"
  private def logPath(path: String) = new Path(s"$path.__versions")

  private def appendLog(fs: org.apache.hadoop.fs.FileSystem, path: String,
      line: String): Unit = {
    val existing = readLog(fs, path)
    val out = fs.create(logPath(path), true)
    try out.write(((existing :+ line).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readLog(fs: org.apache.hadoop.fs.FileSystem, path: String): Seq[String] =
    if (!fs.exists(logPath(path))) Nil
    else {
      val in = fs.open(logPath(path))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }

  /** (version, commitTimeMillis) of each retired pre-image, oldest
    * first; the live directory is version history.size. */
  def history(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    readLog(fs, path).map { l =>
      val Array(v, ts) = l.split(","); (v.toInt, ts.toLong)
    }
  }

  /** Read the table as of version `v` (0-based write sequence; the
    * current table is version history.size). */
  def readVersion(spark: SparkSession, path: String, v: Int): DataFrame = {
    val hist = history(spark, path)
    if (v >= hist.size) spark.read.parquet(path)
    else spark.read.parquet(versionDir(path, v))
  }

  /** FOR SYSTEM_TIME AS OF `tsMillis`: the newest version whose commit
    * time is at or before the timestamp (pre-image v was live until
    * its log entry's commit; so the version live AT ts is the first
    * entry committed after ts, else the current table). */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    history(spark, path).find(_._2 > tsMillis) match {
      case Some((v, _)) => readVersion(spark, path, v)
      case None => spark.read.parquet(path)
    }

  /** Partition-scoped UPDATE over a `partCol`-partitioned layout: only
    * partitions containing matching rows are rewritten — the rewrite
    * cost is bounded by touched data, which is the 100 TB contract
    * (SCALE.md "DML"). Untouched partition directories are not read
    * beyond the pruning scan and not written at all. Returns
    * (updatedRows, rewrittenPartitions). No version archive at the
    * partition level (the whole-table ops keep history; here the win
    * IS avoiding whole-table I/O — pair with external backups or a
    * table format for point-in-time on partitioned layouts). */
  def updatePartitioned(spark: SparkSession, path: String, partCol: String,
      cond: Column, set: Map[String, Column]): (Long, Int) = {
    val table = spark.read.parquet(path)
    // partition pruning finds the affected partition values (small set)
    val affected = table.filter(cond).select(col(partCol)).distinct()
      .collect().map(_.get(0))
    var updated = 0L
    // the MV barrier must also cover a MID-LOOP abort: once the first
    // partition commit lands the table has changed, so invalidate in a
    // finally — never leave a stale MV behind a partially applied write
    try affected.foreach { v =>
      val sub = s"$path/$partCol=$v"
      // the partition column is directory-encoded, not in the files:
      // restore it as a literal so `cond` can reference it, and write
      // back only the data columns
      val raw = spark.read.parquet(sub)
      val part = raw.withColumn(partCol, lit(v))
      updated += part.filter(cond).count()
      val next = part.select(raw.columns.map { c =>
        set.get(c) match {
          case Some(e) => when(cond, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
      val tmp = sub + ".__dml_tmp"
      next.write.mode("overwrite").parquet(tmp)
      val fs = new Path(sub).getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new Path(sub), true)
      if (!fs.rename(new Path(tmp), new Path(sub)))
        throw new java.io.IOException(s"partitioned DML commit failed: $sub")
    }
    // the MV barrier fires on the TABLE root: an MV's leaf path is the
    // root of the partitioned layout, and any rewritten partition sits
    // under it (prefix containment in invalidatePath)
    finally if (affected.nonEmpty) barrier(spark, path)
    (updated, affected.length)
  }

  /** Change data feed between two versions: per `key`, rows classified
    * insert / delete / update_pre / update_post — the CDC read side of
    * the versioned table (diff by full outer join on the key; an
    * update is a key present in both with any non-key difference). */
  def changes(spark: SparkSession, path: String, key: String,
      fromV: Int, toV: Int): DataFrame = {
    val a = readVersion(spark, path, fromV)
    val b = readVersion(spark, path, toV)
    val cols = a.columns
    val aa = a.select(cols.map(c => col(c).as(s"__a_$c")): _*)
    val bb = b.select(cols.map(c => col(c).as(s"__b_$c")): _*)
    val j = aa.join(bb, col(s"__a_$key") === col(s"__b_$key"), "full_outer")
    val changed = cols.filter(_ != key)
      .map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val pre = cols.map(c => col(s"__a_$c").as(c))
    val post = cols.map(c => col(s"__b_$c").as(c))
    val ins = j.filter(col(s"__a_$key").isNull)
      .select(post :+ lit("insert").as("change_type"): _*)
    val del = j.filter(col(s"__b_$key").isNull)
      .select(pre :+ lit("delete").as("change_type"): _*)
    val updPre = j.filter(col(s"__a_$key").isNotNull && col(s"__b_$key").isNotNull && changed)
      .select(pre :+ lit("update_pre").as("change_type"): _*)
    val updPost = j.filter(col(s"__a_$key").isNotNull && col(s"__b_$key").isNotNull && changed)
      .select(post :+ lit("update_post").as("change_type"): _*)
    ins.unionByName(del).unionByName(updPre).unionByName(updPost)
  }

  /** Drop all but the newest `keepLast` retired versions. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Unit = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    history(spark, path).dropRight(keepLast).foreach { case (v, _) =>
      fs.delete(new Path(versionDir(path, v)), true)
    }
  }
}
