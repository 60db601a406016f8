package graft

import graft.plans.MaterializedViews
import org.apache.spark.sql.functions._

/** Durable tiles (ref: materialize/MaterializationService.java +
  * MaterializationActor.java — materializations survive the connection
  * and are re-resolved by key): partials persist under a lattice
  * directory, a NEW SparkSession re-adopts them with zero fact scans,
  * DML invalidation deletes the durable home, and a fingerprint
  * mismatch (the table changed while no session watched) discards the
  * tile at adopt time instead of serving it stale. */
class MaterializedViewDurableSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeFact(dir: String): Unit = {
    import spark.implicits._
    Seq((1L, "a", "LO", 10.0), (2L, "b", "HI", 20.0), (3L, "a", "HI", 30.0),
      (4L, "c", "LO", 40.0), (5L, "b", "LO", 50.0))
      .toDF("id", "tag", "pri", "amt").write.mode("overwrite").parquet(dir)
  }

  private def noFactScan(q: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = q.queryExecution.optimizedPlan
    plan.toString.contains("InMemoryRelation") &&
      plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }.isEmpty
  }

  test("a NEW SparkSession adopts the persisted tile and answers with zero fact scans") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_t1", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.persistTile(spark, "dur_t1", lat)
      val expected = spark.read.parquet(fact).groupBy("tag")
        .agg(sum("amt").as("t"), count(lit(1)).as("n"))
        .orderBy("tag").collect().toSeq

      // restart analog: in-session registration and caches released,
      // then a genuinely NEW session (fresh state, no optimizer rules)
      MaterializedViews.release(spark, "dur_t1")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_t1"))

      val q = s2.read.parquet(fact).groupBy("tag")
        .agg(sum("amt").as("t"), count(lit(1)).as("n")).orderBy("tag")
      assert(noFactScan(q),
        s"adopted tile must answer with zero fact scans:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().toSeq == expected)
    } finally MaterializedViews.clear()
  }

  test("filtered tile round-trips its defining conjuncts: compensation works post-adopt") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_filt",
        spark.read.parquet(fact).filter(col("amt") >= 20.0),
        keys = Seq("tag", "amt"), sums = Nil)
      MaterializedViews.persistTile(spark, "dur_filt", lat)
      MaterializedViews.release(spark, "dur_filt")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_filt"))

      // a NARROWER query implies the reloaded defining filter and
      // re-applies the residual on the tile (key-only compensation)
      val q = s2.read.parquet(fact).filter(col("amt") >= 30.0)
        .groupBy("tag").agg(count(lit(1)).as("n")).orderBy("tag")
      assert(noFactScan(q),
        s"compensated rollup must ride the adopted tile:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 1L), ("b", 1L), ("c", 1L)))

      // a WIDER query must NOT be answered from the filtered tile alone
      val w = s2.read.parquet(fact).groupBy("tag").agg(count(lit(1)).as("n"))
      assert(w.collect().map(_.getLong(1)).sum == 5L)
    } finally MaterializedViews.clear()
  }

  test("star-join tile rebuilds its source recipe and rewrites post-adopt") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/f"
    val dim = tmp("mvdur") + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0), (3L, 10, 9.0))
      .toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val lat = tmp("mvdur_lat")
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "dur_star", star,
        keys = Seq("name"), sums = Seq("v"))
      MaterializedViews.persistTile(spark, "dur_star", lat)
      MaterializedViews.release(spark, "dur_star")

      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_star"))
      val q = s2.read.parquet(fact)
        .join(s2.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      assert(noFactScan(q),
        s"star rollup must ride the adopted tile:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 14.0), ("y", 7.0)))
    } finally MaterializedViews.clear()
  }

  test("DML invalidation deletes the durable home: the reload never resurrects a stale tile") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_dml", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_dml", lat)
      // destructive write → registry drop AND durable home deletion
      graft.plans.TableDml.update(spark, fact, col("id") === 1L,
        Map("amt" -> lit(999.0)))
      assert(!MaterializedViews.isRegistered("dur_dml"))
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tileDir)),
        "durable home must be deleted by the DML barrier")
      // a new session finds nothing to adopt and recomputes fresh values
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat).isEmpty)
      val a = s2.read.parquet(fact).filter(col("id") === 1L)
        .select("amt").collect()(0).getDouble(0)
      assert(a == 999.0)
    } finally MaterializedViews.clear()
  }

  test("append fold re-persists the durable partials; the reload sees the appended rows") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_app", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.persistTile(spark, "dur_app", lat)
      // append folds algebraically AND refreshes the durable copy +
      // fingerprint (compactInto write-through)
      graft.plans.TableDml.insertInto(spark, fact,
        Seq((6L, "a", "HI", 60.0)).toDF("id", "tag", "pri", "amt"))
      assert(MaterializedViews.isRegistered("dur_app"), "append must fold, not drop")

      MaterializedViews.release(spark, "dur_app")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_app"))
      val q = s2.read.parquet(fact).groupBy("tag")
        .agg(sum("amt").as("t")).orderBy("tag")
      assert(noFactScan(q))
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("a", 100.0), ("b", 70.0), ("c", 40.0)))
    } finally MaterializedViews.clear()
  }

  test("HLL sketch and derived-measure partials survive the durable round trip") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"
    Seq((1L, "a", 10.0, 2.0), (2L, "a", 20.0, 3.0), (3L, "b", 30.0, 4.0),
      (4L, "a", 10.0, 5.0))
      .toDF("id", "tag", "amt", "w").write.parquet(fact)
    val lat = tmp("mvdur_lat")
    try {
      def src = spark.read.parquet(fact)
      MaterializedViews.register(spark, "dur_rich", src,
        keys = Seq("tag"), sums = Seq("amt"),
        approxDistincts = Seq("id"),
        sumExprs = Seq("wamt" -> (col("amt") * col("w"))))
      MaterializedViews.persistTile(spark, "dur_rich", lat)
      MaterializedViews.release(spark, "dur_rich")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_rich"))

      // derived measure: SUM(amt*w) from the reloaded expression partial
      val q = s2.read.parquet(fact).groupBy("tag")
        .agg(sum(col("amt") * col("w")).as("s"),
          count(col("amt") * col("w")).as("c"))
        .orderBy("tag")
      assert(noFactScan(q),
        s"derived measure must ride the reloaded tile:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ==
        Seq(("a", 130.0, 3L), ("b", 120.0, 1L)))

      // HLL partial: approx_count_distinct rolls up from the reloaded sketch
      val a = s2.read.parquet(fact)
        .agg(approx_count_distinct(col("id")).as("d"))
      assert(noFactScan(a),
        s"approx distinct must ride the reloaded sketch:\n${a.queryExecution.optimizedPlan}")
      assert(a.collect()(0).getLong(0) == 4L)
    } finally MaterializedViews.clear()
  }

  test("conf-driven lattice home: DDL tiles persist durably and auto-adopt via the SQL front door") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      // session 1: CREATE MATERIALIZED VIEW with the lattice conf set —
      // the rollup tile persists under the configured dir with NO
      // explicit persistTile call
      val s1 = spark.newSession()
      s1.conf.set(MaterializedViews.LatticeDirConf, lat)
      s1.read.parquet(fact).createOrReplaceTempView("tdur")
      graft.sql.GraftSql.sql(s1,
        "CREATE MATERIALIZED VIEW dur_ddl AS SELECT tag, SUM(amt) AS s FROM tdur GROUP BY tag")
      val fs = new org.apache.hadoop.fs.Path(lat)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(lat)).nonEmpty,
        "DDL tile must persist under the configured lattice dir")

      // restart analog, then session 2 with the same conf: the FIRST
      // SQL statement auto-adopts and is answered from the tile
      MaterializedViews.release(s1, "ddl:dur_ddl")
      graft.sql.MaterializedViewSql.clearRegistry()
      val s2 = spark.newSession()
      s2.conf.set(MaterializedViews.LatticeDirConf, lat)
      s2.read.parquet(fact).createOrReplaceTempView("tdur2")
      val q = graft.sql.GraftSql.sql(s2,
        "SELECT tag, SUM(amt) AS s FROM tdur2 GROUP BY tag ORDER BY tag")
      assert(noFactScan(q),
        s"auto-adopted tile must answer the rollup:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("a", 40.0), ("b", 70.0), ("c", 40.0)))
    } finally {
      MaterializedViews.clear()
      graft.sql.MaterializedViewSql.clearRegistry()
    }
  }

  test("sanitized tile names get a hash suffix: ddl:x and ddl_x never share a durable home") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "ddl:x", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.register(spark, "ddl_x", spark.read.parquet(fact),
        keys = Seq("tag", "pri"), sums = Seq("amt"))
      val d1 = MaterializedViews.persistTile(spark, "ddl:x", lat)
      val d2 = MaterializedViews.persistTile(spark, "ddl_x", lat)
      assert(d1 != d2, s"slug collision: $d1 == $d2")
      MaterializedViews.release(spark, "ddl:x")
      MaterializedViews.release(spark, "ddl_x")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat).toSet == Set("ddl:x", "ddl_x"))
    } finally MaterializedViews.clear()
  }

  test("declared constraints persist with the tile: a restarted driver regains FK subsumption") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/f"
    val dim = tmp("mvdur") + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0), (3L, 10, 9.0))
      .toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val lat = tmp("mvdur_lat")
    try {
      graft.catalog.Constraints.declareForeignKey(spark, fact, "k", dim, "dk")
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "dur_fk", star,
        keys = Seq("id", "name"), sums = Seq("v"))
      MaterializedViews.persistTile(spark, "dur_fk", lat)

      // restart analog: registration, caches AND the in-memory constraint
      // registry are gone — the FK must come back from the tile metadata
      MaterializedViews.release(spark, "dur_fk")
      graft.catalog.Constraints.clear()
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_fk"))

      // fact-only rollup: only the re-declared FK proves the tile's
      // extra join lossless
      val q = s2.read.parquet(fact).groupBy("id").agg(sum("v").as("t")).orderBy("id")
      assert(noFactScan(q),
        s"re-declared FK must admit the fact-only rollup:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Seq((1L, 5.0), (2L, 7.0), (3L, 9.0)))
    } finally { MaterializedViews.clear(); graft.catalog.Constraints.clear() }
  }

  test("a tile persisted WITHOUT a declared FK never admits a fact-only rollup post-adopt") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/f"
    val dim = tmp("mvdur") + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0)).toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val lat = tmp("mvdur_lat")
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "dur_nofk", star,
        keys = Seq("id", "name"), sums = Seq("v"))
      MaterializedViews.persistTile(spark, "dur_nofk", lat)
      MaterializedViews.release(spark, "dur_nofk")
      graft.catalog.Constraints.clear()
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_nofk"))
      val q = s2.read.parquet(fact).groupBy("id").agg(sum("v").as("t"))
      assert(!noFactScan(q),
        "no persisted constraint: the star tile must not answer a fact-only query")
    } finally { MaterializedViews.clear(); graft.catalog.Constraints.clear() }
  }

  test("a cast-projected source survives adoption: folds and union compensation stay typed") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      // the registered source normalizes amt to DECIMAL(12,2) under the
      // rollup (the q157/MvConstraintSpec shape) and carries a range
      // filter, so both post-adopt maintenance paths exercise the
      // recorded schema: the partial layout is decimal, not double
      def src = spark.read.parquet(fact)
        .withColumn("amt", col("amt").cast("decimal(12,2)"))
      MaterializedViews.register(spark, "dur_cast",
        src.filter(col("id") <= 4L), keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_cast", lat)
      val before = spark.read.parquet(s"$tileDir/data").schema("__mv_sum_amt").dataType
      assert(before == org.apache.spark.sql.types.DecimalType(22, 2),
        s"registered partial layout must be decimal, got $before")
      MaterializedViews.release(spark, "dur_cast")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_cast"))

      // union compensation post-adopt: a strictly wider range splices a
      // positional Union of the cached decimal partials with a residual
      // slice — only sound if the rebuilt base re-applied the cast
      val w = s2.read.parquet(fact)
        .withColumn("amt", col("amt").cast("decimal(12,2)"))
        .filter(col("id") <= 5L)
        .groupBy("tag").agg(sum("amt").as("t")).orderBy("tag")
      assert(w.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
        s"wider range must union-compensate on the adopted tile:\n${w.queryExecution.optimizedPlan}")
      assert(w.collect().map(r => (r.getString(0), r.getDecimal(1).doubleValue)).toSeq ==
        Seq(("a", 40.0), ("b", 70.0), ("c", 40.0)))

      // append fold post-adopt: the delta partial-aggregates at the
      // RECORDED decimal type — the durable layout must not widen
      graft.plans.TableDml.insertInto(s2, fact,
        Seq((4L, "c", "LO", 2.5)).toDF("id", "tag", "pri", "amt"))
      assert(MaterializedViews.isRegistered("dur_cast"), "append must fold, not drop")
      val after = s2.read.parquet(s"$tileDir/data").schema("__mv_sum_amt").dataType
      assert(after == org.apache.spark.sql.types.DecimalType(22, 2),
        s"fold must preserve the durable partial layout, got $after")
      val q = s2.read.parquet(fact)
        .withColumn("amt", col("amt").cast("decimal(12,2)"))
        .filter(col("id") <= 4L)
        .groupBy("tag").agg(sum("amt").as("t")).orderBy("tag")
      assert(noFactScan(q))
      assert(q.collect().map(r => (r.getString(0), r.getDecimal(1).doubleValue)).toSeq ==
        Seq(("a", 40.0), ("b", 20.0), ("c", 42.5)))
    } finally MaterializedViews.clear()
  }

  test("stream generations write through: an uncompacted tile adopts fresh to the last batch") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_gen", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_gen", lat)
      // three micro-batches, NO compaction (compactEvery=8): each lands
      // as a durable gen-N increment beside the base partials
      (1 to 3).foreach { i =>
        MaterializedViews.appendIncremental(spark, "dur_gen",
          Seq((10L + i, "g", i * 1.0)).toDF("id", "tag", "amt"))
      }
      assert(MaterializedViews.generations("dur_gen") == 4)
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      (0 to 2).foreach(i => assert(
        fs.exists(new org.apache.hadoop.fs.Path(s"$tileDir/gen-$i")),
        s"gen-$i must be durable before any compaction"))

      // crash analog: cached generations gone, only the durable home left
      MaterializedViews.release(spark, "dur_gen")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_gen"))
      val q = s2.read.parquet(fact).groupBy("tag")
        .agg(sum("amt").as("t")).orderBy("tag")
      assert(noFactScan(q),
        s"adopted tile must answer with zero fact scans:\n${q.queryExecution.optimizedPlan}")
      // the appended batches are NOT in the files — the tile's answer
      // includes them (as fresh as the last batch), the raw scan's does not
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("a", 40.0), ("b", 70.0), ("c", 40.0), ("g", 6.0)))

      // a compaction in the adopted session collapses the durable gens
      MaterializedViews.refreshIncremental(s2, "dur_gen",
        Seq((20L, "g", 10.0)).toDF("id", "tag", "amt"))
      (0 to 2).foreach(i => assert(
        !fs.exists(new org.apache.hadoop.fs.Path(s"$tileDir/gen-$i")),
        s"compaction's full swap must remove gen-$i"))
      val q2 = s2.read.parquet(fact).groupBy("tag").agg(sum("amt").as("t"))
      assert(q2.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        .apply("g") == 16.0)
    } finally MaterializedViews.clear()
  }

  test("a source write racing the durable commit self-invalidates the tile") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_race", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      // an out-of-band append lands BETWEEN the staged write (fingerprint
      // already computed) and the commit swap — the exact adopt/store
      // race: without the post-swap recheck the tile would claim
      // validity for files it never folded
      MaterializedViews.durableCommitHook = () => {
        MaterializedViews.durableCommitHook = () => ()
        Seq((9L, "z", "LO", 90.0)).toDF("id", "tag", "pri", "amt")
          .write.mode("append").parquet(fact)
      }
      val tileDir = MaterializedViews.persistTile(spark, "dur_race", lat)
      assert(!MaterializedViews.isRegistered("dur_race"),
        "racing source write must self-invalidate the registration")
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tileDir)),
        "racing source write must delete the durable home")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat).isEmpty)
      // queries recompute from the live files, racing row included
      val q = s2.read.parquet(fact).groupBy("tag").agg(sum("amt").as("t"))
      assert(q.collect().map(_.getDouble(1)).sum == 240.0)
    } finally {
      MaterializedViews.durableCommitHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("re-registering a name carries its durable home: the disk never trails the registry") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_rereg", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_rereg", lat)
      // re-register the SAME name with a DIFFERENT definition and no
      // lattice conf: the durable home must follow the new definition
      // (ADVICE r13 — dropping it would strand a stale old-definition
      // tile for a later session to adopt)
      MaterializedViews.register(spark, "dur_rereg", spark.read.parquet(fact),
        keys = Seq("pri"), sums = Seq("amt"))
      MaterializedViews.release(spark, "dur_rereg")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_rereg"))
      val q = s2.read.parquet(fact).groupBy("pri")
        .agg(sum("amt").as("t")).orderBy("pri")
      assert(noFactScan(q),
        s"adopted tile must carry the re-registered definition:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("HI", 50.0), ("LO", 100.0)))
      // and drop() still owns the carried home
      MaterializedViews.drop(s2, "dur_rereg")
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tileDir)))
    } finally MaterializedViews.clear()
  }

  test("advisor suggestions persist durably: a restarted driver adopts the SUGGESTED tile") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      // session 1 with the lattice conf: the closed advisor loop
      // (profile → suggest → materialize under budget) persists every
      // suggested tile with zero orchestration code
      val s1 = spark.newSession()
      s1.conf.set(MaterializedViews.LatticeDirConf, lat)
      val names = graft.catalog.Lattice.materializeSuggestions(s1, "adv",
        s1.read.parquet(fact), dims = Seq("tag", "pri"), sums = Seq("amt"),
        budgetRows = 100L, maxTiles = 1)
      assert(names.size == 1)
      names.foreach(MaterializedViews.release(s1, _))

      // restart analog: a fresh session adopts the suggested tile and
      // the workload rollup rides it
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == names)
      val q = s2.read.parquet(fact).groupBy("tag", "pri")
        .agg(sum("amt").as("t"), count(lit(1)).as("n"))
      assert(noFactScan(q),
        s"workload rollup must hit the adopted suggested tile:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(_.getDouble(2)).sum == 150.0)
    } finally MaterializedViews.clear()
  }

  test("out-of-band APPEND reconciles at adopt: the tile catches the new files up") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_fp", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.persistTile(spark, "dur_fp", lat)
      MaterializedViews.release(spark, "dur_fp")
      // the table gains files while NO session watches it (another
      // driver's append): the recorded entry list is an append-only
      // prefix of the live one, so adoption folds the delta in instead
      // of discarding — fresher than the persisted copy, never stale
      Seq((7L, "z", "LO", 70.0)).toDF("id", "tag", "pri", "amt")
        .write.mode("append").parquet(fact)

      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_fp"),
        "append-only change must catch up, not discard")
      MaterializedViews.awaitMaintenance()
      val q = s2.read.parquet(fact).groupBy("tag").agg(sum("amt").as("t"))
      assert(noFactScan(q),
        s"the caught-up tile must answer with zero fact scans:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(_.getDouble(1)).sum == 220.0,
        "the caught-up tile must include the out-of-band append")
    } finally MaterializedViews.clear()
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t): Unit
      else {
        java.nio.file.Files.createDirectories(t.getParent): Unit
        java.nio.file.Files.copy(p, t): Unit
      }
    }
  }

  test("crash between queued folds recovers: adopt catches the missing fold up from the entry diff") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/f"; val dim = tmp("mvdur") + "/d"
    Seq((1L, "k1", 10.0), (2L, "k2", 20.0), (3L, "k1", 30.0))
      .toDF("id", "k", "amt").write.parquet(fact)
    Seq(("k1", "east"), ("k2", "west")).toDF("dk", "region").write.parquet(dim)
    val lat = tmp("mvdur_lat"); val crashImage = tmp("mvdur_crash")
    val fold2Gate = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "dur_crash", star,
        keys = Seq("region"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_crash", lat)
      // fold 1 runs free; fold 2 blocks — the crash stand-in
      MaterializedViews.foldTaskHook =
        () => if (seen.incrementAndGet() >= 2) fold2Gate.await()
      // two dim appends, each committed to files then barriered: two
      // deferred folds queue, each carrying ITS barrier-time entries
      val d1 = Seq(("k1", "north")).toDF("dk", "region")
      d1.write.mode("append").parquet(dim)
      MaterializedViews.foldAppendOrInvalidate(spark, dim, d1): Unit
      val d2 = Seq(("k2", "south")).toDF("dk", "region")
      d2.write.mode("append").parquet(dim)
      MaterializedViews.foldAppendOrInvalidate(spark, dim, d2): Unit
      val deadline = System.currentTimeMillis + 30000
      while (MaterializedViews.pendingMaintenance("dur_crash") > 1 &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(MaterializedViews.pendingMaintenance("dur_crash") == 1,
        "fold 1 must have landed while fold 2 is blocked")
      // the durable state at the crash point: fold 1's copy, written
      // with fold 1's snapshot entries (a live fingerprint here would
      // have validated partials missing fold 2's delta — the r14 hole)
      copyDir(tileDir, s"$crashImage/dur_crash")
      fold2Gate.countDown()
      MaterializedViews.awaitMaintenance()
      MaterializedViews.clear()

      // restart from the crash image: the recorded entries lack exactly
      // fold 2's appended dim file — adoption folds it in, not discards
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, crashImage) == Seq("dur_crash"),
        "the first fold's copy must adopt and catch up, not discard")
      MaterializedViews.awaitMaintenance()
      def q = s2.read.parquet(fact)
        .join(s2.read.parquet(dim), col("k") === col("dk"))
        .groupBy("region").agg(sum("amt").as("t")).orderBy("region")
      assert(noFactScan(q),
        s"the caught-up tile must answer with zero scans:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("east", 40.0), ("north", 40.0), ("south", 20.0), ("west", 20.0)),
        "the adopted answer must include BOTH folds' deltas")
    } finally {
      fold2Gate.countDown()
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("in-files gen crash before its meta write: the unaccounted gen drops, the delta never double-counts") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat"); val crashImage = tmp("mvdur_crashgen")
    try {
      MaterializedViews.register(spark, "dur_genwin", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_genwin", lat)
      // the delta lands in the source files, then appends incrementally
      // with write-through; the "crash" captures the tile BETWEEN the
      // committed gen-0 and its meta write — old meta (gens=0,
      // pre-append fingerprint) plus a gen already holding the delta
      val delta = Seq((6L, "a", "LO", 7.0)).toDF("id", "tag", "pri", "amt")
      delta.write.mode("append").parquet(fact)
      MaterializedViews.durableGenMetaHook = () => {
        MaterializedViews.durableGenMetaHook = () => ()
        copyDir(tileDir, s"$crashImage/dur_genwin")
      }
      MaterializedViews.appendIncremental(spark, "dur_genwin", delta,
        deltaInFiles = true): Unit
      MaterializedViews.clear()

      // adoption of the crash image must DROP the unaccounted gen and
      // re-derive the delta from the files exactly once — keeping both
      // would serve a=54 instead of 47
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, crashImage) == Seq("dur_genwin"))
      MaterializedViews.awaitMaintenance()
      def q = s2.read.parquet(fact).groupBy("tag")
        .agg(sum("amt").as("t")).orderBy("tag")
      assert(noFactScan(q),
        s"the caught-up tile must answer with zero scans:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("a", 47.0), ("b", 70.0), ("c", 40.0)),
        "the crash-window delta must count exactly once")
    } finally {
      MaterializedViews.durableGenMetaHook = () => ()
      MaterializedViews.clear()
    }
  }

  test("fingerprint mismatch discards the tile: destructive rewrites are never served stale") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_fp2", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_fp2", lat)
      MaterializedViews.release(spark, "dur_fp2")
      // the table is REWRITTEN while no session watches it: recorded
      // entries are gone from the live listing — no sound fold exists,
      // the keyed-validity check must refuse the tile
      Seq((8L, "q", "HI", 80.0)).toDF("id", "tag", "pri", "amt")
        .write.mode("overwrite").parquet(fact)

      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat).isEmpty,
        "a rewritten source must discard the durable tile")
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tileDir)),
        "a discarded tile is deleted, not retried forever")
      // and the query recomputes from the live files
      val q = s2.read.parquet(fact).groupBy("tag").agg(sum("amt").as("t"))
      assert(q.collect().map(_.getDouble(1)).sum == 80.0)
    } finally MaterializedViews.clear()
  }

  test("files of an uncommitted _temporary write are not table data: the tile still adopts") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_tmpw", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.persistTile(spark, "dur_tmpw", lat)
      MaterializedViews.release(spark, "dur_tmpw")
      // a writer's task output before its job commits, staged where
      // Hadoop's output committer puts it; Spark's reader skips it
      val part = new java.io.File(fact).listFiles()
        .find(_.getName.startsWith("part-")).get
      val staged = new java.io.File(fact,
        "_temporary/0/_temporary/attempt_0/" + part.getName)
      assert(staged.getParentFile.mkdirs())
      java.nio.file.Files.copy(part.toPath, staged.toPath)
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_tmpw"),
        "an uncommitted file must not move the tile's fingerprint")
      val q = s2.read.parquet(fact).groupBy("tag").agg(sum("amt").as("t"))
        .orderBy("tag")
      assert(noFactScan(q), s"adopted tile must serve:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("a", 40.0), ("b", 70.0), ("c", 40.0)))
    } finally MaterializedViews.clear()
  }

  test("a tampered gen increment discards the tile at adopt: layouts are verified") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_badgen", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      val tileDir = MaterializedViews.persistTile(spark, "dur_badgen", lat)
      MaterializedViews.appendIncremental(spark, "dur_badgen",
        Seq((11L, "g", 1.0)).toDF("id", "tag", "amt")): Unit
      MaterializedViews.release(spark, "dur_badgen")
      // an out-of-band writer corrupts the increment with a different
      // layout: adoption must refuse the whole tile, never merge junk
      Seq(("oops", 1)).toDF("a", "b")
        .write.mode("overwrite").parquet(s"$tileDir/gen-0")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat).isEmpty,
        "mismatched gen layout must discard the tile")
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tileDir)))
    } finally MaterializedViews.clear()
  }

  test("registerOnce's fast path gives a homeless tile the conf'd lattice home") {
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      // registered with NO lattice conf: the tile has no durable home
      MaterializedViews.register(spark, "dur_fastpath", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      // the same definition re-requested through a CONFIGURED session
      // hits the fast path — which must still persist the tile
      val s1 = spark.newSession()
      s1.conf.set(MaterializedViews.LatticeDirConf, lat)
      MaterializedViews.registerOnce(s1, "dur_fastpath", s1.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt")): Unit
      MaterializedViews.release(s1, "dur_fastpath")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_fastpath"),
        "the fast path must persist a homeless tile under the conf'd home")
      val q = s2.read.parquet(fact).groupBy("tag").agg(sum("amt").as("t"))
      assert(noFactScan(q))
      assert(q.collect().map(_.getDouble(1)).sum == 150.0)
    } finally MaterializedViews.clear()
  }

  test("a deferred join-tile fold writes through to the durable home") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/f"
    val dim = tmp("mvdur") + "/d"
    Seq((1L, 10, 5.0), (2L, 20, 7.0), (3L, 30, 11.0))
      .toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x"), (20, "y")).toDF("dk", "name").write.parquet(dim)
    val lat = tmp("mvdur_lat")
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "dur_defer", star,
        keys = Seq("name"), sums = Seq("v"))
      MaterializedViews.persistTile(spark, "dur_defer", lat)
      // the dim append's fold runs on the maintenance thread; its
      // compaction must still re-persist the durable copy with the
      // post-append fingerprint
      graft.plans.TableDml.insertInto(spark, dim,
        Seq((30, "z")).toDF("dk", "name"))
      MaterializedViews.awaitMaintenance()
      assert(MaterializedViews.isRegistered("dur_defer"))

      MaterializedViews.release(spark, "dur_defer")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_defer"),
        "the deferred fold must leave a valid durable copy behind")
      val q = s2.read.parquet(fact)
        .join(s2.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      assert(noFactScan(q),
        s"adopted tile must answer post-fold:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 5.0), ("y", 7.0), ("z", 11.0)))
    } finally MaterializedViews.clear()
  }

  test("a stream-maintained durable tile adopts fresh to the last micro-batch") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/t"; writeFact(fact)
    val lat = tmp("mvdur_lat")
    try {
      MaterializedViews.register(spark, "dur_stream", spark.read.parquet(fact),
        keys = Seq("tag"), sums = Seq("amt"))
      MaterializedViews.persistTile(spark, "dur_stream", lat)
      // drive the tile from an actual stream: two micro-batches, no
      // compaction (compactEvery=8) — each lands as a durable gen
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, String, Double)]
      val source = mem.toDS().toDF("id", "tag", "amt")
      val query = MaterializedViews.maintainFromStream(spark, "dur_stream", source)
      try {
        mem.addData((11L, "s", 1.0))
        query.processAllAvailable()
        mem.addData((12L, "s", 2.0))
        query.processAllAvailable()
      } finally query.stop()
      assert(MaterializedViews.generations("dur_stream") == 3)

      // crash analog: only the durable home survives; the adopted tile
      // carries both batches (as fresh as the last one)
      MaterializedViews.release(spark, "dur_stream")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_stream"))
      val q = s2.read.parquet(fact).groupBy("tag")
        .agg(sum("amt").as("t")).orderBy("tag")
      assert(noFactScan(q))
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        .apply("s") == 3.0, "both stream batches must survive the restart")
    } finally MaterializedViews.clear()
  }

  test("persistTile while a fold is queued defers the write to the fold") {
    import spark.implicits._
    val fact = tmp("mvdur") + "/f"
    val dim = tmp("mvdur") + "/d"
    Seq((1L, 10, 5.0), (2L, 30, 11.0)).toDF("id", "k", "v").write.parquet(fact)
    Seq((10, "x")).toDF("dk", "name").write.parquet(dim)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val lat = tmp("mvdur_lat")
    try {
      val star = spark.read.parquet(fact)
        .join(spark.read.parquet(dim), col("k") === col("dk"))
      MaterializedViews.register(spark, "dur_pend", star,
        keys = Seq("name"), sums = Seq("v"))
      MaterializedViews.foldTaskHook = () => {
        MaterializedViews.foldTaskHook = () => ()
        gate.await()
      }
      graft.plans.TableDml.insertInto(spark, dim, Seq((30, "z")).toDF("dk", "name"))
      assert(MaterializedViews.pendingMaintenance("dur_pend") == 1)
      // persisting NOW would write pre-append partials under the
      // post-append fingerprint — the write must defer to the fold
      val tileDir = MaterializedViews.persistTile(spark, "dur_pend", lat)
      val fs = new org.apache.hadoop.fs.Path(tileDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(tileDir)),
        "no durable copy may land while the fold is queued")
      gate.countDown()
      MaterializedViews.awaitMaintenance()
      assert(fs.exists(new org.apache.hadoop.fs.Path(tileDir)),
        "the fold's compaction must write the deferred durable copy")
      MaterializedViews.release(spark, "dur_pend")
      val s2 = spark.newSession()
      assert(MaterializedViews.adoptTiles(s2, lat) == Seq("dur_pend"))
      val q = s2.read.parquet(fact)
        .join(s2.read.parquet(dim), col("k") === col("dk"))
        .groupBy("name").agg(sum("v").as("t")).orderBy("name")
      assert(noFactScan(q))
      assert(q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("x", 5.0), ("z", 11.0)))
    } finally {
      gate.countDown()
      MaterializedViews.foldTaskHook = () => ()
      MaterializedViews.clear()
    }
  }
}
