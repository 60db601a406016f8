package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** One benchmark run in one JVM:
  *
  *   run <workload> <inputDir> <outFile> <seconds> <trace 0|1> <cores>
  *       <warmupPasses>
  *
  * or `catalog <outFile>` to write the engine's oracle statements as
  * JSON for run.py, or `selftest` to check the answer
  * checksum's invariants.
  *
  * A run builds the session and the workload's set-up, runs pass 0 cold
  * (the first pass), then the warm-up passes, then whole passes until
  * `seconds` have elapsed (the timed window), then drains background
  * work and checks every answer. It writes raw records only; run.py
  * turns them into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => catalog(out)
    case "selftest" :: Nil => selftest()
    case "run" :: workload :: input :: out :: seconds :: trace :: cores :: warm :: Nil =>
      new Runner(workload, input, new Out(out), seconds.toDouble, trace == "1",
        cores.toInt, warm.toInt).run()
    case _ =>
      System.err.println("usage: run <workload> <inputDir> <outFile> <seconds> <trace> " +
        "<cores> <warmupPasses> | catalog <outFile> | selftest")
      sys.exit(2)
  }

  private def catalog(out: String): Unit = {
    val sqls = graft.SparkEntry.oracleSql
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Out.obj(Seq("oracle_sql" -> sqls, "headline" -> graft.Bench.headline)).getBytes("UTF-8"))
  }

  private def selftest(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graftbench-selftest").toString
    val spark = session(2, dir)
    try {
      def sum(sql: String) = {
        val viaRdd = Checksum.of(Seq("x" -> spark.sql(sql)))("x")
        val viaSink = Checksum.write(spark.sql(sql), "selftest")
        require(viaRdd == viaSink, s"sink and RDD checksums differ: $sql")
        viaRdd
      }
      val base = sum("SELECT * FROM VALUES (1, 'a', 1.5D), (2, NULL, 2.5D), (3, 'c', NULL) AS t(id, s, v)")
      val same = Seq(
        // other row order, partitioning, column order and numeric types
        "SELECT /*+ REPARTITION(3) */ CAST(v AS DECIMAL(10,2)) AS v, s, CAST(id AS BIGINT) AS id " +
          "FROM VALUES (3, 'c', NULL), (2, NULL, 2.5D), (1, 'a', 1.5D) AS t(id, s, v)")
      val different = Seq(
        "SELECT * FROM VALUES (1, 'a', 1.5D), (2, NULL, 2.5D), (3, 'c', 3.5D) AS t(id, s, v)",
        "SELECT * FROM VALUES (1, 'a', 1.5D), (2, NULL, 2.5D), (3, 'c', NULL), (3, 'c', NULL) AS t(id, s, v)",
        "SELECT * FROM VALUES (1, 'a', 1.5D), (2, 'b', 2.5D), (3, 'c', NULL) AS t(id, s, v)")
      same.foreach(q => require(sum(q) == base, s"checksum differs for an equal answer: $q"))
      different.foreach(q => require(sum(q) != base, s"checksum equal for another answer: $q"))
      require(sum("SELECT DATE'2024-01-02' AS d") == sum("SELECT TIMESTAMP'2024-01-02 00:00:00' AS d"),
        "date and midnight timestamp must agree")
      require(sum("SELECT NULL AS a, 'x' AS b") != sum("SELECT 'x' AS a, NULL AS b"),
        "a null must not move between columns unseen")
      println("selftest ok")
    } finally spark.stop()
  }

  def session(cores: Int, input: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$input/spark-local")
      .config("spark.sql.warehouse.dir", s"$input/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final class Runner(workloadName: String, input: String, out: Out, seconds: Double,
    trace: Boolean, cores: Int, warmPasses: Int) {

  private val ops: Seq[Op] = {
    val src = Source.fromFile(s"$input/ops.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(p, k, n, a) = l.split("\t", -1)
      Op(p.toInt, k, n, a)
    }.toVector finally src.close()
  }
  private val passes: Seq[Seq[Op]] = ops.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
  private val workload = Workload(workloadName, input)

  // epoch-ms clock built on nanoTime, so op spans and listener times align
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private var nextId = 0
  // the check key of every answered read
  private val answered = mutable.Set.empty[String]

  def run(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = Main.session(cores, input)
    val probe = if (trace) Some(Probe.install(spark, out)) else None
    workload.setup(spark)
    out.emit("setup", "s" -> (nowMs - jvmStart) / 1000.0)

    val t0 = nowMs
    val c0 = Counters.now()
    passes.head.foreach(runOp(spark, _, "first", probe))
    out.emit("first_pass", ("s" -> (nowMs - t0) / 1000.0) +: Counters.now().minus(c0).fields: _*)

    passes.slice(1, 1 + warmPasses).foreach(_.foreach(runOp(spark, _, "warm", probe)))

    org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    val w0 = nowMs
    val wc0 = Counters.now()
    val pool = passes.drop(1 + warmPasses).iterator
    while (nowMs - w0 < seconds * 1000 && pool.hasNext)
      pool.next().foreach(runOp(spark, _, "timed", probe))
    out.emit("window", Seq("t0" -> w0, "t1" -> nowMs) ++ Counters.now().minus(wc0).fields: _*)
    if (trace) Probe.ruleMetering().foreach { case (rule, (ns, runs, eff)) =>
      out.emit("rule", "rule" -> rule, "ms" -> ns / 1e6, "runs" -> runs, "effective" -> eff)
    }

    out.emit("finish", workload.finish(spark): _*)
    workload.expected(spark, answered.toSet).foreach { case (k, (n, h)) =>
      out.emit("expect", "key" -> k, "n" -> n, "h" -> h)
    }
    out.emit("process", "peak_rss_mb" -> Counters.peakRssMb())
    spark.stop()
    out.close()
  }

  private def runOp(spark: SparkSession, op: Op, phase: String, probe: Option[Probe]): Unit = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, id.toString)
    probe.foreach(_.resetCommand())
    val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val base = Seq("id" -> id, "pass" -> op.pass, "phase" -> phase, "name" -> op.name,
      "arg" -> op.arg, "kind" -> (if (op.isWrite) "write" else if (op.isDrain) "drain" else "read"))
    val t0 = nowMs
    try {
      if (op.isWrite) {
        val fields = workload.write(spark, op)
        val t1 = nowMs
        spans += (("insert", t0, t1))
        out.emit("op", base ++ Seq("t0" -> t0, "t1" -> t1, "ok" -> true) ++ fields: _*)
      } else if (op.isDrain) {
        workload.drain()
        out.emit("op", base ++ Seq("t0" -> t0, "t1" -> nowMs, "ok" -> true): _*)
      } else {
        val extra = workload.readFields(op)
        val df = workload.build(spark, op)
        spans += ((if (workload.viaGraftSql(op)) "graftsql" else "build", t0, nowMs))
        // the build's own planning phases: the tracker keeps each phase's
        // first start and last end, and the write below touches it again
        if (trace) spans ++= Probe.phases("builder.", df.queryExecution.tracker)
        val (n, h) = Checksum.write(df, s"graftbench-$id")
        val t1 = nowMs
        val key = workload.checkKey(op)
        answered += key
        val traced = probe.map { p =>
          traceRead(spark, op, p.awaitCommand(s"graftbench-$id"), spans)
        }.getOrElse(Nil)
        out.emit("op", base ++ Seq("t0" -> t0, "t1" -> t1, "ok" -> true, "key" -> key,
          "n" -> n, "h" -> h) ++ extra ++ traced: _*)
      }
    } catch {
      case e: Throwable =>
        out.emit("op", base ++ Seq("t0" -> t0, "t1" -> nowMs, "ok" -> false,
          "err" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"): _*)
    } finally sc.setLocalProperty(Probe.OpKey, null)
    if (trace) spans.foreach { case (name, a, b) =>
      out.emit("span", "op" -> id, "name" -> name, "t0" -> a, "t1" -> b)
    }
  }

  /** Facts only the traced run gathers for a read, after its timed part:
    * the write command's planning phases, whether its optimized plan
    * reads a tile, and for SQL text the cost of one function-registry
    * install (GraftSql pays one per statement). */
  private def traceRead(spark: SparkSession, op: Op, command: Option[QueryExecution],
      spans: mutable.ArrayBuffer[(String, Double, Double)]): Seq[(String, Any)] = {
    command.foreach(qe => spans ++= Probe.phases("command.", qe.tracker))
    val reg =
      if (workload.viaGraftSql(op)) {
        val r0 = nowMs
        graft.functions.GraftFunctions.registerAll(spark)
        Seq("register_ms" -> (nowMs - r0))
      } else Nil
    ("tile" -> command.exists(qe => readsTile(qe.optimizedPlan))) +: reg
  }

  private def readsTile(plan: LogicalPlan): Boolean =
    plan.collectFirst { case _: InMemoryRelation => () }.isDefined ||
      plan.subqueriesAll.exists(readsTile)
}
