package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process counters read around a measured window. All of them are cheap
  * MXBean or static-registry reads, so the untraced run takes them too. */
final case class Counters(cpuMs: Double, gcMs: Double, jitMs: Double,
    classes: Long, compiles: Long, compileMeanMs: Double) {

  /** The change since `start`; the compile-time mean stays the latest. */
  def minus(start: Counters): Counters = Counters(cpuMs - start.cpuMs, gcMs - start.gcMs,
    jitMs - start.jitMs, classes - start.classes, compiles - start.compiles, compileMeanMs)

  def fields: Seq[(String, Any)] = Seq("cpu_ms" -> cpuMs, "gc_ms" -> gcMs, "jit_ms" -> jitMs,
    "classes" -> classes, "compiles" -> compiles, "compile_mean_ms" -> compileMeanMs)
}

object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): Counters = {
    val hist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Counters(
      cpuMs = os.getProcessCpuTime / 1e6,
      gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble,
      jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      compiles = hist.getCount,
      compileMeanMs = hist.getSnapshot.getMean)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Tracing, installed only by the traced run: a SparkListener that ties
  * jobs to ops through the `graftbench.op` local property and records
  * per-stage task metrics, plus a QueryExecutionListener that hands the
  * op loop the write command's QueryExecution (its planning phases and
  * optimized plan). */
final class Probe(out: Out) extends SparkListener with QueryExecutionListener {
  private final class JobRec(val op: String, val t0: Long, val stages: Set[Int])
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageRecs = mutable.Map.empty[Int, mutable.ArrayBuffer[Map[String, Any]]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.OpKey))).getOrElse("")
    jobs(e.jobId) = new JobRec(op, e.time, e.stageIds.toSet)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val rec: Map[String, Any] =
      if (m == null) Map("id" -> si.stageId, "tasks" -> si.numTasks)
      else Map(
        "id" -> si.stageId, "tasks" -> si.numTasks,
        "cpu_ms" -> m.executorCpuTime / 1e6, "run_ms" -> m.executorRunTime.toDouble,
        "sw_kb" -> m.shuffleWriteMetrics.bytesWritten / 1024.0,
        "sr_kb" -> m.shuffleReadMetrics.totalBytesRead / 1024.0,
        "spill_kb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1024.0,
        "task_ms" -> taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Nil))
    stageJob.get(si.stageId).foreach(j =>
      stageRecs.getOrElseUpdate(j, mutable.ArrayBuffer.empty) += rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      j.stages.foreach(stageJob.remove)
      out.emit("job", "op" -> j.op, "job" -> e.jobId,
        "t0" -> j.t0.toDouble, "t1" -> e.time.toDouble,
        "stages" -> stageRecs.remove(e.jobId).map(_.toSeq).getOrElse(Nil))
    }
  }

  // finished queries since the op began, including other threads' (a
  // tile fold on the maintenance thread) and late ones of earlier ops
  private val commands = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    commands.add(qe): Unit
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    commands.add(qe): Unit

  /** Forget earlier commands before an op starts. */
  def resetCommand(): Unit = commands.clear()

  /** The checksum write of `key`, once the listener bus has delivered
    * it. */
  def awaitCommand(key: String, timeoutMs: Long = 2000): Option[QueryExecution] = {
    val table = ChecksumSink.tableName(key)
    def mine(qe: QueryExecution) = qe.logical match {
      case w: V2WriteCommand => w.table.name == table
      case _ => false
    }
    val deadline = System.currentTimeMillis + timeoutMs
    var found: Option[QueryExecution] = None
    while (found.isEmpty && System.currentTimeMillis < deadline) {
      found = commands.asScala.find(mine)
      if (found.isEmpty) Thread.sleep(1)
    }
    found
  }
}

object Probe {
  val OpKey = "graftbench.op"

  def install(spark: SparkSession, out: Out): Probe = {
    val p = new Probe(out)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Tracker phases as (prefix + phase, startMs, endMs) spans. */
  def phases(prefix: String, t: QueryPlanningTracker): Seq[(String, Double, Double)] =
    t.phases.toSeq.map { case (k, v) => (prefix + k, v.startTimeMs.toDouble, v.endTimeMs.toDouble) }

  private val RuleLine = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  /** Catalyst's process-wide rule metering since the last reset:
    * rule -> (total ns, runs, effective runs). */
  def ruleMetering(): Map[String, (Long, Long, Long)] =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .split("\n").toSeq.collect {
        case RuleLine(rule, _, total, eff, runs) =>
          rule -> (total.toLong, runs.toLong, eff.toLong)
      }.toMap
}
