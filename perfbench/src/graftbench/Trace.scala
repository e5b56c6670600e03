package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code around a call into the
  * engine. `layer` names the engine layer the call enters; `op` groups the
  * spans of one workload operation. Times are epoch milliseconds, the clock
  * Spark stamps its job events with, so listener events can be placed in
  * the span that was open when they happened.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
    startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
  def contains(t: Long): Boolean = startMs <= t && t <= endMs
}

/** Records spans in memory when enabled; a disabled tracer only runs the
  * body, so untraced runs pay nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1

  def span[T](name: String, layer: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val p = open.headOption.getOrElse(0)
        open = id :: open
        (id, p)
      }
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        synchronized {
          open = open.filterNot(_ == id)
          done += Span(id, parent, op, name, layer, t0, t1)
        }
      }
    }

  def spans: Seq[Span] = synchronized(done.toList.sortBy(_.id))
}

/** Stage-boundary counters from a benchmark-owned SparkListener plus
  * QueryExecutionListener: job intervals, completed stages with their task
  * times and metrics, and each action's Catalyst phase timings.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  import Counters._

  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  val actions = ArrayBuffer.empty[Action]
  var tasks, tasksFailed = 0L
  var cpuNs, runMs, gcMs, inputBytes, inputRows, outputBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.numTasks = e.stageInfo.numTasks
    s.completed = e.stageInfo.failureReason.isEmpty
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) tasksFailed += 1
    stage(e.stageId).taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead; inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
    }
  }

  private def record(ok: Boolean, qe: QueryExecution): Unit = synchronized {
    actions += Action(ok, qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.durationMs) })
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(ok = true, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(ok = false, qe)

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); actions.clear()
    tasks = 0; tasksFailed = 0; cpuNs = 0; runMs = 0; gcMs = 0; inputBytes = 0
    inputRows = 0; outputBytes = 0; shuffleWrite = 0; shuffleRead = 0
    fetchWaitMs = 0; spillBytes = 0
  }
}

object Counters {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
  final class Stage(val id: Int) {
    var numTasks = 0
    var completed = false
    val taskMs = ArrayBuffer.empty[Long]
  }
  /** One action: its Catalyst phases as name -> (start ms, duration ms). */
  final case class Action(ok: Boolean, phases: Map[String, (Long, Long)])

  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def uninstall(spark: SparkSession, c: Counters): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }

  /** JVM-wide codegen counters: total compile nanoseconds and compiles. */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Folds spans and counters into the per-layer metric table. Events are
  * placed in the innermost span open at their time (jobs by submission,
  * Catalyst phases by start), tasks follow their stage's job.
  */
object LayerReport {
  private def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(_.contains(t)).sortBy(s => (s.startMs, s.id)).lastOption

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var started = false
    clipped.foreach { case (a, b) =>
      if (!started) { curA = a; curB = b; started = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (started) total + (curB - curA) else 0L
  }

  def selfMs(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.layer -> (s.durMs - kids.getOrElse(s.id, Nil).map(_.durMs).sum))
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def metrics(spans: Seq[Span], c: Counters, wallS: Double, cores: Int,
      codegenNs: Long, compiles: Long, whBytes: Long, whFiles: Long): Map[String, Double] = {
    val jobIv = c.jobs.toSeq.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
    val jobSpan = c.jobs.toSeq.map(j => j.id -> innermost(spans, j.startMs)).toMap
    def inLayer(layer: String)(s: Option[Span]) = s.exists(_.layer == layer)

    val ops = spans.filter(_.layer == "op")
    val opMs = ops.map(_.durMs).sum
    val busyOps = ops.map(o => unionMs(jobIv, o.startMs, o.endMs)).sum
    val reg = spans.filter(_.layer == "registry")
    val regMs = reg.map(_.durMs).sum
    val busyReg = reg.map(r => unionMs(jobIv, r.startMs, r.endMs)).sum
    val regJobs = c.jobs.count(j => inLayer("registry")(jobSpan(j.id)))
    val regActions = c.actions.count(a =>
      a.phases.get("planning").orElse(a.phases.get("analysis"))
        .exists(p => inLayer("registry")(innermost(spans, p._1))))
    def layerMs(l: String) = spans.filter(_.layer == l).map(_.durMs).sum.toDouble
    def phase(n: String) = c.actions.map(_.phases.get(n).map(_._2).getOrElse(0L)).sum.toDouble

    val done = c.stages.values.filter(_.completed).toSeq
    val perStage = done.map(_.numTasks.toDouble)
    val skews = done.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max.toDouble / math.max(med, 1.0)
    }
    val self = selfMs(spans)
    val stageCount = done.size
    Map(
      "registry.run_ms" -> regMs.toDouble,
      "registry.driver_ms" -> (regMs - busyReg).toDouble,
      "registry.actions" -> regActions.toDouble,
      "registry.jobs" -> regJobs.toDouble,
      "warehouse.land_ms" -> layerMs("warehouse.land"),
      "warehouse.read_ms" -> layerMs("warehouse.read"),
      "warehouse.bytes_written" -> whBytes.toDouble,
      "warehouse.files" -> whFiles.toDouble,
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "driver.ms" -> (opMs - busyOps).toDouble,
      "driver.share" -> (if (opMs > 0) (opMs - busyOps).toDouble / opMs else 0.0),
      "actions" -> c.actions.size.toDouble,
      "jobs" -> c.jobs.size.toDouble,
      "codegen.compile_ms" -> codegenNs / 1e6,
      "codegen.compiles" -> compiles.toDouble,
      "scan.input_bytes" -> c.inputBytes.toDouble,
      "scan.input_rows" -> c.inputRows.toDouble,
      "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> c.shuffleRead.toDouble,
      "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "spill.bytes" -> c.spillBytes.toDouble,
      "exec.cpu_ms" -> c.cpuNs / 1e6,
      "exec.run_ms" -> c.runMs.toDouble,
      "exec.gc_ms" -> c.gcMs.toDouble,
      "stages" -> stageCount.toDouble,
      "tasks" -> c.tasks.toDouble,
      "tasks.failed" -> c.tasksFailed.toDouble,
      "par.tasks_per_stage_p50" -> (if (perStage.isEmpty) 0.0 else Stats.median(perStage)),
      "par.single_task_stage_share" ->
        (if (stageCount == 0) 0.0 else done.count(_.numTasks == 1).toDouble / stageCount),
      "par.skew" -> (if (skews.isEmpty) 1.0 else {
        val s = skews.sorted; s(math.min(s.size - 1, (0.9 * s.size).toInt)) }),
      "par.core_util" -> c.runMs / (wallS * 1000.0 * cores),
      "self.op_ms" -> self.getOrElse("op", 0L).toDouble,
      "self.build_ms" -> self.getOrElse("build", 0L).toDouble,
      "self.execute_ms" -> self.getOrElse("execute", 0L).toDouble,
      "self.registry_ms" -> self.getOrElse("registry", 0L).toDouble,
      "self.warehouse_ms" ->
        (self.getOrElse("warehouse.land", 0L) + self.getOrElse("warehouse.read", 0L)).toDouble,
      "trace.spans" -> spans.size.toDouble)
  }
}
