package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One layer boundary of one query execution, in wall-clock ms. Every span
  * of an execution carries the execution's id; `parent` names the span
  * that caused it ("" for the root). `selfMs` is the duration minus the
  * part of the interval its child spans cover. */
final case class Span(exec: String, id: String, parent: String, name: String,
                      startMs: Double, endMs: Double, selfMs: Double,
                      attrs: ListMap[String, Any] = ListMap.empty) {
  def toJson: String = Json(ListMap("kind" -> "span", "exec" -> exec,
    "id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs, "dur_ms" -> (endMs - startMs), "self_ms" -> selfMs)
    ++ attrs)
}

/** The per-layer record of one traced query execution. `split` divides
  * the execution's wall time between layers so the parts add up to it
  * once: at each instant the innermost open layer gets the time (a
  * running stage, else a job with no stage running, else a Catalyst
  * phase, else driver-local code). */
final case class Layers(query: String, exec: String,
                        metrics: ListMap[String, Double],
                        split: ListMap[String, Double], tables: Seq[String])

/** Listener pair for the traced run. Jobs are tied to a query execution
  * by the local properties the harness sets on the submitting thread;
  * stages and tasks by their job; Catalyst actions and block updates by
  * the execution open at the time, which is exact because the client is
  * closed-loop and the bus is drained before the next execution opens. */
final class Tracer(cores: Int, sfDirName: String)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private var exec: String = _
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val maxTask = mutable.HashMap[(Int, Int), Long]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val actions = mutable.ArrayBuffer[Action]()
  private val task = mutable.LinkedHashMap[String, Double]()
  private val blockBytes = mutable.HashMap[BlockId, Long]()
  private var cached = 0L
  private var cachedPeak = 0L

  /** Opens a query execution; events before the next `begin` belong to it. */
  def begin(execId: String): Unit = synchronized {
    exec = execId
    jobs.clear(); stageJob.clear(); maxTask.clear(); stages.clear()
    actions.clear(); task.clear()
    cachedPeak = cached
  }

  private def add(k: String, v: Double): Unit =
    task(k) = task.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    if (exec != null && p != null && p.getProperty(ExecProp) == exec) {
      jobs += Job(e.jobId, p.getProperty(PhaseProp), e.time, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      stages += Stage(si.stageId, j, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), si.numTasks,
        maxTask.getOrElse((si.stageId, si.attemptNumber()), 0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (stageJob.contains(e.stageId) && m != null) {
      add("tasks", 1)
      add("run", m.executorRunTime.toDouble)
      add("cpu", m.executorCpuTime / 1e6)
      add("gc", m.jvmGCTime.toDouble)
      add("in", m.inputMetrics.bytesRead.toDouble)
      add("shr", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shw", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill", m.diskBytesSpilled.toDouble)
      val k = (e.stageId, e.stageAttemptId)
      maxTask(k) = math.max(maxTask.getOrElse(k, 0L), e.taskInfo.duration)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val b = i.memSize + i.diskSize
      cached += b - blockBytes.getOrElse(i.blockId, 0L)
      if (b == 0) blockBytes.remove(i.blockId) else blockBytes(i.blockId) = b
      if (exec != null) cachedPeak = math.max(cachedPeak, cached)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq
      .map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }.sortBy(_._2)
    val tables = qe.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths }.flatten
      .filter(p => p.getParent != null && p.getParent.getName == sfDirName)
      .map(_.getName.stripSuffix(".parquet"))
      .filter(graft.Tables.names.contains).toSet
    synchronized { if (exec != null) actions += Action(funcName, phases, tables) }
  }

  /** Closes the open execution (call after draining the bus) and returns
    * its layer record and spans. Times are wall-clock ms: `startMs` at the
    * registry call, `dfMs` when it returned the DataFrame, `endMs` when
    * the result was checked. */
  def finish(query: String, startMs: Double, dfMs: Double,
             endMs: Double): (Layers, Seq[Span]) = synchronized {
    val id = exec
    exec = null
    def clip(a: Double, b: Double) = (math.max(a, startMs), math.min(b, endMs))
    val jobIv = jobs.map(j =>
      clip(j.start.toDouble, if (j.end < 0) endMs else j.end.toDouble))
    val phaseIv = actions.flatMap(_.phases.map(p => clip(p._2.toDouble, p._3.toDouble)))
    val stageIv = stages.map(s => clip(s.submit.toDouble, s.complete.toDouble))
    val wall = endMs - startMs

    // Innermost-layer attribution of the wall time (see Layers.split).
    val layered = Seq("stage" -> stageIv, "job" -> jobIv, "catalyst" -> phaseIv)
    val cuts = (Seq(startMs, endMs) ++ layered.flatMap(_._2.flatMap(i => Seq(i._1, i._2))))
      .filter(t => t >= startMs && t <= endMs).distinct.sorted
    val split = mutable.LinkedHashMap("stage" -> 0.0, "job" -> 0.0,
      "catalyst" -> 0.0, "driver" -> 0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val layer = layered.collectFirst {
        case (n, iv) if iv.exists(i => i._1 <= mid && mid < i._2) => n
      }.getOrElse("driver")
      split(layer) += b - a
    }

    val jobWall = unionLength(jobIv)
    val phaseSum = (n: String) => actions.flatMap(_.phases)
      .collect { case (`n`, s, e) => (e - s).toDouble }.sum
    val delay = stages.map(s => math.max(0L, s.complete - s.submit - s.maxTaskMs)).sum
    val run = task.getOrElse("run", 0.0)
    val metrics = ListMap(
      "query.wall_ms" -> wall,
      "construct.ms" -> (dfMs - startMs),
      "construct.jobs" -> jobs.count(_.phase == "construct").toDouble,
      "driver.local_ms" -> (wall - unionLength(jobIv ++ phaseIv)),
      "catalyst.analysis_ms" -> phaseSum("analysis"),
      "catalyst.optimization_ms" -> phaseSum("optimization"),
      "catalyst.planning_ms" -> phaseSum("planning"),
      "catalyst.actions" -> actions.size.toDouble,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> task.getOrElse("tasks", 0.0),
      "sched.job_wall_ms" -> jobWall,
      "sched.delay_ms" -> delay.toDouble,
      "exec.task_run_ms" -> run,
      "exec.task_cpu_ms" -> task.getOrElse("cpu", 0.0),
      "exec.gc_ms" -> task.getOrElse("gc", 0.0),
      "exec.slot_util" -> (if (jobWall > 0) run / (jobWall * cores) else 0.0),
      "exec.input_bytes" -> task.getOrElse("in", 0.0),
      "exec.shuffle_read_bytes" -> task.getOrElse("shr", 0.0),
      "exec.shuffle_write_bytes" -> task.getOrElse("shw", 0.0),
      "exec.spill_bytes" -> task.getOrElse("spill", 0.0),
      "storage.cached_bytes_peak" -> cachedPeak.toDouble)

    // Span tree: query -> construct | action -> Catalyst phase | job -> stage.
    val root = Span(id, s"$id/query", "", "query", startMs, endMs, 0.0,
      ListMap("query" -> query))
    val kids = Seq(
      Span(id, s"$id/construct", root.id, "construct", startMs, dfMs, 0.0),
      Span(id, s"$id/action", root.id, "action", dfMs, endMs, 0.0))
    def phaseParent(t: Double) = if (t < dfMs) kids(0).id else kids(1).id
    val phaseSpans = actions.zipWithIndex.flatMap { case (a, i) =>
      a.phases.map { case (n, s, e) =>
        Span(id, s"$id/catalyst.$n.$i", phaseParent(s.toDouble), s"catalyst.$n",
          s.toDouble, e.toDouble, 0.0, ListMap("action" -> a.name))
      }
    }
    val jobSpans = jobs.map { j =>
      Span(id, s"$id/job.${j.id}", s"$id/${j.phase}", "job", j.start.toDouble,
        if (j.end < 0) endMs else j.end.toDouble, 0.0,
        ListMap("job_id" -> j.id, "stages" -> j.stages.size))
    }
    val stageSpans = stages.map { s =>
      Span(id, s"$id/stage.${s.id}", s"$id/job.${s.job}", "stage",
        s.submit.toDouble, s.complete.toDouble, 0.0,
        ListMap("stage_id" -> s.id, "tasks" -> s.tasks, "max_task_ms" -> s.maxTaskMs))
    }
    val all = Seq(root) ++ kids ++ phaseSpans ++ jobSpans ++ stageSpans
    val byParent = all.groupBy(_.parent)
    val spans = all.map { s =>
      val covered = unionLength(byParent.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      s.copy(selfMs = (s.endMs - s.startMs) - covered)
    }
    (Layers(query, id, metrics, ListMap.from(split),
      actions.flatMap(_.tables).distinct.sorted.toSeq), spans)
  }
}

object Tracer {
  /** Local properties the harness sets on the submitting thread. */
  val ExecProp = "perfbench.exec"
  val PhaseProp = "perfbench.phase"

  private final case class Job(id: Int, phase: String, start: Long,
                               stages: Seq[Int], var end: Long = -1L)
  private final case class Stage(id: Int, job: Int, submit: Long,
                                 complete: Long, tasks: Int, maxTaskMs: Long)
  private final case class Action(name: String,
                                  phases: Seq[(String, Long, Long)],
                                  tables: Set[String])

  /** Total length covered by a set of intervals, overlaps counted once. */
  def unionLength(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
