package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused this one (-1 for a query's root span); spans
  * of one query execution share `query`. */
final case class Span(id: Int, name: String, layer: String,
    start: Double, end: Double, parent: Int, query: String)

/** Closed interval arithmetic for self-time accounting. */
object Intervals {
  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1)
      .foldLeft(List.empty[Iv]) {
        case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  def length(ivs: Seq[Iv]): Double = union(ivs).map(iv => iv._2 - iv._1).sum

  def clip(ivs: Seq[Iv], w: Iv): Seq[Iv] =
    ivs.map(iv => (math.max(iv._1, w._1), math.min(iv._2, w._2)))
      .filter(iv => iv._2 > iv._1)
}

/** Listener-side records of one query execution. */
final class JobRec(val id: Int, val start: Double, val stageIds: Seq[Int],
    val name: String, val inSqlExecution: Boolean) {
  var end: Double = start
}

final class StageRec(val id: Int, val name: String) {
  var start = 0.0
  var end = 0.0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
}

final class QeRec(val funcName: String, val phases: Map[String, (Double, Double)],
    val graftRuleNs: Long, val writeBytes: Long, val isFileWrite: Boolean,
    val execStart: Double, val execEnd: Double)

/** A SparkListener plus a QueryExecutionListener, attached only for the
  * traced passes. Records land in memory; the runner drains the listener
  * bus after each query and takes them with [[take]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    val inSql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    jobs += new JobRec(e.jobId, e.time.toDouble, e.stageIds, name, inSql)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId,
      new StageRec(e.stageInfo.stageId, e.stageInfo.name))
    s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, ""))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val graftNs = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs
    }.sum
    // file sinks: a DataWritingCommandExec (v1 file write) or WriteFilesExec
    val plan = qe.executedPlan
    val writes = plan.collect {
      case w: DataWritingCommandExec => w.metrics
      case w: WriteFilesExec => w.metrics
    }
    val bytes = writes.flatMap(_.get("numOutputBytes")).map(_.value).sum
    val execStart = phases.get("planning").map(_._2)
      .getOrElse(phases.values.map(_._2).maxOption.getOrElse(0.0))
    val rec = new QeRec(funcName, phases, graftNs, bytes, writes.nonEmpty,
      execStart, execStart + durationNs / 1e6)
    synchronized { qes += rec }
  }

  /** Remove and return everything recorded since the last call. */
  def take(): (Seq[JobRec], Seq[StageRec], Seq[QeRec]) = synchronized {
    val r = (jobs.toList, stages.values.toList, qes.toList)
    jobs.clear(); stages.clear(); qes.clear()
    r
  }
}

/** Per-query layer accounting over the recorder's records. */
object Layers {
  /** Jobs that `spark.read.parquet` starts to infer a schema: called from
    * a `parquet` method, outside any SQL execution (a parquet write runs
    * inside one). */
  def isSchemaRead(j: JobRec): Boolean = j.name.startsWith("parquet at ") && !j.inSqlExecution

  /** Builds the spans of one query execution and its layer metrics.
    * `query`, `build` and `action` are (start, end) in epoch ms; `gcMs` is
    * the JVM's collection time during the query (in local mode one JVM runs
    * all of Spark). */
  def account(qid: String, query: (Double, Double), build: (Double, Double),
      action: (Double, Double), jobs: Seq[JobRec], stages: Seq[StageRec],
      qes: Seq[QeRec], persists: Int, cachedBytes: Long, gcMs: Long,
      nextId: () => Int): (Seq[Span], Map[String, Double]) = {
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(name: String, layer: String, s: Double, e: Double, parent: Int): Int = {
      val id = nextId()
      spans += Span(id, name, layer, s, math.max(s, e), parent, qid)
      id
    }
    val qSpan = span("query", "query", query._1, query._2, -1)
    val bSpan = span("build", "queries", build._1, build._2, qSpan)
    val aSpan = span("action", "action", action._1, action._2, qSpan)
    def parentOf(t: Double): Int = if (t < build._2) bSpan else aSpan

    val phaseIvs = mutable.ArrayBuffer.empty[(String, (Double, Double))]
    qes.foreach { q =>
      Seq("analysis", "optimization", "planning").foreach { ph =>
        q.phases.get(ph).foreach { iv =>
          phaseIvs += ph -> iv
          span(s"plans.$ph", "plans", iv._1, iv._2, parentOf(iv._1))
        }
      }
    }
    val writes = qes.filter(_.isFileWrite).map { q =>
      val id = span(s"sources.write(${q.funcName})", "sources", q.execStart, q.execEnd,
        parentOf(q.execStart))
      (id, (q.execStart, q.execEnd))
    }
    val writeIvs = writes.map(_._2)
    val stageById = stages.map(s => s.id -> s).toMap
    jobs.foreach { j =>
      // a job inside a sink write was caused by it
      val parent = writes.find { case (_, (s, e)) => j.start >= s && j.start <= e }
        .map(_._1).getOrElse(parentOf(j.start))
      val jid = span(s"job ${j.id}: ${j.name}", "exec", j.start, j.end, parent)
      j.stageIds.flatMap(stageById.get).filter(_.end > 0).foreach { s =>
        span(s"stage ${s.id}: ${s.name}", "exec", s.start, s.end, jid)
      }
    }

    val jobIvs = jobs.map(j => (j.start, j.end))
    val planIvs = phaseIvs.map(_._2).toSeq
    val buildJobs = jobs.filter(_.start < build._2)
    val submitted = stages.filter(_.end > 0).map(_.id).toSet
    val allStageIds = jobs.flatMap(_.stageIds).distinct
    val execMs = Intervals.length(jobIvs)
    val taskMs = stages.map(_.taskMs).sum.toDouble
    val mb = 1024.0 * 1024.0
    def phaseMs(ph: String) = Intervals.length(phaseIvs.filter(_._1 == ph).map(_._2).toSeq)
    def selfMs(w: (Double, Double), children: Seq[Intervals.Iv]) =
      (w._2 - w._1) - Intervals.length(Intervals.clip(children, w))
    val under = jobIvs ++ planIvs ++ writeIvs
    val metrics = Map(
      "queries.build_ms" -> (build._2 - build._1),
      "queries.build_jobs" -> buildJobs.size.toDouble,
      "queries.build_schema_jobs" -> buildJobs.count(isSchemaRead).toDouble,
      "queries.self_ms" -> selfMs(build, under),
      "action.self_ms" -> selfMs(action, under),
      "plans.analysis_ms" -> phaseMs("analysis"),
      "plans.optimization_ms" -> phaseMs("optimization"),
      "plans.planning_ms" -> phaseMs("planning"),
      "plans.graft_rules_ms" -> qes.map(_.graftRuleNs).sum / 1e6,
      "exec.job_ms" -> execMs,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> submitted.size.toDouble,
      "exec.stages_skipped" -> allStageIds.count(id => !submitted(id)).toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.task_ms" -> taskMs,
      "exec.failed_tasks" -> stages.map(_.failedTasks).sum.toDouble,
      "exec.input_rows" -> stages.map(_.inputRows).sum.toDouble,
      "shuffle.write_mb" -> stages.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> stages.map(_.shuffleRead).sum / mb,
      "shuffle.spill_mb" -> stages.map(_.spill).sum / mb,
      "shuffle.gc_ms" -> gcMs.toDouble,
      "stagecache.persists" -> persists.toDouble,
      "stagecache.cached_mb" -> cachedBytes / mb,
      "sources.writes" -> writeIvs.size.toDouble,
      "sources.output_mb" -> qes.map(_.writeBytes).sum / mb,
      "sources.write_ms" -> Intervals.length(writeIvs),
      "sources.self_ms" -> (Intervals.length(writeIvs) -
        Intervals.length(writeIvs.flatMap(w => Intervals.clip(jobIvs, w)))),
    )
    (spans.toSeq, metrics)
  }
}
