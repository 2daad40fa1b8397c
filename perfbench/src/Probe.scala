package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchInternals
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span of the trace: `parent` names the span that caused it. */
final case class Span(id: String, parent: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

/** Counters of one layer over one pass. */
final class Acc {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRows, outBytes, outRows = 0L
  var catalystMs = 0.0
  /** (stage wall ms, task run times) of every stage, for the skew. */
  val stageTasks = mutable.Map.empty[Int, (Long, mutable.ArrayBuffer[Long])]

  /** Slowest ÷ median task of the longest stage (1 when no stage). */
  def maxTaskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_._1)._2.sorted
      if (ts.isEmpty) 1.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
}

/** Listener that attributes every job, stage, task and SQL execution to
  * the benchmark phase that submitted it. The harness tags each call it
  * makes with a job group `pb:<phase>:<span>`: `build` around
  * `SparkEntry.queries(n)(spark, dir)`, `exec` around the sink write,
  * and `stream` for the jobs of registered streaming queries. Jobs
  * without a tag count as `other`.
  *
  * Counters are always kept (they are sums, a few per task); spans for
  * jobs, stages and Catalyst phases are kept only while [[enabled]].
  * [[take]] returns and resets the counters of the finished pass. */
final class Probe extends SparkListener {

  private var accs = mutable.Map.empty[String, Acc]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]
  private val execGroup = mutable.Map.empty[Long, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Span recording (the counters are always kept). */
  @volatile var enabled = false

  private def acc(phase: String): Acc = accs.getOrElseUpdate(phase, new Acc)

  /** Job groups of the running streaming queries (each query tags its
    * jobs with its run id). */
  val streamRuns = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def phaseOf(group: String): String =
    if (group == null) "other"
    else if (group.startsWith("pb:")) group.split(':')(1)
    else if (streamRuns.contains(group)) "stream"
    else "other"

  /** The span a job belongs to: its tagged call, or for a streaming job
    * the micro-batch it ran in. */
  private def parentOf(props: java.util.Properties): String = {
    val group = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val batch = Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    val query = Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    (query, batch) match {
      case (Some(q), Some(b)) => s"mb:$q:$b"
      case _ => Option(group).filter(_.startsWith("pb:"))
        .map(_.split(":", 3)(2)).getOrElse("")
    }
  }

  /** Adds a span recorded by the harness (kept only while tracing). */
  def record(s: Span): Unit = synchronized { if (enabled) spans += s }

  def take(): Map[String, Acc] = synchronized {
    val out = accs.toMap
    accs = mutable.Map.empty
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .orNull
    val phase = phaseOf(group)
    acc(phase).jobs += 1
    e.stageIds.foreach { s => stagePhase(s) = phase; stageJob.getOrElseUpdate(s, e.jobId) }
    if (enabled) jobStart(e.jobId) = (e.time, phase, parentOf(e.properties))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, phase, parent) =>
      spans += Span(s"job:${e.jobId}", parent, "job", t0.toDouble,
        e.time.toDouble, Map("phase" -> phase,
          "ok" -> (e.jobResult == JobSucceeded)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val phase = stagePhase.getOrElse(info.stageId, "other")
      acc(phase).stages += 1
      val t0 = info.submissionTime.getOrElse(0L)
      val t1 = info.completionTime.getOrElse(t0)
      if (enabled) {
        val a = acc(phase)
        val cur = a.stageTasks.getOrElseUpdate(info.stageId,
          (0L, mutable.ArrayBuffer.empty[Long]))
        a.stageTasks(info.stageId) = (t1 - t0, cur._2)
        spans += Span(s"stage:${info.stageId}.${info.attemptNumber()}",
          s"job:${stageJob.getOrElse(info.stageId, -1)}", "stage",
          t0.toDouble, t1.toDouble,
          Map("tasks" -> info.numTasks, "phase" -> phase))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stagePhase.getOrElse(e.stageId, "other"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskCpuNs += m.executorCpuTime
      a.taskRunMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRows += m.outputMetrics.recordsWritten
    }
    if (enabled && e.taskInfo != null)
      a.stageTasks.getOrElseUpdate(e.stageId,
        (0L, mutable.ArrayBuffer.empty[Long]))._2 += e.taskInfo.duration
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execGroup(s.executionId) = s.jobGroupId.orNull
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val group = execGroup.remove(end.executionId).orNull
      val phases = PerfbenchInternals.phases(end)
      acc(phaseOf(group)).catalystMs +=
        phases.map { case (_, t0, t1) => (t1 - t0).toDouble }.sum
      if (enabled && phases.nonEmpty)
        spans += Span(s"plan:${end.executionId}", Option(group)
          .filter(_.startsWith("pb:")).map(_.split(":", 3)(2)).getOrElse(""),
          "catalyst", phases.map(_._2).min.toDouble,
          phases.map(_._3).max.toDouble,
          phases.map { case (n, t0, t1) => s"${n}_ms" -> (t1 - t0) }.toMap)
    }
    case _ =>
  }
}
