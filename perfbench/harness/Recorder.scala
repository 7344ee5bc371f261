package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task counters of one stage (or of any group of stages). */
final case class TaskSums(
    tasks: Long = 0, failed: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, output: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, failed + o.failed,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill, output + o.output)
}

/** One Spark job as the listener saw it. `phase` is the benchmark's
  * `perfbench.phase` local property at submission; `execId` the root
  * SQL execution the job ran under (-1 for plain RDD jobs). */
final case class JobRec(id: Int, start: Long, end: Long, ok: Boolean,
    phase: String, execId: Long, stages: Seq[Int])

/** One root SQL execution: its call site and, for file writes, the output
  * path named by its physical plan. */
final case class ExecRec(id: Long, start: Long, end: Long, callSite: String,
    writePath: Option[String])

/** Everything recorded between two `take()` calls. */
final case class Events(jobs: Seq[JobRec], stagesRun: Int,
    stageSums: Map[Int, TaskSums], execs: Seq[ExecRec], rddBlockBytes: Long) {
  def taskSums: TaskSums = stageSums.values.foldLeft(TaskSums())(_ + _)

  /** Stage → first job that listed it, so a shared stage counts once. */
  def jobOfStage: Map[Int, Int] = {
    val m = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stages.foreach(s => m.getOrElseUpdate(s, j.id)))
    m.toMap
  }
}

/** SparkListener the benchmark attaches to the session it measures. It only
  * appends to in-memory buffers; the benchmark reads them with `take()`
  * after draining the bus, outside any timed interval. */
final class Recorder extends SparkListener {
  private val started = mutable.Map.empty[Int, (Long, String, Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private var stagesRun = 0
  private val stageSums = mutable.Map.empty[Int, TaskSums]
  private val execStart = mutable.Map.empty[Long, (Long, String, Option[String])]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]
  private var rddBlockBytes = 0L

  // The output path of a file write, in the formatted plan description
  // (`spark.sql.ui.explainMode`'s default) and in the simple one.
  private val WritePath = Seq(
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: ([^,\s]+)""".r,
    """InsertIntoHadoopFsRelationCommand ([^,\s]+),""".r)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(x.getProperty("spark.sql.execution.id"))))
      .map(_.toLong).getOrElse(-1L)
    started(e.jobId) = (e.time, phase, exec, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, phase, exec, stages) =>
      jobs += JobRec(e.jobId, t0, e.time, e.jobResult == JobSucceeded, phase, exec, stages)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stagesRun += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val s = TaskSums(
      tasks = 1,
      failed = if (e.reason == Success) 0 else 1,
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      shuffleRead = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      output = m.map(_.outputMetrics.bytesWritten).getOrElse(0L))
    stageSums(e.stageId) = stageSums.getOrElse(e.stageId, TaskSums()) + s
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) rddBlockBytes += b.memSize + b.diskSize
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      val path = WritePath.iterator.flatMap(_.findFirstMatchIn(s.physicalPlanDescription))
        .map(_.group(1)).nextOption()
      synchronized { execStart(s.executionId) = (s.time, s.description, path) }
    case x: SparkListenerSQLExecutionEnd => synchronized {
        execStart.remove(x.executionId).foreach { case (t0, site, path) =>
          execs += ExecRec(x.executionId, t0, x.time, site, path)
        }
      }
    case _ =>
  }

  /** Returns what was recorded since the last call and starts afresh.
    * Jobs and executions still running stay pending for the next call. */
  def take(): Events = synchronized {
    val out = Events(jobs.toSeq, stagesRun, stageSums.toMap, execs.toSeq, rddBlockBytes)
    jobs.clear(); stagesRun = 0; stageSums.clear(); execs.clear(); rddBlockBytes = 0L
    out
  }
}
