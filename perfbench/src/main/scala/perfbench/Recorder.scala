package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd
import org.apache.spark.storage.RDDBlockId

/** Which engine file a job's time belongs to.
  *
  * A job inherits the SQL execution it runs under (the
  * `spark.sql.execution.id` local property, which AQE stage jobs carry
  * too). The execution's call site (`SparkListenerSQLExecutionStart
  * .details`, the long form of the stack that started it) names the file:
  * the first `graft.` frame. A query the engine builds lazily has no such
  * frame, because it only runs in the harness's own action; its jobs go to
  * the file that defines the op, which the harness sets as a local property
  * next to the op tag. An action of the harness with no engine op behind it
  * (the manifest collect after `CurationRun.run`) is `sink`; a job outside
  * any SQL execution (MLlib, a driver thread that did not inherit the
  * property) is `rdd`.
  */
object Attribution {
  val Sink = "sink"
  val Rdd = "rdd"

  private val Frame = """graft\.\S*\((\w+)\.scala:\d+\)""".r

  def firstGraftFile(details: String): Option[String] =
    details.linesIterator.map(_.trim).collectFirst { case Frame(f) => f }

  /** The file that defines an object or a closure: its class's simple name
    * up to the first `$` (`graft.operators.Relational$$$Lambda/0x..` is
    * `Relational`). */
  def fileOf(x: AnyRef): String =
    x.getClass.getName.split('.').last.takeWhile(_ != '$')

  /** Module of an execution from its call site, else its root execution's;
    * None when neither names one. */
  def callSite(details: String, root: => Option[String]): Option[String] =
    firstGraftFile(details).orElse(root)
}

/** Task metrics summed over the tasks of one stage attempt. */
final class TaskAgg {
  var tasks, failed, retries = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadBytes, fetchWaitMs, shuffleWriteBytes = 0L
  var inputRecords, inputBytes, outputRecords, outputBytes = 0L
  var memSpillBytes, diskSpillBytes, peakExecBytes = 0L

  def add(t: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (!t.taskInfo.successful) failed += 1
    if (t.taskInfo.attemptNumber > 0 || t.taskInfo.speculative) retries += 1
    Option(t.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      inputRecords += m.inputMetrics.recordsRead
      inputBytes += m.inputMetrics.bytesRead
      outputRecords += m.outputMetrics.recordsWritten
      outputBytes += m.outputMetrics.bytesWritten
      memSpillBytes += m.memoryBytesSpilled
      diskSpillBytes += m.diskBytesSpilled
      peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    }
  }

  def toMap: Map[String, Any] = Map(
    "tasks" -> tasks, "failed_tasks" -> failed, "retries" -> retries,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "output_records" -> outputRecords, "output_bytes" -> outputBytes,
    "mem_spill_bytes" -> memSpillBytes, "disk_spill_bytes" -> diskSpillBytes,
    "peak_exec_bytes" -> peakExecBytes)
}

final class JobRec(val id: Int, val startMs: Long, val execId: Long,
    val opTag: String) {
  var endMs = -1L
  var succeeded = true
  var module: String = Attribution.Rdd
  var blocks, blockBytes = 0L
}

final class StageRec(val id: Int, val attempt: Int, val jobId: Int) {
  var submitMs, completeMs = -1L
  var failed = false
  val agg = new TaskAgg
}

final class ExecRec(val id: Long, val rootId: Long, val startMs: Long,
    var module: Option[String]) {
  var endMs = -1L
  var analysisMs, optimizationMs, planningMs = 0L
  var aqeUpdates = 0L
}

/** Records the scheduler and SQL events of the traced window: every SQL
  * execution, job, stage attempt (with its tasks' metrics summed) and RDD
  * block written. Events stay in memory; [[toMap]] is read after the
  * listener bus has drained. An execution's planning-phase times come
  * from the QueryExecution its end event carries.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val execs = mutable.LinkedHashMap[Long, ExecRec]()
  private val stageOwner = mutable.HashMap[Int, Int]()
  private var lastJob: Option[JobRec] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = new JobRec(e.jobId, e.time, exec, prop(Recorder.OpTag).orNull)
    j.module = execs.get(exec) match {
      case Some(x) =>
        if (x.module.isEmpty)
          x.module = prop(Recorder.OpModule).orElse(Some(Attribution.Sink))
        x.module.get
      case None => Attribution.Rdd
    }
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageOwner(s) = e.jobId)
    lastJob = Some(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  private def stage(info: StageInfo): StageRec =
    stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
      new StageRec(info.stageId, info.attemptNumber(),
        stageOwner.getOrElse(info.stageId, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = stage(e.stageInfo)
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = stage(e.stageInfo)
      if (s.submitMs < 0) s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      s.failed = e.stageInfo.failureReason.isDefined
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new StageRec(e.stageId, e.stageAttemptId,
        stageOwner.getOrElse(e.stageId, -1))).agg.add(e)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        lastJob.foreach { j =>
          j.blocks += 1
          j.blockBytes += b.memSize + b.diskSize
        }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        val module = Attribution.callSite(s.details,
          if (root == s.executionId) None else execs.get(root).flatMap(_.module))
        execs(s.executionId) = new ExecRec(s.executionId, root, s.time, module)
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach { r =>
          r.endMs = x.time
          ExecutionEnd.queryExecution(x).foreach { qe =>
            val p = qe.tracker.phases
            def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
            r.analysisMs = ms("analysis")
            r.optimizationMs = ms("optimization")
            r.planningMs = ms("planning")
          }
        }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(_.aqeUpdates += 1)
      case _ =>
    }
  }

  def toMap: Map[String, Any] = synchronized {
    Map(
      "execs" -> execs.values.toSeq.map(x => Map(
        "id" -> x.id, "root" -> x.rootId, "start_ms" -> x.startMs,
        "end_ms" -> x.endMs, "module" -> x.module.getOrElse(Attribution.Sink),
        "analysis_ms" -> x.analysisMs, "optimization_ms" -> x.optimizationMs,
        "planning_ms" -> x.planningMs, "aqe_updates" -> x.aqeUpdates)),
      "jobs" -> jobs.values.toSeq.map(j => Map(
        "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "exec" -> j.execId, "op" -> j.opTag, "module" -> j.module,
        "succeeded" -> j.succeeded, "blocks" -> j.blocks,
        "block_bytes" -> j.blockBytes)),
      "stages" -> stages.values.toSeq.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "job" -> s.jobId,
        "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
        "failed" -> s.failed) ++ s.agg.toMap))
  }
}

object Recorder {
  /** Local property the harness sets on its thread before each op, so a
    * job started from that thread names the op it belongs to. */
  val OpTag = "perfbench.op"
  /** Local property naming the file that defines the running op, for
    * executions whose call site has no `graft.` frame. */
  val OpModule = "perfbench.module"
}
