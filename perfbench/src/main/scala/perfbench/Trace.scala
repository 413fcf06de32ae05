package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Job, stage and task records taken from Spark's listener bus.
  *
  * Every callback runs on the bus's single dispatch thread, so the
  * maps need no locking; the driver thread reads them only after
  * `SparkSession.stop()` has drained the bus. Jobs carry the op id and
  * op part ("construct" / "action") the harness set as local
  * properties before calling into graft, so each job lands under the
  * op that caused it.
  */
final class JobTracer extends SparkListener {
  final class Job(val id: Int, val start: Long, val op: String, val part: String,
                  val execution: String) {
    var end: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int, val job: Int) {
    var submit: Long = -1L
    var complete: Long = -1L
    var tasks = 0
    var failedTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spillDisk = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  // accumulator ids of "number of written files", and the files each
  // SQL execution's write command reported against them
  private val fileAccums = mutable.HashSet.empty[Long]
  var filesWritten: List[(Long, Long)] = Nil // (execution id, files)

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      new Stage(id, attempt, stageToJob.getOrElse(id, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    e.stageInfos.foreach(s => stageToJob.getOrElseUpdate(s.stageId, e.jobId))
    jobs(e.jobId) = new Job(e.jobId, e.time, prop(Main.OpProp), prop(Main.PartProp),
      prop("spark.sql.execution.id"))
  }

  @volatile var barrierSeen = false

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.op == JobTracer.Barrier) barrierSeen = true
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submit < 0) s.submit = e.stageInfo.submissionTime.getOrElse(s.complete)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spillDisk += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  private def collectFileAccums(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files")
      .foreach(m => fileAccums += m.accumulatorId)
    p.children.foreach(collectFileAccums)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => collectFileAccums(s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate => collectFileAccums(s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates =>
      val n = u.accumUpdates.collect { case (id, v) if fileAccums(id) => v }.sum
      if (n > 0) filesWritten = (u.executionId, n) :: filesWritten
    case _ =>
  }
}

object JobTracer {
  val Barrier = "barrier"

  /** Wait until `t` has seen every event posted before this call: the
    * bus has no public flush, but it delivers events in order, so once
    * a marker job's end reaches `t`, everything earlier has too. */
  def drain(spark: org.apache.spark.sql.SparkSession, t: JobTracer): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Main.OpProp, Barrier)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Main.OpProp, null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!t.barrierSeen && System.nanoTime() < deadline) Thread.sleep(5)
    if (!t.barrierSeen) throw new IllegalStateException("listener bus did not drain in 10 s")
  }
}

/** Catalyst phase intervals (analysis, optimization, planning) of every
  * query execution, read from `qe.tracker` when the execution ends. */
final class PhaseTracer extends QueryExecutionListener {
  // (phase, start ms, end ms)
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.endTimeMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
