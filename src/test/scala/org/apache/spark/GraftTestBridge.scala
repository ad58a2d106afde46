package org.apache.spark

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerTaskEnd, StageInfo}

/** Test-only shim inside `org.apache.spark` (the GraftBridge pattern):
  * builds the `private[spark]`-guarded listener events a retry/
  * speculation scenario delivers, so DumpSpec can pin that
  * [[graft.sources.DumpProgress]] counts ONLY successful attempts
  * (ADVICE r15) without needing to force a real task failure.
  */
object GraftTestBridge {

  def taskEnd(
      reason: TaskEndReason,
      recordsWritten: Long,
      index: Int = 0,
      attemptNumber: Int = 0,
      speculative: Boolean = false
  ): SparkListenerTaskEnd = {
    val tm = TaskMetrics.empty
    tm.outputMetrics.setRecordsWritten(recordsWritten)
    val info = new org.apache.spark.scheduler.TaskInfo(
      index.toLong * 10 + attemptNumber, index, attemptNumber, index, 0L,
      "exec-1", "host-1", org.apache.spark.scheduler.TaskLocality.ANY, speculative)
    SparkListenerTaskEnd(0, 0, "ResultTask", reason, info, null, tm)
  }

  /** The start of a job tagged `tag` whose one stage is stage 0, the
    * stage every [[taskEnd]] event belongs to.
    */
  def jobStart(tag: String): SparkListenerJobStart = {
    val props = new java.util.Properties()
    props.setProperty(SparkContext.SPARK_JOB_TAGS, tag)
    val stage = new StageInfo(0, 0, "write", 2, Seq.empty, Seq.empty, "", TaskMetrics.empty, Seq.empty, None, 0, false, 0)
    SparkListenerJobStart(0, 0L, Seq(stage), props)
  }

  def success: TaskEndReason = Success

  /** Blocks until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The reason a speculative or preempted attempt reports — it may have
    * written rows before dying, and its retry reports them again.
    */
  def killed: TaskEndReason = TaskKilled("preempted", Seq.empty, Seq.empty, Seq.empty)
}
