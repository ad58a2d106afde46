package org.apache.spark

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.SparkListenerTaskEnd

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

  def success: TaskEndReason = Success

  /** Blocks until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The reason a speculative or preempted attempt reports — it may have
    * written rows before dying, and its retry reports them again.
    */
  def killed: TaskEndReason = TaskKilled("preempted", Seq.empty, Seq.empty, Seq.empty)
}
