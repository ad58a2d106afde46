package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One finished Spark job as the harness listener saw it: wall interval
  * (epoch ms) plus the sums over the stages and tasks it ran.
  */
final case class JobRecord(
    id: Int,
    startMs: Long,
    endMs: Long,
    stages: Int,
    tasks: Int,
    singleTaskStages: Int,
    executorRunMs: Long,
    executorCpuNs: Long,
    gcMs: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    taskMs: Seq[Long]
)

/** Harness-side SparkListener: attributes stages and tasks to the job that
  * ran them and keeps finished jobs in memory. Attached only for traced
  * sections, so untraced timings never pay for it.
  */
final class EngineListener extends SparkListener {
  private final class StageAcc {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shRead = 0L
    var shWrite = 0L
    var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[Int, StageAcc]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
  private val done = mutable.ArrayBuffer.empty[JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = mutable.ArrayBuffer.empty
    // a shuffle stage listed by a later job was run (or skipped) by the
    // first job that listed it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j => jobStages.get(j).foreach(_ += e.stageInfo.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val stages = jobStages.remove(e.jobId).getOrElse(mutable.ArrayBuffer.empty).toSeq
    val accs = stages.flatMap(stageAcc.remove)
    done += JobRecord(
      e.jobId,
      jobStart.remove(e.jobId).getOrElse(e.time),
      e.time,
      accs.size,
      accs.map(_.tasks).sum,
      accs.count(_.tasks == 1),
      accs.map(_.runMs).sum,
      accs.map(_.cpuNs).sum,
      accs.map(_.gcMs).sum,
      accs.map(_.shRead).sum,
      accs.map(_.shWrite).sum,
      accs.map(_.spill).sum,
      accs.flatMap(_.taskMs)
    )
  }

  /** Jobs finished so far, removing them from the listener. */
  def drain(): Seq[JobRecord] = synchronized {
    val out = done.toSeq
    done.clear()
    out
  }
}

/** One span: a timed call into a layer, recorded from the harness side. */
final case class Span(id: Int, parent: Int, run: String, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest by call order on the one harness
  * thread; they are written out once, when the run ends.
  */
final class Spans(run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 1

  def apply[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, run, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq
}
