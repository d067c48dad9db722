package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** The benchmark's own view of the Spark scheduler and executors (the
  * `engine` layer). Jobs are attributed to the benchmark op that submitted
  * them through the `graftbench.op` local property, which threads spawned
  * by an op inherit. Readers call [[org.apache.spark.BenchBus.drain]] first,
  * so no event still queued on the bus is missed. */
final class EngineListener extends SparkListener {
  final class OpStats {
    var jobs, stages, tasks, singleTaskStages, failedTasks = 0L
    var busyMs, gcMs = 0.0
    var shuffleWrite, shuffleRead, spill, bytesWritten = 0L
    /** max task ÷ median task over the op's stages with ≥ 2 tasks. */
    var maxOverMedian = 0.0
    val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  }

  val byOp: mutable.Map[Long, OpStats] = mutable.Map.empty
  private val jobOp = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Bytes written by every task of the run, attributed or not. */
  var bytesWritten = 0L

  private def stats(op: Long) = byOp.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.OpKey)))
      .flatMap(_.toLongOption).foreach { op =>
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time
        stats(op).jobs += 1
        e.stageIds.foreach(stageOp(_) = op)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach(op =>
      stats(op).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) bytesWritten += m.outputMetrics.bytesWritten
    stageOp.get(e.stageId).foreach { op =>
      val s = stats(op)
      if (e.reason != Success) s.failedTasks += 1
      if (m != null) {
        s.busyMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOp.get(id).foreach { op =>
      val s = stats(op)
      s.stages += 1
      s.tasks += e.stageInfo.numTasks
      if (e.stageInfo.numTasks == 1) s.singleTaskStages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        s.maxOverMedian = math.max(s.maxOverMedian, sorted.last.toDouble / med)
      }
    }
  }

  /** Wall milliseconds of [w0, w1] covered by at least one of the op's jobs. */
  def jobCoverMs(op: Long, w0: Long, w1: Long): Long = synchronized {
    val iv = byOp.get(op).map(_.jobSpans.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }
}

object EngineListener {
  val OpKey = "graftbench.op"
}
