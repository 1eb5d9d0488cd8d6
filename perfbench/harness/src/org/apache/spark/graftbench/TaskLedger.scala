package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** SparkListener that files every finished task, job and stage under the
  * job group that was set on the driver thread when the job started. The
  * benchmark sets one group per measured operation, so each operation's
  * scheduling (jobs, stages, tasks) and executor work (CPU, shuffle, spill,
  * GC, scan) can be read back by group. Lives in an `org.apache.spark`
  * package only to reach the listener bus's `waitUntilEmpty`.
  */
class TaskLedger extends SparkListener {
  import TaskLedger.Task

  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val stages = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .foreach { g =>
        jobs(g) += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(stages(_) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      tasks += Task(
        g, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  /** Wait for every posted event to reach this listener, then snapshot. */
  def snapshot(sc: SparkContext): (Map[String, Int], Map[String, Int], Seq[Task]) = {
    sc.listenerBus.waitUntilEmpty()
    synchronized((jobs.toMap, stages.toMap, tasks.toSeq))
  }
}

object TaskLedger {
  /** One finished task: times are epoch ms (the scheduler's clock). */
  final case class Task(
      group: String, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      inputBytes: Long, inputRows: Long)
}
