package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv, Success}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** The few `private[spark]` hooks the benchmark's tracer needs. They
  * live in an `org.apache.spark` package so the library itself never
  * depends on them. */
object SparkInternals {

  /** Block until every listener event posted so far has been delivered.
    * A finished action has already posted all of its job, stage and task
    * events, so after this call the tracer's counts for that action are
    * final. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes (memory + disk) of RDD blocks currently registered with the
    * block manager master, by RDD id: cached tables and local-checkpoint
    * blocks. The master is updated synchronously when a block is stored
    * or removed, so this reflects the state right after an action. */
  def rddBlockBytes(): Map[Int, Long] = {
    val statuses = SparkEnv.get.blockManager.master.getStorageStatus
    statuses.toSeq.flatMap(_.rddBlocks.toSeq).collect {
      case (RDDBlockId(rddId, _), st) => rddId -> (st.memSize + st.diskSize)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  // ---- synthetic listener events, for the tracer's self-test ----

  def stageInfo(stageId: Int, numTasks: Int, submitMs: Option[Long],
      completeMs: Option[Long]): StageInfo = {
    val si = new StageInfo(stageId, 0, s"stage $stageId", numTasks, Seq.empty,
      Seq.empty, "", TaskMetrics.empty, Seq.empty, None, 0, false, 0)
    si.submissionTime = submitMs
    si.completionTime = completeMs
    si
  }

  private def taskInfo(taskId: Long): TaskInfo =
    new TaskInfo(taskId, 0, 0, 0L, "driver", "localhost", TaskLocality.PROCESS_LOCAL, false)

  def taskStart(stageId: Int, taskId: Long): SparkListenerTaskStart =
    SparkListenerTaskStart(stageId, 0, taskInfo(taskId))

  def taskEnd(stageId: Int, taskId: Long, runMs: Long, cpuNs: Long,
      shuffleWriteBytes: Long, spillBytes: Long): SparkListenerTaskEnd = {
    val tm = TaskMetrics.empty
    tm.setExecutorRunTime(runMs)
    tm.setExecutorCpuTime(cpuNs)
    tm.shuffleWriteMetrics.incBytesWritten(shuffleWriteBytes)
    tm.incDiskBytesSpilled(spillBytes)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, taskInfo(taskId), null, tm)
  }
}
