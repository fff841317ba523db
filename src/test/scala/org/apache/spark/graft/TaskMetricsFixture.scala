package org.apache.spark.graft

import org.apache.spark.executor.TaskMetrics

/** Hand-built [[TaskMetrics]] for listener specs. Its constructor and
  * setters are `private[spark]`, hence this package. */
object TaskMetricsFixture {
  def apply(runMs: Long = 0L, cpuNs: Long = 0L, gcMs: Long = 0L,
      inputBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      shuffleReadRecords: Long = 0L, spillBytes: Long = 0L): TaskMetrics = {
    val m = new TaskMetrics
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    m.setJvmGCTime(gcMs)
    m.inputMetrics.setBytesRead(inputBytes)
    m.shuffleWriteMetrics.incBytesWritten(shuffleWriteBytes)
    m.shuffleReadMetrics.setRecordsRead(shuffleReadRecords)
    m.incDiskBytesSpilled(spillBytes)
    m
  }
}
