package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private.
  * The traced run waits on it after every op, so every job, stage, task
  * and query-execution event the op caused has been delivered before
  * the next op starts and counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
