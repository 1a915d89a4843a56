package org.apache.spark

/** The two scheduler hooks the benchmark needs that Spark keeps private,
  * hence this package.
  */
object PerfbenchBus {

  /** Waits until the listener bus has delivered every posted event, so a
    * listener has seen a job's last task before its metrics are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def executorIds(sc: SparkContext): Seq[String] = sc.getExecutorIds()
}
