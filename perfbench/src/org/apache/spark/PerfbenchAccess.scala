package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The Spark-internal calls the benchmark needs. Listener events are
  * delivered asynchronously, so a traced pass waits for the bus to drain
  * before it reads its counters; a stage that writes a shuffle is one
  * exchange run.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def writesShuffle(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
