package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** The two `private[spark]` internals the benchmark reads, for measurement
  * only: waiting until every listener event of a finished job has been
  * delivered, and telling a `localCheckpoint` block set apart from a plain
  * `persist`. */
object PerfbenchHooks {
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  def isLocalCheckpoint(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
