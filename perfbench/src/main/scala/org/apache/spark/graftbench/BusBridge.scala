package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain barrier, which Spark keeps
  * package-private: a traced run reads its span counters only after every
  * job and task event of the measured window has been delivered. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
