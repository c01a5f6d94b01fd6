package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private.
  * The benchmark drains it after every op so that all listener events of
  * that op (jobs, SQL executions, Catalyst phases, stream progress) are
  * counted before the next op starts, without sleeping.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
