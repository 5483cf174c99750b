package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * that a trace read right after an action sees all of that action's
  * job, stage and task events. (The bus is `private[spark]`.) */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
