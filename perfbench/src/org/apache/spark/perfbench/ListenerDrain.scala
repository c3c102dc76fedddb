package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`: the benchmark drains it through this
  * shim before reading listener-accumulated task records, so the last
  * task-end events of a phase are counted. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
