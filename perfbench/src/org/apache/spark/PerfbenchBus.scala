package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action would miss its last task-end events. `waitUntilEmpty`
  * is `private[spark]`, hence this one-method bridge in Spark's namespace.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
