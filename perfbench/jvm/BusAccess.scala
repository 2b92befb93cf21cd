package org.apache.spark

/** The listener bus delivers events asynchronously; the traced passes
  * drain it before reading what the listeners recorded. `listenerBus` is
  * `private[spark]`, hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
