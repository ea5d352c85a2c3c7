package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`: the traced driver drains
  * it at layer boundaries so listener counters are complete before they are
  * read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
