package org.apache.spark

/** Drains Spark's listener bus, so a test listener has seen every event
  * of the work done so far before the test reads it. `listenerBus` is
  * package-private to Spark, hence this one-line bridge in its package.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
