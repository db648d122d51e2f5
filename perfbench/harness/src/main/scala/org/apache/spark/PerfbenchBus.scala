package org.apache.spark

/** Drains Spark's listener bus so that every task and job event of the
  * work done so far has reached the benchmark's listener before its
  * counters are read. `listenerBus` is package-private to Spark, hence
  * this one-line bridge lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
