package org.apache.spark

/** The listener bus is private to Spark; the benchmark's counters are
  * read only after it has delivered every event posted so far.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
