package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a benchmark's listener sees all of a finished call's tasks
  * before the call's engine totals are read. The bus is package-private;
  * this is the only reason the file sits in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
