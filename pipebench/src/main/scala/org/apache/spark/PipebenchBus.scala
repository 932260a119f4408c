package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so counters are complete before it reads them.
  */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
