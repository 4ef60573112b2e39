package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it to
  * read complete listener records at the end of a traced phase. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
