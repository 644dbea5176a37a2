package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-pass counters are complete before they are read.
  * `listenerBus` is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
