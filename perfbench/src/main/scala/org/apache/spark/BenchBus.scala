package org.apache.spark

/** The benchmark reads its listener counters only after every event the
  * timed phase posted has been delivered; the drain call is package-private
  * to Spark, so this one-line bridge lives in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
