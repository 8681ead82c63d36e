package org.apache.spark

/** The one package-private hook the benchmark needs: drain the listener
  * bus so every span of a measured region has been delivered before the
  * traced run rolls the spans up.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
