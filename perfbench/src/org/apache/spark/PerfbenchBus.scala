package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so counter deltas taken at a span's end include its own jobs.
  * The bus is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
