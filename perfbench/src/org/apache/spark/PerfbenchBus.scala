package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains it
  * before reading its counters so that every job of a finished call has
  * been seen. `listenerBus` is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
