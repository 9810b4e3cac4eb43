package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains it
  * before reading its listeners' counters. `listenerBus` is package-private
  * to Spark, hence this accessor. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
