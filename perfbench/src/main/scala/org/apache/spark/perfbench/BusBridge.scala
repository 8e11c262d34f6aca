package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the traced run waits for
  * it to drain after each op so every job of the op is attributed to it.
  * `waitUntilEmpty` is Spark-private, hence this bridge package.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
