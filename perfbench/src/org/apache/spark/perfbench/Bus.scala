package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; reading the trace
  * before it drains would miss the last jobs' stages. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge in its package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
