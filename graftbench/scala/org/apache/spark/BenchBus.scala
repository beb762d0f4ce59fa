package org.apache.spark

/** The listener bus delivers events asynchronously; a span boundary must
  * wait until every event of the work it closes has reached the
  * benchmark's listener. `waitUntilEmpty` is package-private, hence this
  * one-line bridge in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
