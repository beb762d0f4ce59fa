package org.apache.spark

/** The listener bus delivers events asynchronously; a [[graft.Metrics]]
  * window must wait until every event of the work it closes has arrived.
  * `waitUntilEmpty` is package-private, hence this bridge in Spark's package.
  */
object MetricsBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
