package org.apache.spark

/** The one listener-bus call the benchmark needs that Spark keeps
  * package-private: block until every posted event has been delivered,
  * so a traced operation's counters are complete when it is closed.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
