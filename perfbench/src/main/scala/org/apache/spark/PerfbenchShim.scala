package org.apache.spark

/** Access to the one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every queued listener event (task ends,
  * job ends) has been delivered, so counts read afterwards are complete.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
