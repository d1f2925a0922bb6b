package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: wait until every posted listener event is delivered,
  * so the traced run's job attribution is complete before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
