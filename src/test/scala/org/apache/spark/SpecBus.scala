package org.apache.spark

/** Specs that count jobs with a listener need every posted event
  * delivered before they read the count; Spark keeps that wait
  * package-private. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
