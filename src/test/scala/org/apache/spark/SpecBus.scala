package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * a spec's listener has seen every job it started. The bus is
  * package-private to Spark, hence the package. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
