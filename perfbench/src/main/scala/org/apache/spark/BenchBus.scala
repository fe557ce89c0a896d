package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * that job and task records are complete before they are read. The bus is
  * package-private to Spark, hence the package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
