package org.apache.spark

/** Lets the benchmark wait until its listeners have seen every event posted
  * so far (the listener bus is asynchronous and its drain is package-private). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
