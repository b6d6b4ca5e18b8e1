package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event before
  * it attributes jobs (the bus is private to Spark's package). */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
