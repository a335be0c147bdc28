package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every event
  * posted so far, so span attribution is complete before it is read. The
  * bus handle is package-private to Spark, hence this package. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
