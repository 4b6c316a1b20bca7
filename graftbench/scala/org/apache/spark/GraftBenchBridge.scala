package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The benchmark drains the bus at every span boundary so that all
  * events a span's jobs posted are counted before the span closes.
  */
object GraftBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
