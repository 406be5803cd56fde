package org.apache.spark

/** The listener bus drain is package-private in Spark; the benchmark needs
 *  it so that a span's task totals are read only after every task event
 *  posted before the span closed has reached its listener. */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
