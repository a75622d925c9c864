package org.apache.spark

/** The listener bus drain is package-private to Spark; the tracer needs
  * it so that every event of a traced operation has been delivered
  * before the operation's spans are closed off. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
