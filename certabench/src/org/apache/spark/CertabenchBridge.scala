package org.apache.spark

/** The one `private[spark]` member the benchmark's tracer needs: draining
  * the asynchronous listener bus, so that every job, task and query event
  * of an operation has been delivered before its window is read.
  */
object CertabenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
