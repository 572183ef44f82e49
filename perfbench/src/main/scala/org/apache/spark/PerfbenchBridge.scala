package org.apache.spark

/** The one package-private Spark call the benchmark's tracer needs: block
 * until every posted listener event has been delivered, so a traced
 * operation's task metrics are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
