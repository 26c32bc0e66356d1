package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the tracer reads: draining the listener bus,
  * so a span's events are all delivered before its counters are read,
  * and the codegen compile-time histogram. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, their summed milliseconds). The histogram's
    * reservoir keeps every sample up to 1028 of them; past that the sum
    * is estimated from the mean. */
  def compileStats(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n)
  }
}
