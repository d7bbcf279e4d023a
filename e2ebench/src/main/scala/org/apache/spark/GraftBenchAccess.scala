package org.apache.spark

/** The two Spark-internal reads the traced run needs, kept in one place:
  * waiting for the listener bus to deliver every posted event (so an op's
  * events are counted against that op), and the JVM-wide count of
  * whole-stage-codegen compilations.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
