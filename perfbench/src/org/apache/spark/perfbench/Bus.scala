package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Access to the listener bus drain, which Spark keeps `private[spark]`.
  * Span boundaries drain the bus so every event a span caused is counted
  * before the span closes, and none of its predecessor's leak in. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

/** Classes compiled by Spark's whole-stage code generator in this JVM so
  * far: one per miss of its generated-code cache. */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
