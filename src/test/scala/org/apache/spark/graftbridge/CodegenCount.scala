package org.apache.spark.graftbridge

import org.apache.spark.metrics.source.CodegenMetrics

/** Number of Janino compilations in this JVM so far
  * (`CodegenMetrics` is `private[spark]`).
  */
object CodegenCount {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
