package org.apache.spark

/** Classes compiled from generated code in this JVM so far, from
  * Spark's `private[spark]` codegen metrics; specs that pin a count
  * read the difference across a body. */
object CodegenCount {
  def apply(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
