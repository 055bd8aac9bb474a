package org.apache.spark.sql.graftbridge

import org.apache.spark.metrics.source.CodegenMetrics

/** Classes compiled from generated code in this JVM so far, from
  * Spark's `private[spark]` codegen metrics (one count per Janino
  * compile; a codegen cache hit counts nothing). Lives under
  * `org.apache.spark` solely for access; `graft.Bench` and the specs
  * that pin a count read the difference across a body.
  */
object CodegenCount {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
