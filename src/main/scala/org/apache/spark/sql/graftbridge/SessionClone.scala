package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Bridge into Spark's `private[sql]` `cloneSession`. Lives under
  * `org.apache.spark.sql` solely for access, the same pattern as
  * [[ColumnBridge]]; the graft-facing caller is
  * `graft.warehouse.Pipeline`. Unlike `newSession()`, which starts from
  * the default SQL conf, the clone starts with a copy of the session's
  * runtime SQL conf, temp views, functions and listeners; a conf set on
  * either session afterwards stays its own.
  */
object SessionClone {
  def apply(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
