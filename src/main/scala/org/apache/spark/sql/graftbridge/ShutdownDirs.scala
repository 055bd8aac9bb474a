package org.apache.spark.sql.graftbridge

import java.io.File
import org.apache.spark.util.ShutdownHookManager

/** Bridge into Spark's `private[spark]` shutdown-delete registry
  * (`org.apache.spark.util.ShutdownHookManager`). Lives under
  * `org.apache.spark` solely for access; the graft-facing surface is
  * [[graft.core.Fixtures.tempDir]]. A registered dir is deleted by
  * Spark's temp-dir hook, which runs after the SparkContext's own
  * shutdown hook, so no running job still writes into it.
  */
object ShutdownDirs {
  def register(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)
  def isRegistered(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
