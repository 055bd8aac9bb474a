package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionClone
import org.apache.spark.sql.internal.SQLConf

/** The end-to-end medallion run: landing CSVs -> bronze -> silver
  * (dims then facts) -> gold (reference: LarkETL.run, dags/utils/
  * etl.py:106-131).
  *
  * Ordering is load-bearing and preserved from the reference
  * (etl.py:566-578): dims are MERGE-published mid-stage and re-read
  * before the fact joins, so facts see post-merge dim state (a lazily
  * recomputed dim frame would silently diverge — the write + fresh
  * read forces materialization).
  *
  * Within a step, writes that read no table of the same step run at
  * once: the five bronze tables; then the `dim_employee` and
  * `dim_vendor` merges; then, after the dims-before-facts barrier
  * above, the three fact tables. Gold is one write. The reference runs
  * them one after another only because its worker has one thread; at
  * this scale each write is a few small Spark jobs, so a serial step
  * leaves most cores idle. Spark's FIFO scheduler gives a large write
  * its slots first and fills only idle ones with its siblings' tasks.
  *
  * Failure policy: a failed write does not stop its siblings, which
  * run to completion; then the step rethrows the first failure (in the
  * step's write order) as it was thrown, with the others suppressed,
  * and no later step runs.
  *
  * Execution posture: a run's inputs are dimension-scale. Every row
  * the run reads came through the driver once, when
  * `LarkSource.recordsToDf` built the fetched Bitable records into a
  * frame, and each day adds one day of them. So every Spark action
  * here is a few small tasks, and its fixed costs outweigh its rows:
  * compiling generated code for each plan (Janino, ~160 classes a day,
  * most of them byte-identical to an earlier day's or differing only
  * by an inlined date or timestamp) and a Spark job per lake read to
  * infer the parquet schema. The pipeline therefore runs all of its
  * Spark work on its own clone of the caller's session with code
  * generation off (no whole-stage code, interpreted expressions), and
  * reads lake tables with the schema of one file footer
  * ([[graft.core.Tables.readParquetDir]]). The clone keeps the
  * caller's runtime SQL conf (dynamic partition overwrite, UTC, ANSI
  * off); the caller's own session keeps code generation. Spark's file
  * readers still build their row projection from generated code in
  * any mode, once per read schema per JVM, so only a day whose landing
  * CSVs bring new columns compiles, one class per such file. There is no
  * size switch back to compiled code: input that is too large to pass
  * through the driver never reaches this class. Every published table
  * is partitioned on `partition_value`, bronze inputs for the day are
  * read with a partition predicate, and dims broadcast into fact joins.
  */
final class Pipeline(caller: SparkSession, landingDir: String, lakeDir: String) {

  private val spark: SparkSession = {
    val s = SessionClone(caller)
    s.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false")
    s.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
    s
  }

  private val writer = new WarehouseWriter(spark, lakeDir)

  /** Landing CSV for (table, partition): written by pandas with a
    * leading unnamed index column (reference reads index_col=0,
    * data_helper.py:33) — dropped here. Returns None when absent. */
  def readLanding(table: String, partition: String): Option[DataFrame] = {
    val p = s"$landingDir/lark/${BronzeSchemas.tableIds(table)}/$partition/data.csv"
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p))) None
    else {
      // multiLine + quote-escape: Lark free-text fields (notes, reasons)
      // carry embedded newlines; pandas quotes them on write and reads
      // them back — without multiLine Spark would split the quoted field
      // into misaligned fragment rows
      val raw = spark.read.option("header", "true")
        .option("multiLine", "true").option("escape", "\"").csv(p)
      Some(raw.drop(raw.columns.head))
    }
  }

  def runBronze(partition: String): Unit =
    concurrently("bronze", BronzeSchemas.specsFor.toSeq.map { case (table, specs) =>
      () => readLanding(table, partition).foreach { raw =>
        val norm = graft.operators.BronzeNormalize(raw, specs)
        // P4: employee rows with null natural key are dropped (etl.py:154)
        val cleaned = if (table == "employee") norm.na.drop(Seq("user_id")) else norm
        writer.overwritePartition(cleaned, "bronze", s"lark_$table", partition)
      }
    })

  /** The day slice of a published table, or None when the table has no
    * partition for the day (read-or-skip, etl.py:147) — a directory
    * check, not a Spark job. */
  private def daySlice(layer: String, table: String,
                       partition: String): Option[DataFrame] =
    if (!writer.hasPartition(layer, table, partition)) None
    else Some(writer.read(layer, table)
      .filter(col("partition_value") === to_date(lit(partition))))

  private def bronzeSlice(table: String, partition: String): Option[DataFrame] =
    daySlice("bronze", s"lark_$table", partition)

  private def currentDim(table: String): Option[DataFrame] =
    writer.readIfExists("silver", table).map(_.filter(col("is_current")))

  def runSilver(partition: String): Unit = {
    // dims first (publish EARLY, etl.py:566)
    concurrently("silver-dims", Seq(
      () => bronzeSlice("employee", partition).foreach { emp =>
        val delta = Silver.dimEmployeeDelta(emp, currentDim("dim_employee"))
        writer.mergeUpsert(delta, "silver", "dim_employee", partition,
          Seq("employee_sur_id"))
      },
      () => bronzeSlice("vendor", partition).foreach { ven =>
        val delta = Silver.dimVendorDelta(ven, currentDim("dim_vendor"))
        writer.mergeUpsert(delta, "silver", "dim_vendor", partition,
          Seq("vendor_sur_id"))
      }))
    // re-read POST-MERGE dim state before the fact joins (etl.py:568-578);
    // a dim that doesn't exist yet joins as a TYPED empty slice (the
    // schemaless emptyDataFrame would fail column resolution in the
    // fact builders and abort the read-or-skip run)
    val dimEmp = currentDim("dim_employee")
      .getOrElse(Silver.emptyDimEmployeeSlice(spark))
    val dimVen = currentDim("dim_vendor")
      .getOrElse(Silver.emptyDimVendorSlice(spark))
    // facts sort within files by their common filter/join key so
    // parquet row-group stats prune scans at scale
    concurrently("silver-facts", Seq(
      () => bronzeSlice("attendance_record", partition).foreach { ar =>
        writer.overwritePartition(
          Silver.factAttendanceRecord(ar, dimEmp),
          "silver", "fact_attendance_record", partition, Seq("user_id"))
      },
      () => bronzeSlice("attendance", partition).foreach { a =>
        writer.overwritePartition(
          Silver.factAttendance(a, dimEmp), "silver", "fact_attendance",
          partition, Seq("user_id"))
      },
      () => bronzeSlice("payment", partition).foreach { p =>
        writer.overwritePartition(
          Silver.factPayment(p, dimVen, dimEmp),
          "silver", "fact_payment", partition, Seq("payment_id"))
      }))
  }

  def runGold(partition: String): Unit =
    currentDim("dim_employee").foreach { dimEmp =>
      daySlice("silver", "fact_attendance", partition).foreach { fa =>
        writer.overwritePartition(
          Gold.cubeAttendanceReport(fa, dimEmp),
          "gold", "cube_attendance_report", partition)
      }
    }

  /** Runs the writes of one step at once and returns when every one
    * has ended. Each call starts one thread per write (named
    * `graft-pipeline-<step>-<i>`) and joins them all, so none outlives
    * the call. Threads made by the caller inherit its Spark local
    * properties, so each write's jobs run under the caller's job group
    * and description; a long-lived pool would keep those of whichever
    * call first created its threads. No write is interrupted: an
    * interrupt of the caller is kept for after the joins. */
  private def concurrently(step: String, writes: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.indices.map { i =>
      new Thread(() => try writes(i)() catch { case e: Throwable => failures(i) = e },
        s"graft-pipeline-$step-$i")
    }
    threads.foreach(_.start())
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }

  /** Full run for one partition date (bronze -> silver -> gold). */
  def run(partition: String): Unit = {
    runBronze(partition)
    runSilver(partition)
    runGold(partition)
  }

  def table(layer: String, name: String): DataFrame = writer.read(layer, name)
}
