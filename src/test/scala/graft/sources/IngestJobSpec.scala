package graft.sources

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.LarkSource.LarkRecord

/** End-to-end: discovery -> paginated fetch -> watermarked landing CSV
  * -> bronze -> SCD2 silver, through the REAL employee table id. */
class IngestJobSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val employeeTableId = "tblXTpGXeRW8mAfx" // BronzeSchemas.tableIds("employee")

  private def employeeRec(id: String, name: String, ms: Long): LarkRecord = Seq(
    "user_id" -> id, "employee_no" -> "0001", "name" -> "raw",
    "user" -> s"[{'id': 'ou_$id', 'name': '$name'}]",
    "employee_type" -> "full", "email" -> s"$id@x.vn", "mobile" -> "09",
    "department_ids" -> "['od_1']", "departments" -> "Eng",
    "leader" -> null, "join_time" -> "1577836800000",
    "job_title" -> "Engineer", "city" -> "HN", "gender" -> "F",
    "Parent items" -> null, "Created By" -> "sys", "Modified By" -> "sys",
    "Date Created" -> "1714521600000", "Last Modified Date" -> ms.toString)

  private class OneTableClient(records: Seq[LarkRecord]) extends LarkClient {
    def tablesPage(pageToken: Option[String]) =
      LarkPage(Seq(LarkTableInfo(employeeTableId, "employee")), None, hasMore = false)
    def recordsPage(tableId: String, pageToken: Option[String]) = {
      assert(tableId == employeeTableId)
      val start = pageToken.map(_.toInt).getOrElse(0)
      val next = start + 1
      LarkPage(records.slice(start, next), Some(next.toString),
        hasMore = next < records.length)
    }
  }

  /** Client whose record fetch throws `failures` times before working. */
  private class FlakyClient(records: Seq[LarkRecord], failures: Int)
      extends OneTableClient(records) {
    var fetchAttempts = 0
    override def recordsPage(tableId: String, pageToken: Option[String]) = {
      if (pageToken.isEmpty) { // count per-table fetch attempts, not pages
        fetchAttempts += 1
        if (fetchAttempts <= failures)
          throw new RuntimeException(s"transient fetch error $fetchAttempts")
      }
      super.recordsPage(tableId, pageToken)
    }
  }

  private class RecordingNotifier extends IngestNotifier {
    val messages = scala.collection.mutable.ArrayBuffer.empty[String]
    def notify(message: String): Unit = messages += message
  }

  test("transient fetch failures retry with backoff and the run succeeds") {
    val root = graft.core.Fixtures.tempDir("ingest-retry").toString
    val client = new FlakyClient(Seq(employeeRec("E001", "An", 1717218000000L)),
      failures = 2)
    val notifier = new RecordingNotifier
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    IngestJob.run(spark, client, s"$root/landing", s"$root/lake",
      s"$root/state.json", LocalDate.parse("2024-06-01"), notifier,
      retries = 2, retryDelayMs = 300000L, sleep = sleeps += _)
    assert(client.fetchAttempts === 3)
    assert(sleeps.toSeq === Seq(300000L, 600000L))
    assert(notifier.messages.count(_.contains("retrying")) === 2)
    assert(notifier.messages.last.contains("succeeded"))
    assert(spark.read.parquet(s"$root/lake/silver/dim_employee").count() === 1)
  }

  test("exhausted retries notify the failure and skip the warehouse build") {
    val root = graft.core.Fixtures.tempDir("ingest-fail").toString
    val client = new FlakyClient(Seq(employeeRec("E001", "An", 1717218000000L)),
      failures = 99)
    val notifier = new RecordingNotifier
    intercept[IllegalStateException] {
      IngestJob.run(spark, client, s"$root/landing", s"$root/lake",
        s"$root/state.json", LocalDate.parse("2024-06-01"), notifier,
        retries = 1, retryDelayMs = 1L, sleep = _ => ())
    }
    assert(client.fetchAttempts === 2) // attempt + 1 retry
    assert(notifier.messages.exists(_.contains("FAILED after 1 retries")))
    assert(notifier.messages.last.contains("FAILED")) // job-level callback
    assert(!new java.io.File(s"$root/lake/silver/dim_employee").exists())
  }

  test("discovered table lands, normalizes, and builds the SCD2 dim") {
    val root = graft.core.Fixtures.tempDir("ingest-job").toString
    val client = new OneTableClient(Seq(
      employeeRec("E001", "An", 1717218000000L),
      employeeRec("E002", "Binh", 1717221600000L)))

    IngestJob.run(spark, client, s"$root/landing", s"$root/lake",
      s"$root/state.json", LocalDate.parse("2024-06-01"))

    val dim = spark.read.parquet(s"$root/lake/silver/dim_employee")
    assert(dim.count() == 2)
    assert(dim.filter(col("is_current")).count() == 2)
    val e1 = dim.filter(col("user_id") === "E001").head()
    assert(e1.getAs[String]("lark_id") == "ou_E001")
    assert(e1.getAs[String]("gender") == "F")

    // day-2 run with one changed employee: SCD2 versions it
    val client2 = new OneTableClient(Seq(
      employeeRec("E001", "An", 1717304400000L)))
    IngestJob.run(spark, client2, s"$root/landing", s"$root/lake",
      s"$root/state.json", LocalDate.parse("2024-06-02"))
    val dim2 = spark.read.parquet(s"$root/lake/silver/dim_employee")
    assert(dim2.count() == 3)
    assert(dim2.filter(col("user_id") === "E001" && !col("is_current")).count() == 1)
  }
}
