package graft.warehouse

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.LarkSource

/** Edge paths of the medallion run: facts landing before any dim
  * exists, free-text fields with embedded newlines surviving the CSV
  * round-trip, days a published table has no partition for, and the
  * Spark job count of an incremental silver day.
  */
class PipelineEdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("facts landing before any dim run with null enrichment, not a crash") {
    val root = java.nio.file.Files.createTempDirectory("edge1").toString
    // land ONLY an attendance_record CSV (no employee/vendor at all)
    val rec = Seq(
      ("E001", "R1", "1717200000000", "A", "1717203000000", "HQ", "False"))
      .toDF("User id", "Record id", "Date", "Employee", "Check time",
        "Check location name", "Is offsite")
    LarkSource.writeLandingCsv(rec, root,
      BronzeSchemas.tableIds("attendance_record"), "2024-06-01")

    val pipe = new Pipeline(spark, root, s"$root/lake")
    pipe.run("2024-06-01") // no dim_employee anywhere
    val fact = pipe.table("silver", "fact_attendance_record")
    assert(fact.count() == 1)
    assert(fact.select("user_id").head().getString(0) == "E001")
  }

  test("free-text field with embedded newline survives the landing round-trip") {
    val root = java.nio.file.Files.createTempDirectory("edge2").toString
    val note = "line one\nhe said \"hi, there\"\nline three"
    val rec = Seq(("E001", "R9", "1717200000000", "A", "1717203000000", note, "True"))
      .toDF("User id", "Record id", "Date", "Employee", "Check time",
        "Check location name", "Is offsite")
    LarkSource.writeLandingCsv(rec, root,
      BronzeSchemas.tableIds("attendance_record"), "2024-06-02")

    val pipe = new Pipeline(spark, root, s"$root/lake")
    val back = pipe.readLanding("attendance_record", "2024-06-02").get
    assert(back.count() == 1) // NOT split into fragment rows
    assert(back.select("Check location name").head().getString(0) == note)
    // and bronze still types the row correctly after the round-trip
    pipe.runBronze("2024-06-02")
    val bronze = pipe.table("bronze", "lark_attendance_record")
    assert(bronze.select("check_location_name").head().getString(0) == note)
    assert(bronze.select("is_offsite").head().getBoolean(0))
  }

  /** The committed two-day Lark fixtures (see GoldenPipelineSpec). */
  private val fixtures = new java.io.File("fixtures").getAbsolutePath

  test("a day no table has a partition for is skipped at every stage") {
    val lake = java.nio.file.Files.createTempDirectory("edge3").toString
    val pipe = new Pipeline(spark, fixtures, lake)
    pipe.run("2024-06-01")
    def snapshot = Seq("silver" -> "dim_employee", "silver" -> "dim_vendor",
        "silver" -> "fact_attendance", "silver" -> "fact_attendance_record",
        "gold" -> "cube_attendance_report")
      .map { case (l, t) => t -> pipe.table(l, t).drop("etl_inserted")
        .collect().map(_.toString).sorted.toSeq }
    val before = snapshot
    // every table exists, none has a 2024-06-03 partition and nothing
    // lands for that day
    pipe.run("2024-06-03")
    assert(snapshot === before)
    for (t <- Seq("bronze/lark_employee", "silver/fact_attendance",
                  "gold/cube_attendance_report"))
      assert(!new java.io.File(s"$lake/$t/partition_value=2024-06-03").exists(), t)
  }

  test("an incremental silver day runs a fixed number of Spark jobs") {
    // a fresh SQL conf: settings other suites leave on the shared
    // session would change the plans, and with them the count
    val session = spark.newSession()
    val lake = java.nio.file.Files.createTempDirectory("edge4").toString
    val pipe = new Pipeline(session, fixtures, lake)
    pipe.run("2024-06-01")
    pipe.runBronze("2024-06-02")
    val sc = session.sparkContext
    val group = s"silver-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "runSilver 2024-06-02")
    try pipe.runSilver("2024-06-02")
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(counter)
    }
    // two SCD2 dim merges (each dim delta evaluated once) and one fact
    // write; the attendance tables have no partition for the day. A
    // second evaluation of a dim delta, or a Spark job to probe for an
    // empty day slice, raises this count.
    assert(jobs.get() === 34)
  }
}
