package graft.warehouse

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.sources.LarkSource

/** Edge paths of the medallion run: facts landing before any dim
  * exists, free-text fields with embedded newlines surviving the CSV
  * round-trip, days a published table has no partition for, a failed
  * write among a step's concurrent writes, and the Spark jobs of an
  * incremental bronze and silver day (their count, and that all of
  * them run in the caller's job group).
  */
class PipelineEdgeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A temp dir for one test, deleted when the test ends. */
  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally FileUtils.deleteDirectory(dir)
  }

  test("facts landing before any dim run with null enrichment, not a crash") {
    withTempDir("edge1") { root =>
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
  }

  test("free-text field with embedded newline survives the landing round-trip") {
    withTempDir("edge2") { root =>
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
  }

  /** The committed two-day Lark fixtures (see GoldenPipelineSpec). */
  private val fixtures = new java.io.File("fixtures").getAbsolutePath

  test("a day no table has a partition for is skipped at every stage") {
    withTempDir("edge3") { lake =>
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
        assert(!new File(s"$lake/$t/partition_value=2024-06-03").exists(), t)
    }
  }

  private def pipelineThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith("graft-pipeline-")).toSet

  test("a failed bronze write lets its siblings finish, rethrows its own error and stops the run") {
    withTempDir("edge5") { root =>
      // all five tables land for one day: the fixtures' 2024-06-01 plus
      // the 2024-06-02 payments
      val day = "2024-06-01"
      FileUtils.copyDirectory(new File(s"$fixtures/lark"), new File(s"$root/lark"))
      val payments = s"$root/lark/${BronzeSchemas.tableIds("payment")}"
      FileUtils.copyDirectory(new File(s"$payments/2024-06-02"), new File(s"$payments/$day"))
      val lake = s"$root/lake"
      // a plain file where a table's lake directory would be fails that
      // table's write, as it would fail it run alone
      def block(table: String): Unit = {
        val f = new File(s"$lake/bronze/lark_$table")
        FileUtils.deleteDirectory(f)
        FileUtils.writeStringToFile(f, "not a table", "UTF-8")
      }
      block("employee")
      val alone = intercept[Throwable](new WarehouseWriter(spark, lake)
        .overwritePartition(spark.range(1).toDF(), "bronze", "lark_employee", day))

      val pipe = new Pipeline(spark, root, lake)
      val failed = intercept[Throwable](pipe.runBronze(day))
      // the write's own exception, not a wrapper from the thread handoff
      // (Spark itself may attach a caller stack trace as suppressed)
      def sibling(e: Throwable) = e.getSuppressed.count(_.getClass == alone.getClass)
      assert(failed.getClass === alone.getClass, alone)
      assert(sibling(failed) === 0)
      assert(pipelineThreads.isEmpty)
      for (t <- Seq("vendor", "attendance", "attendance_record", "payment")) {
        val landed = pipe.readLanding(t, day).get.count()
        assert(landed > 0, t)
        assert(pipe.table("bronze", s"lark_$t")
          .filter(col("partition_value") === day).count() === landed, t)
      }

      // a second failed write rides along as suppressed, and run() starts
      // no silver write after the failed bronze step
      block("payment")
      val both = intercept[Throwable](pipe.run(day))
      assert(both.getClass === alone.getClass)
      assert(sibling(both) === 1)
      assert(pipelineThreads.isEmpty)
      assert(!new File(s"$lake/silver").exists())
    }
  }

  test("an incremental silver day runs a fixed number of Spark jobs") {
    withTempDir("edge4") { lake =>
      // a fresh SQL conf: settings other suites leave on the shared
      // session would change the plans, and with them the count
      val session = spark.newSession()
      val pipe = new Pipeline(session, fixtures, lake)
      pipe.run("2024-06-01")
      val sc = session.sparkContext
      /** Runs `body` under a fresh job group; returns the jobs started in
        * that group and the jobs started outside it meanwhile. */
      def jobsOf(step: String)(body: => Unit): (Int, Int) = {
        val group = s"$step-jobs-${System.nanoTime()}"
        val (inGroup, outside) = (new AtomicInteger(), new AtomicInteger())
        val counter = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
              inGroup.incrementAndGet()
            else outside.incrementAndGet()
        }
        org.apache.spark.ListenerDrain(sc) // earlier jobs are not this step's
        sc.addSparkListener(counter)
        sc.setJobGroup(group, s"$step 2024-06-02")
        try body
        finally {
          sc.clearJobGroup()
          org.apache.spark.ListenerDrain(sc)
          sc.removeSparkListener(counter)
        }
        (inGroup.get(), outside.get())
      }
      // every job of a step's concurrent writes runs in the caller's job
      // group: job group cancellation, job descriptions and per-span
      // attribution rely on it, and a long-lived thread pool breaks it
      val (bronzeJobs, bronzeOutside) = jobsOf("bronze")(pipe.runBronze("2024-06-02"))
      val (silverJobs, silverOutside) = jobsOf("silver")(pipe.runSilver("2024-06-02"))
      assert(bronzeOutside === 0)
      assert(silverOutside === 0)
      // bronze: the three tables that land on the day (employee, vendor,
      // payment), each a landing read and a partition write
      assert(bronzeJobs === 6)
      // silver: two SCD2 dim merges (each dim delta evaluated once) and
      // one fact write; the attendance tables have no partition for the
      // day. A second evaluation of a dim delta, or a Spark job to probe
      // for an empty day slice, raises this count.
      assert(silverJobs === 34)
    }
  }
}
