package graft.warehouse

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Golden end-to-end medallion run over the committed Lark fixtures
  * (SURVEY.md §5.3): bronze -> silver (SCD2 dims, facts) -> gold for
  * 2024-06-01 then 2024-06-02, then an idempotent re-run of day 2.
  *
  * Expectations are hand-computed from the fixture CSVs against the
  * reference semantics (dags/utils/etl.py:106-131,274-677):
  *   - day 1: 3 employees land (null-user_id row dropped, etl.py:154),
  *     all net-new; gold lateness math per etl.py:640-653;
  *   - day 2: E001 changes (SCD2 branch 2+3 incl. the branch-3 ts
  *     overwrite quirk, etl.py:337), E005 is net-new, VENDOR-1 rolls a
  *     version, payments join post-merge dim state (etl.py:566-578);
  *   - re-running day 2 is a no-op (watermark-shaped idempotence).
  *
  * The lake is a temp dir, deleted when the test JVM exits.
  */
class GoldenPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val landing = new java.io.File("fixtures").getAbsolutePath
  private lazy val lake =
    graft.core.Fixtures.tempDir("graft-golden-lake").toString
  private lazy val pipe = new Pipeline(spark, landing, lake)

  private def fmt(c: String): org.apache.spark.sql.Column =
    date_format(col(c), "yyyy-MM-dd HH:mm:ss")

  // one shared two-day run; tests below assert slices of the result
  private lazy val ran: Unit = { pipe.run("2024-06-01"); pipe.run("2024-06-02") }

  private def dimEmployee: DataFrame = { ran; pipe.table("silver", "dim_employee") }
  private def dimVendor: DataFrame = { ran; pipe.table("silver", "dim_vendor") }

  test("day-1 bronze drops the null-natural-key employee row") {
    ran
    val b = pipe.table("bronze", "lark_employee")
      .filter(col("partition_value") === "2024-06-01")
    assert(b.count() == 3)
    assert(b.filter(col("user_id").isNull).isEmpty)
  }

  test("dim_employee end state: 5 rows, 4 current, E001 versioned") {
    val d = dimEmployee
    assert(d.count() == 5)
    assert(d.filter(col("is_current")).count() == 4)
    assert(d.filter(col("user_id") === "E001").count() == 2)
  }

  test("SCD2 branch-3 quirk: expired E001 keeps old sur + valid_from, takes new ts") {
    val rows = dimEmployee.filter(col("user_id") === "E001")
      .select(col("employee_sur_id"), col("is_current"), col("job_title"),
        col("gender"), fmt("datetime_updated").as("du"),
        fmt("valid_from").as("vf"), fmt("valid_to").as("vt"))
      .collect().map(r => r.getBoolean(1) -> r).toMap
    val (expired, current) = (rows(false), rows(true))
    // expired: day-1 attributes, valid_from untouched, but datetime_updated
    // AND valid_to overwritten to the day-2 version's ts (etl.py:337)
    assert(expired.getString(2) == "Engineer")
    assert(expired.getString(4) == "2024-06-02 04:00:00")
    assert(expired.getString(5) == "2024-06-01 05:00:00")
    assert(expired.getString(6) == "2024-06-02 04:00:00")
    // day 1 had no gender column at all -> null (P6 materialize-missing)
    assert(expired.isNullAt(3))
    // current: day-2 attributes, sentinel valid_to, NEW surrogate
    assert(current.getString(2) == "Senior Engineer")
    assert(current.getString(3) == "M")
    assert(current.getString(6) == "2099-01-01 12:00:00")
    assert(current.getString(0) != expired.getString(0))
  }

  test("leader surrogate resolves from the same batch (E002 -> E001 day-1 sur)") {
    val d = dimEmployee
    val e001Day1Sur = d.filter(col("user_id") === "E001" && !col("is_current"))
      .select("employee_sur_id").head().getString(0)
    val e002Leader = d.filter(col("user_id") === "E002")
      .select("leader_sur_id").head().getString(0)
    assert(e002Leader == e001Day1Sur)
    // E005 (day 2) resolves its leader from the POST-MERGE dim: E001's
    // day-2 current surrogate, not the day-1 one
    val e001Day2Sur = d.filter(col("user_id") === "E001" && col("is_current"))
      .select("employee_sur_id").head().getString(0)
    val e005Leader = d.filter(col("user_id") === "E005")
      .select("leader_sur_id").head().getString(0)
    assert(e005Leader == e001Day2Sur)
  }

  test("unparseable Lark payload -> null lark_id (E003)") {
    assert(dimEmployee.filter(col("user_id") === "E003")
      .select("lark_id").head().isNullAt(0))
    // parsed department array survives to the dim (F2 list variant)
    val deps = dimEmployee.filter(col("user_id") === "E001" && !col("is_current"))
      .select("department_ids").head().getSeq[String](0)
    assert(deps == Seq("od_1", "od_2"))
  }

  test("dim_vendor end state: VENDOR-1 versioned, VENDOR-2 single current") {
    val d = dimVendor
    assert(d.count() == 3)
    assert(d.filter(col("is_current")).count() == 2)
    val v1cur = d.filter(col("vendor_id") === "VENDOR-1" && col("is_current"))
    assert(v1cur.select("bank_acc_number").head().getString(0) == "111-9")
    assert(v1cur.select("bank_holder_name").head().getString(0) == "Cty A JSC")
  }

  test("facts: row counts and junk-numeric coercion (F10)") {
    ran
    assert(pipe.table("silver", "fact_attendance_record").count() == 2)
    val fa = pipe.table("silver", "fact_attendance")
    assert(fa.count() == 4)
    // "[{'text': 50000}]" coerces to 50000; bare "junk" coerces to 0
    // (early_late_penalty_price lives only at bronze — the fact DDL drops
    // it, reference: dwh/silver/fact_attendance.py)
    val byId = pipe.table("bronze", "lark_attendance")
      .select("attendance_id", "early_late_penalty_price")
      .collect().map(r => Option(r.get(0)) -> r).toMap
    assert(byId(Some("A1")).getLong(1) == 50000L)
    assert(byId(Some("A3")).getLong(1) == 0L)
    // A1's fact row carries the day-1 current employee surrogate
    val e001Day1Sur = dimEmployee
      .filter(col("user_id") === "E001" && !col("is_current"))
      .select("employee_sur_id").head().getString(0)
    assert(fa.filter(col("attendance_id") === "A1")
      .select("employee_sur_id").head().getString(0) == e001Day1Sur)
  }

  test("fact_payment joins post-merge day-2 dim state") {
    ran
    val fp = pipe.table("silver", "fact_payment")
    assert(fp.count() == 2)
    val v1Sur = dimVendor.filter(col("vendor_id") === "VENDOR-1" && col("is_current"))
      .select("vendor_sur_id").head().getString(0)
    val e001Sur = dimEmployee.filter(col("user_id") === "E001" && col("is_current"))
      .select("employee_sur_id").head().getString(0)
    val e005Sur = dimEmployee.filter(col("user_id") === "E005")
      .select("employee_sur_id").head().getString(0)
    val p1 = fp.filter(col("payment_id") === "PAY-0001").head()
    assert(p1.getAs[String]("vendor_sur_id") == v1Sur)
    assert(p1.getAs[String]("employee_sur_id") == e001Sur)
    assert(p1.getAs[Long]("price_total") == 300000L)       // "[{'text': 300000}]"
    assert(p1.getAs[String]("payment_type") == "Văn phòng phẩm")
    assert(p1.getAs[String]("buying_person_name") == "Nguyen Van A")
    val p2 = fp.filter(col("payment_id") === "PAY-0002").head()
    assert(p2.getAs[String]("vendor_sur_id") == null)      // unknown VENDOR-9
    assert(p2.getAs[String]("employee_sur_id") == e005Sur)
  }

  test("gold cube: hand-computed lateness/duration metrics (F6+F7+F8)") {
    ran
    val g = pipe.table("gold", "cube_attendance_report")
    assert(g.count() == 4) // day-1 only; no day-2 attendance landed
    val byCode = g.collect()
      .map(r => Option(r.getAs[String]("lark_hrm_code")) -> r).toMap

    // E001: in 00:50+7h=07:50 vs shift 08:00 -> 10 late; out 10:20+7h=17:20
    // vs 17:30 -> 10 early; 9.5h worked/benchmark truncate to 9
    val a1 = byCode(Some("E001"))
    assert(a1.getAs[Long]("late_time_minute") == 10L)
    assert(a1.getAs[Long]("early_time_minute") == 10L)
    assert(a1.getAs[Long]("working_duration_hours") == 9L)
    assert(a1.getAs[Long]("working_duration_benchmark") == 9L)
    assert(a1.getAs[Long]("penalty_amount") == 50000L)
    assert(a1.getAs[String]("attendance_month") == "2024-06")
    assert(a1.getAs[java.sql.Date]("attendance_date").toString == "2024-06-01")
    assert(a1.getAs[String]("hrm_name") == "Nguyen Van A")

    // E002: in 08:10 vs 08:00 -> positive delta clips to 0; out 17:35 vs
    // 17:30 -> 0; 9h25m truncates to 9
    val a2 = byCode(Some("E002"))
    assert(a2.getAs[Long]("late_time_minute") == 0L)
    assert(a2.getAs[Long]("early_time_minute") == 0L)
    assert(a2.getAs[Long]("working_duration_hours") == 9L)
    assert(a2.getAs[Long]("penalty_amount") == 0L)         // null fillna 0

    // E003: on-time in, NULL check-out -> early/working fillna 0
    val a3 = byCode(Some("E003"))
    assert(a3.getAs[Long]("late_time_minute") == 0L)
    assert(a3.getAs[Long]("early_time_minute") == 0L)
    assert(a3.getAs[Long]("working_duration_hours") == 0L)
    assert(a3.getAs[Long]("working_duration_benchmark") == 9L)

    // the all-null source row SURVIVES (reference quirk: fillna(0) runs
    // before dropna(how='all'), so the row is never all-null)
    val nullRow = byCode(None)
    assert(nullRow.getAs[Long]("late_time_minute") == 0L)
    assert(nullRow.isNullAt(nullRow.fieldIndex("hrm_name")))
  }

  test("re-running day 2 is a no-op (idempotence)") {
    ran
    val before = (dimEmployee.count(), dimVendor.count(),
      pipe.table("silver", "fact_payment").count(),
      pipe.table("gold", "cube_attendance_report").count())
    val surBefore = dimEmployee.filter(col("is_current"))
      .select("employee_sur_id").collect().map(_.getString(0)).toSet
    pipe.run("2024-06-02")
    val after = (dimEmployee.count(), dimVendor.count(),
      pipe.table("silver", "fact_payment").count(),
      pipe.table("gold", "cube_attendance_report").count())
    val surAfter = dimEmployee.filter(col("is_current"))
      .select("employee_sur_id").collect().map(_.getString(0)).toSet
    assert(before == after)
    assert(surBefore == surAfter)
  }
}
