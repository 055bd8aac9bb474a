package graft.perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import graft.ingest.IngestionState
import graft.sources.{HttpLarkClient, LarkSource}
import graft.warehouse.{BronzeSchemas, Pipeline}

/** The Lark Bitable tables as the source system holds them, grown one
  * seeded day at a time. Employee and vendor rows are edited in place
  * (their `Last Modified Date` moves); attendance, attendance records
  * and payments are appended. The keys edited each day are drawn
  * uniformly over all employees and vendors, so dim merges reach old
  * partitions. Fields take Lark's shapes: epoch-ms numbers, booleans,
  * and Python-repr strings for the structured fields. */
final class LarkTruth(seed: Long, nEmp: Int, nVendor: Int, payPerDay: Int,
                      empEditsPerDay: Int, vendorEditsPerDay: Int) {
  private val rnd = new scala.util.Random(seed)
  private val mapper = new ObjectMapper()
  val start: LocalDate = LocalDate.of(2024, 6, 1)
  private val DayMs = 86400000L

  /** Live rows per table, in insertion order. */
  val tables: Map[String, ArrayBuffer[ObjectNode]] =
    BronzeSchemas.tableIds.keys.map(_ -> ArrayBuffer.empty[ObjectNode]).toMap
  private val empRow = mutable.HashMap.empty[Int, ObjectNode]
  private val vendorRow = mutable.HashMap.empty[Int, ObjectNode]
  /** Versions each natural key has had (the SCD2 truth). */
  val empVersions = mutable.HashMap.empty[String, Int]
  val vendorVersions = mutable.HashMap.empty[String, Int]
  /** New records per table on the latest day. */
  val newToday = mutable.HashMap.empty[String, Int]
  var day: Int = -1
  var changedKeys = 0

  def date: LocalDate = start.plusDays(day.toLong)
  private def dayMs: Long = date.toEpochDay * DayMs
  private def at(hour: Double): Long = dayMs + (hour * 3600000).toLong
  private def empName(e: Int) = s"Nhan Vien $e"
  private def person(e: Int) = s"{'id': 'ou_e$e', 'name': '${empName(e)}'}"
  private def text(s: String) = s"[{'text': '$s'}]"

  private def employee(e: Int, version: Int): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("user_id", f"E$e%05d").put("employee_no", f"$e%05d").put("name", "raw")
      .put("user", s"[${person(e)}]").put("employee_type", if (e % 7 == 0) "part" else "full")
      .put("email", s"e$e@x.vn").put("mobile", f"09$e%08d")
      .put("department_ids", s"['od_${e % 9}', 'od_${(e + version) % 9}']")
      .put("departments", s"Dept ${e % 9}")
    if (e > 0) n.put("leader", s"[${person(e / 10)}]")
    n.put("join_time", at(0) - (e + 30) * DayMs)
      .put("job_title", s"Title ${rnd.nextInt(40)} v$version")
      .put("city", Seq("HN", "HCM", "DN")(rnd.nextInt(3)))
      .put("gender", if (rnd.nextBoolean()) "M" else "F")
      .put("Created By", "sys").put("Modified By", "sys")
      .put("Date Created", at(0) - 90 * DayMs)
      .put("Last Modified Date", at(1 + rnd.nextDouble() * 5))
    n
  }

  private def vendor(v: Int, version: Int): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("Vendor", text(f"VENDOR-$v%04d")).put("Tên tài khoản", s"Cty $v v$version")
      .put("Số tài khoản", f"${v * 37 + version}%09d").put("Ngân hàng", Seq("VCB", "TCB", "ACB")(v % 3))
    if (version % 2 == 1) n.put("Ghi chú", s"note $version")
    n.put("Date Created", at(0) - 90 * DayMs)
      .put("Last Modified Date", at(1 + rnd.nextDouble() * 5))
    n
  }

  private def attendance(e: Int): ObjectNode = {
    val late = rnd.nextInt(90) - 30
    val early = rnd.nextInt(90) - 30
    val n = mapper.createObjectNode()
    n.put("User id", f"E$e%05d").put("Result id", s"A$day-$e").put("Date", at(0))
      .put("Employee", empName(e)).put("Group name", s"G${e % 4}").put("Shift name", "S1")
      .put("Check in record id", s"ci$day-$e").put("Check in time", at(1 + late / 60.0))
      .put("Check in shift time", at(8)).put("Check in location name", "HQ")
      .put("Check in - Is offsite", rnd.nextInt(10) == 0).put("Check in type", "gps")
      .put("Check in result", if (late > 0) "late" else "ok")
      .put("Check out record id", s"co$day-$e").put("Check out time", at(10.5 - early / 60.0))
      .put("Check out shift time", at(17.5)).put("Check out location name", "HQ")
      .put("Check out - Is offsite", false).put("Check out type", "gps")
      .put("Check out result", if (early > 0) "early" else "ok")
      .put("Employee type", "full").put("Nhân sự không đồng ý phiếu phạt", false)
      .put("Đi muộn / về sớm", late > 0 || early > 0).put("Muộn 20p/sớm 20p", late > 20)
    if (late > 0) n.put("Giá phạt đi muộn/ về sớm", "[{'text': 50000}]")
    else n.put("Giá phạt đi muộn/ về sớm", 0)
    n.put("Phạt muộn 20p/sớm 20p", 0).put("Tiền phạt", if (late > 0) 50000 else 0)
    if (late > 0) n.put("Lý do", "tac duong")
    n.put("Last Modified Date", at(18 + rnd.nextDouble()))
    n
  }

  private def record(e: Int, k: Int): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("User id", f"E$e%05d").put("Record id", s"R$day-$e-$k").put("Date", at(0))
      .put("Employee", empName(e)).put("Check time", at(if (k == 0) 1 else 10.5))
      .put("Check location name", "HQ").put("Is offsite", rnd.nextInt(20) == 0)
      .put("Last Modified Date", at(18 + rnd.nextDouble()))
    n
  }

  private var payId = 0
  private def payment(): ObjectNode = {
    payId += 1
    val qty = 1 + rnd.nextInt(5)
    val price = 10000L * (1 + rnd.nextInt(50))
    val n = mapper.createObjectNode()
    n.put("Payment_ID", text(f"PAY-$payId%07d")).put("Payment", text(s"item $payId"))
      .put("Loại chi phí", "['Văn phòng phẩm']").put("Ngày mua", at(2 + rnd.nextDouble() * 6))
      .put("Tên dự án", s"P${rnd.nextInt(5)}").put("Hàng hóa", "goods")
      .put("Đơn giá", price).put("Số lượng", qty).put("Tổng tiền", text((price * qty).toString))
      .put("Thông tin người cần chuyển khoản", text(f"VENDOR-${rnd.nextInt(nVendor)}%04d"))
      .put("Người mua", person(rnd.nextInt(nEmp)))
      .put("CEO duyệt", rnd.nextBoolean()).put("Kế toán đã thanh toán", false)
      .put("Người mua đã nhận được tiền", false)
      .put("Last Modified Date", at(12 + rnd.nextDouble() * 4))
    n
  }

  private def replace(table: String, old: Option[ObjectNode], row: ObjectNode): Unit = {
    val buf = tables(table)
    old.foreach(o => buf.remove(buf.indexWhere(_ eq o)))
    buf += row
  }

  /** Advances the source by one day of edits and appends. */
  def nextDay(): Unit = {
    day += 1
    newToday.clear()
    val (emps, vendors) =
      if (day == 0) ((0 until nEmp).toSeq, (0 until nVendor).toSeq)
      else (rnd.shuffle((0 until nEmp).toVector).take(empEditsPerDay),
            rnd.shuffle((0 until nVendor).toVector).take(vendorEditsPerDay))
    emps.foreach { e =>
      val key = f"E$e%05d"
      val v = empVersions.getOrElse(key, 0) + 1
      empVersions(key) = v
      val row = employee(e, v)
      replace("employee", empRow.get(e), row)
      empRow(e) = row
    }
    vendors.foreach { x =>
      val key = f"VENDOR-$x%04d"
      val v = vendorVersions.getOrElse(key, 0) + 1
      vendorVersions(key) = v
      val row = vendor(x, v)
      replace("vendor", vendorRow.get(x), row)
      vendorRow(x) = row
    }
    changedKeys = emps.size + vendors.size
    (0 until nEmp).foreach { e =>
      tables("attendance") += attendance(e)
      tables("attendance_record") += record(e, 0)
      tables("attendance_record") += record(e, 1)
    }
    (0 until payPerDay).foreach(_ => tables("payment") += payment())
    newToday ++= Seq("employee" -> emps.size, "vendor" -> vendors.size,
      "attendance" -> nEmp, "attendance_record" -> 2 * nEmp, "payment" -> payPerDay)
  }
}

/** Loopback Lark Open API fake: token, paged record listing (page size
  * capped at 500, as the Lark API does), one handler thread. Counts
  * requests and records served. */
final class LarkFake(truth: LarkTruth) {
  private val mapper = new ObjectMapper()
  private val byId = BronzeSchemas.tableIds.map(_.swap)
  @volatile var requests = 0L
  @volatile var recordsServed = 0L
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val handler = java.util.concurrent.Executors.newSingleThreadExecutor()
  server.setExecutor(handler)
  server.createContext("/open-apis/auth/v3/tenant_access_token/internal/", ex =>
    respond(ex, """{"code":0,"tenant_access_token":"t-bench","expire":7200}"""))
  server.createContext("/open-apis/bitable/v1/apps/", ex => records(ex))
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def respond(ex: HttpExchange, body: String): Unit = {
    requests += 1
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  private def records(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.split("/")
    val table = byId(parts(parts.indexOf("tables") + 1))
    val q = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val size = math.min(500, q.get("page_size").map(_.toInt).getOrElse(20))
    val from = q.get("page_token").map(_.toInt).getOrElse(0)
    val rows = truth.tables(table)
    val page = rows.slice(from, from + size)
    recordsServed += page.size
    val data = mapper.createObjectNode()
    val items = data.putArray("items")
    page.foreach(r => items.addObject().set[ObjectNode]("fields", r))
    val more = from + size < rows.size
    data.put("has_more", more)
    if (more) data.put("page_token", (from + size).toString)
    val root = mapper.createObjectNode().put("code", 0)
    root.set[ObjectNode]("data", data)
    respond(ex, root.toString)
  }

  def stop(): Unit = {
    server.stop(0)
    handler.shutdownNow()
  }
}

/** A medallion day the benchmark has run but not yet checked: its
  * partition, the op id of each call, and the records the source added. */
final case class DayRec(part: String, opOf: Map[String, Int], added: Map[String, Int])

/** medallion_daily: the reference pipeline over successive seeded days.
  * A day is: ingestIncremental per table, then runBronze, runSilver and
  * runGold; each call is one op. The benchmark checks the lake against
  * the source truth outside the timed ops (see [[Medallion.check]]). */
final class Medallion(r: Runner, work: File, seed: Long, tiny: Boolean) {
  private val spark = r.spark
  val truth =
    if (tiny) new LarkTruth(seed, 40, 8, 5, 6, 2)
    else new LarkTruth(seed, 400, 60, 40, 40, 6)
  val fake = new LarkFake(truth)
  private val landing = new File(work, "landing")
  private val lake = new File(work, "lake")
  private val client = new HttpLarkClient(fake.baseUrl, "app", "secret", "base",
    pageSize = 500)
  private val state = new IngestionState(new File(work, "ingest_state.json").getPath)
  private val pipe = new Pipeline(spark, landing.getPath, lake.getPath)
  // ingest order: dims first, as the reference DAG lands them
  private val order = Seq("employee", "vendor", "attendance", "attendance_record", "payment")

  val dayMs = ArrayBuffer.empty[Double]
  val stageMs = mutable.HashMap.empty[String, ArrayBuffer[Double]]
  var landed = 0L
  var fetched = 0L
  var requests = 0L
  var filesWritten = 0L
  var bytesWritten = 0L
  var mergePartitions = 0L
  var mergeRowsRewritten = 0L
  var changedRows = 0L
  var days = 0
  /** Time spent in the benchmark's own checks. */
  var checkSec = 0.0

  private def dimFiles: Map[String, Long] =
    Seq("dim_employee", "dim_vendor").flatMap { t =>
      Disk.dataFiles(new File(lake, s"silver/$t")).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified())
    }.toMap

  private def parquetRows(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getRecordCount finally rd.close()
  }

  private val unchecked = ArrayBuffer.empty[DayRec]

  /** One day. In a traced run `traced` says whether its ops are traced.
    * Its output is checked by [[check]]. */
  def day(traced: Option[Boolean] = None): Unit = {
    truth.nextDay()
    val date = truth.date
    val part = date.toString
    val before = Disk.dataFiles(lake).map(f => f.getPath -> f.length).toMap
    val dimBefore = dimFiles
    val req0 = fake.requests
    val served0 = fake.recordsServed
    val first = r.ops.size
    val t0 = System.nanoTime()
    order.foreach { t =>
      r.run(s"ingest.$t", "write", traced) {
        r.tracer.span(s"sources.ingest.$t") {
          LarkSource.ingestIncremental(client, state, BronzeSchemas.tableIds(t),
            landing.getPath, date, spark)
        }
        true
      }
    }
    Seq("bronze" -> (() => pipe.runBronze(part)), "silver" -> (() => pipe.runSilver(part)),
        "gold" -> (() => pipe.runGold(part))).foreach { case (stage, f) =>
      r.run(stage, "write", traced) { r.tracer.span(s"warehouse.$stage")(f()); true }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    dayMs += ms
    r.ops.drop(first).foreach(o => stageMs.getOrElseUpdate(o.kind, ArrayBuffer.empty) += o.ms)
    days += 1
    requests += fake.requests - req0
    fetched += fake.recordsServed - served0
    val after = Disk.dataFiles(lake)
    val fresh = after.filter(f => !before.get(f.getPath).contains(f.length))
    filesWritten += fresh.size
    bytesWritten += fresh.map(_.length).sum
    val dimAfter = dimFiles
    val rewritten = dimAfter.filter { case (p, m) => !dimBefore.get(p).contains(m) }.keys
    mergePartitions += rewritten.map(p => new File(p).getParent).toSet.size
    mergeRowsRewritten += rewritten.map(parquetRows).sum
    changedRows += truth.changedKeys
    unchecked += DayRec(part, r.ops.drop(first).map(o => o.kind -> o.id).toMap,
      truth.newToday.toMap)
  }

  /** Rows per partition date of a lake table (-1 for every date when the
    * table cannot be read). */
  private def perPartition(layer: String, table: String): String => Long = {
    val counts = Harness.safely(pipe.table(layer, table).groupBy(col("partition_value"))
      .count().collect().map(row => row.get(0).toString -> row.getLong(1)).toMap)
    part => counts.map(_.getOrElse(part, 0L)).getOrElse(-1L)
  }

  /** Checks the days run since the last check against the source truth
    * and fails the op whose output is wrong: each day's landing, bronze,
    * fact and gold row counts, and the dims' SCD2 state after the last
    * day. One scan per lake table covers all the days, so the checks
    * cost little beside the days themselves. */
  def check(): Unit = {
    if (unchecked.isEmpty) return
    val c0 = System.nanoTime()
    val bronze = order.map(t => t -> perPartition("bronze", s"lark_$t")).toMap
    val facts = Seq("fact_attendance" -> "attendance",
      "fact_attendance_record" -> "attendance_record", "fact_payment" -> "payment")
      .map { case (f, src) => (f, src, perPartition("silver", f)) }
    val cube = perPartition("gold", "cube_attendance_report")
    for (d <- unchecked) {
      def expect(kind: String, got: Long, want: Long, what: String): Unit =
        if (got != want) r.fail(d.opOf(kind), s"$what on ${d.part}: got $got, want $want")
      order.foreach { t =>
        val n = Harness.safely(pipe.readLanding(t, d.part).map(_.count()).getOrElse(0L))
          .getOrElse(-1L)
        landed += math.max(n, 0L)
        expect(s"ingest.$t", n, d.added(t), s"landed $t")
        expect("bronze", bronze(t)(d.part), d.added(t), s"bronze $t")
      }
      facts.foreach { case (f, src, got) => expect("silver", got(d.part), d.added(src), f) }
      expect("gold", cube(d.part), d.added("attendance"), "cube_attendance_report")
    }
    val lastSilver = unchecked.last.opOf("silver")
    Seq(("dim_employee", "user_id", truth.empVersions),
        ("dim_vendor", "vendor_id", truth.vendorVersions)).foreach { case (t, key, want) =>
      val got = Harness.safely(pipe.table("silver", t).groupBy(key)
        .agg(count(lit(1)).as("n"), sum(when(col("is_current"), 1).otherwise(0)).as("c"))
        .collect().map(row => row.getString(0) -> (row.getLong(1), row.getLong(2))).toMap)
        .getOrElse(Map.empty)
      val ok = got.size == want.size && want.forall { case (k, v) =>
        got.get(k).contains((v.toLong, 1L)) }
      if (!ok) r.fail(lastSilver, s"$t SCD2 versions/current rows differ from source")
    }
    unchecked.clear()
    checkSec += (System.nanoTime() - c0) / 1e9
  }

  /** Lake bytes over landing CSV bytes. */
  def spaceAmp: Double = Disk.bytes(lake).toDouble / math.max(1L, Disk.bytes(landing))

  def close(): Unit = fake.stop()
}
