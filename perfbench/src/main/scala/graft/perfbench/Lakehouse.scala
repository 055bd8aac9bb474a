package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

/** One row of the lakehouse table. */
final case class LhRow(k: Long, cust: Long, status: String, price: Double,
                       prio: String, v: Long)

/** One lakehouse_rw op, drawn up front from the seed. */
sealed trait LhOp { def kind: String }
final case class PointRead(k: Long) extends LhOp { def kind = "point_read" }
final case class RangeScan(lo: Long, hi: Long) extends LhOp { def kind = "scan" }
final case class Upsert(rows: Seq[LhRow]) extends LhOp { def kind = "upsert" }
final case class Delete(keys: Seq[Long]) extends LhOp { def kind = "delete" }
case object Compact extends LhOp { def kind = "compact" }
case object Snapshot extends LhOp { def kind = "snapshot" }
case object Changes extends LhOp { def kind = "changes" }

/** Seeded op sequence for lakehouse_rw, in cycles of 20 ops: 9 point
  * lookups, 4 key-range aggregates and 1 `table_changes` listing (70%
  * reads); 3 keyed MERGE upserts, 1 DELETE, 1 snapshot and 1 compaction
  * (30% writes). The order of kinds in a cycle is fixed, so the file
  * layout each op meets does not depend on the seed; the seed picks the
  * keys and values. Writes and point reads favour recently written keys.
  * The generator tracks the key set, so the sequence is a pure function
  * of the seed and the initial keys. */
final class LhOps(seed: Long, initialKeys: Seq[Long], batch: Int) {
  private val rnd = new scala.util.Random(seed)
  private val live = mutable.LinkedHashSet.empty[Long] ++ initialKeys
  private val liveVec = ArrayBuffer.empty[Long] ++ initialKeys
  private val recent = ArrayBuffer.empty[Long]
  private var nextKey = if (initialKeys.isEmpty) 0L else initialKeys.max + 1
  private var version = 0L
  private val cycle = mutable.Queue.empty[String]
  val CycleLen = 20
  private val Cycle = Seq("point", "scan", "upsert", "point", "point", "scan", "upsert",
    "point", "changes", "point", "scan", "delete", "point", "point", "upsert", "scan",
    "point", "snapshot", "point", "compact")

  private def anyKey(): Long = {
    if (recent.nonEmpty && rnd.nextDouble() < 0.7)
      recent(recent.size - 1 - rnd.nextInt(math.min(recent.size, 200)))
    else if (liveVec.nonEmpty) liveVec(rnd.nextInt(liveVec.size))
    else nextKey
  }

  private def touch(k: Long): Unit = {
    recent += k
    if (recent.size > 400) recent.remove(0, 200)
  }

  def next(): LhOp = {
    if (cycle.isEmpty) cycle ++= Cycle
    cycle.dequeue() match {
      case "point" => PointRead(anyKey())
      case "scan" =>
        val lo = anyKey()
        RangeScan(lo, lo + 200 + rnd.nextInt(800))
      case "changes" => Changes
      case "snapshot" => Snapshot
      case "compact" => Compact
      case "upsert" =>
        version += 1
        val rows = (0 until batch).map { _ =>
          val k = if (rnd.nextDouble() < 0.3) { nextKey += 1; nextKey - 1 } else anyKey()
          k -> LhRow(k, rnd.nextInt(1500).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
            rnd.nextInt(50000000) / 100.0, s"${1 + rnd.nextInt(5)}-P", version)
        }.toMap.values.toSeq.sortBy(_.k)
        rows.foreach { r =>
          if (live.add(r.k)) liveVec += r.k
          touch(r.k)
        }
        Upsert(rows)
      case _ =>
        val keys = (0 until math.max(1, batch / 4)).map(_ => anyKey()).distinct.sorted
        keys.foreach(live -= _)
        Delete(keys)
    }
  }
}

/** lakehouse_rw: a read/write mix on one GraftCatalog table through SQL
  * and CALL statements, checked against a client-side key -> row model. */
final class Lakehouse(r: Runner, work: File, dataDir: String, seed: Long,
                      tiny: Boolean) {
  private val spark: SparkSession = r.spark
  private val root = new File(work, "lakehouse")
  spark.conf.set("spark.sql.catalog.lh", "graft.sources.dsv2.GraftCatalog")
  spark.conf.set("spark.sql.catalog.lh.root", root.getAbsolutePath)
  private val table = "lh.bench.t"
  private val tableDir = new File(root, "bench/t")
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("cust", LongType),
    StructField("status", StringType), StructField("price", DoubleType),
    StructField("prio", StringType), StructField("v", LongType)))
  val model = mutable.HashMap.empty[Long, LhRow]
  private val batch = if (tiny) 4 else 20

  /** Creates the table with catalog defaults and loads the orders rows. */
  def load(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lh.bench")
    spark.sql(s"CREATE TABLE $table (k BIGINT, cust BIGINT, status STRING, " +
      "price DOUBLE, prio STRING, v BIGINT)")
    val src = spark.read.parquet(s"$dataDir/orders.parquet")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_orderstatus AS status",
        "o_totalprice AS price", "o_orderpriority AS prio", "CAST(0 AS BIGINT) AS v")
    val limited = if (tiny) src.limit(2000) else src
    limited.writeTo(table).append()
    spark.table(table).collect().foreach(row => model(row.getLong(0)) = toRow(row))
    apply(Snapshot)
  }

  private def toRow(row: Row): LhRow = LhRow(row.getLong(0), row.getLong(1),
    row.getString(2), row.getDouble(3), row.getString(4), row.getLong(5))

  lazy val ops = new LhOps(seed, model.keys.toSeq.sorted, batch)

  val rowsWritten = ArrayBuffer.empty[Long]
  val writeBytes = ArrayBuffer.empty[Double]
  val userBytes = ArrayBuffer.empty[Double]
  val compactBytes = ArrayBuffer.empty[Double]
  val pointFiles = ArrayBuffer.empty[(Int, Int)]
  private var lastSnapshot: Option[Long] = None

  private def files: Map[String, Long] =
    Disk.dataFiles(tableDir).map(f => f.getPath -> f.length).toMap

  private def liveFiles: Int = files.size

  /** Mean stored bytes per live row (traced ops only, like [[measured]]). */
  private def avgRowBytes: Double =
    files.values.sum.toDouble / math.max(1, model.size)

  /** Bytes of files a statement created, read from the table directory
    * (traced ops only: the listing is the benchmark's, not the engine's). */
  private def measured[T](on: Boolean)(body: => T): (T, Long) =
    if (!on) (body, 0L)
    else {
      val before = files
      val out = body
      (out, files.filter { case (p, l) => !before.get(p).contains(l) }.values.sum)
    }

  private def sql(text: String) = r.tracer.span("dsv2.statement")(spark.sql(text))

  def step(): Unit = {
    val op = ops.next()
    val cls = op match {
      case _: PointRead | _: RangeScan | Changes => "read"
      case _ => "write"
    }
    r.run(op.kind, cls)(apply(op))
  }

  private def apply(op: LhOp): Boolean = op match {
    case PointRead(k) =>
      val df = sql(s"SELECT k, cust, status, price, prio, v FROM $table WHERE k = $k")
      val got = r.tracer.span("dsv2.exec")(df.collect()).map(toRow).toSeq
      if (r.tracer.on) {
        val scans = PlanShape.nodes(df.queryExecution.executedPlan)
          .collect { case b: BatchScanExec => b }
        pointFiles += ((scans.map(_.inputPartitions.size).sum, liveFiles))
      }
      got == model.get(k).toSeq
    case RangeScan(lo, hi) =>
      val got = r.tracer.span("dsv2.exec")(sql(
        s"SELECT status, count(*), sum(v) FROM $table WHERE k BETWEEN $lo AND $hi " +
          "GROUP BY status").collect())
        .map(row => row.getString(0) -> (row.getLong(1), row.getLong(2))).toMap
      val want = model.values.filter(x => x.k >= lo && x.k <= hi).groupBy(_.status)
        .map { case (s, xs) => s -> (xs.size.toLong, xs.map(_.v).sum) }
      got == want
    case Upsert(rows) =>
      val src = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(x =>
          Row(x.k, x.cust, x.status, x.price, x.prio, x.v)): _*), schema)
      src.createOrReplaceTempView("lh_src")
      val avg = if (r.tracer.on) avgRowBytes else 0.0
      val (_, bytes) = measured(r.tracer.on)(r.tracer.span("dsv2.exec")(sql(
        s"MERGE INTO $table t USING lh_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()))
      rows.foreach(x => model(x.k) = x)
      rowsWritten += rows.size
      if (r.tracer.on) { writeBytes += bytes.toDouble; userBytes += rows.size * avg }
      true
    case Delete(keys) =>
      val avg = if (r.tracer.on) avgRowBytes else 0.0
      val (_, bytes) = measured(r.tracer.on)(r.tracer.span("dsv2.exec")(sql(
        s"DELETE FROM $table WHERE k IN (${keys.mkString(",")})").collect()))
      val n = keys.count(model.contains)
      keys.foreach(model.remove)
      rowsWritten += keys.size
      if (r.tracer.on) { writeBytes += bytes.toDouble; userBytes += math.max(1, n) * avg }
      true
    case Compact =>
      val (_, bytes) = measured(r.tracer.on)(
        sql(s"CALL lh.system.compact('bench.t', max_shards => 4)").collect())
      if (r.tracer.on) compactBytes += bytes.toDouble
      true
    case Snapshot =>
      val row = sql(s"CALL lh.system.snapshot('bench.t')").collect().head
      lastSnapshot = Some(row.getLong(0))
      true
    case Changes =>
      sql(s"CALL lh.system.table_changes('bench.t', '${lastSnapshot.get}')").collect()
      true
  }

  /** Full-table check against the model (the benchmark's, untimed). */
  def checkAll(): Boolean = {
    val got = spark.table(table).collect().map(toRow)
    got.length == model.size && got.forall(x => model.get(x.k).contains(x))
  }

  def maintenance(name: String): Long =
    spark.sql(s"CALL lh.system.maintenance_stats('bench.t')").collect()
      .find(_.getString(0) == name).map(_.getLong(1)).getOrElse(0L)

  /** Table bytes over the bytes of the same live rows written fresh. */
  def spaceAmp(): Double = {
    spark.sql(s"CREATE TABLE lh.bench.fresh (k BIGINT, cust BIGINT, status STRING, " +
      "price DOUBLE, prio STRING, v BIGINT)")
    spark.table(table).writeTo("lh.bench.fresh").append()
    Disk.bytes(tableDir).toDouble / math.max(1L, Disk.bytes(new File(root, "bench/fresh")))
  }
}
