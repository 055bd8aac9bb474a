package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.hadoop.fs.Path
import java.time.LocalDate
import graft.ingest.IngestionState

/** One page of a Lark Bitable listing (reference: dags/utils/lark.py:
  * 50-66 — `has_more` + opaque `page_token` drive the loop). */
final case class LarkPage[T](items: Seq[T], pageToken: Option[String], hasMore: Boolean)

final case class LarkTableInfo(tableId: String, name: String)

/** The REST transport seam (S1). The HTTP calls themselves need
  * credentials + egress (reference: lark.py:39-112); everything above
  * this trait — page loop, discovery, records→table, watermark filter,
  * landing layout — is real and tested against an in-memory client.
  */
trait LarkClient {
  def tablesPage(pageToken: Option[String]): LarkPage[LarkTableInfo]
  def recordsPage(tableId: String, pageToken: Option[String]): LarkPage[LarkSource.LarkRecord]
}

/** Lark Bitable ingestion edge (SURVEY.md S1-S5; reference:
  * dags/utils/lark.py:39-112 + dags/ingestion/lark_to_gcs.py:25-89).
  *
  * Scale note: Lark pagination is an opaque sequential token, so the
  * fetch is inherently serial per table (same as the reference); tables
  * ingest independently in parallel, and everything downstream of the
  * landing CSV is distributed. Bitable sources are dimension-scale —
  * the 100 TB path enters through the lake, not this edge.
  */
object LarkSource {

  /** A record's `fields` dict, insertion-ordered (reference:
    * `record.get('fields')`, lark_to_gcs.py:38). */
  type LarkRecord = Seq[(String, String)]

  /** S2: table-list discovery — follow page tokens until has_more is
    * false (reference: lark.py:72-112). */
  def discoverTables(client: LarkClient): Seq[LarkTableInfo] =
    drain(client.tablesPage)

  /** S1: paginated record fetch (reference: lark.py:39-69). */
  def fetchRecords(client: LarkClient, tableId: String): Seq[LarkRecord] =
    drain(client.recordsPage(tableId, _))

  private def drain[T](page: Option[String] => LarkPage[T]): Seq[T] = {
    val out = Seq.newBuilder[T]
    var token: Option[String] = None
    var more = true
    while (more) {
      val p = page(token)
      out ++= p.items
      more = p.hasMore
      token = p.pageToken
    }
    out.result()
  }

  /** S3: records -> table. Columns are the union of observed field
    * names in first-seen order, all strings — exactly what
    * `pd.DataFrame([r['fields'] for r in records])` yields before the
    * bronze schema pass types them (lark_to_gcs.py:38). */
  def recordsToDf(spark: SparkSession, records: Seq[LarkRecord]): DataFrame = {
    val cols = records.foldLeft(Vector.empty[String]) { (acc, r) =>
      acc ++ r.map(_._1).filterNot(acc.contains)
    }
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    val rows = records.map { r =>
      val m = r.toMap
      Row.fromSeq(cols.map(m.get(_).orNull))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
  }

  /** S4+S5: land a batch as `<landingDir>/lark/<tableId>/<partition>/
    * data.csv` — single headered CSV with a leading pandas-style index
    * column (the read side drops column 0, data_helper.py:33). The
    * staged-write + rename is the local equivalent of the reference's
    * to_csv + GCS upload (lark_to_gcs.py:73-89); on a cluster the same
    * code targets gs:// through the Hadoop GCS connector.
    */
  def writeLandingCsv(df: DataFrame, landingDir: String, tableId: String,
                      partition: String): String = {
    val spark = df.sparkSession
    val destDir = new Path(s"$landingDir/lark/$tableId/$partition")
    val fs = destDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(destDir, "__csv_staging")
    // coalesce BEFORE indexing: with one partition the ids are the
    // contiguous 0..n-1 pandas writes; indexed-then-coalesced they'd
    // jump by 2^33 per input partition and break byte-parity with the
    // reference's to_csv landing files
    val indexed = df.coalesce(1).select((monotonically_increasing_id().as("") +:
      df.columns.map(col).toSeq): _*)
    // escape=\" writes embedded quotes DOUBLED (standard CSV, what
    // pandas emits and what the pipeline's reader expects) — Spark's
    // default backslash escaping would corrupt quote-bearing text on
    // the round-trip
    indexed.write.mode("overwrite").option("header", "true")
      .option("escape", "\"").csv(tmp.toString)
    val part = fs.globStatus(new Path(tmp, "part-*"))(0).getPath
    val dest = new Path(destDir, "data.csv")
    if (fs.exists(dest)) fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(tmp, true)
    dest.toString
  }

  /** Incremental ingestion of one table: fetch, watermark-filter on
    * `Last Modified Date` (P9 day-boundary rule via [[IngestionState]]),
    * land as CSV, advance the watermark only when rows landed
    * (reference: lark_to_gcs.py:40-76). Returns the landed path, or
    * None when the batch was empty. Tables without the watermark field
    * land in full (full-refresh mode, lark_to_gcs.py:41). */
  def ingestIncremental(client: LarkClient, state: IngestionState,
                        tableId: String, landingDir: String,
                        runDate: LocalDate, spark: SparkSession,
                        watermarkField: String = "Last Modified Date"): Option[String] = {
    val df = recordsToDf(spark, fetchRecords(client, tableId))
    if (df.isEmpty) return None
    val partition = runDate.toString
    if (!df.columns.contains(watermarkField))
      return Some(writeLandingCsv(df, landingDir, tableId, partition))
    val offset = state.offsetFor(tableId, runDate)
    val inc = df.filter(col(watermarkField).cast("long") > offset)
    // the batch is a driver-side LocalRelation: this collect runs Spark's
    // own cast on the driver, with no job, where an aggregate would
    // plan and run two
    val marks = inc.select(col(watermarkField).cast("long")).collect().map(_.getLong(0))
    if (marks.isEmpty) None
    else {
      val path = writeLandingCsv(inc, landingDir, tableId, partition)
      state.advance(tableId, runDate, Some(marks.max))
      Some(path)
    }
  }
}
