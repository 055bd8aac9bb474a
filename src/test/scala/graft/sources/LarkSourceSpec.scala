package graft.sources

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ingest.IngestionState
import graft.sources.LarkSource.LarkRecord

/** S1-S5 ingestion edge against an in-memory paginated client: page
  * loops, records→table, watermark filtering, and the CSV landing
  * round-trip into the pipeline's own reader.
  */
class LarkSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def rec(kv: (String, String)*): LarkRecord = kv.toSeq

  /** 5 records served 2-per-page across 3 pages; 2 tables in 2 pages. */
  private class FakeClient(records: Seq[LarkRecord]) extends LarkClient {
    var tablePageCalls = 0
    var recordPageCalls = 0
    private val tables = Seq(LarkTableInfo("tblA", "employee"),
                             LarkTableInfo("tblB", "vendor"),
                             LarkTableInfo("tblC", "payment"))
    def tablesPage(pageToken: Option[String]): LarkPage[LarkTableInfo] = {
      tablePageCalls += 1
      pageToken match {
        case None => LarkPage(tables.take(2), Some("p1"), hasMore = true)
        case Some("p1") => LarkPage(tables.drop(2), None, hasMore = false)
        case other => fail(s"unexpected token $other")
      }
    }
    def recordsPage(tableId: String, pageToken: Option[String]): LarkPage[LarkRecord] = {
      recordPageCalls += 1
      val start = pageToken.map(_.toInt).getOrElse(0)
      val items = records.slice(start, start + 2)
      val next = start + 2
      LarkPage(items, Some(next.toString), hasMore = next < records.length)
    }
  }

  test("table discovery follows page tokens to exhaustion (S2)") {
    val c = new FakeClient(Nil)
    val tables = LarkSource.discoverTables(c)
    assert(tables.map(_.tableId) == Seq("tblA", "tblB", "tblC"))
    assert(c.tablePageCalls == 2)
  }

  test("record fetch drains all pages in order (S1)") {
    val recs = (1 to 5).map(i => rec("user_id" -> s"E$i"))
    val c = new FakeClient(recs)
    assert(LarkSource.fetchRecords(c, "tblA") == recs)
    assert(c.recordPageCalls == 3)
  }

  test("records->table: column union in first-seen order, gaps null (S3)") {
    val df = LarkSource.recordsToDf(spark, Seq(
      rec("user_id" -> "E1", "name" -> "A"),
      rec("user_id" -> "E2", "city" -> "HN"),
      rec("city" -> "HCM", "user_id" -> "E3")))
    assert(df.columns.toSeq == Seq("user_id", "name", "city"))
    val rows = df.collect().map(r => (r.getString(0), Option(r.getString(1)),
      Option(r.getString(2)))).toSet
    assert(rows == Set(("E1", Some("A"), None), ("E2", None, Some("HN")),
      ("E3", None, Some("HCM"))))
  }

  test("incremental ingest: watermark filter, landing round-trip, day-boundary rule") {
    val dir = graft.core.Fixtures.tempDir("graft-landing").toString
    val state = new IngestionState(s"$dir/state.json")
    val d1 = LocalDate.parse("2024-06-01")
    val recs = Seq(
      rec("user_id" -> "E1", "Last Modified Date" -> "1717218000000"),
      rec("user_id" -> "E2", "Last Modified Date" -> "1717221600000"))
    val c = new FakeClient(recs)

    // first run: everything is newer than the empty watermark
    val path = LarkSource.ingestIncremental(c, state, "tblA", dir, d1, spark)
    assert(path.contains(s"$dir/lark/tblA/2024-06-01/data.csv"))

    // landing CSV reads back with the pipeline's convention: headered,
    // leading pandas-style index column dropped at read
    val raw = spark.read.option("header", "true").csv(s"$dir/lark/tblA/2024-06-01/data.csv")
    assert(raw.columns.length == 3) // index + 2 fields
    val body = raw.drop(raw.columns.head)
    assert(body.columns.toSeq == Seq("user_id", "Last Modified Date"))
    assert(body.count() == 2)

    // same-day re-run: day-boundary rule re-reads from prevLatest
    // (MinValue) -> same rows land again, watermark stays
    val again = LarkSource.ingestIncremental(c, state, "tblA", dir, d1, spark)
    assert(again.nonEmpty)

    // next-day run with no newer records: offset = latest -> empty batch,
    // nothing landed, watermark untouched
    val d2 = d1.plusDays(1)
    assert(LarkSource.ingestIncremental(c, state, "tblA", dir, d2, spark).isEmpty)
    assert(state.offsetFor("tblA", d2) == 1717221600000L)
  }

  test("landing CSV index is contiguous 0..n-1 for multi-partition input") {
    val dir = graft.core.Fixtures.tempDir("graft-idx").toString
    val df = spark.range(10).selectExpr("CAST(id AS STRING) AS v").repartition(4)
    LarkSource.writeLandingCsv(df, dir, "tblIdx", "2024-06-01")
    val raw = spark.read.option("header", "true")
      .csv(s"$dir/lark/tblIdx/2024-06-01/data.csv")
    val idx = raw.select(raw.columns.head).collect().map(_.getString(0).toLong).sorted
    assert(idx.toSeq == (0L until 10L), "pandas-parity index must be 0..n-1")
  }

  test("a throwing notifier neither fails a good run nor masks a real failure") {
    object BrokenNotifier extends IngestNotifier {
      def notify(message: String): Unit = throw new RuntimeException("chat down")
    }
    // success path: result comes back even though both notifies throw
    assert(IngestNotifier.notifying(BrokenNotifier, "job")(42) === 42)
    // failure path: the ORIGINAL error propagates, not the notifier's
    val e = intercept[RuntimeException] {
      IngestNotifier.notifying(BrokenNotifier, "job") {
        throw new RuntimeException("real data error")
      }
    }
    assert(e.getMessage === "real data error")
  }

  test("notifier hook fires on success and failure") {
    val seen = scala.collection.mutable.Buffer[String]()
    val n = new IngestNotifier { def notify(m: String): Unit = seen += m }
    assert(IngestNotifier.notifying(n, "job")(42) == 42)
    intercept[RuntimeException] {
      IngestNotifier.notifying(n, "job")(throw new RuntimeException("boom"))
    }
    assert(seen.toList == List("[job] succeeded", "[job] FAILED: boom"))
  }
}
