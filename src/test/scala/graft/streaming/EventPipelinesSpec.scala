package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.analytics.EventsQueries

class EventPipelinesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streaming hourly stats == batch q20 (file source, available-now)") {
    val stream = EventPipelines.readEventStream(spark, s"$dir/events.parquet")
    assert(stream.isStreaming)
    val q = EventPipelines.hourlyStats(stream)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("hourly").orderBy("window_start", "event_type")
    val want = EventsQueries.hourlyEventStats(spark, dir)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    q.stop()
  }

  test("stateful sessionization closes sessions at the event-time gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventPipelines.Event]
    val sessions = EventPipelines.sessionize(spark, input.toDF())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    def ev(id: Long, sec: Long, user: Long, typ: String = "click") =
      EventPipelines.Event(id, new java.sql.Timestamp(sec * 1000), user, typ, 1.0)

    val t0 = 1700000000L
    // session 1: three events for user 7 within 10 minutes
    input.addData(ev(1, t0, 7), ev(2, t0 + 300, 7, "purchase"), ev(3, t0 + 600, 7))
    q.processAllAvailable()
    // a far-future event advances the watermark past the 30-min gap,
    // starting session 2 and timing out session 1
    input.addData(ev(4, t0 + 2 * 3600, 7))
    q.processAllAvailable()
    // one more batch so the timeout (based on the new watermark) fires
    input.addData(ev(5, t0 + 4 * 3600, 7))
    q.processAllAvailable()

    val got = spark.table("sessions").as[EventPipelines.Session].collect()
      .sortBy(_.session_start.getTime)
    assert(got.length >= 1)
    val s1 = got.head
    assert(s1.user_id === 7L)
    assert(s1.session_start.getTime === t0 * 1000)
    assert(s1.duration_sec === 600L)
    assert(s1.n_events === 3L)
    assert(s1.n_purchases === 1L)
    q.stop()
  }

  test("streaming dedup drops replayed event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventPipelines.Event]
    val deduped = EventPipelines.dedupStream(
      input.toDF().withColumn("ts", col("ts").cast("timestamp")))
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    def ev(id: Long, sec: Long) = EventPipelines.Event(
      id, new java.sql.Timestamp(sec * 1000), 1L, "click", 1.0)
    val t0 = 1700000000L
    input.addData(ev(1, t0), ev(2, t0 + 10))
    q.processAllAvailable()
    input.addData(ev(1, t0), ev(3, t0 + 20)) // id 1 replayed
    q.processAllAvailable()
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups re-stamped replays; state ages out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventPipelines.Event]
    val deduped = EventPipelines.dedupStreamWithinWatermark(
      input.toDF().withColumn("ts", col("ts").cast("timestamp")), delay = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    def ev(id: Long, sec: Long) = EventPipelines.Event(
      id, new java.sql.Timestamp(sec * 1000), 1L, "click", 1.0)
    val t0 = 1700000000L
    input.addData(ev(1, t0), ev(2, t0 + 10))
    q.processAllAvailable()
    // id 1 replayed with a DIFFERENT (later) ts, still inside the delay:
    // dropDuplicates("event_id","ts") would pass it; this drops it
    input.addData(ev(1, t0 + 60), ev(3, t0 + 20))
    q.processAllAvailable()
    assert(spark.table("dedup_wm").select("event_id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    // push the watermark far past t0 + delay, then re-emit id 1: its
    // state row has aged out, so the id legitimately re-appears
    input.addData(ev(99, t0 + 7200))
    q.processAllAvailable()
    input.addData(ev(1, t0 + 7210))
    q.processAllAvailable()
    assert(spark.table("dedup_wm").select("event_id").as[Long].collect().sorted
      === Array(1L, 1L, 2L, 3L, 99L))
    q.stop()
  }

  test("windowed heavy hitters: sketch state merges across micro-batches " +
      "and keeps every item above the guarantee") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventPipelines.Event]
    // k=3 with 5 distinct types forces the decrement path in-stream
    val hh = EventPipelines.windowedHeavyHitters(input.toDF(), k = 3)
    val q = hh.writeStream.format("memory").queryName("hh")
      .outputMode("complete").start()
    def ev(id: Long, sec: Long, typ: String) = EventPipelines.Event(
      id, new java.sql.Timestamp(sec * 1000), 1L, typ, 1.0)
    val t0 = 1700000000L // mid-window offsets stay inside one hour
    // 60 events in one window over two epochs: view 30, click 20,
    // purchase 4, plus 6 singleton types as noise
    val types = Seq.fill(15)("view") ++ Seq.fill(10)("click") ++
      Seq("purchase", "purchase", "n1", "n2", "n3")
    input.addData(types.zipWithIndex.map { case (t, i) => ev(i, t0 + i, t) }: _*)
    q.processAllAvailable()
    input.addData(types.zipWithIndex.map { case (t, i) =>
      ev(100 + i, t0 + 60 + i, t.replace("n", "m")) }: _*)
    q.processAllAvailable()
    val got = spark.table("hh").as[(java.sql.Timestamp, String, Long)]
      .collect().map(r => r._2 -> r._3).toMap
    // N=60, k=3: anything above 60/4=15 must be present — view (30)
    // and click (20); estimates never exceed truth
    assert(got.contains("view") && got("view") <= 30L)
    assert(got.contains("click") && got("click") <= 20L)
    assert(got.size <= 3)
    q.stop()
  }

  test("mergeStream lands micro-batches as keyed merges into the lake") {
    import spark.implicits._
    val lake = graft.core.Fixtures.tempDir("stream-lake").toString
    val src = graft.core.Fixtures.tempDir("stream-src").toString
    val ckpt = graft.core.Fixtures.tempDir("stream-ckpt").toString

    def writeBatch(rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", expr("ts * 1000000000")) // epoch sec -> ns long
        .write.mode("append").parquet(src)

    val t0 = 1700000000L
    writeBatch(Seq((1L, t0, 7L, "click", 1.0, "{}"),
                   (2L, t0 + 60, 8L, "view", 2.0, "{}")))
    val run1 = EventPipelines.mergeStream(
      EventPipelines.readEventStream(spark, src), s"$lake/events", Seq("event_id"))
      .option("checkpointLocation", ckpt).start()
    run1.awaitTermination(120000)

    // second batch: event 2 re-delivered with a new value + a new event
    writeBatch(Seq((2L, t0 + 60, 8L, "view", 9.0, "{}"),
                   (3L, t0 + 120, 9L, "click", 3.0, "{}")))
    val run2 = EventPipelines.mergeStream(
      EventPipelines.readEventStream(spark, src), s"$lake/events", Seq("event_id"))
      .option("checkpointLocation", ckpt).start()
    run2.awaitTermination(120000)

    val got = spark.read.parquet(s"$lake/events")
      .select("event_id", "value").as[(Long, Double)].collect().sortBy(_._1)
    assert(got === Array((1L, 1.0), (2L, 9.0), (3L, 3.0)))
  }

  test("outer stream-stream join: unmatched purchases emit null clicks after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventPipelines.Event]
    val purchases = MemoryStream[EventPipelines.Event]
    val joined = EventPipelines.purchaseAttributionOuter(
      clicks.toDF(), purchases.toDF(), windowMin = 30, watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()

    def ev(id: Long, sec: Long, user: Long, typ: String) =
      EventPipelines.Event(id, new java.sql.Timestamp(sec * 1000), user, typ, 5.0)

    val t0 = 1700000000L
    // user 7 purchase has an in-window click; user 8's click is 40 min
    // stale -> its purchase must surface as UNMATCHED, not vanish
    clicks.addData(ev(1, t0 + 600, 7, "click"), ev(3, t0, 8, "click"))
    purchases.addData(ev(10, t0 + 900, 7, "purchase"),
      ev(11, t0 + 2400, 8, "purchase"))
    q.processAllAvailable()
    // push both watermarks far past purchase 11's join window so the
    // engine can PROVE no matching click can still arrive
    clicks.addData(ev(4, t0 + 9000, 99, "click"))
    purchases.addData(ev(12, t0 + 9000, 99, "purchase"))
    q.processAllAvailable()
    clicks.addData(ev(5, t0 + 14000, 98, "click"))
    purchases.addData(ev(13, t0 + 14000, 98, "purchase"))
    q.processAllAvailable()

    val got = spark.table("attrib_outer")
      .select("purchase_id", "click_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got(10L) === Some(1L))   // attributed
    assert(got.contains(11L) && got(11L).isEmpty) // unmatched, null click
    q.stop()
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventPipelines.Event]
    val purchases = MemoryStream[EventPipelines.Event]
    val joined = EventPipelines.purchaseAttribution(
      clicks.toDF(), purchases.toDF(), windowMin = 30, watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()

    def ev(id: Long, sec: Long, user: Long, typ: String) =
      EventPipelines.Event(id, new java.sql.Timestamp(sec * 1000), user, typ, 5.0)

    val t0 = 1700000000L
    // user 7: click at t0 and t0+600; purchase at t0+900 -> both clicks
    // in window. user 8: click 40 min before purchase -> out of window.
    clicks.addData(ev(1, t0, 7, "click"), ev(2, t0 + 600, 7, "click"),
      ev(3, t0, 8, "click"))
    purchases.addData(ev(10, t0 + 900, 7, "purchase"),
      ev(11, t0 + 2400, 8, "purchase"))
    q.processAllAvailable()
    // advance both watermarks so buffered state flushes and ages out
    clicks.addData(ev(4, t0 + 7200, 99, "click"))
    purchases.addData(ev(12, t0 + 7200, 99, "purchase"))
    q.processAllAvailable()

    val got = spark.table("attrib")
      .select("purchase_id", "click_id").as[(Long, Long)].collect().sorted
    // purchase 10 pairs with clicks 1 and 2; purchase 11 matches
    // nothing (inner join); the flush pair (12, 4) is same-instant
    assert(got.toSeq == Seq((10L, 1L), (10L, 2L), (12L, 4L)))

    // state bound: a click older than window+watermark behind the
    // purchase watermark must have been evicted -> replaying it
    // produces no new pairs
    clicks.addData(ev(1, t0, 7, "click"))
    q.processAllAvailable()
    assert(spark.table("attrib").count() == 3)
    q.stop()
  }
}
