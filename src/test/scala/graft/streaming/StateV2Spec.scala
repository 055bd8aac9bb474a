package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark

/** transformWithState sessionizer: same semantics as the v1
  * flatMapGroupsWithState path on the same epoch sequence (timer
  * closure, mid-batch splits, purchase counting), on the RocksDB
  * state store. */
class StateV2Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def ev(id: Long, sec: Long, user: Long, typ: String = "click") =
    EventPipelines.Event(id, new java.sql.Timestamp(sec * 1000), user, typ, 1.0)

  test("v2 sessionizer matches v1 semantics on the same epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[EventPipelines.Event]
      val q = StateV2.sessionizeV2(spark, input.toDF())
        .writeStream.format("memory").queryName("sessions_v2")
        .outputMode("append").start()
      val t0 = 1700000000L
      // session 1: three events for user 7 within 10 min (one purchase)
      input.addData(ev(1, t0, 7), ev(2, t0 + 300, 7, "purchase"), ev(3, t0 + 600, 7))
      q.processAllAvailable()
      // far-future event: starts session 2, watermark passes session 1's
      // gap so its timer fires on a later batch
      input.addData(ev(4, t0 + 2 * 3600, 7))
      q.processAllAvailable()
      input.addData(ev(5, t0 + 4 * 3600, 7))
      q.processAllAvailable()

      val got = spark.table("sessions_v2").as[EventPipelines.Session].collect()
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
  }

  test("velocity alerts: ListState accumulates across epochs, bursts alert once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[EventPipelines.Event]
      def evT(id: Long, sec: Long, user: Long, typ: String) =
        EventPipelines.Event(id, new java.sql.Timestamp(sec * 1000), user, typ, 1.0)
      val q = StateV2.purchaseVelocityAlerts(spark, input.toDF(),
          windowSec = 600, minPurchases = 3)
        .writeStream.format("memory").queryName("velocity")
        .outputMode("append").start()
      val t0 = 1700000000L
      // two purchases in epoch 1 (below threshold), third in epoch 2
      // inside the window -> exactly one alert, state carried across
      input.addData(evT(1, t0, 7, "purchase"), evT(2, t0 + 100, 7, "purchase"),
        evT(3, t0 + 100, 8, "click"))
      q.processAllAvailable()
      assert(spark.table("velocity").count() === 0L)
      input.addData(evT(4, t0 + 200, 7, "purchase"))
      q.processAllAvailable()
      val alerts = spark.table("velocity").as[StateV2.VelocityAlert].collect()
      assert(alerts.length === 1)
      assert(alerts.head.user_id === 7L && alerts.head.n_purchases === 3L)
      assert(alerts.head.window_start.getTime === t0 * 1000)
      assert(alerts.head.window_end.getTime === (t0 + 200) * 1000)
      // burst consumed: a single further purchase does NOT re-alert
      input.addData(evT(5, t0 + 300, 7, "purchase"))
      q.processAllAvailable()
      assert(spark.table("velocity").count() === 1L)
      // purchases spread wider than the window never alert
      input.addData(evT(6, t0 + 5000, 9, "purchase"),
        evT(7, t0 + 6000, 9, "purchase"), evT(8, t0 + 7000, 9, "purchase"))
      q.processAllAvailable()
      assert(spark.table("velocity").count() === 1L)
      // LATE purchases inside the retention horizon complete a burst:
      // user 5 sees 1600s/1650s, then late 1000s and 1040s arrive —
      // {1000, 1040, 1600} spans exactly the 600s window and must
      // alert (a window-width trim would have dropped the early times)
      input.addData(evT(9, t0 + 1600, 5, "purchase"),
        evT(10, t0 + 1650, 5, "purchase"))
      q.processAllAvailable()
      input.addData(evT(11, t0 + 1000, 5, "purchase"))
      q.processAllAvailable()
      input.addData(evT(12, t0 + 1040, 5, "purchase"))
      q.processAllAvailable()
      val late = spark.table("velocity").as[StateV2.VelocityAlert].collect()
        .filter(_.user_id == 5L)
      assert(late.length === 1)
      assert(late.head.window_start.getTime === (t0 + 1000) * 1000)
      assert(late.head.window_end.getTime === (t0 + 1600) * 1000)
      q.stop()
    }
  }

  test("burst consumption keeps PRE-burst times for late completions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[EventPipelines.Event]
      def evT(id: Long, sec: Long, user: Long) =
        EventPipelines.Event(id, new java.sql.Timestamp(sec * 1000), user, "purchase", 1.0)
      val q = StateV2.purchaseVelocityAlerts(spark, input.toDF(),
          windowSec = 600, minPurchases = 3)
        .writeStream.format("memory").queryName("velocity_preburst")
        .outputMode("append").start()
      val t0 = 1700000000L
      // a lone early purchase, then a burst strictly after it: the
      // burst consumes ONLY its own slice — the early time must stay
      // held (a late purchase may yet complete a window with it)
      input.addData(evT(1, t0 + 100, 6))
      q.processAllAvailable()
      input.addData(evT(2, t0 + 800, 6), evT(3, t0 + 850, 6), evT(4, t0 + 900, 6))
      q.processAllAvailable()
      val first = spark.table("velocity_preburst").as[StateV2.VelocityAlert].collect()
      assert(first.length === 1)
      assert(first.head.window_start.getTime === (t0 + 800) * 1000)
      // late arrivals inside the retention horizon join the HELD
      // pre-burst time: {100, 150, 200} spans 100s and must alert
      input.addData(evT(5, t0 + 150, 6))
      q.processAllAvailable()
      input.addData(evT(6, t0 + 200, 6))
      q.processAllAvailable()
      val all = spark.table("velocity_preburst").as[StateV2.VelocityAlert]
        .collect().sortBy(_.window_start.getTime)
      assert(all.length === 2)
      assert(all.head.window_start.getTime === (t0 + 100) * 1000)
      assert(all.head.window_end.getTime === (t0 + 200) * 1000)
      q.stop()
    }
  }

  test("ListState TTL: the store evicts idle state; an ample TTL carries it") {
    import spark.implicits._
    import graft.core.Fixtures
    withRocksDb {
      // TTL requires TimeMode.ProcessingTime, whose no-data batches
      // never settle under MemoryStream.processAllAvailable — so this
      // drives a REAL file source with AvailableNow batches and a
      // shared checkpoint (fresh query per batch, state restored from
      // the store between runs).
      def run(ttl: java.time.Duration): Seq[StateV2.VelocityAlert] = {
        val eventsDir = Fixtures.tempDir("vel_ttl_ev").toString
        val ckpt = Fixtures.tempDir("vel_ttl_ck").toString
        val got = scala.collection.mutable.ArrayBuffer.empty[StateV2.VelocityAlert]
        val schema =
          org.apache.spark.sql.Encoders.product[EventPipelines.Event].schema
        def evT(id: Long, sec: Long) = EventPipelines.Event(id,
          new java.sql.Timestamp(sec * 1000), 7L, "purchase", 1.0)
        def batch(events: Seq[EventPipelines.Event]): Unit = {
          events.toDS().write.mode("append").json(eventsDir)
          val q = StateV2.purchaseVelocityAlerts(spark,
              spark.readStream.schema(schema).json(eventsDir),
              windowSec = 600, minPurchases = 3, ttl = Some(ttl))
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch { (df: org.apache.spark.sql.Dataset[StateV2.VelocityAlert], _: Long) =>
              val rows = df.collect(); got.synchronized { got ++= rows }; ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          // AvailableNow's termination latch does not settle under
          // TimeMode.ProcessingTime (the same no-data-batch scheduling
          // gap as MemoryStream.processAllAvailable) — wait for the
          // DATA batch to commit (progress with rows), then stop
          val deadline = System.currentTimeMillis + 60000
          while (System.currentTimeMillis < deadline &&
            !q.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(100)
          assert(q.recentProgress.exists(_.numInputRows > 0), "batch never ran")
          q.stop(); q.awaitTermination()
        }
        val t0 = 1700000000L
        batch(Seq(evT(1, t0), evT(2, t0 + 100)))
        Thread.sleep(1500) // real wall-clock: TTL is processing-time
        batch(Seq(evT(3, t0 + 200)))
        got.toSeq
      }
      // 500ms TTL: the two early purchases expire before the third
      // arrives — the burst never completes, state was store-evicted
      assert(run(java.time.Duration.ofMillis(500)).isEmpty)
      // identical drive, 1h TTL: state survives the gap and the third
      // purchase completes the burst — proving the harness carries
      // state and the empty result above is genuine eviction
      val kept = run(java.time.Duration.ofHours(1))
      assert(kept.map(_.user_id) === Seq(7L))
    }
  }

  test("mid-batch gap violation closes the first session inline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[EventPipelines.Event]
      val q = StateV2.sessionizeV2(spark, input.toDF(), gapSec = 60)
        .writeStream.format("memory").queryName("sessions_v2b")
        .outputMode("append").start()
      val t0 = 1700000000L
      // both events in ONE batch, 10 min apart with a 1-min gap:
      // the first session closes inline without any timer
      input.addData(ev(1, t0, 3), ev(2, t0 + 600, 3, "purchase"))
      q.processAllAvailable()
      val got = spark.table("sessions_v2b").as[EventPipelines.Session].collect()
      assert(got.length === 1)
      assert(got.head.n_events === 1L && got.head.n_purchases === 0L)
      assert(got.head.duration_sec === 0L)
      q.stop()
    }
  }

  test("transition counter: cross-batch chaining equals the batch lag pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[EventPipelines.Event]
      val q = StateV2.transitionsV2(spark, input.toDF())
        .writeStream.format("memory").queryName("transitions_v2")
        .outputMode("append").start()
      val t0 = 1700000000L
      // user 1: view -> click -> purchase split ACROSS batches;
      // user 2: single event (no transition); in-batch order scrambled
      input.addData(ev(2, t0 + 60, 1, "click"), ev(1, t0, 1, "view"))
      q.processAllAvailable()
      input.addData(ev(3, t0 + 120, 1, "purchase"), ev(4, t0, 2, "view"))
      q.processAllAvailable()
      input.addData(ev(5, t0 + 180, 1, "view"))
      q.processAllAvailable()
      val got = spark.table("transitions_v2").as[StateV2.Transition].collect()
        .map(t => (t.user_id, t.prev, t.next)).sorted.toSeq
      // exactly the batch query's lag pairs over the full event set
      assert(got === Seq((1L, "click", "purchase"), (1L, "purchase", "view"),
        (1L, "view", "click")))
      q.stop()
    }
  }

  test("heavy users: MapState holds <= k Misra-Gries counters across epochs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val input = MemoryStream[EventPipelines.Event]
      val q = StateV2.heavyUsersV2(spark, input.toDF(), k = 2)
        .writeStream.format("memory").queryName("heavy_users_v2")
        .outputMode("append").start()
      val t0 = 1700000000L
      var id = 0L
      def batch(users: Long*): Seq[EventPipelines.Event] =
        users.map { u => id += 1; ev(id, t0 + id, u, "click") }
      // epoch 1: u1 x3, u2 x2, u3 x1 -> MG(k=2) fold in ts order
      // (1,1,1,2,2,3): {1:3,2:2} then 3 triggers decrement -> {1:2,2:1}
      input.addData(batch(1, 1, 1, 2, 2, 3): _*)
      q.processAllAvailable()
      def latest(): Map[Long, Long] = {
        val rows = spark.table("heavy_users_v2").as[StateV2.HeavyUser].collect()
        val newest = rows.map(_.as_of_sec).max
        rows.filter(_.as_of_sec == newest)
          .map(r => r.user_id -> r.weight_low).toMap
      }
      assert(latest() === Map(1L -> 2L, 2L -> 1L))
      // epoch 2: u4 x2 — first arrival decrements {1:2,2:1} -> {1:1},
      // second inserts 4 -> {1:1,4:1}; state carried across the epoch
      input.addData(batch(4, 4): _*)
      q.processAllAvailable()
      assert(latest() === Map(1L -> 1L, 4L -> 1L))
      // the MG guarantee on the WHOLE stream so far: n=8, any user with
      // freq > n/(k+1) = 2.67 must survive — user 1 (freq 3) does, and
      // its counter lower-bounds the true count
      assert(latest().contains(1L))
      assert(latest()(1L) <= 3L)
      // snapshots never exceed k counters per type
      val all = spark.table("heavy_users_v2").as[StateV2.HeavyUser].collect()
      all.groupBy(_.as_of_sec).values.foreach(s => assert(s.length <= 2))
      assert(all.forall(_.event_type == "click"))
      q.stop()
    }
  }
}
