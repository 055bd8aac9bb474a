package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Fixtures, Tables}
import graft.functions.Exact._

/** Event-stream analytics over the `events` table (SURVEY.md ST4 and
  * the driver contract's streaming capability).
  *
  * These run as batch here; the same expressions run under Structured
  * Streaming (see [[graft.streaming.EventPipelines]]) — `window()`
  * aggregation and sessionization are the streaming-native shapes, the
  * batch forms below are their deterministic oracle-checkable twins.
  */
object EventsQueries {

  // ---------------------------------------------------------------- q20
  /** Tumbling-window counts: 1-hour windows x event_type via the
    * `window()` function (streaming-compatible aggregation). */
  def hourlyEventStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sumMoney(col("value")).as("total_value"))
      // timestamp_ntz: session TZ is pinned UTC, so values are unchanged but
      // the parquet schema matches the oracle's naive timestamp[us].
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
              col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")

  val hourlyEventStatsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q21
  /** JSON extraction from the props payload + per-type stats. */
  def eventJsonStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("k")).as("sum_k"),
           max(col("k")).as("max_k"),
           countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")

  val eventJsonStatsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Sessionization: split each user's event stream at >30-minute gaps
    * (lag + running sum of boundaries — one shuffle on user_id; the
    * session assignment never leaves the user's partition). */
  def userSessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev_ts").isNull ||
             unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("boundary")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    e.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).cast("timestamp_ntz").as("session_start"),
           (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
             .as("duration_sec"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("n_purchases"))
      .orderBy("user_id", "session_id")
  }

  val userSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |                   OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS boundary
      |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM e)),
      |sess AS (
      |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start,
      |  CAST(epoch(MAX(ts)) - epoch(MIN(ts)) AS BIGINT) AS duration_sec,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Sessionization via the BUILT-IN `session_window` (the
    * streaming-native operator; q22 derives the same sessions manually
    * with lag + running sum). `session_window` merges an event landing
    * exactly on the previous session's end (inclusive boundary), so a
    * 30-minute gap reproduces q22's `gap > 1800` split rule exactly. */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("n_purchases"))
      .select(col("user_id"),
              col("sw.start").cast("timestamp_ntz").as("session_start"),
              col("n_events"), col("n_purchases"))
      .orderBy("user_id", "session_start")

  val sessionWindowsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |                   OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS boundary
      |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM e)),
      |sess AS (
      |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Ordered funnel conversion (view → click → purchase): each stage's
    * timestamp is the user's first qualifying event STRICTLY AFTER the
    * previous stage — the standard product-analytics funnel, which a
    * naive per-type min() gets wrong (a click before the first view
    * must not count).
    *
    * Shape: ONE shuffle — three window passes over the same
    * (user_id) partitioning (Catalyst plans one exchange, three
    * in-partition WindowExecs), then a user-grain distinct and a
    * global count roll-up. Surfaced rates are single divisions of
    * exact counts. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val perUser = Tables.events(s, dir)
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2"), col("ts"))).over(w))
      .select(col("user_id"), col("t1"), col("t2"), col("t3")).distinct()
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("t1")).as("n_viewed"),
      count(col("t2")).as("n_clicked"),
      count(col("t3")).as("n_purchased"))
      .select(col("n_users"), col("n_viewed"), col("n_clicked"),
        col("n_purchased"),
        (col("n_clicked").cast("double") / col("n_viewed")).as("view_to_click"),
        (col("n_purchased").cast("double") / col("n_clicked")).as("click_to_purchase"))
  }

  val funnelSql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |             date_trunc('second', ts) AS ts FROM events),
      |staged AS (SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS t1, ts, event_type
      |  FROM ev),
      |s2 AS (SELECT user_id, t1,
      |    MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
      |      OVER (PARTITION BY user_id) AS t2, ts, event_type
      |  FROM staged),
      |s3 AS (SELECT DISTINCT user_id, t1, t2,
      |    MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
      |      OVER (PARTITION BY user_id) AS t3
      |  FROM s2),
      |agg AS (SELECT COUNT(*) AS n_users, COUNT(t1) AS n_viewed,
      |          COUNT(t2) AS n_clicked, COUNT(t3) AS n_purchased FROM s3)
      |SELECT n_users, n_viewed, n_clicked, n_purchased,
      |  CAST(n_clicked AS DOUBLE) / n_viewed AS view_to_click,
      |  CAST(n_purchased AS DOUBLE) / n_clicked AS click_to_purchase
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Cohort retention: users grouped by first-activity day, counted
    * on each later active day as (cohort, day offset) — the classic
    * retention triangle. All counts exact; one user-grain aggregate +
    * one (user, day) distinct + one roll-up. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cohorts = userDays.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_date"))
    userDays.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_date", "day_offset")
  }

  val cohortRetentionSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, MIN(d) AS cohort_date FROM ud GROUP BY 1)
      |SELECT cohort_date, date_diff('day', cohort_date, d) AS day_offset,
      |  COUNT(DISTINCT user_id) AS n_active
      |FROM ud JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_date, day_offset""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Hourly volume anomalies per event type: hours whose event count
    * sits more than 2 sample standard deviations from the type's mean
    * — the monitoring screen over the warehouse's event firehose.
    *
    * Deterministic numerics: mean and variance come from EXACT sums
    * (count, bigint sum, DECIMAL sum-of-squares — a bigint
    * sum-of-squares would silently wrap under Spark's non-ANSI
    * arithmetic where DuckDB errors), combined with one fixed
    * expression order, and sqrt is IEEE-exactly-rounded — so the flag
    * is bit-identical across engines without any float accumulation.
    * A type with a single active hour has no sample variance: sd is
    * explicitly NULL there (not Spark-NULL-vs-DuckDB-Inf from a 0
    * divisor). Shape: the corpus-scale hourly aggregate is one
    * partial-aggregable shuffle; the per-type moment table is ~|types|
    * rows and broadcasts back. */
  def hourlyAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val nDec = col("n_events").cast("decimal(19,0)")
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n_events")).as("s1"),
        sum(nDec * nDec).as("s2"))
    hourly.join(broadcast(stats), Seq("event_type"))
      .select(col("h").cast("timestamp_ntz").as("hour"), col("event_type"),
        col("n_events"),
        (col("s1").cast("double") / col("n_hours")).as("mean_events"),
        when(col("n_hours") > 1,
          sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / col("n_hours"))
            / (col("n_hours") - 1))).as("sd_events"))
      .withColumn("is_anomaly",
        abs(col("n_events") - col("mean_events")) > lit(2.0) * col("sd_events"))
      .orderBy("hour", "event_type")
  }

  val hourlyAnomaliesSql: String =
    """WITH hourly AS (SELECT date_trunc('hour', ts) AS h, event_type,
      |    COUNT(*) AS n_events FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, COUNT(*) AS n_hours,
      |    CAST(SUM(n_events) AS BIGINT) AS s1,
      |    SUM(CAST(n_events AS DECIMAL(19,0)) * CAST(n_events AS DECIMAL(19,0))) AS s2
      |  FROM hourly GROUP BY 1)
      |SELECT h AS hour, event_type, n_events,
      |  CAST(s1 AS DOUBLE) / n_hours AS mean_events,
      |  CASE WHEN n_hours > 1 THEN
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |      / n_hours) / (n_hours - 1)) END AS sd_events,
      |  abs(n_events - CAST(s1 AS DOUBLE) / n_hours) >
      |    2.0 * CASE WHEN n_hours > 1 THEN
      |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |        / n_hours) / (n_hours - 1)) END AS is_anomaly
      |FROM hourly JOIN st USING (event_type)
      |ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Distinct users per event type, twice: the exact count (state ∝
    * cardinality — the thing that stops scaling) next to the KMV
    * sketch estimate ([[graft.functions.KmvSketch]], fixed k-longs
    * state per group, map-side combinable — the 100 TB path). The
    * estimator `(k-1)·H/h_k` is a pure function of the input set over
    * a 48-bit md5-prefix hash, so DuckDB reproduces it bit-for-bit
    * from a sort — which makes an APPROXIMATE operator
    * oracle-checkable (HLL-based approx_count_distinct is not).
    * One shuffle on event_type; both aggregates share it. */
  /** 48-bit md5-prefix hash of `user_id` — the KMV input both q83 and
    * q132 sketch over (and both oracles reproduce from SQL md5). */
  private def userHash48: org.apache.spark.sql.Column =
    conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
      .cast("long")

  /** The KMV estimator `(k-1)·H/h_k` with the exact fewer-than-k
    * branch — ONE definition so q83 and q132's set algebra can never
    * drift on the bit-reproducibility contract. */
  private def kmvEstimate(sketch: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(graft.llm.CorpusOps.HashSpace) /
        element_at(sketch, k).cast("double"))

  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.Native.kmvSketch(userHash48, k).as("kmv"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("event_type"),
        size(col("kmv")).cast("bigint").as("n_hashes"),
        kmvEstimate(col("kmv"), k).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  val kmvDistinctSql: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
      |      AS hv
      |  FROM events),
      |r AS (SELECT event_type, hv,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM h),
      |-- exact_distinct counts USERS, not hashes: the Spark side is
      |-- countDistinct(user_id), and a latent 48-bit prefix collision
      |-- must not make the 'exact' column diverge between engines
      |x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
      |    AS exact_distinct
      |  FROM events GROUP BY 1)
      |SELECT r.event_type, CAST(LEAST(nd, 32) AS BIGINT) AS n_hashes,
      |  CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
      |       ELSE 31.0 * 281474976710656 / CAST(hv AS DOUBLE) END
      |    AS est_distinct,
      |  x.exact_distinct
      |FROM r JOIN x ON r.event_type = x.event_type
      |WHERE rn = LEAST(nd, 32)
      |ORDER BY r.event_type""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Click->purchase attribution (batch twin of the streaming
    * interval join [[graft.streaming.EventPipelines.purchaseAttribution]]):
    * every purchase with the count and latest timestamp of same-user
    * clicks in the preceding 30 minutes. Left join — unattributed
    * purchases surface with n_clicks = 0, not silently vanish.
    *
    * Shape at 100 TB: both sides prune to one event_type at the scan
    * (pushed filters), then ONE equi-shuffle on user_id with the
    * interval predicate evaluated inside the join — never a cartesian.
    * A bot-grade hot user key is the skew risk; route through
    * [[graft.operators.SkewJoin]] salting when a key exceeds the AQE
    * skew threshold. */
  def clickAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
        col("c_user") === col("user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") > col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
        "left")
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_ts"))
      .agg(count(col("click_ts")).as("n_clicks"),
        max(col("click_ts")).as("last_click_ts"))
      .select(col("purchase_id"), col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("n_clicks"),
        col("last_click_ts").cast("timestamp_ntz").as("last_click_ts"))
      .orderBy("purchase_id")
  }

  val clickAttributionSql: String =
    """WITH c AS (SELECT user_id, date_trunc('second', ts) AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id,
      |        date_trunc('second', ts) AS purchase_ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_ts,
      |  CAST(COUNT(c.click_ts) AS BIGINT) AS n_clicks,
      |  MAX(c.click_ts) AS last_click_ts
      |FROM p LEFT JOIN c ON c.user_id = p.user_id
      |  AND c.click_ts <= p.purchase_ts
      |  AND c.click_ts > p.purchase_ts - INTERVAL 30 MINUTE
      |GROUP BY 1, 2, 3 ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Incremental gold-cube refresh ([[graft.operators.IncrementalAgg]]):
    * the daily (date × event_type) cube is maintained by merging the
    * stored aggregate of history-before-cutoff with the aggregate of
    * ONLY the new slice — history is never rescanned. The cutoff falls
    * mid-day so the boundary day exists in BOTH sides and the merge
    * genuinely folds partial states (not a disjoint union). The oracle
    * is the FULL recompute: passing proves merge(prev, delta) ==
    * full(all) bit-for-bit (decimal sums stay decimal through both
    * levels). */
  def incrementalCube(s: SparkSession, dir: String): DataFrame = {
    val measures = Map("n_events" -> "sum", "total_value" -> "sum",
      "max_value" -> "max")
    val keys = Seq("d", "event_type")
    val ev = Tables.events(s, dir)
      .select(col("ts"), to_date(col("ts")).as("d"), col("event_type"),
        lit(1L).as("n_events"), dec(col("value"), 18, 2).as("total_value"),
        col("value").as("max_value"))
    val cutoff = lit("2024-01-24 12:00:00").cast("timestamp")
    import graft.operators.IncrementalAgg
    val prev = IncrementalAgg.aggregate(ev.filter(col("ts") < cutoff), keys, measures)
    val delta = IncrementalAgg.aggregate(ev.filter(col("ts") >= cutoff), keys, measures)
    IncrementalAgg.merge(prev, delta, keys, measures)
      .select(col("d").cast("date").as("event_date"), col("event_type"),
        col("n_events"), col("total_value").cast("double").as("total_value"),
        col("max_value"))
      .orderBy("event_date", "event_type")
  }

  val incrementalCubeSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  MAX(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin

  // ---------------------------------------------------------------- q121
  /** The MATERIALIZED twin of q86: the cube lives as a parquet table
    * maintained across THREE waves by [[graft.operators.IncrementalAgg
    * .mergeInto]] — each wave aggregates only its slice, merges with
    * the stored partials of the touched groups, and publishes through
    * [[graft.operators.MergeUpsert]]'s crash-safe staged swap. Wave
    * boundaries fall mid-day, so boundary days exist in consecutive
    * waves and the upsert path genuinely folds partial states three
    * deep. The oracle is the FULL recompute over all events: passing
    * proves the maintained table equals a from-scratch build
    * bit-for-bit (decimal sums stay decimal through every level). */
  def mergeMaintainedCube(s: SparkSession, dir: String): DataFrame = {
    val measures = Map("n_events" -> "sum", "total_value" -> "sum",
      "max_value" -> "max")
    val keys = Seq("d", "event_type")
    val ev = Tables.events(s, dir)
      .select(col("ts"), to_date(col("ts")).as("d"), col("event_type"),
        lit(1L).as("n_events"), dec(col("value"), 18, 2).as("total_value"),
        col("value").as("max_value"))
    val path = Fixtures("graft_incr_cube", dir)(
      Fixtures.tempDir("graft_incr_cube").toString)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true) // fresh maintenance run per invocation (idempotent)
    val c1 = lit("2024-01-11 12:00:00").cast("timestamp")
    val c2 = lit("2024-01-21 12:00:00").cast("timestamp")
    import graft.operators.IncrementalAgg
    IncrementalAgg.mergeInto(s, path, ev.filter(col("ts") < c1), keys, measures)
    IncrementalAgg.mergeInto(s, path,
      ev.filter(col("ts") >= c1 && col("ts") < c2), keys, measures)
    IncrementalAgg.mergeInto(s, path, ev.filter(col("ts") >= c2), keys, measures)
    s.read.parquet(path)
      .select(col("d").cast("date").as("event_date"), col("event_type"),
        col("n_events"), col("total_value").cast("double").as("total_value"),
        col("max_value"))
      .orderBy("event_date", "event_type")
  }

  /** Same full-recompute oracle as q86 — the materialized maintenance
    * must land on the identical cube. */
  val mergeMaintainedCubeSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  MAX(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin

  // ------------------------------------------------------------ registry

  // ---------------------------------------------------------------- q95
  /** Robust per-type outlier screen: exact median + MAD (median
    * absolute deviation), flagging |value − median| > 3·1.4826·MAD —
    * the standard robust z-score with the Gaussian consistency
    * constant. Median/MAD are ORDER STATISTICS (selection, not
    * summation), so with 6dp rounding at each derived column the
    * whole screen is bit-reproducible across engines (same parity as
    * q19's `percentile` ↔ `quantile_cont`).
    *
    * Exact two-pass MAD costs a per-group sort per pass — the honest
    * price of exactness, same posture as q94's exact distincts; at
    * 100 TB swap `percentile` for `approx_percentile` (one pass, no
    * sort) when tolerance allows. The deviations slice feeds both the
    * MAD aggregate and the outlier count; `materialize` (the
    * [[graft.llm.Dedup.dedupCorpus]] hook pattern) pins it so the
    * events scan runs twice, not three times. */
  def valueOutliers(s: SparkSession, dir: String,
                    materialize: DataFrame => DataFrame = identity): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"),
        count(lit(1)).as("n"))
    val dev = materialize(ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", round(abs(col("value") - col("med")), 6)))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  val valueOutliersSql: String =
    """WITH ev AS (SELECT event_type, value FROM events),
      |med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM ev GROUP BY 1),
      |dev AS (SELECT e.event_type, m.n, m.med,
      |    round(abs(e.value - m.med), 6) AS adev
      |  FROM ev e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, d.n, d.med, a.mad,
      |  -- CASTs pin double arithmetic: bare 3.0*1.4826 would be DuckDB
      |  -- DECIMAL-exact while Spark folds IEEE doubles
      |  CAST(SUM(CASE WHEN d.adev > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)
      |      * a.mad THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Platform-wide click pressure before each purchase — a GLOBAL
    * interval join (no user equality, unlike q84): every click within
    * the 30 minutes preceding any purchase. Written NAIVELY as a
    * BETWEEN join — the formulation Spark plans as a broadcast
    * nested-loop, O(|clicks|·|purchases|) — and rescued by
    * [[graft.plans.RangeJoinRule]], which rewrites it to the bucketed
    * equi join automatically (plan-guarded in `RangeJoinRuleSpec` /
    * `PlanShapeSpec`). Runs on a child session so the bucket-width
    * conf (1800 s = the interval width → ≤2 buckets per interval)
    * scopes to this query alone. */
  def platformClickPressure(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.graft.rangeJoin.bucketWidth", "1800")
    clickPressureNaive(s2, dir)
  }

  // ---------------------------------------------------------------- q98
  /** The SAME naive interval join planned through the OTHER range-join
    * path: [[graft.plans.BroadcastRangeJoinStrategy]] — the purchase
    * (interval) side is dimension-small here, so it broadcasts sorted
    * and each click probes by binary search; no shuffle, no bucket
    * replication. Same oracle text as q96: the two optimizations must
    * agree bit-for-bit with each other AND with DuckDB. */
  def platformClickPressureBroadcast(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.graft.rangeJoin.broadcast", "true")
    // without CBO the purchase side inherits the FULL events file size
    // through Filter/Project, so at bench scale the default 10MB
    // threshold would silently fall back to the nested-loop plan this
    // query exists to avoid; the child session scopes the raise
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (256L << 20).toString)
    clickPressureNaive(s2, dir)
  }

  /** The naive BETWEEN formulation q96 and q98 both feed their
    * configured sessions. */
  private def clickPressureNaive(s2: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s2, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(unix_timestamp(col("ts")).as("cs"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        unix_timestamp(col("ts")).as("ps"))
    p.join(c, col("cs") >= col("ps") - 1800 && col("cs") <= col("ps"))
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("purchase_id")
  }

  val platformClickPressureSql: String =
    """WITH c AS (SELECT epoch(date_trunc('second', ts)) AS cs
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id,
      |    epoch(date_trunc('second', ts)) AS ps
      |  FROM events WHERE event_type = 'purchase')
      |SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
      |FROM p JOIN c ON cs >= ps - 1800 AND cs <= ps
      |GROUP BY 1 ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** SLIDING-window rates: 1-hour windows advancing every 15 minutes
    * (q20's tumbling twin — the other streaming-native window shape).
    * Spark expands each event into hour/slide = 4 window copies before
    * the aggregate; the oracle mirrors that expansion with an explicit
    * k ∈ 0..3 series. Every event lands in exactly 4 windows (slide
    * divides the length), so the expansion factor — the real cost of
    * sliding windows at 100 TB — is visible and bounded in both
    * engines. */
  def slidingEventRates(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sumMoney(col("value")).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy("window_start", "event_type")

  val slidingEventRatesSql: String =
    """WITH e AS (SELECT event_type, value,
      |    CAST(floor(epoch(date_trunc('second', ts)) / 900) AS BIGINT) * 900
      |      AS floor15
      |  FROM events),
      |x AS (SELECT event_type, value,
      |    make_timestamp((floor15 - k * 900) * 1000000) AS window_start
      |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
      |SELECT window_start, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM x GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q131
  /** First-order Markov transition matrix over each user's event
    * sequence: counts and conditional probabilities of `prev → next`
    * event-type transitions — the sequence-modeling primitive behind
    * next-action prediction and behavioral anomaly scoring.
    *
    * Shape: ONE shuffle on user_id for the lag window (per-user
    * sequences are bounded — the partition is a user, never the
    * corpus), pair counts partial-aggregate map-side, and the row
    * margin (|event types|² rows) broadcasts back for the
    * probability division — exact BIGINT counts, one IEEE division.
    * Ordering ties break on event_id, so the matrix is a pure
    * function of the table. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("next"),
        lag(col("event_type"), 1).over(byUser).as("prev"))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("next"))
      .agg(count(lit(1)).as("n_transitions"))
    val margin = pairs.groupBy(col("prev"))
      .agg(sum(col("n_transitions")).as("n_from"))
    pairs.join(broadcast(margin), Seq("prev"))
      .select(col("prev"), col("next"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from").cast("double"))
          .as("p"))
      .orderBy(col("prev"), col("next"))
  }

  val markovTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS next,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM events),
      |pairs AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n_transitions
      |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, next),
      |margin AS (SELECT prev, CAST(SUM(n_transitions) AS BIGINT) AS n_from
      |  FROM pairs GROUP BY prev)
      |SELECT prev, next, n_transitions,
      |  CAST(n_transitions AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
      |FROM pairs JOIN margin USING (prev)
      |ORDER BY prev, next""".stripMargin

  // ---------------------------------------------------------------- q132
  /** Mergeable-sketch SET ALGEBRA: union / intersection / Jaccard of
    * two user populations (clickers vs purchasers) from their KMV
    * sketches alone — the q83 estimator plus the property that makes
    * KMV production-grade: the k smallest hashes of A ∪ B are the k
    * smallest of (sketch(A) ∪ sketch(B)), so set operations run on
    * two k-long arrays, never the populations. Intersection is
    * inclusion–exclusion over the three estimates. Exact twins ride
    * the same scan for the honesty contract (q109's discipline).
    *
    * The estimator is a pure function of the input sets over the
    * 48-bit md5-prefix hash, so DuckDB reproduces every column
    * bit-for-bit — an approximate operator with an exact oracle. */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame =
    kmvSetOpsOf(Tables.events(s, dir))

  /** [[kmvSetOps]] over an explicit events frame — unit tests inject
    * degenerate populations (an absent event type) the fixtures never
    * produce. */
  private[analytics] def kmvSetOpsOf(ev: DataFrame): DataFrame = {
    val k = 32
    def side(tpe: String, name: String) =
      ev.filter(col("event_type") === tpe)
        .agg(graft.functions.Native.kmvSketch(userHash48, k).as(s"kmv_$name"),
          countDistinct(col("user_id")).as(s"exact_$name"))
    val both = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_types"))
      .agg(count(lit(1)).as("exact_union"),
        // coalesce: sum() over ZERO users is null, and the oracle's
        // COUNT(*)-over-empty form yields 0 — keep the engines agreed
        // even when neither event type occurs at all
        coalesce(sum(when(col("n_types") === 2, 1L).otherwise(0L)), lit(0L))
          .as("exact_intersection"))
    val merged = slice(array_sort(
      array_union(col("kmv_click"), col("kmv_purchase"))), 1, k)
    side("click", "click").crossJoin(broadcast(side("purchase", "purchase")))
      .crossJoin(broadcast(both))
      .select(kmvEstimate(col("kmv_click"), k).as("est_click"),
        kmvEstimate(col("kmv_purchase"), k).as("est_purchase"),
        kmvEstimate(merged, k).as("est_union"),
        (kmvEstimate(col("kmv_click"), k) + kmvEstimate(col("kmv_purchase"), k)
          - kmvEstimate(merged, k)).as("est_intersection"),
        col("exact_click"), col("exact_purchase"),
        col("exact_union"), col("exact_intersection"))
  }

  val kmvSetOpsSql: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
      |      AS hv
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |ranked AS (SELECT event_type, hv,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM h),
      |es AS (SELECT event_type,
      |    CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
      |         ELSE 31.0 * 281474976710656 / CAST(hv AS DOUBLE) END AS est
      |  FROM ranked WHERE rn = LEAST(nd, 32)),
      |hu AS (SELECT DISTINCT hv FROM h),
      |ru AS (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn,
      |    COUNT(*) OVER () AS nd FROM hu),
      |eu AS (SELECT CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
      |         ELSE 31.0 * 281474976710656 / CAST(hv AS DOUBLE) END AS est
      |  FROM ru WHERE rn = LEAST(nd, 32)),
      |x1 AS (SELECT
      |    CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
      |      THEN user_id END) AS BIGINT) AS exact_click,
      |    CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
      |      THEN user_id END) AS BIGINT) AS exact_purchase,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |x2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
      |    SELECT user_id FROM events WHERE event_type IN ('click', 'purchase')
      |    GROUP BY user_id HAVING COUNT(DISTINCT event_type) = 2)),
      |-- scalar-subquery + COALESCE so an absent event type (empty es/eu
      |-- branch) yields est 0.0 — matching Spark's empty-sketch branch —
      |-- instead of zeroing the whole result via an empty cross join
      |c AS (SELECT COALESCE((SELECT est FROM es
      |  WHERE event_type = 'click'), 0.0) AS est),
      |p AS (SELECT COALESCE((SELECT est FROM es
      |  WHERE event_type = 'purchase'), 0.0) AS est),
      |u AS (SELECT COALESCE((SELECT est FROM eu), 0.0) AS est)
      |SELECT c.est AS est_click, p.est AS est_purchase, u.est AS est_union,
      |  c.est + p.est - u.est AS est_intersection,
      |  x1.exact_click, x1.exact_purchase, x1.exact_union,
      |  x2.exact_intersection
      |FROM c, p, u, x1, x2""".stripMargin

  // ---------------------------------------------------------------- q134
  /** LINEAR multi-touch attribution — q84's last-touch dual: every
    * same-user click in the 30 minutes before a purchase shares the
    * purchase value EQUALLY, rolled up to click-hour grain.
    *
    * Exactness: the purchase value becomes integer micro-dollars
    * (DECIMAL(18,2)·1e6 — exact), each click gets `v div n`, and the
    * `v mod n` remainder goes to the most recent clicks (Hamilton
    * apportionment, q92's discipline; ties broken by event_id) — so
    * credits CONSERVE the purchase value bit-exactly and every sum is
    * integer arithmetic; the one division into dollars happens at
    * output. Shape: user-key equi join with the range predicate as a
    * residual (q84's scale argument — per-purchase click sets are
    * bounded by the 30-minute window), one window per purchase for
    * the share ranks, final hour-grain aggregate.
    *
    * Division semantics: purchase values are non-negative, where
    * Spark's `DIV` (truncate) and DuckDB's `//` (floor) agree; a
    * signed-ledger variant (refunds) would have to align the two
    * floor conventions first. */
  def linearAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"),
        (col("value").cast("decimal(18,2)") * 1000000)
          .cast("bigint").as("v_micro"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"),
        col("ts").as("c_ts"))
    val byPurchase = Window.partitionBy(col("p_id"))
    val recency = Window.partitionBy(col("p_id"))
      .orderBy(col("c_ts").desc, col("c_id").desc)
    clicks.join(purchases, Seq("user_id"))
      // q84's exact window — (p_ts-30m, p_ts] — so last-touch and
      // linear reports cover the SAME click set at the boundaries
      .filter(col("c_ts") > col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .withColumn("n_touch", count(lit(1)).over(byPurchase))
      .withColumn("rn", row_number().over(recency))
      .withColumn("credit_micro",
        expr("v_micro DIV n_touch") +
          when(col("rn") <= expr("v_micro % n_touch"), 1L).otherwise(0L))
      .groupBy(date_trunc("hour", col("c_ts")).as("h"))
      .agg(count(lit(1)).as("n_credited_clicks"),
        countDistinct(col("p_id")).as("purchases_touched"),
        sum(col("credit_micro")).as("credited_micro"))
      .select(col("h").cast("timestamp_ntz").as("click_hour"),
        col("n_credited_clicks"), col("purchases_touched"),
        (col("credited_micro").cast("double") / lit(1e6))
          .as("credited_value"))
      .orderBy(col("click_hour"))
  }

  val linearAttributionSql: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 1000000 AS BIGINT) AS v_micro
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts
      |  FROM events WHERE event_type = 'click'),
      |touched AS (
      |  SELECT p_id, v_micro, c_id, c_ts,
      |    COUNT(*) OVER (PARTITION BY p_id) AS n_touch,
      |    ROW_NUMBER() OVER (PARTITION BY p_id
      |      ORDER BY c_ts DESC, c_id DESC) AS rn
      |  FROM c JOIN p USING (user_id)
      |  WHERE c_ts > p_ts - INTERVAL 30 MINUTE AND c_ts <= p_ts),
      |credited AS (
      |  SELECT c_ts, p_id,
      |    v_micro // n_touch +
      |      CASE WHEN rn <= v_micro % n_touch THEN 1 ELSE 0 END AS cm
      |  FROM touched)
      |SELECT date_trunc('hour', c_ts) AS click_hour,
      |  CAST(COUNT(*) AS BIGINT) AS n_credited_clicks,
      |  CAST(COUNT(DISTINCT p_id) AS BIGINT) AS purchases_touched,
      |  CAST(CAST(SUM(cm) AS BIGINT) AS DOUBLE) / 1000000.0
      |    AS credited_value
      |FROM credited GROUP BY 1 ORDER BY click_hour""".stripMargin

  // ---------------------------------------------------------------- q137
  /** Day-over-day NEW-user estimation from daily KMV sketches — the
    * time-series face of q132's set algebra: per calendar day,
    * `new ≈ est(day ∪ prev_day) − est(prev_day)` needs only two
    * k-long arrays per day pair, where the exact computation
    * (anti-join on yesterday's user set) must carry full user sets
    * forever. Exact twins ride the same scan; days with no previous
    * calendar day report all actives as new (both engines).
    *
    * Shape: the daily sketch table is calendar-sized (one bounded
    * row per day), so the day-to-prev-day join and everything after
    * it is metadata-scale; the only corpus-scale work is the distinct
    * day/user projection, partial map-side. Its four consumers (the
    * daily sketches, both sides of the anti self-join) read it through
    * `materialize`: the copies differ after pruning, so AQE reuses no
    * exchange between them, and the registry entry checkpoints it so
    * `events` is scanned once. The sketch is duplicate-insensitive, so
    * the daily aggregates over distinct pairs equal those over raw
    * events. */
  def dailyNewUsers(s: SparkSession, dir: String,
                    materialize: DataFrame => DataFrame = identity): DataFrame = {
    val k = 32
    val ud = materialize(Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
    val daily = ud.groupBy(col("day"))
      .agg(graft.functions.Native.kmvSketch(userHash48, k).as("kmv"),
        count(col("user_id")).as("exact_active"))
    val prev = daily.select(col("day").as("p_day"), col("kmv").as("p_kmv"),
      col("exact_active").as("p_active"))
    val exactNew = ud.as("a")
      .join(ud.as("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.day") === date_sub(col("a.day"), 1), "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("exact_new"))
    val merged = slice(array_sort(array_union(col("kmv"),
      coalesce(col("p_kmv"), expr("CAST(array() AS ARRAY<BIGINT>)")))), 1, k)
    daily
      .join(prev, col("p_day") === date_sub(col("day"), 1), "left")
      .join(exactNew, Seq("day"))
      .select(col("day"), col("exact_active"),
        kmvEstimate(col("kmv"), k).as("est_active"),
        col("exact_new"),
        when(col("p_day").isNull, kmvEstimate(col("kmv"), k))
          .otherwise(kmvEstimate(merged, k) - kmvEstimate(col("p_kmv"), k))
          .as("est_new"))
      .orderBy(col("day"))
  }

  val dailyNewUsersSql: String =
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      |  FROM events),
      |h AS (SELECT day,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
      |      AS hv
      |  FROM ud),
      |act AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS exact_active
      |  FROM ud GROUP BY day),
      |est AS (SELECT day,
      |    CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
      |         ELSE 31.0 * 281474976710656 / CAST(hv AS DOUBLE) END AS est
      |  FROM (SELECT day, hv,
      |          ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn,
      |          COUNT(*) OVER (PARTITION BY day) AS nd FROM h)
      |  WHERE rn = LEAST(nd, 32)),
      |uh AS (SELECT DISTINCT d.day, h.hv
      |  FROM (SELECT DISTINCT day FROM ud) d
      |  JOIN h ON h.day = d.day OR h.day = d.day - 1),
      |eu AS (SELECT day,
      |    CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
      |         ELSE 31.0 * 281474976710656 / CAST(hv AS DOUBLE) END AS est_u
      |  FROM (SELECT day, hv,
      |          ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn,
      |          COUNT(*) OVER (PARTITION BY day) AS nd FROM uh)
      |  WHERE rn = LEAST(nd, 32)),
      |xn AS (SELECT a.day, CAST(COUNT(*) AS BIGINT) AS exact_new
      |  FROM ud a WHERE NOT EXISTS (SELECT 1 FROM ud b
      |    WHERE b.user_id = a.user_id AND b.day = a.day - 1)
      |  GROUP BY a.day)
      |SELECT e.day, act.exact_active, e.est AS est_active, xn.exact_new,
      |  CASE WHEN p.day IS NULL THEN e.est ELSE eu.est_u - p.est END AS est_new
      |FROM est e
      |JOIN act USING (day)
      |JOIN eu USING (day)
      |JOIN xn USING (day)
      |LEFT JOIN est p ON p.day = e.day - 1
      |ORDER BY e.day""".stripMargin

  // ---------------------------------------------------------------- q147
  /** Two-proportion A/B z-test on activation: arm = `user_id % 2`
    * (the deterministic hash-split every experimentation platform
    * uses — q63's discipline), metric = "purchased within 7 days of
    * first signup". Counts are exact integers from one user-grain
    * aggregate; rates, pooled rate and the z statistic are the SAME
    * pinned IEEE expression tree in both engines (divisions of exact
    * counts, one `sqrt` — exactly-rounded per IEEE 754, so the
    * statistic is bit-identical, q81's discipline). The experiment
    * readout every product team runs, with no simulation or RNG
    * anywhere.
    *
    * Shape: signup table is a user-grain aggregate; the conversion
    * probe is a user-key equi join back to events (per-user fan-out
    * bounded by activity), then ONE scalar aggregate — arm pivoting
    * via conditional sums, no second shuffle. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val u = signup
      .join(ev.select(col("user_id"), col("event_type"), col("ts").as("ets")),
        Seq("user_id"), "left")
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("ets") > col("signup_ts") &&
          col("ets") <= col("signup_ts") + expr("INTERVAL 7 DAY"), 1L)
        .otherwise(0L)).as("conv"))
    u.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"))
      .select(col("n0"), col("c0"), col("n1"), col("c1"),
        expr("cast(c0 as double) / n0").as("rate0"),
        expr("cast(c1 as double) / n1").as("rate1"),
        expr("cast(c0 + c1 as double) / (n0 + n1)").as("pooled"))
      .select(col("n0"), col("c0"), col("n1"), col("c1"),
        col("rate0"), col("rate1"),
        expr("rate1 - rate0").as("lift"),
        expr("(rate1 - rate0) / sqrt(pooled * (1 - pooled) * (1.0/n0 + 1.0/n1))")
          .as("z"))
  }

  val abTestSql: String =
    """WITH s AS (SELECT user_id, MIN(date_trunc('second', ts)) AS signup_ts
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |u AS (SELECT s.user_id, s.user_id % 2 AS arm,
      |    MAX(CASE WHEN e.event_type = 'purchase'
      |          AND date_trunc('second', e.ts) > s.signup_ts
      |          AND date_trunc('second', e.ts) <= s.signup_ts + INTERVAL 7 DAY
      |        THEN 1 ELSE 0 END) AS conv
      |  FROM s LEFT JOIN events e ON e.user_id = s.user_id
      |  GROUP BY 1, 2),
      |a AS (SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
      |  FROM u),
      |r AS (SELECT n0, c0, n1, c1,
      |    CAST(c0 AS DOUBLE) / n0 AS rate0, CAST(c1 AS DOUBLE) / n1 AS rate1,
      |    CAST(c0 + c1 AS DOUBLE) / (n0 + n1) AS pooled FROM a)
      |SELECT n0, c0, n1, c1, rate0, rate1, rate1 - rate0 AS lift,
      |  (rate1 - rate0) / sqrt(pooled * (1 - pooled) * (1.0/n0 + 1.0/n1)) AS z
      |FROM r""".stripMargin

  // ---------------------------------------------------------------- q152
  /** Behavioral-diversity profile: per-user Gini–Simpson index of the
    * event-type mix, rolled into an 11-bucket decile histogram. A
    * user who only ever does one thing scores 0; one spread evenly
    * over k types approaches 1 − 1/k — the "is this account a bot on
    * one loop or a human exploring" screen, and the engagement-breadth
    * axis every retention model wants next to raw counts.
    *
    * Deliberately NOT Shannon entropy: entropy needs `log`, whose
    * last-ulp behavior differs across libm builds. The unbiased
    * Gini–Simpson form `1 − Σcᵢ(cᵢ−1)/(n(n−1))` is a pure RATIONAL
    * function of exact counts, carried here in integer ppm —
    * `10⁶ − (10⁶·Σcᵢ(cᵢ−1)) div (n(n−1))` — so every value is a pure
    * integer function of the input bag (all operands non-negative:
    * truncating div == flooring //; envelope: 10⁶·n² < 2⁶³ holds to
    * ~3·10⁶ events per user).
    *
    * Shape: one partial-aggregable shuffle to (user, type) — the
    * per-user type vector is its own map-side combine — then a
    * user-grain aggregate and an 11-row histogram. No window, no
    * join; single-session users (n < 2, index undefined) are counted
    * separately rather than silently dropped. */
  def behaviorDiversity(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val perType = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val perUser = perType.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * (col("c") - 1)).as("pairs"))
      .filter(col("n") >= 2)
      .select(col("user_id"), col("n"),
        expr("1000000 - (1000000 * pairs) div (n * (n - 1))").as("ppm"))
    perUser.groupBy(expr("ppm div 100000").as("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("total_events"),
        min(col("ppm")).as("min_ppm"),
        max(col("ppm")).as("max_ppm"))
      .orderBy(col("decile"))
  }

  val behaviorDiversitySql: String =
    """WITH per_type AS (SELECT user_id, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
      |per_user AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c*(c-1)) AS BIGINT) AS pairs
      |  FROM per_type GROUP BY 1 HAVING CAST(SUM(c) AS BIGINT) >= 2),
      |d AS (SELECT user_id, n,
      |    1000000 - (1000000 * pairs) // (n * (n - 1)) AS ppm FROM per_user)
      |SELECT ppm // 100000 AS decile, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n) AS BIGINT) AS total_events,
      |  CAST(MIN(ppm) AS BIGINT) AS min_ppm, CAST(MAX(ppm) AS BIGINT) AS max_ppm
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q153
  /** Activity-streak distribution (islands & gaps): each user's
    * longest run of CONSECUTIVE active days, histogrammed over users —
    * the habit-formation curve (how many users ever sustain a 7-day
    * streak?) that raw DAU cannot see.
    *
    * The islands trick: over a user's distinct active days in order,
    * `day − row_number()` is CONSTANT exactly within a consecutive
    * run — one window, one date subtraction, and runs become group
    * keys. No self-join, no recursive walk.
    *
    * Shape: the corpus collapses to distinct (user, day) in one
    * shuffle (map-side combine; the grain is users × calendar, ~10³×
    * smaller than events); the window repartitions by user only if
    * the distinct didn't already (same key — Spark reuses the
    * exchange); everything after is streak-grain. Deterministic with
    * no tiebreak needed: distinct days are unique within a user. */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val days = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    val maxStreak = streaks.groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"))
    maxStreak.groupBy(col("max_streak"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("max_streak"))
  }

  val activityStreaksSql: String =
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events),
      |g AS (SELECT user_id, day,
      |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS INTEGER) AS grp
      |  FROM days),
      |streaks AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM g GROUP BY 1, 2),
      |m AS (SELECT user_id, MAX(len) AS max_streak FROM streaks GROUP BY 1)
      |SELECT CAST(max_streak AS BIGINT) AS max_streak,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM m GROUP BY 1 ORDER BY max_streak""".stripMargin

  // ---------------------------------------------------------------- q166
  /** Rolling 7-day active users (WAU) per day, with DAU and the
    * DAU/WAU stickiness ratio in exact integer ppm — the standard
    * product-health trio. Exactness matters here: the rolling
    * distinct CANNOT be a window aggregate (neither engine supports
    * COUNT(DISTINCT) over a frame), so each (user, day) activity row
    * fans out to the ≤ 7 window-end days it supports (a narrow
    * `sequence` explode — never a non-equi join), a semi-join trims
    * ends beyond the observed calendar, and ONE distinct-aggregate
    * per window-end day does the counting.
    *
    * Shape at 100 TB: the only corpus-scale work is the first
    * distinct to (user, day) — events collapse before any fan-out;
    * the ×7 explode runs on user-day grain (≈ 10³× smaller), and
    * both distinct-aggregates partial-aggregate map-side. */
  def rollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = ud.select(col("day")).distinct()
    val wau = ud
      .select(col("user_id"), explode(expr(
        "sequence(day, date_add(day, 6), interval 1 day)")).as("day"))
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = ud.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(1000000 * dau) div wau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  val rollingActiveUsersSql: String =
    """WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    user_id FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |w AS (SELECT CAST(t.w_end AS DATE) AS day, user_id
      |      FROM ud, unnest(generate_series(CAST(day AS TIMESTAMP),
      |        CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) t(w_end)),
      |wau AS (SELECT w.day, COUNT(DISTINCT user_id) AS wau
      |        FROM w JOIN days ON days.day = w.day GROUP BY 1),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
      |SELECT day, dau, wau, (1000000 * dau) // wau AS stickiness_ppm
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q172
  /** Markov next-event backtest — the eval face of q131's transition
    * matrix: train the argmax predictor (most frequent next type per
    * previous type, ties to the lexicographically smallest) on
    * transitions landing within the first 20 calendar days OF THE
    * DATA (cutoff = min event date + 19 — derived, so the split is
    * a true past/future boundary on any time range, never the
    * month-periodic `dayofmonth` trap), score top-1 accuracy on the
    * rest, per previous type in exact integer ppm. The "is
    * yesterday's behavioral model still right" monitor, run entirely
    * as relational plans — no model artifact leaves the warehouse.
    *
    * Shape: one lag window over (user, time) forms all transition
    * pairs — checkpointed, because the train and test branches would
    * otherwise each evaluate the full-table sort+window (the q168
    * lesson); the 1-row min-date scalar rides a broadcast; train
    * counts partial-aggregate to the type-pair grain (≤ |types|²);
    * the argmax is a window over that tiny table and broadcasts back
    * onto the test stream; ONE final groupBy(prev). */
  def markovBacktest(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, dir)
    val d0 = ev.agg(min(to_date(col("ts"))).as("d0"))
    val pairs = ev
      .select(col("user_id"), col("event_type").as("next"),
        to_date(col("ts")).as("d"),
        lag(col("event_type"), 1).over(byUser).as("prev"))
      .filter(col("prev").isNotNull)
      .crossJoin(broadcast(d0))
      .withColumn("in_train", col("d") <= date_add(col("d0"), 19))
      .select(col("next"), col("prev"), col("in_train"))
      .localCheckpoint()
    val model = pairs.filter(col("in_train"))
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("prev"))
          .orderBy(col("cnt").desc, col("next"))))
      .filter(col("rn") === 1)
      .select(col("prev"), col("next").as("predicted"))
    pairs.filter(!col("in_train"))
      .join(broadcast(model), Seq("prev"), "left")
      .groupBy(col("prev"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("predicted") === col("next"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy_ppm", expr("(1000000 * n_correct) div n_test"))
      .orderBy(col("prev"))
  }

  val markovBacktestSql: String =
    """WITH d0 AS (SELECT MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
      |            FROM events),
      |seq AS (
      |  SELECT event_type AS next, CAST(date_trunc('day', ts) AS DATE) AS d,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM events),
      |pairs AS (SELECT prev, next, d <= d0 + 19 AS in_train
      |          FROM seq CROSS JOIN d0 WHERE prev IS NOT NULL),
      |model AS (SELECT prev, next AS predicted FROM (
      |    SELECT prev, next, ROW_NUMBER() OVER (PARTITION BY prev
      |      ORDER BY COUNT(*) DESC, next) AS rn
      |    FROM pairs WHERE in_train GROUP BY prev, next) WHERE rn = 1)
      |SELECT prev, CAST(COUNT(*) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN predicted = next THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  (1000000 * CAST(SUM(CASE WHEN predicted = next THEN 1 ELSE 0 END)
      |    AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS accuracy_ppm
      |FROM pairs LEFT JOIN model USING (prev)
      |WHERE NOT in_train GROUP BY prev ORDER BY prev""".stripMargin

  // ---------------------------------------------------------------- q173
  /** Replayed-session detection — the abuse screen sessionization
    * unlocks: fingerprint every session (md5 of its event-type
    * sequence in event order, q22's exact 30-minute-gap session
    * boundaries), then surface fingerprints of multi-event (≥ 2) sessions
    * that occur under ≥ 2 DIFFERENT users. Organic behavior rarely
    * replays an identical multi-step sequence across accounts;
    * scripted traffic does — this is the dedup idea (hash the
    * content, group, count) applied to BEHAVIOR instead of text.
    *
    * Shape: the session assignment is q22's one window pass; the
    * fingerprint is one groupBy(user, session) with an in-order
    * fold; the report is one partial-aggregable groupBy(fingerprint)
    * over session-count grain. Nothing quadratic — behavioral
    * near-dup would bucket fingerprint bands exactly like q42. */
  def replayedSessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("boundary")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val fp = sess.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_len"),
        md5(array_join(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, event_type)))," +
            " x -> x.event_type)"), "|")).as("fingerprint"))
      .filter(col("session_len") >= 2)
    fp.groupBy(col("fingerprint"))
      .agg(max(col("session_len")).as("session_len"),
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .filter(col("n_users") >= 2)
      .orderBy(col("n_sessions").desc, col("fingerprint"))
      .limit(30)
  }

  val replayedSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |                   OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS boundary
      |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM e)),
      |sess AS (
      |  SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged),
      |fp AS (
      |  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS session_len,
      |    md5(string_agg(event_type, '|' ORDER BY ts, event_id)) AS fingerprint
      |  FROM sess GROUP BY user_id, session_id HAVING COUNT(*) >= 2)
      |SELECT fingerprint, MAX(session_len) AS session_len,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM fp GROUP BY fingerprint HAVING COUNT(DISTINCT user_id) >= 2
      |ORDER BY n_sessions DESC, fingerprint LIMIT 30""".stripMargin

  // ---------------------------------------------------------------- q175
  /** Discrete-hazard retention table — the Kaplan–Meier estimator's
    * exact ingredients without its float product: for every user-age
    * `d` (days between a user's first and last event), report how many
    * users were still observable at age `d` (`n_at_risk`), how many
    * churned exactly there (`n_churned`), and the discrete hazard
    * `churned/at_risk` in exact integer ppm. Users whose last activity
    * falls within 7 days of the corpus's final day are CENSORED — they
    * haven't churned, we just stopped watching — so they count at risk
    * through their observed age but never as churn; skipping the
    * censoring distinction is the classic retention-analysis bug this
    * query exists to encode. The survival curve is a downstream
    * cumulative product over `1 - hazard` — deliberately NOT computed
    * here because a float product is accumulation-order-dependent
    * across engines; the hazard table is the order-independent part.
    *
    * Shape: one shuffle on user_id collapses events to user grain;
    * lifetimes collapse again to age grain (both partial-aggregable);
    * the reverse-cumulative at-risk sum is a window over the distinct-
    * age table — metadata-scale (≤ observation-window days) no matter
    * the corpus size. The global max day is a 1-row broadcast. */
  def retentionHazard(s: SparkSession, dir: String): DataFrame =
    retentionHazardFrom(Tables.events(s, dir))

  /** [[retentionHazard]] over an arbitrary (user_id, ts) event frame —
    * split out so the censoring/at-risk arithmetic is testable on
    * synthetic streams. */
  def retentionHazardFrom(events: DataFrame): DataFrame = {
    val users = events
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("first_day"),
        to_date(max(col("ts"))).as("last_day"))
    val horizon = users.agg(max(col("last_day")).as("end_day"))
    val lifetimes = users.crossJoin(broadcast(horizon))
      .select(datediff(col("last_day"), col("first_day")).as("age_days"),
        (datediff(col("end_day"), col("last_day")) <= 7).as("censored"))
    val byAge = lifetimes.groupBy(col("age_days"))
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    val atRisk = Window.orderBy(col("age_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge
      .withColumn("n_at_risk",
        sum(col("n_churned") + col("n_censored")).over(atRisk))
      .select(col("age_days"), col("n_at_risk"), col("n_churned"),
        col("n_censored"),
        expr("(1000000 * n_churned) div n_at_risk").as("hazard_ppm"))
      .orderBy("age_days")
  }

  val retentionHazardSql: String =
    """WITH u AS (
      |  SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day,
      |         CAST(MAX(ts) AS DATE) AS last_day
      |  FROM events GROUP BY user_id),
      |h AS (SELECT MAX(last_day) AS end_day FROM u),
      |lt AS (
      |  SELECT datediff('day', first_day, last_day) AS age_days,
      |         datediff('day', last_day, end_day) <= 7 AS censored
      |  FROM u CROSS JOIN h),
      |byage AS (
      |  SELECT age_days,
      |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |    CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS n_censored
      |  FROM lt GROUP BY age_days)
      |SELECT age_days,
      |  CAST(SUM(n_churned + n_censored) OVER (ORDER BY age_days DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk,
      |  n_churned, n_censored,
      |  (1000000 * n_churned) // CAST(SUM(n_churned + n_censored) OVER (
      |    ORDER BY age_days DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hazard_ppm
      |FROM byage ORDER BY age_days""".stripMargin

  // ---------------------------------------------------------------- q184
  /** Funnel LATENCY — q79 reports how many convert, this reports how
    * fast: per converting user the delta from first view to the first
    * subsequent purchase (q79's strictly-after stage rule), summarized
    * as exact integer percentiles via the q138 rank walk — cum counts
    * over the distinct-delta grain, p-th value = min delta whose
    * cumulative count reaches ceil(p·n/100). No percentile_cont floats
    * to disagree across engines, and the walk runs on distinct-seconds
    * grain (bounded by the observation window), never user grain.
    * Shape: q79's one-exchange window pass, a user-grain distinct,
    * one delta-grain aggregate, a metadata-scale cum window. */
  def conversionLatency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val perUser = Tables.events(s, dir)
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .select(col("user_id"), col("t1"), col("t3")).distinct()
      .filter(col("t3").isNotNull)
      .select((col("t3").cast("long") - col("t1").cast("long")).as("delta"))
    val hist = perUser.groupBy(col("delta")).agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy(col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(
        max(col("n")).as("n_converted"),
        min(when(col("cum") * 100 >= col("n") * 50, col("delta"))).as("p50_sec"),
        min(when(col("cum") * 100 >= col("n") * 90, col("delta"))).as("p90_sec"),
        max(col("delta")).as("max_sec"))
  }

  val conversionLatencySql: String =
    """WITH e AS (SELECT user_id, event_type, date_trunc('second', ts) AS ts
      |  FROM events),
      |v AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      |      FROM e GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'purchase' AND e.ts > v.t1 GROUP BY 1),
      |d AS (SELECT CAST(epoch(t3) AS BIGINT) - CAST(epoch(t1) AS BIGINT) AS delta
      |      FROM v JOIN p USING (user_id)),
      |h AS (SELECT delta, COUNT(*) AS cnt FROM d GROUP BY 1),
      |c AS (SELECT delta, cnt,
      |    CAST(SUM(cnt) OVER (ORDER BY delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(cnt) OVER () AS BIGINT) AS n
      |  FROM h)
      |SELECT MAX(n) AS n_converted,
      |  MIN(CASE WHEN cum * 100 >= n * 50 THEN delta END) AS p50_sec,
      |  MIN(CASE WHEN cum * 100 >= n * 90 THEN delta END) AS p90_sec,
      |  MAX(delta) AS max_sec
      |FROM c""".stripMargin

  // ---------------------------------------------------------------- q185
  /** Winsorized per-type value statistics — the robust-preprocessing
    * twin of q95's MAD screen: clip `value` at the exact integer-cents
    * p01/p99 (the q138 rank walk per event type — `100·cum ≥ p·n`
    * picks the percentile on the distinct-cents grain) and report the
    * clipped mean in floor-divided cents plus how many observations
    * each tail clipped. Winsorization is how a feature pipeline feeds
    * heavy-tailed values to training without letting one whale set the
    * scale; everything here is integer cents, so both engines agree to
    * the bit. Shape: one cents-grain aggregate per type, a
    * metadata-scale cum window, bounds broadcast back onto the stream,
    * one final partial-aggregable pass. */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"),
      (dec(col("value"), 18, 2) * 100).cast("long").as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val bounds = ev.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"), col("n"))
      .agg(min(when(col("cum") * 100 >= col("n") * 1, col("c"))).as("p01_cents"),
        min(when(col("cum") * 100 >= col("n") * 99, col("c"))).as("p99_cents"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("clipped",
        greatest(col("p01_cents"), least(col("p99_cents"), col("c"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("p01_cents")).as("p01_cents"),
        max(col("p99_cents")).as("p99_cents"),
        sum(when(col("c") < col("p01_cents"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("c") > col("p99_cents"), 1L).otherwise(0L)).as("n_clipped_high"),
        sum(col("clipped")).as("clipped_sum"))
      .select(col("event_type"), col("n"), col("p01_cents"), col("p99_cents"),
        col("n_clipped_low"), col("n_clipped_high"),
        expr("clipped_sum div n").as("mean_clipped_cents"))
      .orderBy("event_type")
  }

  val winsorizedStatsSql: String =
    """WITH ev AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
      |h AS (SELECT event_type, c, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
      |cm AS (SELECT event_type, c, cnt,
      |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM h),
      |b AS (SELECT event_type, n,
      |    MIN(CASE WHEN cum * 100 >= n * 1 THEN c END) AS p01_cents,
      |    MIN(CASE WHEN cum * 100 >= n * 99 THEN c END) AS p99_cents
      |  FROM cm GROUP BY 1, 2)
      |SELECT event_type, n, p01_cents, p99_cents,
      |  CAST(SUM(CASE WHEN c < p01_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_low,
      |  CAST(SUM(CASE WHEN c > p99_cents THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_high,
      |  CAST(SUM(GREATEST(p01_cents, LEAST(p99_cents, c))) AS BIGINT) // n
      |    AS mean_clipped_cents
      |FROM ev JOIN b USING (event_type)
      |GROUP BY event_type, n, p01_cents, p99_cents
      |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q185_winsorized_stats" -> (winsorizedStats _),
    "q184_conversion_latency" -> (conversionLatency _),
    "q175_retention_hazard" -> (retentionHazard _),
    "q173_replayed_sessions" -> (replayedSessions _),
    "q172_markov_backtest" -> (markovBacktest _),
    "q166_rolling_wau" -> (rollingActiveUsers _),
    "q152_behavior_diversity" -> (behaviorDiversity _),
    "q153_activity_streaks" -> (activityStreaks _),
    "q147_ab_test" -> (abTest _),
    "q131_markov_transitions" -> (markovTransitions _),
    "q132_kmv_set_ops" -> (kmvSetOps _),
    "q134_linear_attribution" -> (linearAttribution _),
    "q137_daily_new_users" -> ((s: SparkSession, dir: String) =>
      dailyNewUsers(s, dir, materialize = _.localCheckpoint())),
    "q99_sliding_event_rates" -> (slidingEventRates _),
    "q96_platform_click_pressure" -> (platformClickPressure _),
    "q98_click_pressure_broadcast" -> (platformClickPressureBroadcast _),
    "q95_value_outliers" -> ((s: SparkSession, dir: String) =>
      valueOutliers(s, dir, materialize = _.localCheckpoint())),
    "q79_funnel" -> (funnel _),
    "q80_cohort_retention" -> (cohortRetention _),
    "q81_hourly_anomalies" -> (hourlyAnomalies _),
    "q83_kmv_distinct" -> (kmvDistinct _),
    "q84_click_attribution" -> (clickAttribution _),
    "q86_incremental_cube" -> (incrementalCube _),
    "q121_merge_maintained_cube" -> (mergeMaintainedCube _),
    "q20_hourly_event_stats" -> (hourlyEventStats _),
    "q21_event_json_stats" -> (eventJsonStats _),
    "q22_user_sessions" -> (userSessions _),
    "q23_session_windows" -> (sessionWindows _),
  )

  val oracles: Map[String, String] = Map(
    "q185_winsorized_stats" -> winsorizedStatsSql,
    "q184_conversion_latency" -> conversionLatencySql,
    "q175_retention_hazard" -> retentionHazardSql,
    "q173_replayed_sessions" -> replayedSessionsSql,
    "q172_markov_backtest" -> markovBacktestSql,
    "q166_rolling_wau" -> rollingActiveUsersSql,
    "q152_behavior_diversity" -> behaviorDiversitySql,
    "q153_activity_streaks" -> activityStreaksSql,
    "q147_ab_test" -> abTestSql,
    "q131_markov_transitions" -> markovTransitionsSql,
    "q132_kmv_set_ops" -> kmvSetOpsSql,
    "q134_linear_attribution" -> linearAttributionSql,
    "q137_daily_new_users" -> dailyNewUsersSql,
    "q99_sliding_event_rates" -> slidingEventRatesSql,
    "q96_platform_click_pressure" -> platformClickPressureSql,
    "q98_click_pressure_broadcast" -> platformClickPressureSql,
    "q95_value_outliers" -> valueOutliersSql,
    "q79_funnel" -> funnelSql,
    "q80_cohort_retention" -> cohortRetentionSql,
    "q81_hourly_anomalies" -> hourlyAnomaliesSql,
    "q83_kmv_distinct" -> kmvDistinctSql,
    "q84_click_attribution" -> clickAttributionSql,
    "q86_incremental_cube" -> incrementalCubeSql,
    "q121_merge_maintained_cube" -> mergeMaintainedCubeSql,
    "q20_hourly_event_stats" -> hourlyEventStatsSql,
    "q21_event_json_stats" -> eventJsonStatsSql,
    "q22_user_sessions" -> userSessionsSql,
    "q23_session_windows" -> sessionWindowsSql,
  )
}
