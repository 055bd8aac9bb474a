package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Fixtures, Tables}
import graft.operators.{AsOfJoin, MergeUpsert, RangeJoin, Scd2, SkewJoin}
import graft.functions.LarkFunctions
import graft.functions.Exact.sumRevenue

/** Warehouse-layer operators (SCD2, MERGE upsert, bronze normalize)
  * exercised as oracle-checkable queries over the test star schema.
  * The operators themselves live in [[graft.operators]]; these wrappers
  * apply them to the driver's test tables so the DuckDB gate covers the
  * reference's core semantics (SURVEY.md §2.8, S9, §2.2/F4).
  */
object WarehouseQueries {

  // ---------------------------------------------------------------- q30
  /** SCD2 dimension rebuilt from event history: each user's latest
    * event per day is a version (the reference's one-batch-per-day
    * shape); versions run through [[Scd2.fromHistory]] — one window
    * pass, one shuffle on the natural key, including the reference's
    * expire-quirks. */
  def scd2UserDim(s: SparkSession, dir: String): DataFrame = {
    val byUserDay = Window
      .partitionBy(col("user_id"), date_trunc("day", col("ts")))
      .orderBy(col("event_id").desc)
    val versions = Tables.events(s, dir)
      .withColumn("rn", row_number().over(byUserDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("datetime_updated"),
              col("event_type"), col("value"))
    Scd2.fromHistory(versions, "user_id", "datetime_updated", "user_sur_id")
      // timestamp_ntz on surfaced timestamps: session TZ is pinned UTC, so
      // values are unchanged but the schema matches the oracle's naive ts.
      .select(col("user_sur_id"), col("user_id"), col("event_type"), col("value"),
              col("datetime_updated").cast("timestamp_ntz").as("datetime_updated"),
              col("valid_from").cast("timestamp_ntz").as("valid_from"),
              col("valid_to").cast("timestamp_ntz").as("valid_to"),
              col("is_current"))
      .orderBy("user_id", "valid_from")
  }

  val scd2UserDimSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value,
      |         date_trunc('second', ts) AS ts, date_trunc('day', ts) AS d
      |  FROM events),
      |v AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, d
      |                                 ORDER BY event_id DESC) AS rn
      |    FROM e) WHERE rn = 1)
      |SELECT
      |  md5(CAST(user_id AS VARCHAR) || strftime(ts, '%Y-%m-%d %H:%M:%S')) AS user_sur_id,
      |  user_id, event_type, value,
      |  COALESCE(LEAD(ts) OVER w, ts) AS datetime_updated,
      |  ts AS valid_from,
      |  COALESCE(LEAD(ts) OVER w, TIMESTAMP '2099-01-01 12:00:00') AS valid_to,
      |  (LEAD(ts) OVER w IS NULL) AS is_current
      |FROM v
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |ORDER BY user_id, valid_from""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Keyed MERGE upsert: a source batch of updated + brand-new orders
    * merged into the orders table on the primary key. */
  def mergeUpsertOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val cols = o.columns.toSeq
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .select(cols.map(col): _*)
    val inserts = o.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 2000000)
      .withColumn("o_orderstatus", lit("N"))
      .select(cols.map(col): _*)
    MergeUpsert(o, updates.unionByName(inserts), Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  val mergeUpsertOrdersSql: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
      |         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |ins AS (
      |  SELECT o_orderkey + 2000000 AS o_orderkey, o_custkey,
      |         'N' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
      |SELECT * FROM (
      |  SELECT t.* FROM orders t
      |  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = t.o_orderkey)
      |  UNION ALL SELECT * FROM src)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Bronze normalization semantics on the events table: epoch-millis
    * floor-to-second conversion (F4), defensive null-fill (P6), rename +
    * cast projection (P1-P3). */
  def bronzeNormalizeEvents(s: SparkSession, dir: String): DataFrame =
    Tables.eventsRaw(s, dir)
      .select(col("event_id"), unix_millis(col("ts")).as("ms"),
              col("user_id"), col("value"))
      .select(
        col("event_id").as("bronze_event_id"),
        LarkFunctions.epochMillisToTs(col("ms")).cast("timestamp_ntz").as("event_time"),
        col("user_id").cast("string").as("user_ref"),
        coalesce(when(col("value") > 100, col("value")), lit(0.0)).as("big_value"))
      .orderBy("bronze_event_id")

  val bronzeNormalizeEventsSql: String =
    """SELECT event_id AS bronze_event_id,
      |  make_timestamp(CAST(floor(epoch_ms(ts) / 1000) AS BIGINT) * 1000000) AS event_time,
      |  CAST(user_id AS VARCHAR) AS user_ref,
      |  COALESCE(CASE WHEN value > 100 THEN value END, 0.0) AS big_value
      |FROM events ORDER BY bronze_event_id""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Gold cube derivation over the test star schema: per-user-day
    * check-in/out (min/max event ts) run through the reference's
    * attendance-report math — +7h display shift (F6), fractional
    * duration minutes/hours (F7), clip-upper-0 + abs lateness (F8),
    * truncating int64 casts — the exact Gold.cubeAttendanceReport
    * expression shapes with a DuckDB oracle (etl.py:631-653). */
  def attendanceCube(s: SparkSession, dir: String): DataFrame = {
    import LarkFunctions.{clipAbs, durationMinutes, plus7h}
    val day = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(min(col("ts")).as("check_in"), max(col("ts")).as("check_out"),
           count(lit(1)).as("n_events"))
    val shiftIn = col("d") + expr("INTERVAL 8 HOURS")
    val shiftOut = col("d") + expr("INTERVAL 17 HOURS 30 MINUTES")
    day.select(
      date_format(plus7h(col("d")), "yyyy-MM").as("attendance_month"),
      to_date(plus7h(col("d"))).as("attendance_date"),
      col("user_id"),
      clipAbs(durationMinutes(plus7h(col("check_in")), shiftIn))
        .cast("long").as("late_time_minute"),
      clipAbs(durationMinutes(plus7h(col("check_out")), shiftOut))
        .cast("long").as("early_time_minute"),
      ((col("check_out").cast("double") - col("check_in").cast("double")) / 3600.0)
        .cast("long").as("working_duration_hours"),
      col("n_events"))
      .orderBy("user_id", "attendance_date")
  }

  val attendanceCubeSql: String =
    """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts,
      |                  date_trunc('day', date_trunc('second', ts)) AS d
      |           FROM events),
      |day AS (SELECT user_id, d, MIN(ts) AS ci, MAX(ts) AS co,
      |               COUNT(*) AS n_events
      |        FROM e GROUP BY 1, 2)
      |SELECT strftime(d + INTERVAL 7 HOUR, '%Y-%m') AS attendance_month,
      |  CAST(d + INTERVAL 7 HOUR AS DATE) AS attendance_date,
      |  user_id,
      |  CAST(floor(GREATEST(0.0, -(epoch(ci + INTERVAL 7 HOUR)
      |    - epoch(d + INTERVAL 8 HOUR)) / 60.0)) AS BIGINT) AS late_time_minute,
      |  CAST(floor(GREATEST(0.0, -(epoch(co + INTERVAL 7 HOUR)
      |    - epoch(d + INTERVAL 17 HOUR + INTERVAL 30 MINUTE)) / 60.0)) AS BIGINT)
      |    AS early_time_minute,
      |  CAST(floor((epoch(co) - epoch(ci)) / 3600.0) AS BIGINT)
      |    AS working_duration_hours,
      |  n_events
      |FROM day ORDER BY user_id, attendance_date""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Per-event lateness deltas: raw fractional duration minutes (F7)
    * and the clipAbs lateness transform (F8), double-exact across
    * engines (integer-second epochs over 60.0). */
  def eventLateness(s: SparkSession, dir: String): DataFrame = {
    import LarkFunctions.{clipAbs, durationMinutes, plus7h}
    val shiftIn = date_trunc("day", col("ts")) + expr("INTERVAL 8 HOURS")
    Tables.events(s, dir).select(
      col("event_id"),
      durationMinutes(plus7h(col("ts")), shiftIn).as("delta_minute"),
      clipAbs(durationMinutes(plus7h(col("ts")), shiftIn)).as("late_minute"))
      .orderBy("event_id")
  }

  val eventLatenessSql: String =
    """SELECT event_id, delta_minute, GREATEST(0.0, -delta_minute) AS late_minute
      |FROM (
      |  SELECT event_id,
      |    (epoch(date_trunc('second', ts) + INTERVAL 7 HOUR)
      |     - epoch(date_trunc('day', date_trunc('second', ts)) + INTERVAL 8 HOUR))
      |    / 60.0 AS delta_minute
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Activity by VN-local display day: the +7h shift (F6) moves late-UTC
    * events into the next local day, so the grouping differs from a UTC
    * day cut — exercising the display-shift semantics end to end. */
  def localDayActivity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(LarkFunctions.plus7h(col("ts"))).as("local_date"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("local_date")

  val localDayActivitySql: String =
    """SELECT CAST(date_trunc('second', ts) + INTERVAL 7 HOUR AS DATE) AS local_date,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY local_date""".stripMargin

  // ---------------------------------------------------------------- q36
  /** As-of join: each event looks up the dim version (per-user-per-day
    * latest event, the q30 version stream) in effect AT its event time
    * — [[AsOfJoin]]'s union+window encoding, checked against DuckDB's
    * native ASOF JOIN. */
  def asofDimLookup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val byUserDay = Window
      .partitionBy(col("user_id"), date_trunc("day", col("ts")))
      .orderBy(col("event_id").desc)
    val versions = Tables.events(s, dir)
      .withColumn("rn", row_number().over(byUserDay)).filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("vts"), col("value").as("version_value"))
    AsOfJoin.asOf(e, versions, "user_id", "ts", "vts", Seq("version_value"))
      .select(col("event_id"), col("user_id"),
              col("ts").cast("timestamp_ntz").as("ts"), col("version_value"))
      .orderBy("event_id")
  }

  val asofDimLookupSql: String =
    """WITH e AS (SELECT event_id, user_id, value, date_trunc('second', ts) AS ts,
      |                  date_trunc('day', date_trunc('second', ts)) AS d
      |           FROM events),
      |v AS (SELECT user_id, ts AS vts, value AS version_value FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, d
      |                               ORDER BY event_id DESC) AS rn
      |  FROM e) WHERE rn = 1)
      |SELECT e.event_id, e.user_id, e.ts, v.version_value
      |FROM e ASOF LEFT JOIN v ON e.user_id = v.user_id AND e.ts >= v.vts
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Salted skew join: customer enrichment of orders through
    * [[SkewJoin.saltedJoin]] — the salt must be invisible in the
    * result, so the oracle is the PLAIN join (same rows, aggregated
    * for a stable compare). */
  def saltedEnrich(s: SparkSession, dir: String): DataFrame =
    SkewJoin.saltedJoin(
      Tables.load(s, dir, "orders"),
      Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
      "o_custkey", salt = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           graft.functions.Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")

  val saltedEnrichSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Overlapping price bands for q38 — overlap makes it a genuine
    * interval join (several bands can claim one order), not a binning. */
  private val priceBands: Seq[(String, Long, Long)] =
    (0 until 20).map(i => (f"band_$i%02d", i * 15000L, i * 15000L + 29999L))

  // ---------------------------------------------------------------- q38
  /** Interval (band) join via [[RangeJoin.bucketed]]: every order
    * matched to every overlapping price band as a bucketized equi-join
    * — Spark's own plan for the BETWEEN predicate would be a
    * nested-loop; the oracle runs the plain BETWEEN join. */
  def priceBandJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = priceBands.toDF("band", "lo", "hi")
    RangeJoin.bucketed(
      Tables.load(s, dir, "orders"), bands, "o_totalprice", "lo", "hi",
      bucketWidth = 15000L)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
           graft.functions.Exact.sumMoney(col("o_totalprice")).as("total"))
      .orderBy("band")
  }

  val priceBandJoinSql: String = {
    val values = priceBands
      .map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")
    s"""WITH bands(band, lo, hi) AS (VALUES $values)
       |SELECT band, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       |FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
       |GROUP BY band ORDER BY band""".stripMargin
  }

  // ---------------------------------------------------------------- q97
  /** The full lake read path under the oracle gate: lineitem rewritten
    * Z-ORDERED by (ship day, price) into 16 files, a per-file min/max
    * stats index published beside it ([[graft.operators.DataSkipping]]),
    * then a one-month probe that reads ONLY the files whose ship-day
    * range overlaps — and must still produce values bit-identical to
    * DuckDB's filtered scan of the ORIGINAL table. Layout + index
    * build once per (JVM, sf) and amortize over probes, mirroring how
    * OPTIMIZE amortizes over queries at 100 TB. */
  def prunedShipdateProbe(s: SparkSession, dir: String): DataFrame = {
    val layout = Fixtures("graft-zorder", dir) {
      val p = Fixtures.tempDir("graft-zorder").resolve("lineitem").toString
      val li = Tables.load(s, dir, "lineitem")
        .withColumn("ship_days",
          datediff(to_date(col("l_shipdate")), lit("1970-01-01")))
      graft.operators.ZOrder.writeZOrdered(li, p,
        Seq("ship_days", "l_extendedprice"), nFiles = 16)
      graft.operators.DataSkipping.writeIndex(s, p, Seq("ship_days"))
      p
    }
    val lo = java.time.LocalDate.of(1995, 3, 1).toEpochDay
    val hi = java.time.LocalDate.of(1995, 3, 31).toEpochDay
    graft.operators.DataSkipping.readPruned(s, layout, "ship_days", lo, hi)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(graft.functions.Exact.dec(col("l_quantity"), 12, 2))
          .cast("double").as("sum_qty"),
        count(lit(1)).as("n_items"),
        sum(graft.functions.Exact.dec(col("l_extendedprice"), 12, 2))
          .cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  val prunedShipdateProbeSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q179
  /** Bloom-index point lookup — [[graft.operators.DataSkipping]]'s
    * bloom tier under the oracle gate: orders rewritten into 16 files
    * hash-clustered by CUSTOMER (so an orderkey lives in exactly one
    * file but the files' orderkey [min,max] ranges all span the whole
    * key space — the layout min/max skipping cannot prune), a per-file
    * bloom index over `o_orderkey` published beside it, then two point
    * probes: the max orderkey (a hit — the bloom admits ~1 file of 16)
    * and max+1 (absent — every filter rejects, ZERO files open). The
    * result must equal DuckDB's filtered scan of the original table;
    * pruning counts are pinned by `DataSkippingSpec`, the oracle pins
    * that pruning never costs rows. Probe keys derive from the data
    * (scalar max — one driver row by contract, q90's discipline). */
  def bloomPointLookup(s: SparkSession, dir: String): DataFrame = {
    val layout = Fixtures("graft-bloom", dir) {
      val p = Fixtures.tempDir("graft-bloom").resolve("orders").toString
      Tables.load(s, dir, "orders")
        .repartition(16, col("o_custkey"))
        .write.parquet(p)
      // ~16 bits/item at the largest per-file count this layout sees
      graft.operators.DataSkipping.writeBloomIndex(s, p, "o_orderkey",
        expectedItems = 1L << 14, numBits = 1L << 18)
      p
    }
    val hit = Tables.load(s, dir, "orders")
      .agg(max(col("o_orderkey"))).head().getLong(0)
    import graft.operators.DataSkipping.readPrunedByKey
    readPrunedByKey(s, layout, "o_orderkey", hit)
      .unionByName(readPrunedByKey(s, layout, "o_orderkey", hit + 1))
      .orderBy("o_orderkey")
  }

  val bloomPointLookupSql: String =
    """SELECT * FROM orders
      |WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders)
      |   OR o_orderkey = (SELECT MAX(o_orderkey) + 1 FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q94
  /** One-pass column profile of `orders` — see
    * [[graft.operators.TableProfile]]. */
  def profileOrders(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableProfile.profile(
      graft.core.Tables.load(s, dir, "orders"))

  val profileOrdersSql: String = {
    def row(c: String, num: Boolean): String = {
      val minMax =
        if (num) s"CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num"
        else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num"
      s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, $minMax
         |FROM orders""".stripMargin
    }
    Seq(row("o_orderkey", num = true), row("o_custkey", num = true),
      row("o_orderstatus", num = false), row("o_totalprice", num = true),
      row("o_orderdate", num = false), row("o_orderpriority", num = false))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---------------------------------------------------------------- q107
  /** Declarative constraint audit over `orders` — four row rules in
    * ONE scan (shared aggregate, `stack`-unpivoted to per-rule rows)
    * plus a broadcast-anti-join FK check against `customer`; the
    * validation report a warehouse runs before publish. NOT-TRUE
    * violation semantics: a NULL predicate result is a violation. */
  def constraintAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ConstraintAudit
    import graft.operators.ConstraintAudit.Rule
    val o = Tables.load(s, dir, "orders")
    val rows = ConstraintAudit.audit(o, Seq(
      Rule("totalprice_positive", col("o_totalprice") > 0),
      Rule("orderdate_present", col("o_orderdate").isNotNull),
      Rule("status_in_domain", col("o_orderstatus").isin("O", "F", "P")),
      Rule("priority_wellformed", col("o_orderpriority").rlike("^[1-5]-"))))
    val fk = ConstraintAudit.fkAudit("fk_custkey_in_customer",
      o, "o_custkey", Tables.load(s, dir, "customer"), "c_custkey")
    rows.unionByName(fk).orderBy("rule")
  }

  val constraintAuditSql: String = {
    def row(name: String, violation: String): String =
      s"""SELECT '$name' AS rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $violation THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
         |  CAST(SUM(CASE WHEN $violation THEN 1 ELSE 0 END) AS BIGINT) = 0 AS pass
         |FROM orders""".stripMargin
    Seq(
      row("totalprice_positive", "NOT COALESCE(o_totalprice > 0, FALSE)"),
      row("orderdate_present", "o_orderdate IS NULL"),
      row("status_in_domain", "NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE)"),
      row("priority_wellformed", "NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)"),
      """SELECT 'fk_custkey_in_customer' AS rule,
        |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
        |  CAST((SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        |        ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS BIGINT)
        |    AS n_violations,
        |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
        |   ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0 AS pass""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY rule")
  }

  // ---------------------------------------------------------------- q114
  /** The DSv2 connector under the oracle gate: documents exported once
    * per (JVM, sf) as gzip JSONL shards, scanned back through
    * `format("graft-jsonl")` ([[graft.sources.dsv2.JsonlDataSource]])
    * with the lang filter PUSHED INTO the reader and columns pruned to
    * the three referenced fields, aggregated per source — and the
    * result must be bit-identical to DuckDB reading the ORIGINAL
    * parquet. Round-trips JSON escaping (newlines, quotes, unicode)
    * through a real connector, not just the built-in reader. */
  def dsv2JsonlScan(s: SparkSession, dir: String): DataFrame = {
    val path = Fixtures("graft-jsonl-export", dir) {
      val p = Fixtures.tempDir("graft-jsonl-export").resolve("documents").toString
      graft.sources.JsonlCorpus.write(Tables.load(s, dir, "documents"), p,
        partitionCol = None)
      p
    }
    s.read.format("graft-jsonl").load(path)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        countDistinct(col("doc_id")).as("n_distinct_ids"))
      .orderBy("source")
  }

  val dsv2JsonlScanSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  COUNT(DISTINCT doc_id) AS n_distinct_ids
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q199
  /** Catalog schema evolution under the oracle gate: a partitioned
    * `GraftCatalog` table is populated (generation 1: even doc_ids),
    * `ALTER TABLE ... ADD COLUMN`-ed, populated again (generation 2:
    * odd doc_ids, carrying the new column), and aggregated ACROSS the
    * generations — generation-1 shards yield null for the evolved
    * column by schema-on-read, so `COUNT(chars_bucket)` counts exactly
    * the post-evolution rows. The oracle recomputes the same
    * generation split from the original parquet. Built once per
    * (JVM, sf); the catalog NAME embeds the sf dir because catalog
    * instances are cached per session by name (a conf re-point after
    * first use would be ignored). */
  def catalogEvolution(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_evo_${math.abs(dir.hashCode).toString}"
    val root = Fixtures("graft-evo", dir) {
      val r = Fixtures.tempDir("graft-evo").toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", r)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
      s.sql(s"""CREATE TABLE $cat.wh.docs
               |  (doc_id BIGINT, lang STRING, n_chars BIGINT)
               |  PARTITIONED BY (lang)""".stripMargin)
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0).writeTo(s"$cat.wh.docs").append()
      s.sql(s"ALTER TABLE $cat.wh.docs ADD COLUMN chars_bucket BIGINT")
      docs.filter(col("doc_id") % 2 === 1)
        .withColumn("chars_bucket", expr("n_chars div 100"))
        .writeTo(s"$cat.wh.docs").append()
      r
    }
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  COUNT(chars_bucket) AS n_evolved,
         |  CAST(SUM(chars_bucket) AS BIGINT) AS sum_bucket
         |FROM $cat.wh.docs GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val catalogEvolutionSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_evolved,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars // 100 END) AS BIGINT)
      |    AS sum_bucket
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q202
  /** SQL `MERGE INTO` under the oracle gate — the reference's central
    * BigQuery operation (S9) now as a first-class DSv2 statement over
    * a [[graft.sources.dsv2.GraftCatalog]] table
    * (`SupportsRowLevelOperations`, group copy-on-write: runtime group
    * filtering narrows the rewrite to affected partitions, the scanned
    * shard set IS the replaced set). One MERGE exercises all three
    * branches — matched-delete, matched-update, not-matched-insert —
    * and the oracle recomputes the merged state relationally from the
    * original parquet. Built once per (JVM, sf). */
  def sqlMerge(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_mrg_${math.abs(dir.hashCode).toString}"
    val root = Fixtures("graft-merge", dir) {
      val r = Fixtures.tempDir("graft-merge").toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", r)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
      s.sql(s"""CREATE TABLE $cat.wh.dim
               |  (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               |  PARTITIONED BY (o_orderpriority)""".stripMargin)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .writeTo(s"$cat.wh.dim").append()
      orders.filter(col("o_orderkey") % 2 === 0)
        .createOrReplaceTempView("graft_merge_source")
      // all FIVE branch kinds: matched-delete, matched-update,
      // not-matched-insert, and the Spark 4 BY-SOURCE pair (a target
      // row with no source match is pruned or adjusted in the same
      // statement — the "retire stale dim rows" shape)
      s.sql(
        s"""MERGE INTO $cat.wh.dim t USING graft_merge_source src
           |ON t.o_orderkey = src.o_orderkey
           |WHEN MATCHED AND src.o_orderkey % 5 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
           |  VALUES (src.o_orderkey, src.o_orderpriority, src.o_totalprice)
           |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 7 = 0 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE
           |  SET o_totalprice = t.o_totalprice - 1
           |""".stripMargin)
      r
    }
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM $cat.wh.dim GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin)
  }

  val sqlMergeSql: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey % 3 = 0),
      |s AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT t.o_orderkey, t.o_orderpriority,
      |    CASE WHEN s.o_orderkey IS NOT NULL THEN t.o_totalprice + 1
      |         ELSE t.o_totalprice - 1 END AS o_totalprice
      |  FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
      |  WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_orderkey % 5 = 0)
      |    AND NOT (s.o_orderkey IS NULL AND t.o_orderkey % 7 = 0)
      |  UNION ALL
      |  SELECT s.o_orderkey, s.o_orderpriority, s.o_totalprice FROM s
      |  WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey))
      |SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q204
  /** Merge-on-read row-level operations under the oracle gate: a
    * catalog table with `graft.row-level.mode = merge-on-read`
    * ([[graft.sources.dsv2.JsonlMorRowLevelOperation]], Spark's
    * delta-based `WriteDelta` plan over `SupportsDelta`) absorbs an
    * interleaved wave sequence — five-branch MERGE, row-level DELETE,
    * second MERGE — writing position-delete sidecars + append shards
    * and rewriting ZERO existing data shards, then `CALL compact`
    * retires the sidecars, and the final read must still match
    * DuckDB's relational recomputation of the same waves. This is the
    * q202 copy-on-write path's twin: same statement shapes, opposite
    * write amplification contract. Built once per (JVM, sf). */
  def sqlMergeOnRead(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_mor_${math.abs(dir.hashCode).toString}"
    val root = Fixtures("graft-mor", dir) {
      val r = Fixtures.tempDir("graft-mor").toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", r)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
      s.sql(s"""CREATE TABLE $cat.wh.dim
               |  (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               |  PARTITIONED BY (o_orderpriority)
               |  TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')"""
        .stripMargin)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .writeTo(s"$cat.wh.dim").append()
      orders.filter(col("o_orderkey") % 2 === 0)
        .createOrReplaceTempView("graft_mor_w1")
      orders.filter(col("o_orderkey") % 5 === 0)
        .createOrReplaceTempView("graft_mor_w2")
      s.sql(
        s"""MERGE INTO $cat.wh.dim t USING graft_mor_w1 src
           |ON t.o_orderkey = src.o_orderkey
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 1
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
           |  VALUES (src.o_orderkey, src.o_orderpriority, src.o_totalprice)
           |""".stripMargin)
      s.sql(s"DELETE FROM $cat.wh.dim WHERE o_orderkey % 7 = 0")
      s.sql(
        s"""MERGE INTO $cat.wh.dim t USING graft_mor_w2 src
           |ON t.o_orderkey = src.o_orderkey
           |WHEN MATCHED AND src.o_orderkey % 4 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 10
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderpriority, o_totalprice)
           |  VALUES (src.o_orderkey, src.o_orderpriority, src.o_totalprice)
           |""".stripMargin)
      // retire the accumulated sidecars; answers must not move
      s.sql(s"CALL $cat.system.compact('wh.dim', max_shards => 4)")
      r
    }
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM $cat.wh.dim GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin)
  }

  val sqlMergeOnReadSql: String =
    """WITH t0 AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice AS v
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |w1 AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice AS v
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |m1 AS (
      |  SELECT t0.k, t0.p,
      |    CASE WHEN w1.k IS NOT NULL THEN t0.v + 1 ELSE t0.v END AS v
      |  FROM t0 LEFT JOIN w1 ON t0.k = w1.k
      |  UNION ALL
      |  SELECT w1.k, w1.p, w1.v FROM w1
      |  WHERE NOT EXISTS (SELECT 1 FROM t0 WHERE t0.k = w1.k)),
      |d1 AS (SELECT * FROM m1 WHERE k % 7 <> 0),
      |w2 AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS p, o_totalprice AS v
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |m2 AS (
      |  SELECT d1.k, d1.p,
      |    CASE WHEN w2.k IS NOT NULL THEN d1.v + 10 ELSE d1.v END AS v
      |  FROM d1 LEFT JOIN w2 ON d1.k = w2.k
      |  WHERE NOT (w2.k IS NOT NULL AND w2.k % 4 = 0)
      |  UNION ALL
      |  SELECT w2.k, w2.p, w2.v FROM w2
      |  WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.k = w2.k))
      |SELECT p AS o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM m2 GROUP BY p ORDER BY p""".stripMargin

  // ---------------------------------------------------------------- q205
  /** A persisted SQL VIEW in the v2 catalog under the oracle gate:
    * `CREATE VIEW` routed through [[graft.sql.GraftViewSqlParser]]
    * (vanilla Spark 4.1 refuses view DDL on non-session catalogs),
    * the aggregate read back THROUGH the view by
    * [[graft.sql.GraftViewSubstitution]] — stored SQL text parsed,
    * creation-context re-qualified, column aliases re-applied — and
    * DuckDB recomputing the same aggregate relationally. Built once
    * per (JVM, sf). */
  def viewRouted(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_vw_${math.abs(dir.hashCode).toString}"
    val root = Fixtures("graft-view", dir) {
      val r = Fixtures.tempDir("graft-view").toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", r)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.wh")
      s.sql(s"""CREATE TABLE $cat.wh.orders_s
               |  (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)"""
        .stripMargin)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 2 === 0)
        .writeTo(s"$cat.wh.orders_s").append()
      s.sql(
        s"""CREATE VIEW $cat.wh.big_orders (prio, n, total) AS
           |SELECT o_orderpriority, COUNT(*),
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |FROM $cat.wh.orders_s
           |WHERE o_totalprice > 1000
           |GROUP BY o_orderpriority""".stripMargin)
      r
    }
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.dsv2.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"SELECT prio, n, total FROM $cat.wh.big_orders ORDER BY prio")
  }

  val viewRoutedSql: String =
    """SELECT o_orderpriority AS prio, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice > 1000
      |GROUP BY 1 ORDER BY prio""".stripMargin

  // ---------------------------------------------------------------- q203
  /** Catalog FUNCTIONS under the oracle gate: a SQL-text query calling
    * `graft_fn.system.word_ngrams` / `coerce_numeric` — the DSv2
    * `FunctionCatalog` resolution + magic-method Invoke path
    * ([[graft.sources.dsv2.GraftSqlFunctions]]) — aggregated over the
    * corpus and recomputed relationally by DuckDB (trigram count of a
    * w-word doc is max(w-2, 0); the coercion of a numeric string is
    * the number). Proves the catalog-function surface end-to-end, not
    * just at the spec level. */
  def catalogFnNgrams(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_fn", "graft.sources.dsv2.GraftCatalog")
    // functions don't touch storage, but the catalog requires a root
    s.conf.set("spark.sql.catalog.graft_fn.root",
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    Tables.load(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql(
      """SELECT lang,
        |  CAST(SUM(size(graft_fn.system.word_ngrams(text, 3))) AS BIGINT)
        |    AS total_trigrams,
        |  CAST(SUM(graft_fn.system.coerce_numeric(CAST(n_chars AS STRING)))
        |    AS BIGINT) AS coerced_chars,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val catalogFnNgramsSql: String =
    """SELECT lang,
      |  CAST(SUM(GREATEST(len(string_split(text, ' ')) - 2, 0)) AS BIGINT)
      |    AS total_trigrams,
      |  CAST(SUM(n_chars) AS BIGINT) AS coerced_chars,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q206
  /** Catalog AGGREGATE functions under the oracle gate — the
    * [[graft.sources.dsv2.GraftSqlFunctions]] `AggregateFunction`
    * face: `graft_fn.system.kmv_sketch` / `hdr_histogram` aggregated
    * per language over the corpus (Spark plans the bound V2 aggregate
    * as a V2Aggregator with map-side partials), reduced to scalars —
    * sketch size, the k-th smallest distinct hash, bucket count,
    * modal bucket count, total count — that DuckDB recomputes
    * relationally (same md5-prefix hash as q116; the HDR bucket
    * function re-expressed with integer `bin()` arithmetic, no
    * floating log). */
  def catalogAggFns(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft_fn", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_fn.root",
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    Tables.load(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql(
      """WITH agg AS (
        |  SELECT lang,
        |    graft_fn.system.kmv_sketch(
        |      CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)
        |        AS BIGINT), 32) AS s,
        |    graft_fn.system.hdr_histogram(n_chars) AS hh
        |  FROM documents GROUP BY lang)
        |SELECT lang,
        |  CAST(size(s) AS BIGINT) AS sketch_n,
        |  element_at(s, size(s)) AS kth_hash,
        |  CAST(size(hh) AS BIGINT) AS n_buckets,
        |  CAST(array_max(transform(hh, x -> x.cnt)) AS BIGINT) AS max_cnt,
        |  CAST(aggregate(transform(hh, x -> x.cnt), 0L, (a, b) -> a + b)
        |    AS BIGINT) AS n_rows
        |FROM agg ORDER BY lang""".stripMargin)
  }

  val catalogAggFnsSql: String =
    """WITH hv AS (
      |  SELECT DISTINCT lang,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
      |      AS h
      |  FROM documents),
      |ranked AS (
      |  SELECT lang, h,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS nd
      |  FROM hv),
      |kmv AS (
      |  SELECT lang, CAST(LEAST(nd, 32) AS BIGINT) AS sketch_n,
      |    h AS kth_hash
      |  FROM ranked WHERE rn = LEAST(nd, 32)),
      |bucketed AS (
      |  SELECT lang,
      |    CASE WHEN n_chars < 16 THEN n_chars
      |         ELSE (length(bin(n_chars)) - 1) * 16 +
      |              ((n_chars >> (length(bin(n_chars)) - 5)) & 15)
      |    END AS bucket
      |  FROM documents),
      |hdr AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |    CAST(SUM(cnt) AS BIGINT) AS n_rows
      |  FROM (SELECT lang, bucket, COUNT(*) AS cnt
      |        FROM bucketed GROUP BY lang, bucket)
      |  GROUP BY lang)
      |SELECT lang, sketch_n, kth_hash, n_buckets, max_cnt, n_rows
      |FROM kmv JOIN hdr USING (lang) ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q188
  /** Storage-partitioned join through the DSv2 connector: two
    * lang-partitioned `graft-jsonl` layouts (corpus facts + per-lang
    * mean-length dims, several shards per lang dir) are joined on the
    * partition column and re-aggregated — and the whole thing plans
    * with ZERO hash exchanges. Both scans opt in via
    * `.option("spj", true)`, report `KeyGroupedPartitioning(lang)`
    * ([[graft.sources.dsv2.JsonlScan.outputPartitioning]]), and carry
    * per-shard `HasPartitionKey` rows; under
    * `spark.sql.sources.v2.bucketing.enabled` Spark groups the shards
    * by lang and the sort-merge join + final aggregate both run on the
    * storage partitioning. The function REQUIRES that plan shape (a
    * merge join and no `Exchange hashpartitioning` anywhere) before
    * returning, so the green oracle row certifies the co-located plan
    * computed the exact joined answer — at 100 TB this is two
    * corpus-scale tables joined with no shuffle of either side. */
  def spjDocJoin(s: SparkSession, dir: String): DataFrame = {
    val root = Fixtures("graft-spj", dir) {
      val r = Fixtures.tempDir("graft-spj").toString
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      // round-robin into 4 writers so every lang dir holds SEVERAL
      // shards — the key-grouping under test coalesces them per lang
      graft.sources.JsonlCorpus.write(docs.repartition(4), s"$r/docs",
        partitionCol = Some("lang"), compression = "none")
      graft.sources.JsonlCorpus.write(
        docs.groupBy(col("lang"))
          .agg(floor(avg(col("n_chars"))).cast("long").as("avg_chars")),
        s"$r/stats", partitionCol = Some("lang"), compression = "none")
      r
    }
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val facts = s.read.format("graft-jsonl")
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .option("spj", "true").load(s"$root/docs")
    val stats = s.read.format("graft-jsonl")
      .schema(StructType(Seq(StructField("lang", StringType),
        StructField("avg_chars", LongType))))
      .option("spj", "true").load(s"$root/stats")
    val df = facts.hint("merge").join(stats, Seq("lang"))
      .filter(col("n_chars") > col("avg_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_above"),
        sum(col("n_chars")).cast("bigint").as("chars_above"))
      .orderBy("lang")
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin"),
      s"storage-partitioned join did not plan as a merge join:\n$plan")
    require(!plan.contains("Exchange hashpartitioning"),
      s"storage-partitioned join still shuffles:\n$plan")
    df
  }

  // ---------------------------------------------------------------- q193
  /** The catalog surface under the oracle gate: a corpus is CTAS'd
    * into a `graft.sources.dsv2.GraftCatalog` table (hive-partitioned
    * by lang through the clustered v2 write), one partition is dropped
    * with a metadata-only `DELETE FROM ... WHERE lang = 'zh'`, and the
    * survivors are aggregated by pure SQL against the CATALOG name —
    * DuckDB recomputes from the original parquet with the delete
    * predicate applied. A green row certifies the whole DDL/DML
    * lifecycle (CREATE NAMESPACE/CTAS/DELETE/SELECT) produced exactly
    * the right rows, not just that the pieces individually work. */
  def catalogSqlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q193", "wh") { c =>
      c.sql("CREATE NAMESPACE wh.corpus")
      c.sql(
        s"""CREATE TABLE wh.corpus.docs PARTITIONED BY (lang) AS
           |SELECT doc_id, lang, source, n_chars
           |FROM parquet.`$dir/documents.parquet`""".stripMargin)
      c.sql("DELETE FROM wh.corpus.docs WHERE lang = 'zh'")
    }
    child.sql(
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM wh.corpus.docs
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)
  }

  val catalogSqlRoundtripSql: String =
    """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang IS NULL OR lang <> 'zh'
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q207
  /** The q207/q208 shared fixture: orders range-clustered on
    * `o_orderkey` into an 8-shard catalog table with a min/max + bloom
    * skip index built over the key. */
  private def skipCatalog(s: SparkSession, dir: String): SparkSession =
    Fixtures.catalogSession(s, dir, "graft-cat-q207", "whsk") { c =>
      c.sql("CREATE NAMESPACE whsk.sk")
      c.sql(
        s"""CREATE TABLE whsk.sk.orders AS
           |SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */
           |  o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("""CALL whsk.system.build_skip_index('sk.orders',
              |columns => 'o_orderkey', bloom_columns => 'o_orderkey')""".stripMargin)
    }

  /** The file-skipping index CONSULTED BY CATALOG-TABLE SCANS
    * ([[graft.sources.dsv2.JsonlSkipIndex]] wired into `JsonlScan`
    * planning — q179's sibling, but through pure SQL on a catalog
    * table instead of the parquet helper API): orders CTAS'd
    * range-clustered on `o_orderkey` into a `graft-jsonl` catalog
    * table (8 shards, contiguous key ranges),
    * `CALL build_skip_index(columns/bloom_columns => o_orderkey)`,
    * then two probes — a key-range slice (min/max skipping) and a
    * max-key point lookup (bloom + range). Plan-guarded in-query:
    * both probes must open strictly fewer shards than the table
    * holds; the oracle pins that pruning never costs rows. */
  def skipIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val child = skipCatalog(s, dir)
    // probe keys derive from the data (scalar max — one driver row by
    // contract, q179's discipline)
    val hit = child.sql("SELECT MAX(o_orderkey) AS m FROM whsk.sk.orders")
      .head.getLong(0)
    val slice = child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whsk.sk.orders WHERE o_orderkey <= 640""".stripMargin)
    val point = child.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus
         |FROM whsk.sk.orders WHERE o_orderkey = $hit""".stripMargin)
    val (ns, np) = (slice.rdd.getNumPartitions, point.rdd.getNumPartitions)
    require(ns >= 1 && ns < 8,
      s"skip index did not prune the range probe: $ns of 8 shards planned")
    require(np == 1,
      s"skip index did not prune the point probe to one shard: $np planned")
    slice.unionByName(point).orderBy(col("o_orderkey"))
  }

  val skipIndexProbeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey <= 640
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q208
  /** MIN/MAX/COUNT aggregate pushdown answered FROM the skip index
    * (q207's fixture): every shard of the clustered catalog table is
    * indexed and sidecar-free and the aggregate carries no filters,
    * so `JsonlScan` plans one index-derived partial per shard and the
    * query opens ZERO data files — the metadata-only aggregate a
    * 100 TB `SELECT MIN(ts), MAX(ts), COUNT(*)` health probe needs.
    * Plan-guarded in-query (PushedAggregation must show all three);
    * `JsonlSkipIndexSpec` proves the no-file-open claim by corrupting
    * shards; the oracle pins the values against a DuckDB full scan. */
  def skipIndexAgg(s: SparkSession, dir: String): DataFrame = {
    val child = skipCatalog(s, dir)
    val df = child.sql(
      """SELECT MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM whsk.sk.orders""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains(
      "PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]"),
      s"aggregate not pushed:\n$plan")
    df
  }

  val skipIndexAggSql: String =
    """SELECT MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q209
  /** `CALL cluster_table` under the oracle gate: orders CTAS'd
    * HASH-repartitioned (every shard spans the whole `o_orderkey`
    * space — the layout on which a skip index prunes NOTHING), then
    * sort-rewritten by the procedure into range-clustered shards with
    * the index rebuilt, and probed with the q207 key-range slice.
    * Plan-guarded in-query: the probe must open strictly fewer shards
    * than the table holds — only possible because the rewrite
    * physically reordered the rows; the oracle pins that the rewrite
    * changed no answer. The cluster→stats→skip ladder end-to-end. */
  def clusterTableProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q209", "whcl") { c =>
      c.sql("CREATE NAMESPACE whcl.cl")
      c.sql(
        s"""CREATE TABLE whcl.cl.orders AS
           |SELECT /*+ REPARTITION(8) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("""CALL whcl.system.cluster_table('cl.orders',
              |columns => 'o_orderkey', target_shards => 8)""".stripMargin)
    }
    // plan-guard on the SORT-FREE probe: an ORDER BY adds an exchange
    // whose (AQE-coalesced) partition count would pass regardless of
    // scan pruning
    val planned = child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whcl.cl.orders WHERE o_orderkey <= 640""".stripMargin)
      .rdd.getNumPartitions
    require(planned >= 1 && planned < 8,
      s"cluster_table did not make the probe skippable: $planned of 8 shards")
    child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whcl.cl.orders WHERE o_orderkey <= 640
        |ORDER BY o_orderkey""".stripMargin)
  }

  val clusterTableProbeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey <= 640 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q210
  /** Snapshots + SQL time travel under the oracle gate
    * ([[graft.sources.dsv2.JsonlSnapshots]]): orders CTAS'd into a
    * catalog table, `CALL snapshot(tag => 'base')`, then a row-level
    * DELETE that copy-on-write REWRITES every shard holding 'F' rows
    * — the exact operation that would destroy a naive snapshot's
    * files (retention moves them under `_snapshots/retained/`). The
    * query reads the same table TWICE — `VERSION AS OF 'base'` and
    * live — and DuckDB reproduces both sides from the parquet with
    * and without the delete predicate: time travel is exactly "the
    * data as it was", not approximately. */
  def snapshotTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q210", "whsn") { c =>
      c.sql("CREATE NAMESPACE whsn.sn")
      c.sql(
        s"""CREATE TABLE whsn.sn.orders AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whsn.system.snapshot('sn.orders', tag => 'base')")
      c.sql("DELETE FROM whsn.sn.orders WHERE o_orderstatus = 'F'")
    }
    child.sql(
      """SELECT 'base' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM whsn.sn.orders VERSION AS OF 'base' GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'live' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM whsn.sn.orders GROUP BY o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin)
  }

  val snapshotTimeTravelSql: String =
    """SELECT 'base' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'live' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus
      |ORDER BY src, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q211
  /** `CALL cluster_table` on a PARTITIONED fact table (q209's sibling
    * one rung up): orders CTAS'd partitioned by `o_orderstatus` with
    * 4 hash-spread shards PER DIR (every shard spans the whole key
    * space — within-dir skipping prunes nothing), then sort-rewritten
    * by the procedure — one range shuffle on (partition col, key),
    * per-dir swap — so each dir's shards become range-disjoint and
    * the rebuilt index prunes WITHIN the surviving partition.
    * Plan-guarded in-query: a status+key probe must open strictly
    * fewer shards than the dir held before the rewrite — partition
    * pruning alone cannot get there; the oracle pins that the rewrite
    * changed no answer. */
  def clusterPartitionedProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q211", "whcp") { c =>
      c.sql("CREATE NAMESPACE whcp.cp")
      c.sql(
        s"""CREATE TABLE whcp.cp.orders
           |PARTITIONED BY (o_orderstatus) AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("""CALL whcp.system.cluster_table('cp.orders',
              |columns => 'o_orderkey', target_shards => 6)""".stripMargin)
    }
    // plan-guard on the SORT-FREE probe: an ORDER BY adds an exchange
    // whose (AQE-coalesced) partition count would pass regardless of
    // scan pruning
    val planned = child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whcp.cp.orders
        |WHERE o_orderstatus = 'F' AND o_orderkey <= 640""".stripMargin)
      .rdd.getNumPartitions
    require(planned >= 1 && planned < 4,
      s"partitioned cluster_table did not make the within-dir probe " +
        s"skippable: $planned of the dir's pre-rewrite 4 shards planned")
    child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whcp.cp.orders
        |WHERE o_orderstatus = 'F' AND o_orderkey <= 640
        |ORDER BY o_orderkey""".stripMargin)
  }

  val clusterPartitionedProbeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderstatus = 'F' AND o_orderkey <= 640
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q212
  /** The q212/q217/q222 shared fixture: a merge-on-read orders table
    * with snapshots 'v1' and 'v2' around one appended batch and one MOR
    * DELETE. */
  private def cdcCatalog(s: SparkSession, dir: String): SparkSession =
    Fixtures.catalogSession(s, dir, "graft-cat-q212", "whcd") { c =>
      c.sql("CREATE NAMESPACE whcd.cd")
      c.sql(
        s"""CREATE TABLE whcd.cd.orders
           |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read') AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whcd.system.snapshot('cd.orders', tag => 'v1')")
      c.sql(
        s"""INSERT INTO whcd.cd.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("""DELETE FROM whcd.cd.orders
              |WHERE o_orderstatus = 'F' AND o_orderkey <= 10000000""".stripMargin)
      c.sql("CALL whcd.system.snapshot('cd.orders', tag => 'v2')")
    }

  /** Snapshot CDC ([[graft.sources.dsv2.JsonlChangeFeed]]): a
    * merge-on-read orders table, snapshot 'v1', then one appended
    * batch (keys shifted +10M) and one MOR DELETE of the original 'F'
    * rows (the key guard spares the batch), snapshot 'v2' — the
    * change feed between v1 and v2 must be EXACTLY "the batch
    * inserted, the original F rows deleted", recovered from the
    * manifest diff (added shards + delete-ordinal deltas) with zero
    * row comparison. Guarded
    * in-query: `CALL table_changes` (the metadata-grain summary of
    * the same diff) must report added shards and delta-deletes but
    * ZERO removed shards — MOR deletes must not retire files. The
    * oracle recomputes both sides from the parquet. */
  def snapshotChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val child = cdcCatalog(s, dir)
    val summary = child.sql(
      "CALL whcd.system.table_changes('cd.orders', 'v1', 'v2')").collect()
    val kinds = summary.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    require(kinds.getOrElse("added", 0) >= 1 &&
      kinds.getOrElse("delta_deletes", 0) >= 1 &&
      kinds.getOrElse("removed", 0) == 0,
      s"MOR CDC summary wrong shape: $kinds — MOR deletes must not " +
        "retire shards, the append must add them")
    val catalog = child.sessionState.catalogManager.catalog("whcd")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    graft.sources.dsv2.JsonlChangeFeed
      .between(child, catalog, "cd.orders", "v1", Some("v2"))
      .orderBy(col("_change"), col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q213
  /** RENAME COLUMN as metadata-only schema evolution under the oracle
    * gate: orders CTAS'd, `o_custkey` renamed to `cust_id` (zero data
    * rewrite — generation-1 shards keep the old JSON key), a second
    * generation appended under the new key, then one aggregate over
    * BOTH generations filtered and grouped by the new name. The
    * read-time alias fallback ([[graft.sources.dsv2.JsonlTable.AliasesKey]])
    * must make the old shards answer under the new name — in the
    * filter, the aggregate, and the group — or half the rows vanish
    * and the oracle (which recomputes the doubled union from parquet)
    * catches it. */
  def columnRenameTwoGen(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q213", "whrn") { c =>
      c.sql("CREATE NAMESPACE whrn.rn")
      c.sql(
        s"""CREATE TABLE whrn.rn.orders AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("ALTER TABLE whrn.rn.orders RENAME COLUMN o_custkey TO cust_id")
      c.sql(
        s"""INSERT INTO whrn.rn.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderkey + 10000000 AS o_orderkey, o_custkey AS cust_id,
           |  o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(cust_id) AS BIGINT) AS sum_cust
        |FROM whrn.rn.orders
        |WHERE cust_id IS NOT NULL
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val columnRenameTwoGenSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) * 2 AS BIGINT) AS n,
      |  CAST(SUM(o_custkey) * 2 AS BIGINT) AS sum_cust
      |FROM orders WHERE o_custkey IS NOT NULL
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q214
  /** Write-time clustering ([[graft.sources.dsv2.JsonlTable.WriteOrderProp]]):
    * an orders table declared `graft.write.order = 'o_orderkey'` +
    * `graft.skip.columns = 'o_orderkey'`, filled by a plain
    * hash-scattered INSERT — the write's REQUIRED range distribution
    * re-shuffles the rows, so the landed shards are range-disjoint
    * and their write-time stats prune immediately: q209's clustered
    * layout with ZERO maintenance CALLs ever issued. Plan-guarded
    * in-query (the probe must open a strict subset of the shards);
    * the oracle pins that declarative clustering changed no answer. */
  def writeOrderProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q214", "whwo") { c =>
      // sf0.01 orders ≈ small: keep AQE from rightly coalescing the
      // whole insert into one shard, so the plan guard can SEE the
      // multi-shard range layout (at corpus scale coalescing to the
      // advisory size is the desired behavior)
      c.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.conf.set("spark.sql.shuffle.partitions", "8")
      c.sql("CREATE NAMESPACE whwo.wo")
      c.sql("""CREATE TABLE whwo.wo.orders
              |  (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
              |TBLPROPERTIES ('graft.write.order'='o_orderkey',
              |  'graft.skip.columns'='o_orderkey')""".stripMargin)
      c.sql(
        s"""INSERT INTO whwo.wo.orders
           |SELECT o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    val total = child.sql("SELECT o_orderkey FROM whwo.wo.orders")
      .rdd.getNumPartitions
    // plan-guard on the SORT-FREE probe: an ORDER BY adds an exchange
    // whose partition count reflects the shuffle, not the scan
    val planned = child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whwo.wo.orders WHERE o_orderkey <= 640""".stripMargin)
      .rdd.getNumPartitions
    require(total >= 4 && planned >= 1 && planned < total,
      s"write-order layout did not prune: $planned of $total shards planned")
    child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whwo.wo.orders WHERE o_orderkey <= 640
        |ORDER BY o_orderkey""".stripMargin)
  }

  val writeOrderProbeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey <= 640 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q215
  /** Nested + temporal columns in the connector under the oracle gate
    * ([[graft.sources.dsv2.JsonlJson]]): events CTAS'd into a catalog
    * table as (STRUCT<etype, uid>, TIMESTAMP_NTZ, value) — the write
    * encodes the struct as a JSON object and the timestamp as epoch
    * micros; the read reassembles Catalyst values — then a daily
    * rollup that groups BY A NESTED FIELD and a date_format over the
    * round-tripped timestamp. DuckDB recomputes from the flat parquet:
    * any drift in micros, struct field routing, or null passthrough
    * hash-fails. */
  def nestedEventsRollup(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q215", "whnt") { c =>
      c.sql("CREATE NAMESPACE whnt.nt")
      graft.core.Tables.events(c, dir)
        .selectExpr(
          "named_struct('etype', event_type, 'uid', user_id) AS ev",
          "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value")
        .createOrReplaceTempView("q215_src")
      c.sql("CREATE TABLE whnt.nt.events AS SELECT * FROM q215_src")
    }
    child.sql(
      """SELECT ev.etype AS event_type, date_format(ts, 'yyyy-MM-dd') AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(ev.uid) AS BIGINT) AS uid_sum
        |FROM whnt.nt.events
        |GROUP BY ev.etype, date_format(ts, 'yyyy-MM-dd')
        |ORDER BY event_type, day""".stripMargin)
  }

  val nestedEventsRollupSql: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(user_id) AS BIGINT) AS uid_sum
      |FROM events GROUP BY event_type, strftime(ts, '%Y-%m-%d')
      |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------- q216
  /** Temporal data skipping end-to-end, composing two round-11 tiers:
    * events landed into a catalog table declared
    * `graft.write.order = 'ts'` + `graft.skip.columns = 'ts'` — one
    * plain INSERT range-shuffles on the TIMESTAMP, so the shards are
    * time-disjoint with write-time micros stats — then a
    * `WHERE ts >= <literal>` probe. The temporal predicate is NEVER
    * pushed into the reader (its three-valued evaluation is
    * scalar-only); it rides the PRUNE-ONLY channel into skip-index
    * admission, so the scan opens only the shards whose [min, max]
    * micros overlap — `.explain` shows PruneFilters, not a pushed
    * claim. Plan-guarded; DuckDB recomputes the window from the raw
    * parquet. */
  def temporalSkipProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q216", "whts") { c =>
      c.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.conf.set("spark.sql.shuffle.partitions", "8")
      c.sql("CREATE NAMESPACE whts.ts")
      c.sql("""CREATE TABLE whts.ts.events
              |  (event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING,
              |   user_id BIGINT)
              |TBLPROPERTIES ('graft.write.order'='ts',
              |  'graft.skip.columns'='ts')""".stripMargin)
      graft.core.Tables.events(c, dir)
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts",
          "event_type", "user_id")
        .createOrReplaceTempView("q216_src")
      c.sql("INSERT INTO whts.ts.events SELECT * FROM q216_src")
    }
    // probe bound derived from the data (one scalar row, q179's
    // discipline): the last ~eighth of the time range
    val hi = child.sql(
      """SELECT date_format(timestampadd(HOUR, -72, MAX(ts)),
        |  'yyyy-MM-dd HH:mm:ss') FROM whts.ts.events""".stripMargin)
      .head.getString(0)
    val total = child.sql("SELECT event_id FROM whts.ts.events")
      .rdd.getNumPartitions
    val guard = child.sql(
      s"""SELECT event_id, ts, event_type, user_id
         |FROM whts.ts.events
         |WHERE ts >= TIMESTAMP_NTZ'$hi'""".stripMargin)
    val planned = guard.rdd.getNumPartitions
    require(total >= 4 && planned >= 1 && planned < total,
      s"temporal skipping did not prune: $planned of $total shards planned")
    val plan = guard.queryExecution.executedPlan.toString
    require(plan.contains("PruneFilters"),
      s"temporal predicate must ride the prune-only channel:\n$plan")
    child.sql(
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(user_id) AS BIGINT) AS uid_sum
         |FROM whts.ts.events
         |WHERE ts >= TIMESTAMP_NTZ'$hi'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val temporalSkipProbeSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS uid_sum
      |FROM events
      |WHERE date_trunc('second', ts) >=
      |  (SELECT date_trunc('second', MAX(date_trunc('second', ts)))
      |     - INTERVAL 72 HOUR FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val snapshotChangeFeedSql: String =
    """SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
      |  'insert' AS _change
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete' AS _change
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY _change, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q223
  /** CDC across a ROLLBACK under the oracle gate: a merge-on-read
    * orders table pins v1, a MOR DELETE of the 'F' rows grows the
    * sidecars (v2), then `rollback_to_snapshot` to v1 SHRINKS them
    * back and v3 pins the restored state. The v2→v3 feed must be
    * EXACTLY the resurrected 'F' rows as inserts — the shrunk-ordinal
    * restore tier of the manifest diff
    * ([[graft.sources.dsv2.JsonlChangeFeed.Diff.deltaRestores]]);
    * before round 12's fix this window was silently empty and replay
    * lost the resurrection. Guarded in-query: `table_changes` reports
    * delta_restores and ZERO added/removed shards (rollback of a pure
    * sidecar mutation moves no files). */
  def cdcRollbackRestores(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q223", "whrr") { c =>
      c.sql("CREATE NAMESPACE whrr.rr")
      c.sql(
        s"""CREATE TABLE whrr.rr.orders
           |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read') AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whrr.system.snapshot('rr.orders', tag => 'v1')")
      c.sql("DELETE FROM whrr.rr.orders WHERE o_orderstatus = 'F'")
      c.sql("CALL whrr.system.snapshot('rr.orders', tag => 'v2')")
      c.sql("CALL whrr.system.rollback_to_snapshot('rr.orders', " +
        "version => 'v1')").collect()
      c.sql("CALL whrr.system.snapshot('rr.orders', tag => 'v3')")
    }
    val kinds = child.sql(
      "CALL whrr.system.table_changes('rr.orders', 'v2', 'v3')").collect()
      .groupBy(_.getString(0)).view.mapValues(_.length).toMap
    require(kinds.getOrElse("delta_restores", 0) >= 1 &&
      kinds.getOrElse("added", 0) == 0 && kinds.getOrElse("removed", 0) == 0,
      s"rollback of a sidecar mutation must surface ONLY restores: $kinds")
    val catalog = child.sessionState.catalogManager.catalog("whrr")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    graft.sources.dsv2.JsonlChangeFeed
      .between(child, catalog, "rr.orders", "v2", Some("v3"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("_change"))
      .orderBy(col("o_orderkey"))
  }

  val cdcRollbackRestoresSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, 'insert' AS _change
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q222
  /** CDC-driven INCREMENTAL AGGREGATE MAINTENANCE — the reason a
    * change feed exists at 100 TB: a per-status (count, sum) rollup
    * maintained by applying ONLY the v1→v2 change feed (inserts +1,
    * deletes −1, both count and measure) on top of the aggregate AS OF
    * v1 — the base table is never rescanned. Reuses q212's fixture
    * (appended +10M batch, MOR delete of the original 'F' rows);
    * guarded in-query that the incrementally-maintained rollup equals
    * the direct live aggregate row-for-row; the oracle recomputes the
    * mutated state from the raw parquet. */
  def cdcIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val child = cdcCatalog(s, dir)
    val catalog = child.sessionState.catalogManager.catalog("whcd")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    val base = child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM whcd.cd.orders VERSION AS OF 'v1'
        |GROUP BY o_orderstatus""".stripMargin)
    val delta = graft.sources.dsv2.JsonlChangeFeed
      .between(child, catalog, "cd.orders", "v1", Some("v2"))
      .select(col("o_orderstatus"),
        when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
          .as("sign"),
        col("o_custkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("sign")).as("n"),
        sum(col("sign") * col("o_custkey")).as("sum_cust"))
    val maintained = base.unionByName(delta)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("sum_cust")).cast("long").as("sum_cust"))
      .where(col("n") > 0)
      .orderBy(col("o_orderstatus"))
    // incremental == direct: the maintained rollup must equal a full
    // aggregate of the LIVE table (which the oracle independently pins)
    val direct = child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM whcd.cd.orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    val (m, d) = (maintained.collect().toSeq, direct.collect().toSeq)
    require(m.map(_.toSeq) == d.map(_.toSeq),
      s"incrementally maintained rollup diverged from the live aggregate:" +
        s"\n  maintained: $m\n  direct:     $d")
    maintained
  }

  val cdcIncrementalAggSql: String =
    """WITH live AS (
      |  SELECT o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT o_custkey, o_orderstatus FROM orders)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
      |FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q221
  /** `CALL rollback_to_snapshot` under the oracle gate
    * ([[graft.sources.dsv2.JsonlSnapshots.rollback]]): a merge-on-read
    * orders table snapshotted at 'base', then mutated BOTH ways — a
    * MOR DELETE of the 'F' rows (sidecar growth) and an appended +10M
    * batch — snapshotted again at 'mut', and rolled back to 'base'.
    * The live table must answer byte-identically to the PRISTINE
    * orders (the delete un-happens via sidecar rebuild from embedded
    * ordinals, the append leaves via retain-or-delete), which is
    * exactly what DuckDB recomputes; guarded in-query that the 'mut'
    * snapshot still answers AFTER the rollback (its shards retained —
    * rolling forward stays possible). */
  def rollbackSnapshotProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q221", "whrb") { c =>
      c.sql("CREATE NAMESPACE whrb.rb")
      c.sql(
        s"""CREATE TABLE whrb.rb.orders
           |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read') AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whrb.system.snapshot('rb.orders', tag => 'base')")
      c.sql("""DELETE FROM whrb.rb.orders
              |WHERE o_orderstatus = 'F' AND o_orderkey <= 10000000""".stripMargin)
      c.sql(
        s"""INSERT INTO whrb.rb.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whrb.system.snapshot('rb.orders', tag => 'mut')")
      val mutated = c.sql("SELECT COUNT(*) FROM whrb.rb.orders").head.getLong(0)
      c.sql("CALL whrb.system.rollback_to_snapshot('rb.orders', " +
        "version => 'base')").collect()
      // the newer snapshot must survive the rollback byte-identically
      val mutAfter = c.sql(
        "SELECT COUNT(*) FROM whrb.rb.orders VERSION AS OF 'mut'")
        .head.getLong(0)
      require(mutAfter == mutated,
        s"rollback must not destroy the newer snapshot: $mutAfter != $mutated")
    }
    child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM whrb.rb.orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val rollbackSnapshotProbeSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q220
  /** Nested-leaf data skipping end-to-end (q216's temporal probe one
    * structural rung up): events landed as (STRUCT<etype, uid>, value)
    * with `graft.skip.columns = 'ev.uid'` — the INSERT's ORDER BY
    * range-partitions the rows so shards are uid-disjoint, and the
    * write-time trackers walk the struct — then a `WHERE ev.uid <= X`
    * probe. Nested predicates are never pushed into the reader; they
    * ride the PRUNE-ONLY channel into skip-index admission
    * ([[graft.sources.dsv2.JsonlSkipIndex.leafField]]), so the scan
    * opens only the shards whose [min, max] uid overlaps.
    * Plan-guarded (strict shard subset + PruneFilters in the plan);
    * DuckDB recomputes the slice from the flat parquet. */
  def nestedSkipProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q220", "whnk") { c =>
      c.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.conf.set("spark.sql.shuffle.partitions", "8")
      c.sql("CREATE NAMESPACE whnk.nk")
      c.sql("""CREATE TABLE whnk.nk.events
              |  (ev STRUCT<etype: STRING, uid: BIGINT>, value DOUBLE)
              |TBLPROPERTIES ('graft.skip.columns'='ev.uid')""".stripMargin)
      graft.core.Tables.events(c, dir)
        .selectExpr("named_struct('etype', event_type, 'uid', user_id) AS ev",
          "value")
        .createOrReplaceTempView("q220_src")
      // the ORDER BY range-shuffles on the nested leaf: landed shards
      // are uid-disjoint, so their write-time stats prune immediately
      c.sql("INSERT INTO whnk.nk.events SELECT * FROM q220_src ORDER BY ev.uid")
    }
    val bound = child.sql(
      "SELECT CAST(FLOOR(MAX(ev.uid) / 8) AS BIGINT) FROM whnk.nk.events")
      .head.getLong(0)
    val total = child.sql("SELECT value FROM whnk.nk.events")
      .rdd.getNumPartitions
    val guard = child.sql(
      s"SELECT ev, value FROM whnk.nk.events WHERE ev.uid <= $bound")
    val planned = guard.rdd.getNumPartitions
    require(total >= 4 && planned >= 1 && planned < total,
      s"nested-leaf skipping did not prune: $planned of $total shards planned")
    val plan = guard.queryExecution.executedPlan.toString
    require(plan.contains("PruneFilters"),
      s"nested predicate must ride the prune-only channel:\n$plan")
    child.sql(
      s"""SELECT ev.etype AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(ev.uid) AS BIGINT) AS uid_sum
         |FROM whnk.nk.events
         |WHERE ev.uid <= $bound
         |GROUP BY ev.etype ORDER BY event_type""".stripMargin)
  }

  val nestedSkipProbeSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(user_id) AS BIGINT) AS uid_sum
      |FROM events
      |WHERE user_id <= (SELECT CAST(FLOOR(MAX(user_id) / 8) AS BIGINT)
      |                  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q219
  /** DROP COLUMN via tombstoned keys
    * ([[graft.sources.dsv2.JsonlTable.TombstonedKeysProp]]) under the
    * oracle gate, over a THREE-generation table: gen-1 carries
    * `o_custkey` (JSON key `o_custkey`), the column is DROPPED
    * (metadata-only — gen-1 shards keep the dead key), gen-2 lands
    * without it, the name is re-ADDed (bound to a fresh physical key)
    * and gen-3 lands values shifted +1000. COUNT(o_custkey) /
    * SUM(o_custkey) must see ONLY gen-3 — a resurrection of gen-1's
    * dead values shifts both and hash-fails against the DuckDB
    * recompute. */
  def dropColumnThreeGen(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q219", "whdc") { c =>
      c.sql("CREATE NAMESPACE whdc.dc")
      c.sql(
        s"""CREATE TABLE whdc.dc.orders AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("ALTER TABLE whdc.dc.orders DROP COLUMN o_custkey")
      c.sql(
        s"""INSERT INTO whdc.dc.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderkey + 10000000 AS o_orderkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("ALTER TABLE whdc.dc.orders ADD COLUMN o_custkey BIGINT")
      c.sql(
        s"""INSERT INTO whdc.dc.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderkey + 20000000 AS o_orderkey, o_orderstatus,
           |  o_custkey + 1000 AS o_custkey
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(o_custkey) AS BIGINT) AS n_cust,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM whdc.dc.orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val dropColumnThreeGenSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) * 3 AS BIGINT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  CAST(SUM(o_custkey + 1000) AS BIGINT) AS sum_cust
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q224
  /** Type-WIDENING evolution ([[graft.sources.dsv2.GraftCatalog]]
    * `UpdateColumnType`) under the oracle gate, over a TWO-generation
    * table: gen-1 lands `o_custkey` as INT and `o_total` as
    * DECIMAL(12,2); both columns widen (BIGINT / DECIMAL(18,2));
    * gen-2 lands values only the widened types can hold (keys shifted
    * +3e9 — past INT range — and totals shifted +1e11). SUM/COUNT
    * across both generations must match DuckDB's recompute: an
    * INT-era shard misparsed through BIGINT, or a text decimal
    * reparsed at the wrong precision, shifts the sums and
    * hash-fails. */
  def typeWidenTwoGen(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q224", "whwd") { c =>
      c.sql("CREATE NAMESPACE whwd.wd")
      c.sql(
        s"""CREATE TABLE whwd.wd.orders AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey,
           |  CAST(o_custkey AS INT) AS o_custkey,
           |  CAST(o_totalprice AS DECIMAL(12,2)) AS o_total,
           |  o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("ALTER TABLE whwd.wd.orders ALTER COLUMN o_custkey TYPE BIGINT")
      c.sql("ALTER TABLE whwd.wd.orders ALTER COLUMN o_total TYPE DECIMAL(18,2)")
      c.sql(
        s"""INSERT INTO whwd.wd.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderkey + 10000000 AS o_orderkey,
           |  CAST(o_custkey AS BIGINT) + 3000000000 AS o_custkey,
           |  CAST(o_totalprice AS DECIMAL(18,2)) +
           |    CAST(100000000000.00 AS DECIMAL(18,2)) AS o_total,
           |  o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(SUM(o_total) AS DOUBLE) AS sum_total
        |FROM whwd.wd.orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val typeWidenTwoGenSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) * 2 AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_custkey AS BIGINT)) * 2
      |    + COUNT(*) * 3000000000 AS BIGINT) AS sum_cust,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 2
      |    + COUNT(*) * CAST(100000000000.00 AS DECIMAL(18,2)) AS DOUBLE)
      |    AS sum_total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q225
  /** Typed CDC over a COPY-ON-WRITE update window
    * ([[graft.sources.dsv2.JsonlChangeFeed.typeChanges]]) under the
    * oracle gate: an orders table in COW mode, snapshot v1, ONE
    * UPDATE touching `o_orderkey % 97 = 0` rows (which rewrites whole
    * shard groups — the raw manifest diff reports EVERY row of those
    * groups as delete+insert), snapshot v2. The keyed typed window
    * must be exactly the update pairs: churn rows cancel, each
    * updated key surfaces as update_preimage (old values) +
    * update_postimage (new values). A leaked churn row, lost pair, or
    * mis-paired key changes the row set and hash-fails against
    * DuckDB's recompute. */
  def cowTypedWindow(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q225", "whcw") { c =>
      c.sql("CREATE NAMESPACE whcw.cw")
      c.sql(
        s"""CREATE TABLE whcw.cw.orders AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whcw.system.snapshot('cw.orders', tag => 'v1')")
      c.sql(
        """UPDATE whcw.cw.orders SET o_custkey = o_custkey + 1000000
          |WHERE o_orderkey % 97 = 0""".stripMargin)
      c.sql("CALL whcw.system.snapshot('cw.orders', tag => 'v2')")
    }
    val catalog = child.sessionState.catalogManager.catalog("whcw")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    graft.sources.dsv2.JsonlChangeFeed
      .between(child, catalog, "cw.orders", from = "v1", to = Some("v2"),
        keyCols = Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("_change"))
      .orderBy(col("_change"), col("o_orderkey"))
  }

  val cowTypedWindowSql: String =
    """SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
      |  'update_preimage' AS _change
      |FROM orders WHERE o_orderkey % 97 = 0
      |UNION ALL
      |SELECT o_orderkey, CAST(o_custkey + 1000000 AS BIGINT) AS o_custkey,
      |  'update_postimage' AS _change
      |FROM orders WHERE o_orderkey % 97 = 0
      |ORDER BY _change, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q226
  /** Partition-spec EVOLUTION (`CALL evolve_partitioning`,
    * [[graft.sources.dsv2.GraftCatalog.evolvePartitioning]]) under
    * the oracle gate: gen-1 lands under `o_orderstatus=`, the spec
    * evolves to `o_orderstatus,o_prio`, gen-2 (keys +10M) lands under
    * the two-level layout. A filtered probe over BOTH generations —
    * gen-1 resolves `o_prio` from the JSON body, gen-2 from the path;
    * per-shard pruning admits each generation by its OWN dirs — must
    * match DuckDB's recompute of the two waves. */
  def partitionEvolutionProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q226", "whpe") { c =>
      c.sql("CREATE NAMESPACE whpe.pe")
      c.sql(
        s"""CREATE TABLE whpe.pe.orders
           |PARTITIONED BY (o_orderstatus) AS
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey,
           |  substr(o_orderpriority, 1, 1) AS o_prio, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("""CALL whpe.system.evolve_partitioning('pe.orders',
              |  columns => 'o_orderstatus,o_prio')""".stripMargin)
      c.sql(
        s"""INSERT INTO whpe.pe.orders
           |SELECT /*+ REPARTITION(2) */ o_orderkey + 10000000 AS o_orderkey,
           |  o_custkey, substr(o_orderpriority, 1, 1) AS o_prio,
           |  o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    child.sql(
      """SELECT o_prio, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
        |FROM whpe.pe.orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_prio ORDER BY o_prio""".stripMargin)
  }

  val partitionEvolutionProbeSql: String =
    """SELECT substr(o_orderpriority, 1, 1) AS o_prio,
      |  CAST(COUNT(*) * 2 AS BIGINT) AS n,
      |  CAST(SUM(o_orderkey) * 2 + COUNT(*) * 10000000 AS BIGINT) AS sum_key
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q227
  /** EQUALITY-delete upsert tier ([[graft.sources.dsv2.JsonlEqDeletes]])
    * under the oracle gate: an orders table declaring
    * `graft.upsert.keys = 'o_orderkey'` takes THREE plain-INSERT
    * waves — the full table, then keys `% 5 = 0` re-landed with
    * custkeys +1e6, then keys `% 7 = 0` with +5e6 — each wave
    * O(|batch|): one key file + stamped shards, the target never
    * scanned. The grouped aggregate over the visible state must match
    * DuckDB's recompute of last-wave-wins; a leaked hidden row or an
    * over-deleted key shifts the sums and hash-fails. */
  def upsertWaves(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q227", "whup") { c =>
      c.sql("CREATE NAMESPACE whup.up")
      c.sql(
        """CREATE TABLE whup.up.orders
          |(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
          |TBLPROPERTIES ('graft.upsert.keys'='o_orderkey')""".stripMargin)
      c.sql(
        s"""INSERT INTO whup.up.orders
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql(
        s"""INSERT INTO whup.up.orders
           |SELECT /*+ REPARTITION(2) */ o_orderkey,
           |  o_custkey + 1000000 AS o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 5 = 0"""
          .stripMargin)
      c.sql(
        s"""INSERT INTO whup.up.orders
           |SELECT /*+ REPARTITION(2) */ o_orderkey,
           |  o_custkey + 5000000 AS o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 7 = 0"""
          .stripMargin)
    }
    child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM whup.up.orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val upsertWavesSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 5000000
      |                WHEN o_orderkey % 5 = 0 THEN o_custkey + 1000000
      |                ELSE o_custkey END) AS BIGINT) AS sum_cust
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q228
  /** STRING-keyed corpus upsert — the LLM-ingest shape of the
    * equality-delete tier ([[graft.sources.dsv2.JsonlEqDeletes]]):
    * documents keyed by a `doc://source/id` URI, three ingest waves
    * (full corpus, a metadata refresh of every 10th doc, a re-crawl
    * of the German slice — which overrides the refresh where they
    * overlap). Each wave is one O(|batch|) plain INSERT: one key file
    * + stamped shards, the corpus never rescanned. The per-language
    * rollup of the visible state must match DuckDB's last-wave-wins
    * recompute. */
  def corpusUpsertWaves(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q228", "whcu") { c =>
      c.sql("CREATE NAMESPACE whcu.cu")
      c.sql(
        """CREATE TABLE whcu.cu.docs
          |(uri STRING, lang STRING, n_chars BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='uri')""".stripMargin)
      c.sql(
        s"""INSERT INTO whcu.cu.docs
           |SELECT /*+ REPARTITION(4) */
           |  concat('doc://', source, '/', CAST(doc_id AS STRING)) AS uri,
           |  lang, n_chars
           |FROM parquet.`$dir/documents.parquet`""".stripMargin)
      c.sql(
        s"""INSERT INTO whcu.cu.docs
           |SELECT /*+ REPARTITION(2) */
           |  concat('doc://', source, '/', CAST(doc_id AS STRING)) AS uri,
           |  lang, n_chars + 1000 AS n_chars
           |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 10 = 0"""
          .stripMargin)
      c.sql(
        s"""INSERT INTO whcu.cu.docs
           |SELECT /*+ REPARTITION(2) */
           |  concat('doc://', source, '/', CAST(doc_id AS STRING)) AS uri,
           |  lang, n_chars + 5000 AS n_chars
           |FROM parquet.`$dir/documents.parquet` WHERE lang = 'de'"""
          .stripMargin)
    }
    child.sql(
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM whcu.cu.docs
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val corpusUpsertWavesSql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN lang = 'de' THEN n_chars + 5000
      |                WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |                ELSE n_chars END) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q229
  /** The upsert tier COMPOSED with snapshots + CDC
    * ([[graft.sources.dsv2.JsonlSnapshots.Manifest]] `eqFiles`): the
    * q228 corpus shape on an AUTO-SNAPSHOT table — every wave pins a
    * version whose manifest embeds the pending key files. The result
    * stitches four reads of the one table:
    *
    *   - `VERSION AS OF 2` (after the metadata-refresh wave, before
    *     the German re-crawl) — the pinned scan must apply the
    *     pin-time equality state;
    *   - the live state (all three waves);
    *   - the v2→v3 change window typed by the upsert key
    *     ([[graft.sources.dsv2.JsonlChangeFeed.between]]) — the
    *     re-crawl surfaces as update_preimage/update_postimage pairs
    *     (the preimages recovered from COMMON shards by the fresh-key
    *     broadcast join, never a table diff).
    *
    * DuckDB recomputes every phase from the raw parquet with
    * last-wave-wins CASE arithmetic — a pinned scan that ignored the
    * equality state, or a window that missed the hidden preimages,
    * hash-fails. */
  def upsertTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q229", "whtm") { c =>
      c.sql("CREATE NAMESPACE whtm.tt")
      c.sql(
        """CREATE TABLE whtm.tt.docs
          |(uri STRING, lang STRING, n_chars BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='uri',
          |  'graft.snapshot.auto'='true')""".stripMargin)
      c.sql(
        s"""INSERT INTO whtm.tt.docs
           |SELECT /*+ REPARTITION(4) */
           |  concat('doc://', source, '/', CAST(doc_id AS STRING)) AS uri,
           |  lang, n_chars
           |FROM parquet.`$dir/documents.parquet`""".stripMargin) // wave -> v1
      c.sql(
        s"""INSERT INTO whtm.tt.docs
           |SELECT /*+ REPARTITION(2) */
           |  concat('doc://', source, '/', CAST(doc_id AS STRING)) AS uri,
           |  lang, n_chars + 1000 AS n_chars
           |FROM parquet.`$dir/documents.parquet` WHERE doc_id % 10 = 0"""
          .stripMargin) // wave -> v2
      c.sql(
        s"""INSERT INTO whtm.tt.docs
           |SELECT /*+ REPARTITION(2) */
           |  concat('doc://', source, '/', CAST(doc_id AS STRING)) AS uri,
           |  lang, n_chars + 5000 AS n_chars
           |FROM parquet.`$dir/documents.parquet` WHERE lang = 'de'"""
          .stripMargin) // wave -> v3
    }
    def rollup(src: String, phase: String): DataFrame = child.sql(
      s"""SELECT '$phase' AS phase, lang, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM $src GROUP BY lang""".stripMargin)
    val cat = child.sessionState.catalogManager.catalog("whtm")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    val window = graft.sources.dsv2.JsonlChangeFeed
      .between(child, cat, "tt.docs", "2", Some("3"), keyCols = Seq("uri"))
      .select(
        expr("""CASE _change WHEN 'update_preimage' THEN 'delta_pre'
               |  WHEN 'update_postimage' THEN 'delta_post'
               |  ELSE concat('delta_', _change) END""".stripMargin)
          .as("phase"),
        col("lang"), col("n_chars"))
      .groupBy(col("phase"), col("lang"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
    rollup("whtm.tt.docs VERSION AS OF 2", "v2")
      .unionByName(rollup("whtm.tt.docs", "live"))
      .unionByName(window)
      .orderBy(col("phase"), col("lang"))
  }

  val upsertTimeTravelSql: String =
    """WITH v2 AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |                  ELSE n_chars END) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY lang
      |), live AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN lang = 'de' THEN n_chars + 5000
      |                  WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |                  ELSE n_chars END) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY lang
      |), pre AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
      |                  ELSE n_chars END) AS BIGINT) AS sum_chars
      |  FROM documents WHERE lang = 'de' GROUP BY lang
      |), post AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(n_chars + 5000) AS BIGINT) AS sum_chars
      |  FROM documents WHERE lang = 'de' GROUP BY lang
      |)
      |SELECT * FROM (
      |  SELECT 'v2' AS phase, lang, n, sum_chars FROM v2
      |  UNION ALL SELECT 'live' AS phase, lang, n, sum_chars FROM live
      |  UNION ALL SELECT 'delta_pre' AS phase, lang, n, sum_chars FROM pre
      |  UNION ALL SELECT 'delta_post' AS phase, lang, n, sum_chars FROM post
      |) ORDER BY phase, lang""".stripMargin

  // ---------------------------------------------------------------- q230
  /** Composite (DATE, BIGINT) upsert key — the `(source, day)`
    * re-crawl shape ([[graft.sources.dsv2.JsonlEqDeletes]] temporal
    * key rendering): orders keyed by (o_orderdate, o_orderkey), a
    * full load then an O(|delta|) re-crawl wave of 1995-03 bumping
    * the value. DATE keys render as epoch DAYS (the stored JSON
    * number), composite tuples join on the full key while the
    * skip-range exemption prunes by the LEADING column. The
    * per-month rollup of the visible state must match DuckDB's
    * last-wave-wins recompute. */
  def dateKeyUpsert(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q230", "whdk") { c =>
      c.sql("CREATE NAMESPACE whdk.dk")
      c.sql(
        """CREATE TABLE whdk.dk.orders (day DATE, k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='day,k',
          |  'graft.skip.columns'='day')""".stripMargin)
      c.sql(
        s"""INSERT INTO whdk.dk.orders
           |SELECT /*+ REPARTITION(4) */
           |  o_orderdate AS day, o_orderkey AS k, o_custkey AS v
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql(
        s"""INSERT INTO whdk.dk.orders
           |SELECT /*+ REPARTITION(2) */
           |  o_orderdate AS day, o_orderkey AS k,
           |  o_custkey + 1000000 AS v
           |FROM parquet.`$dir/orders.parquet`
           |WHERE o_orderdate >= DATE'1995-03-01'
           |  AND o_orderdate < DATE'1995-04-01'""".stripMargin)
    }
    child.sql(
      """SELECT CAST(year(day) AS BIGINT) AS y,
        |  CAST(month(day) AS BIGINT) AS m,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv
        |FROM whdk.dk.orders
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val dateKeyUpsertSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN o_orderdate >= DATE '1995-03-01'
      |                 AND o_orderdate < DATE '1995-04-01'
      |                THEN o_custkey + 1000000 ELSE o_custkey END)
      |       AS BIGINT) AS sv
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q231
  /** Metadata-only PARTITION-column rename (round 14,
    * [[graft.sources.dsv2.JsonlTable.PartAliasesKey]]): an orders
    * table partitioned by status, one generation written, the column
    * renamed `status → state` with ZERO data movement, then a second
    * generation inserted under the new segment name. The rollup over
    * BOTH generations — old `status=X` dirs and new `state=X` dirs,
    * values resolved from the path and pruned through the rename
    * alias — must match DuckDB's doubled recompute. Guarded in-query:
    * both dir generations must actually exist on disk. */
  def partitionRenameProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q231", "whpr") { c =>
      val root = c.conf.get("spark.sql.catalog.whpr.root")
      c.sql("CREATE NAMESPACE whpr.pr")
      c.sql("""CREATE TABLE whpr.pr.orders
              |  (o_orderkey BIGINT, o_custkey BIGINT, status STRING)
              |PARTITIONED BY (status)""".stripMargin)
      c.sql(
        s"""INSERT INTO whpr.pr.orders
           |SELECT /*+ REPARTITION(4) */
           |  o_orderkey, o_custkey, o_orderstatus AS status
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("ALTER TABLE whpr.pr.orders RENAME COLUMN status TO state")
      c.sql(
        s"""INSERT INTO whpr.pr.orders
           |SELECT /*+ REPARTITION(4) */
           |  o_orderkey + 10000000 AS o_orderkey, o_custkey,
           |  o_orderstatus AS state
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      // both generations must be on disk, or this probe proves nothing
      val dirs = new java.io.File(s"$root/pr/orders").listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filterNot(_.startsWith("_")).toSet
      require(dirs.exists(_.startsWith("status=")) &&
        dirs.exists(_.startsWith("state=")),
        s"q231 needs pre- AND post-rename dir generations, got $dirs")
    }
    child.sql(
      """SELECT state, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sc
        |FROM whpr.pr.orders WHERE state <> 'X'
        |GROUP BY state ORDER BY state""".stripMargin)
  }

  val partitionRenameProbeSql: String =
    """SELECT o_orderstatus AS state,
      |  CAST(2 * COUNT(*) AS BIGINT) AS n,
      |  2 * CAST(SUM(o_custkey) AS BIGINT) AS sc
      |FROM orders WHERE o_orderstatus <> 'X'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q217
  /** The change feed through the DSv2 SOURCE
    * ([[graft.sources.dsv2.JsonlChangesSource]], the batch face of
    * the streaming CDC tail): q212's fixture read as
    * `format("graft-jsonl-changes").option(fromVersion/toVersion)` —
    * insert/delete rows planned straight from the manifest diff, the
    * ordinal-delta deletes recovered INSIDE the reader by emitting
    * only the delta positions (no join at all on this surface). Must
    * match the same DuckDB recompute q212 matches. */
  def changesSourceWindow(s: SparkSession, dir: String): DataFrame = {
    val child = cdcCatalog(s, dir)
    val tableDir = s"${child.conf.get("spark.sql.catalog.whcd.root")}/cd/orders"
    child.read.format("graft-jsonl-changes")
      .option("fromVersion", 1).option("toVersion", 2).load(tableDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("_change"))
      .orderBy(col("_change"), col("o_orderkey"))
  }

  val changesSourceWindowSql: String = snapshotChangeFeedSql

  // ---------------------------------------------------------------- q218
  /** Auto-snapshot-on-commit ([[graft.sources.dsv2.JsonlTable.AutoSnapshotProp]])
    * under the oracle gate: an orders table declared
    * `graft.snapshot.auto = 'true'`, filled by THREE plain INSERT
    * waves (keys shifted +10M/+20M/+30M) with zero `CALL snapshot`
    * ever issued — each commit pins its own version, so the CDC
    * source can replay per-commit windows. Guarded in-query: exactly
    * three versions exist; the result reads each (v-1, v] window
    * through `graft-jsonl-changes` tagged by version, and the oracle
    * recomputes all three waves from the parquet — a netted or
    * missing pin shifts rows across windows and hash-fails. */
  def autoSnapshotFeed(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q218", "whas") { c =>
      c.sql("CREATE NAMESPACE whas.asf")
      c.sql("""CREATE TABLE whas.asf.orders
              |  (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
              |TBLPROPERTIES ('graft.snapshot.auto'='true')""".stripMargin)
      for (w <- 1 to 3)
        c.sql(
          s"""INSERT INTO whas.asf.orders
             |SELECT o_orderkey + ${w * 10000000L} AS o_orderkey, o_custkey,
             |  o_orderstatus
             |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    val pinned = child.sql("CALL whas.system.snapshots('asf.orders')")
      .collect().map(_.getLong(0)).toSeq
    require(pinned == Seq(1L, 2L, 3L),
      s"graft.snapshot.auto must pin one version per INSERT commit, " +
        s"got versions $pinned")
    val tableDir = s"${child.conf.get("spark.sql.catalog.whas.root")}/asf/orders"
    (1 to 3).map { v =>
      child.read.format("graft-jsonl-changes")
        .option("fromVersion", v - 1).option("toVersion", v).load(tableDir)
        .select(lit(v.toLong).as("v"), col("o_orderkey"), col("o_custkey"),
          col("_change"))
    }.reduce(_.unionByName(_))
      .orderBy(col("v"), col("o_orderkey"))
  }

  val autoSnapshotFeedSql: String =
    """SELECT CAST(w.v AS BIGINT) AS v,
      |  o.o_orderkey + w.v * 10000000 AS o_orderkey, o.o_custkey,
      |  'insert' AS _change
      |FROM orders o CROSS JOIN (VALUES (1), (2), (3)) AS w(v)
      |ORDER BY v, o_orderkey""".stripMargin

  /** Oracle recomputes the joined answer straight from the parquet —
    * the exact-average threshold is reproducible because the sums stay
    * far inside double's integer range. */
  val spjDocJoinSql: String =
    """WITH s AS (SELECT lang, CAST(FLOOR(AVG(n_chars)) AS BIGINT) AS avg_chars
      |           FROM documents GROUP BY lang)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_above,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_above
      |FROM documents d JOIN s ON d.lang = s.lang
      |WHERE d.n_chars > s.avg_chars
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q116
  /** q94's profile at 100 TB cost: KMV-sketch distinct estimates in
    * ONE plain aggregate — no Expand, no ×(columns+1) row replication
    * (plan-guarded in `TableProfileSpec`) — and still fully under the
    * oracle gate because the KMV estimator is a pure function of each
    * column's value set (DuckDB reproduces it from a window sort). */
  def profileOrdersApprox(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableProfile.profileApprox(
      graft.core.Tables.load(s, dir, "orders"), k = 64)

  val profileOrdersApproxSql: String = {
    def row(c: String, render: String): String =
      s"""SELECT '$c' AS col_name,
         |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
         |  CAST((SELECT COUNT(*) - COUNT($c) FROM orders) AS BIGINT) AS n_nulls,
         |  (SELECT CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |     ELSE 63.0 * 281474976710656 / CAST(hv AS DOUBLE) END
         |   FROM (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn,
         |           COUNT(*) OVER () AS nd
         |         FROM (SELECT DISTINCT
         |             CAST('0x' || substr(md5($render), 1, 12) AS BIGINT) AS hv
         |           FROM orders WHERE $c IS NOT NULL))
         |   WHERE rn = LEAST(nd, 64)) AS est_distinct""".stripMargin
    Seq(
      row("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
      row("o_custkey", "CAST(o_custkey AS VARCHAR)"),
      row("o_orderstatus", "o_orderstatus"),
      row("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"),
      row("o_orderdate", "CAST(o_orderdate AS VARCHAR)"),
      row("o_orderpriority", "o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---------------------------------------------------------------- q144
  /** Merge-maintained materialized JOIN view
    * ([[graft.operators.IncrementalJoin]]): the orders⋈lineitem
    * enriched view built over three insert-only waves — orders sliced
    * `o_orderkey % 3`, lineitems independently
    * `(l_orderkey + l_linenumber) % 3`, so every delta-algebra term
    * fires (a wave's lineitems join orders from EARLIER waves and vice
    * versa) — then aggregated per priority. The oracle recomputes the
    * whole join from scratch in DuckDB: incremental == full, q121's
    * contract extended from aggregates to joins. Each wave's cost is
    * `|Δ| ⋈ state` + an O(|Δout|) append; history is never rewritten
    * (the per-JVM /tmp rebuild per invocation is the test harness,
    * not the maintenance cost). */
  def incrementalJoinView(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalJoin
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_incr_join_" +
      math.abs(dir.hashCode.toLong)
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true) // fresh maintenance run per invocation (idempotent)
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    for (w <- 0 to 2)
      IncrementalJoin.mergeInto(s, root, s"w$w",
        o.filter(col("o_orderkey") % 3 === w),
        li.filter((col("o_orderkey") + col("l_linenumber")) % 3 === w),
        Seq("o_orderkey"))
    IncrementalJoin.view(s, root).get
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Full-recompute oracle: the maintained view must aggregate exactly
    * like the one-shot join. */
  val incrementalJoinViewSql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q232
  /** The COLUMNAR at-rest tier under the oracle gate
    * ([[graft.sources.dsv2.GraftParquetShard]]) — q207's probe on a
    * `graft.format = 'parquet'` catalog table: orders range-clustered
    * into 8 zstd parquet shards via `graft.write.order` (write-time
    * skip stats, no maintenance CALL needed), then the same key-range
    * slice + max-key point lookup. Plan-guarded in-query: both probes
    * must open strictly fewer shards than the table holds — the skip
    * manifests prune parquet files exactly as they prune JSONL ones,
    * because every index layer is keyed by shard path, not by bytes.
    * The oracle pins that pruning never costs rows. */
  def parquetSkipProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q232", "whpq") { c =>
      // the write-order distribution re-shuffles the insert; at small
      // SF AQE would rightly coalesce it to one shard — pin the
      // partition count in this CHILD session so the fixture lands the
      // multi-shard layout the plan guard needs (the at-scale layout)
      c.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      c.sql("CREATE NAMESPACE whpq.pq")
      c.sql(
        """CREATE TABLE whpq.pq.orders
          |(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.write.order'='o_orderkey',
          |  'graft.skip.columns'='o_orderkey')""".stripMargin)
      c.sql(
        s"""INSERT INTO whpq.pq.orders
           |SELECT /*+ REPARTITION_BY_RANGE(8, o_orderkey) */
           |  o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    }
    val hit = child.sql("SELECT MAX(o_orderkey) AS m FROM whpq.pq.orders")
      .head.getLong(0)
    val slice = child.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM whpq.pq.orders WHERE o_orderkey <= 640""".stripMargin)
    val point = child.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus
         |FROM whpq.pq.orders WHERE o_orderkey = $hit""".stripMargin)
    val total = child.sql("SELECT * FROM whpq.pq.orders").rdd.getNumPartitions
    val (ns, np) = (slice.rdd.getNumPartitions, point.rdd.getNumPartitions)
    require(total >= 4, s"expected a multi-shard parquet layout, got $total")
    require(ns >= 1 && ns < total,
      s"parquet skip pruning failed the range probe: $ns of $total planned")
    require(np >= 1 && np < total,
      s"parquet skip pruning failed the point probe: $np of $total planned")
    slice.unionByName(point).orderBy(col("o_orderkey"))
  }

  val parquetSkipProbeSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey <= 640
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      |WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q233
  /** Snapshots, COW rewrite, time travel AND rollback on PARQUET
    * shards (q210/q221's composition on the columnar tier): a parquet
    * orders table pins 'base', a row-level DELETE copy-on-write
    * REWRITES parquet shards (retention moves the originals under
    * `_snapshots/retained/`), 'afterdel' pins the deleted state, then
    * `rollback_to_snapshot('base')` restores the full table from
    * retained parquet files. The query reads the LIVE (rolled-back)
    * table and `VERSION AS OF 'afterdel'`; DuckDB reproduces both
    * sides with and without the delete predicate — rollback and time
    * travel are exactly "the data as it was" regardless of the shard
    * format. */
  def parquetSnapshotRollback(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q233", "whpn") { c =>
      c.sql("CREATE NAMESPACE whpn.pn")
      c.sql(
        """CREATE TABLE whpn.pn.orders
          |(o_orderkey BIGINT, o_orderstatus STRING)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
      c.sql(
        s"""INSERT INTO whpn.pn.orders
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whpn.system.snapshot('pn.orders', tag => 'base')")
      c.sql("DELETE FROM whpn.pn.orders WHERE o_orderstatus = 'F'")
      c.sql("CALL whpn.system.snapshot('pn.orders', tag => 'afterdel')")
      c.sql("CALL whpn.system.rollback_to_snapshot('pn.orders', 'base')")
    }
    child.sql(
      """SELECT 'deleted' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM whpn.pn.orders VERSION AS OF 'afterdel' GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'rolledback' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM whpn.pn.orders GROUP BY o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin)
  }

  val parquetSnapshotRollbackSql: String =
    """SELECT 'deleted' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'rolledback' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_orderstatus
      |ORDER BY src, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q234
  /** Equality-delete upsert WAVES + `CALL compact` reconcile on the
    * PARQUET tier (q227's shape, columnar): three plain-INSERT waves
    * land stamped parquet shards with key files, then compact's
    * ROWS-BASED rewrite (byte concat is a JSONL-only trick) drops the
    * hidden rows, re-stamps, and retires the key files. The grouped
    * aggregate over the post-compact state must match DuckDB's
    * last-wave-wins recompute — a leaked hidden row, an over-deleted
    * key, or a row lost by the parquet rewrite shifts the sums and
    * hash-fails. */
  def parquetUpsertWaves(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q234", "whpu") { c =>
      c.sql("CREATE NAMESPACE whpu.pu")
      c.sql(
        """CREATE TABLE whpu.pu.orders
          |(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.upsert.keys'='o_orderkey')""".stripMargin)
      c.sql(
        s"""INSERT INTO whpu.pu.orders
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql(
        s"""INSERT INTO whpu.pu.orders
           |SELECT /*+ REPARTITION(2) */ o_orderkey,
           |  o_custkey + 1000000 AS o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 5 = 0"""
          .stripMargin)
      c.sql(
        s"""INSERT INTO whpu.pu.orders
           |SELECT /*+ REPARTITION(2) */ o_orderkey,
           |  o_custkey + 5000000 AS o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 7 = 0"""
          .stripMargin)
      c.sql("CALL whpu.system.compact('pu.orders')")
    }
    child.sql(
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM whpu.pu.orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val parquetUpsertWavesSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 5000000
      |                WHEN o_orderkey % 5 = 0 THEN o_custkey + 1000000
      |                ELSE o_custkey END) AS BIGINT) AS sum_cust
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q235
  /** CATALOG-TABLE statistics for CBO (`CALL analyze_table`,
    * [[graft.sources.dsv2.JsonlTableStats]]): two graft parquet tables
    * are ANALYZEd — one distributed pass computing rows / NDV / nulls /
    * min-max persisted into the table spec with a layout fingerprint —
    * then a join over them plans in a CBO-enabled child session.
    * Plan-guarded in-query: BOTH scan relations must report the EXACT
    * ANALYZE row count through `estimateStatistics` (not byte-size
    * guesses) and carry non-empty per-column stats with the join key's
    * NDV — the statistics channel join reordering and broadcast
    * decisions feed on at 100 TB. The oracle pins that the statistics
    * path never changes results. */
  def cboStatsJoin(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q235", "whcb") { c =>
      c.conf.set("spark.sql.cbo.enabled", "true")
      c.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      c.sql("CREATE NAMESPACE whcb.cb")
      c.sql(
        """CREATE TABLE whcb.cb.customer
          |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
      c.sql(
        s"""INSERT INTO whcb.cb.customer
           |SELECT /*+ REPARTITION(2) */ c_custkey, c_mktsegment, c_acctbal
           |FROM parquet.`$dir/customer.parquet`""".stripMargin)
      c.sql(
        """CREATE TABLE whcb.cb.orders
          |(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
      c.sql(
        s"""INSERT INTO whcb.cb.orders
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_orderstatus
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whcb.system.analyze_table('cb.customer')")
      c.sql("CALL whcb.system.analyze_table('cb.orders')")
    }
    val df = child.sql(
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM whcb.cb.customer JOIN whcb.cb.orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    // plan guard: every scan must report the EXACT analyze row count
    // and non-empty column statistics (join-key NDV present)
    val expected = Map(
      "whcb.cb.customer" -> child.sql(
        "SELECT count(*) FROM whcb.cb.customer").head.getLong(0),
      "whcb.cb.orders" -> child.sql(
        "SELECT count(*) FROM whcb.cb.orders").head.getLong(0))
    val rels = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
    }
    require(rels.size == 2, s"expected 2 v2 scans, got ${rels.size}")
    val counts = rels.map(_.computeStats()).map { st =>
      require(st.attributeStats.nonEmpty,
        "CBO column statistics missing from a graft scan")
      require(st.attributeStats.exists { case (a, cs) =>
        (a.name == "c_custkey" || a.name == "o_custkey") &&
          cs.distinctCount.isDefined },
        "join-key NDV missing from the ANALYZE stats")
      st.rowCount.getOrElse(sys.error("ANALYZE rowCount missing")).toLong
    }.sorted
    require(counts == expected.values.toSeq.sorted,
      s"planned row counts $counts != exact ${expected.values.toSeq.sorted}")
    df
  }

  val cboStatsJoinSql: String =
    """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q236
  /** One-CALL format conversion (`CALL convert_table`): a JSONL orders
    * table pins snapshot 'pre', converts to parquet in a single CALL
    * (format property + full rewrite under the compact lock / trash /
    * snapshot-retention protocol + post-state assertion), then appends
    * one more wave of rows. The query reads the LIVE converted table
    * and `VERSION AS OF 'pre'`; the pre-conversion snapshot must keep
    * answering from retained jsonl shards while the live table serves
    * every row from parquet — guarded in-query by a live-layout
    * extension sweep. */
  def convertTableProbe(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q236", "whcv") { c =>
      c.sql("CREATE NAMESPACE whcv.cv")
      c.sql(
        """CREATE TABLE whcv.cv.orders
          |(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
          |""".stripMargin)
      c.sql(
        s"""INSERT INTO whcv.cv.orders
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_orderstatus,
           |  o_totalprice
           |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 2 = 0"""
          .stripMargin)
      c.sql("CALL whcv.system.snapshot('cv.orders', tag => 'pre')")
      c.sql("CALL whcv.system.convert_table('cv.orders', format => 'parquet')")
      c.sql(
        s"""INSERT INTO whcv.cv.orders
           |SELECT /*+ REPARTITION(2) */ o_orderkey, o_orderstatus,
           |  o_totalprice
           |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey % 2 = 1"""
          .stripMargin)
      // live-layout guard: every live shard must be parquet (the
      // conversion finished AND the post-conversion append honored the
      // switched format)
      val root = c.conf.get("spark.sql.catalog.whcv.root")
      val bad = new java.io.File(s"$root/cv/orders").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".") && !f.getName.endsWith(".parquet"))
      require(bad.isEmpty,
        s"convert_table left non-parquet live shards: ${bad.toSeq}")
    }
    child.sql(
      """SELECT 'live' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM whcv.cv.orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'pre' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM whcv.cv.orders VERSION AS OF 'pre' GROUP BY o_orderstatus
        |ORDER BY src, o_orderstatus""".stripMargin)
  }

  // ---------------------------------------------------------------- q237
  /** STATS-PROVEN EAGER AGGREGATION ([[graft.plans.EagerAggregation]]):
    * the Yan–Larson partial push-down of aggregates through a join,
    * unlocked by `CALL analyze_table(..., unique_candidates =>
    * 'c_custkey')` — an EXACT duplicate-free verification served while
    * the table's content fingerprint stays fresh. The verbatim
    * fact⋈dim aggregate (the q196-class SQL-text shape Catalyst can't
    * pre-shrink itself) then plans with the fact pre-aggregated by
    * join key BELOW the join — |distinct keys| rows through the join
    * shuffle instead of |fact|, the rewrite that matters at 100 TB.
    * Plan-guarded in-query: an Aggregate must sit UNDER the join in
    * the optimized plan, and the rewrite must not survive with the
    * premise withdrawn. The oracle pins exactness — a double-counted
    * pre-merged group or a dropped null-key row shifts every sum. */
  def eagerAggJoin(s: SparkSession, dir: String): DataFrame = {
    val child = Fixtures.catalogSession(s, dir, "graft-cat-q237", "whea") { c =>
      c.conf.set("spark.graft.eagerAgg.enabled", "true")
      // the rewrite's cost guard stands down for broadcast-able dims;
      // this row represents the AT-SCALE shape (both sides shuffle)
      c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.sql("CREATE NAMESPACE whea.ea")
      c.sql(
        """CREATE TABLE whea.ea.customer (c_custkey BIGINT,
          |  c_mktsegment STRING)""".stripMargin)
      c.sql(
        s"""INSERT INTO whea.ea.customer
           |SELECT c_custkey, c_mktsegment
           |FROM parquet.`$dir/customer.parquet`""".stripMargin)
      c.sql(
        """CREATE TABLE whea.ea.orders (o_orderkey BIGINT,
          |  o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
      c.sql(
        s"""INSERT INTO whea.ea.orders
           |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_totalprice
           |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      c.sql("CALL whea.system.analyze_table('ea.customer', " +
        "unique_candidates => 'c_custkey')")
    }
    val df = child.sql(
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
        |  COUNT(*) AS n, MAX(o_orderkey) AS max_ok
        |FROM whea.ea.orders JOIN whea.ea.customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    // plan guard: the partial aggregate sits BELOW the join
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val pushed = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.children.exists(
        _.collectFirst { case a: Aggregate => a }.isDefined)
    }.exists(identity)
    require(pushed, "eager aggregation did not push below the join:\n" +
      df.queryExecution.optimizedPlan)
    df
  }

  val eagerAggJoinSql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      |  CAST(COUNT(*) AS BIGINT) AS n, MAX(o_orderkey) AS max_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val convertTableProbeSql: String =
    """SELECT 'live' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'pre' AS src, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
      |ORDER BY src, o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q144_incremental_join_view" -> (incrementalJoinView _),
    "q107_constraint_audit" -> (constraintAudit _),
    "q116_profile_orders_approx" -> (profileOrdersApprox _),
    "q114_dsv2_jsonl_scan" -> (dsv2JsonlScan _),
    "q199_catalog_evolution" -> (catalogEvolution _),
    "q202_sql_merge" -> (sqlMerge _),
    "q204_merge_on_read" -> (sqlMergeOnRead _),
    "q205_view_routed" -> (viewRouted _),
    "q203_catalog_fn_ngrams" -> (catalogFnNgrams _),
    "q206_catalog_agg_fns" -> (catalogAggFns _),
    "q188_spj_doc_join" -> (spjDocJoin _),
    "q193_catalog_sql_roundtrip" -> (catalogSqlRoundtrip _),
    "q207_skip_index_probe" -> (skipIndexProbe _),
    "q208_skip_index_agg" -> (skipIndexAgg _),
    "q209_cluster_table_probe" -> (clusterTableProbe _),
    "q210_snapshot_time_travel" -> (snapshotTimeTravel _),
    "q211_cluster_partitioned" -> (clusterPartitionedProbe _),
    "q212_snapshot_change_feed" -> (snapshotChangeFeed _),
    "q213_column_rename" -> (columnRenameTwoGen _),
    "q214_write_order_probe" -> (writeOrderProbe _),
    "q215_nested_events_rollup" -> (nestedEventsRollup _),
    "q216_temporal_skip_probe" -> (temporalSkipProbe _),
    "q217_changes_source_window" -> (changesSourceWindow _),
    "q218_auto_snapshot_feed" -> (autoSnapshotFeed _),
    "q219_drop_column_three_gen" -> (dropColumnThreeGen _),
    "q220_nested_skip_probe" -> (nestedSkipProbe _),
    "q221_rollback_snapshot" -> (rollbackSnapshotProbe _),
    "q222_cdc_incremental_agg" -> (cdcIncrementalAgg _),
    "q223_cdc_rollback_restores" -> (cdcRollbackRestores _),
    "q224_type_widen_two_gen" -> (typeWidenTwoGen _),
    "q225_cow_typed_window" -> (cowTypedWindow _),
    "q226_partition_evolution" -> (partitionEvolutionProbe _),
    "q227_upsert_waves" -> (upsertWaves _),
    "q228_corpus_upsert_string_key" -> (corpusUpsertWaves _),
    "q229_upsert_time_travel" -> (upsertTimeTravel _),
    "q230_date_key_upsert" -> (dateKeyUpsert _),
    "q231_partition_rename" -> (partitionRenameProbe _),
    "q232_parquet_skip_probe" -> (parquetSkipProbe _),
    "q233_parquet_snapshot_rollback" -> (parquetSnapshotRollback _),
    "q234_parquet_upsert_waves" -> (parquetUpsertWaves _),
    "q235_cbo_stats_join" -> (cboStatsJoin _),
    "q236_convert_table_probe" -> (convertTableProbe _),
    "q237_eager_agg_join" -> (eagerAggJoin _),
    "q94_profile_orders" -> (profileOrders _),
    "q97_pruned_shipdate_probe" -> (prunedShipdateProbe _),
    "q179_bloom_point_lookup" -> (bloomPointLookup _),
    "q36_asof_dim_lookup" -> (asofDimLookup _),
    "q37_salted_enrich" -> (saltedEnrich _),
    "q38_price_band_join" -> (priceBandJoin _),
    "q30_scd2_user_dim" -> (scd2UserDim _),
    "q31_merge_upsert_orders" -> (mergeUpsertOrders _),
    "q32_bronze_normalize_events" -> (bronzeNormalizeEvents _),
    "q33_attendance_cube" -> (attendanceCube _),
    "q34_event_lateness" -> (eventLateness _),
    "q35_local_day_activity" -> (localDayActivity _),
  )

  val oracles: Map[String, String] = Map(
    "q144_incremental_join_view" -> incrementalJoinViewSql,
    "q107_constraint_audit" -> constraintAuditSql,
    "q114_dsv2_jsonl_scan" -> dsv2JsonlScanSql,
    "q199_catalog_evolution" -> catalogEvolutionSql,
    "q202_sql_merge" -> sqlMergeSql,
    "q204_merge_on_read" -> sqlMergeOnReadSql,
    "q205_view_routed" -> viewRoutedSql,
    "q203_catalog_fn_ngrams" -> catalogFnNgramsSql,
    "q206_catalog_agg_fns" -> catalogAggFnsSql,
    "q188_spj_doc_join" -> spjDocJoinSql,
    "q193_catalog_sql_roundtrip" -> catalogSqlRoundtripSql,
    "q207_skip_index_probe" -> skipIndexProbeSql,
    "q208_skip_index_agg" -> skipIndexAggSql,
    "q209_cluster_table_probe" -> clusterTableProbeSql,
    "q210_snapshot_time_travel" -> snapshotTimeTravelSql,
    "q211_cluster_partitioned" -> clusterPartitionedProbeSql,
    "q212_snapshot_change_feed" -> snapshotChangeFeedSql,
    "q213_column_rename" -> columnRenameTwoGenSql,
    "q214_write_order_probe" -> writeOrderProbeSql,
    "q215_nested_events_rollup" -> nestedEventsRollupSql,
    "q216_temporal_skip_probe" -> temporalSkipProbeSql,
    "q217_changes_source_window" -> changesSourceWindowSql,
    "q218_auto_snapshot_feed" -> autoSnapshotFeedSql,
    "q219_drop_column_three_gen" -> dropColumnThreeGenSql,
    "q220_nested_skip_probe" -> nestedSkipProbeSql,
    "q221_rollback_snapshot" -> rollbackSnapshotProbeSql,
    "q222_cdc_incremental_agg" -> cdcIncrementalAggSql,
    "q223_cdc_rollback_restores" -> cdcRollbackRestoresSql,
    "q224_type_widen_two_gen" -> typeWidenTwoGenSql,
    "q225_cow_typed_window" -> cowTypedWindowSql,
    "q226_partition_evolution" -> partitionEvolutionProbeSql,
    "q227_upsert_waves" -> upsertWavesSql,
    "q228_corpus_upsert_string_key" -> corpusUpsertWavesSql,
    "q229_upsert_time_travel" -> upsertTimeTravelSql,
    "q230_date_key_upsert" -> dateKeyUpsertSql,
    "q231_partition_rename" -> partitionRenameProbeSql,
    "q232_parquet_skip_probe" -> parquetSkipProbeSql,
    "q233_parquet_snapshot_rollback" -> parquetSnapshotRollbackSql,
    "q234_parquet_upsert_waves" -> parquetUpsertWavesSql,
    "q235_cbo_stats_join" -> cboStatsJoinSql,
    "q236_convert_table_probe" -> convertTableProbeSql,
    "q237_eager_agg_join" -> eagerAggJoinSql,
    "q116_profile_orders_approx" -> profileOrdersApproxSql,
    "q94_profile_orders" -> profileOrdersSql,
    "q97_pruned_shipdate_probe" -> prunedShipdateProbeSql,
    "q179_bloom_point_lookup" -> bloomPointLookupSql,
    "q36_asof_dim_lookup" -> asofDimLookupSql,
    "q37_salted_enrich" -> saltedEnrichSql,
    "q38_price_band_join" -> priceBandJoinSql,
    "q30_scd2_user_dim" -> scd2UserDimSql,
    "q31_merge_upsert_orders" -> mergeUpsertOrdersSql,
    "q32_bronze_normalize_events" -> bronzeNormalizeEventsSql,
    "q33_attendance_cube" -> attendanceCubeSql,
    "q34_event_lateness" -> eventLatenessSql,
    "q35_local_day_activity" -> localDayActivitySql,
  )
}
