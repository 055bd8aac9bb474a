package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[graft.sources.dsv2.JsonlSkipIndex]] wired into [[graft.sources.dsv2.JsonlScan]]
  * planning: after `CALL build_skip_index`, a selective probe on an
  * indexed catalog table must PLAN fewer input partitions (= open
  * fewer shards) while returning byte-identical rows; staleness
  * (appends after the build) must only ever cost skipping. */
class JsonlSkipIndexSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.sk", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.sk.root",
      graft.core.Fixtures.tempDir("graft-skip").toString)
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def shardsPlanned(q: String): Int = sql(q).rdd.getNumPartitions

  test("min/max index prunes point and range probes; rows identical; appends stay visible") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.ns")
    sql("CREATE TABLE sk.ns.t (k BIGINT, v BIGINT)")
    // four shards with disjoint, clustered k ranges
    for (base <- Seq(0L, 100L, 200L, 300L))
      sql(s"""INSERT INTO sk.ns.t SELECT /*+ REPARTITION(1) */
             |  id + $base AS k, (id + $base) * 10 AS v
             |FROM range(0, 100)""".stripMargin)
    val point = "SELECT k, v FROM sk.ns.t WHERE k = 250"
    val range = "SELECT k, v FROM sk.ns.t WHERE k >= 350"
    val lower = "SELECT k, v FROM sk.ns.t WHERE k < 150"
    assert(shardsPlanned(point) == 4, "without an index every shard opens")
    val n = sql("CALL sk.system.build_skip_index('ns.t', columns => 'k')")
      .head.getInt(0)
    assert(n == 4, s"indexed $n shards")
    // point probe: one shard's [200, 299] range admits
    assert(shardsPlanned(point) == 1)
    assert(sql(point).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((250L, 2500L)))
    // range probes prune by [min, max] overlap
    assert(shardsPlanned(range) == 1)
    assert(sql(range).head.getLong(0) >= 350L)
    assert(shardsPlanned(lower) == 2)
    assert(sql(lower).count() == 150L)
    // a probe outside every range opens ZERO shards
    assert(shardsPlanned("SELECT k FROM sk.ns.t WHERE k = 5000") == 0)
    assert(sql("SELECT k FROM sk.ns.t WHERE k = 5000").count() == 0L)
    // COUNT(*) pushdown shares prunedShards — and stays correct
    assert(sql("SELECT count(*) FROM sk.ns.t WHERE k >= 350").head.getLong(0)
      == 50L)
    // staleness: a shard appended AFTER the build is index-unseen and
    // must always be read — the duplicate k=250 lands in the answer
    sql("INSERT INTO sk.ns.t SELECT /*+ REPARTITION(1) */ 250L AS k, 999L AS v")
    assert(shardsPlanned(point) == 2, "indexed shard + unseen shard")
    assert(sql(point).collect().map(_.getLong(1)).sorted.toSeq
      == Seq(999L, 2500L))
    // ...even when the probe misses every INDEXED range
    assert(shardsPlanned("SELECT k FROM sk.ns.t WHERE k = 5000") == 1)
  }

  test("bloom tier prunes scattered keys that min/max cannot") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.bl")
    sql("CREATE TABLE sk.bl.t (k BIGINT, v BIGINT)")
    // two shards whose k sets INTERLEAVE (evens / odds over the same
    // span): both [min, max] ranges cover every probe — range skipping
    // is useless by construction, only the bloom can prune
    sql("""INSERT INTO sk.bl.t SELECT /*+ REPARTITION(1) */
          |  id * 2 AS k, id AS v FROM range(0, 1000)""".stripMargin)
    sql("""INSERT INTO sk.bl.t SELECT /*+ REPARTITION(1) */
          |  id * 2 + 1 AS k, id AS v FROM range(0, 1000)""".stripMargin)
    sql("""CALL sk.system.build_skip_index('bl.t', columns => 'k',
          |bloom_columns => 'k')""".stripMargin)
    val even = "SELECT k, v FROM sk.bl.t WHERE k = 500"
    val odd = "SELECT k, v FROM sk.bl.t WHERE k = 501"
    assert(shardsPlanned(even) == 1, "even key lives in one shard")
    assert(shardsPlanned(odd) == 1, "odd key lives in the other")
    assert(sql(even).head.getLong(1) == 250L)
    assert(sql(odd).head.getLong(1) == 250L)
    // absent key inside both ranges: blooms reject, zero shards open
    assert(shardsPlanned("SELECT k FROM sk.bl.t WHERE k = 2001") == 0)
    assert(sql("SELECT k FROM sk.bl.t WHERE k = 2001").count() == 0L)
    // IN probes take any-member semantics
    assert(shardsPlanned("SELECT k FROM sk.bl.t WHERE k IN (500, 2001)") == 1)
  }

  test("graft.skip.columns: writers maintain the index at write time — no CALL, no staleness") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.wt")
    sql("""CREATE TABLE sk.wt.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    for (base <- Seq(0L, 100L, 200L))
      sql(s"""INSERT INTO sk.wt.t SELECT /*+ REPARTITION(1) */
             |  id + $base AS k, id AS v FROM range(0, 100)""".stripMargin)
    // NO build_skip_index call — the inserts themselves indexed the shards
    assert(shardsPlanned("SELECT k FROM sk.wt.t WHERE k = 250") == 1)
    assert(sql("SELECT k FROM sk.wt.t WHERE k = 250").count() == 1L)
    assert(shardsPlanned("SELECT k FROM sk.wt.t WHERE k = 5000") == 0)
    // an append is indexed BY ITS OWN COMMIT: the out-of-range probe
    // still opens zero shards (no unseen-shard staleness window)
    sql("INSERT INTO sk.wt.t SELECT /*+ REPARTITION(1) */ id + 300 AS k, id AS v FROM range(0, 100)")
    assert(shardsPlanned("SELECT k FROM sk.wt.t WHERE k = 5000") == 0)
    assert(shardsPlanned("SELECT k FROM sk.wt.t WHERE k = 350") == 1)
    assert(sql("SELECT k FROM sk.wt.t WHERE k = 350").count() == 1L)
  }

  test("write-time stats flow through partitioned, COW-rewrite, and MOR-insert writers") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.wp")
    // partitioned: per-FILE stats on the rolling writer
    sql("""CREATE TABLE sk.wp.p (k BIGINT, grp STRING)
          |PARTITIONED BY (grp)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    sql("""INSERT INTO sk.wp.p
          |SELECT id AS k, CASE WHEN id < 500 THEN 'a' ELSE 'b' END AS grp
          |FROM range(0, 1000)""".stripMargin)
    // grp='a' holds k<500 only: the k-probe prunes WITHIN the partition
    // dirs (both dirs admit by partition value; only a's shard range matches)
    assert(shardsPlanned("SELECT k FROM sk.wp.p WHERE k = 100") == 1)
    assert(sql("SELECT k FROM sk.wp.p WHERE k = 100").count() == 1L)
    // MOR: MERGE-inserted rows land in an indexed shard
    sql("""CREATE TABLE sk.wp.m (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k',
          |               'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sk.wp.m SELECT /*+ REPARTITION(1) */ id AS k, id AS v FROM range(0, 100)")
    sql("CREATE TABLE sk.wp.src (k BIGINT, v BIGINT)")
    sql("INSERT INTO sk.wp.src VALUES (5000, 1), (6000, 2)")
    sql("""MERGE INTO sk.wp.m t USING sk.wp.src s ON t.k = s.k
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(shardsPlanned("SELECT k FROM sk.wp.m WHERE k = 5000") == 1,
      "MOR insert shard indexed by its delta commit")
    assert(shardsPlanned("SELECT k FROM sk.wp.m WHERE k = 7000") == 0)
    // COW: an UPDATE's replacement shards re-index through the rewrite
    sql("""CREATE TABLE sk.wp.c (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    sql("INSERT INTO sk.wp.c SELECT /*+ REPARTITION(1) */ id AS k, id AS v FROM range(0, 100)")
    sql("UPDATE sk.wp.c SET v = v + 1 WHERE k >= 0")
    assert(shardsPlanned("SELECT k FROM sk.wp.c WHERE k = 50") == 1)
    assert(shardsPlanned("SELECT k FROM sk.wp.c WHERE k = 500") == 0,
      "replacement shard's write-time stats present after COW rewrite")
    sql("DROP TABLE sk.wp.src")
  }

  test("write-time stats through the streaming sink") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.st")
    sql("""CREATE TABLE sk.st.sink (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    val src = graft.core.Fixtures.tempDir("graft-skip-stream").toString
    spark.range(0, 50).selectExpr("id AS k", "id AS v")
      .write.format("graft-jsonl").mode("append").save(src)
    val q = spark.readStream.format("graft-jsonl")
      .schema("k BIGINT, v BIGINT").load(src)
      .writeStream.format("graft-jsonl")
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("graft-skip-ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("sk.st.sink")
    q.awaitTermination(60000)
    assert(sql("SELECT count(*) FROM sk.st.sink").head.getLong(0) == 50L)
    assert(shardsPlanned("SELECT k FROM sk.st.sink WHERE k = 5000") == 0,
      "epoch commit indexed the streamed shards")
    assert(sql("SELECT k FROM sk.st.sink WHERE k = 25").count() == 1L)
  }

  test("MIN/MAX/COUNT pushdown answers from the index without opening files") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.ag")
    sql("""CREATE TABLE sk.ag.t (k BIGINT, s STRING)
          |TBLPROPERTIES ('graft.skip.columns'='k,s')""".stripMargin)
    sql("""INSERT INTO sk.ag.t SELECT /*+ REPARTITION(1) */
          |  id AS k, concat('v', lpad(CAST(id AS STRING), 4, '0')) AS s
          |FROM range(0, 100)""".stripMargin)
    sql("""INSERT INTO sk.ag.t SELECT /*+ REPARTITION(1) */
          |  id + 500 AS k, concat('w', CAST(id AS STRING)) AS s
          |FROM range(0, 100)""".stripMargin)
    val agg = "SELECT MIN(k) AS mn, MAX(k) AS mx, COUNT(*) AS n, " +
      "MIN(s) AS smn, MAX(s) AS smx FROM sk.ag.t"
    val plan = sql(agg).queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [MIN(k), MAX(k), COUNT(*), " +
      "MIN(s), MAX(s)]"), plan)
    val r = sql(agg).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (0L, 599L, 200L))
    assert((r.getString(3), r.getString(4)) == ("v0000", "w99"))
    // the decisive witness: corrupt every data shard — an index-answered
    // aggregate never opens them, a row drain would die on the garbage
    val root = spark.conf.get("spark.sql.catalog.sk.root")
    def shards(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory && !f.getName.startsWith("_")) shards(f)
        else if (f.isFile && f.getName.endsWith(".jsonl.gz")) Seq(f) else Nil)
    shards(new java.io.File(s"$root/ag/t")).foreach { f =>
      val w = new java.io.FileOutputStream(f)
      w.write("not gzip".getBytes("UTF-8")); w.close()
    }
    val r2 = sql(agg).head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == (0L, 599L, 200L),
      "metadata-only aggregate must not touch shard bytes")
    // a pushed filter disables the index answer (partials must reflect
    // the filter) — the drain path then reads the (corrupted) shards
    intercept[Exception] {
      sql("SELECT MIN(k) AS mn FROM sk.ag.t WHERE k > 10").collect()
    }
  }

  test("agg pushdown drains rows when filters, deletes, or unindexed shards demand it") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.ad")
    sql("""CREATE TABLE sk.ad.t (k BIGINT, v DOUBLE)
          |TBLPROPERTIES ('graft.skip.columns'='k',
          |               'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO sk.ad.t SELECT /*+ REPARTITION(1) */
          |  id AS k, CAST(id AS DOUBLE) / 4 AS v FROM range(0, 100)""".stripMargin)
    // filtered aggregate: partials must respect the filter
    val f = sql("SELECT MIN(k) AS mn, MAX(k) AS mx, COUNT(*) AS n " +
      "FROM sk.ad.t WHERE k >= 10 AND k < 20").head
    assert((f.getLong(0), f.getLong(1), f.getLong(2)) == (10L, 19L, 10L))
    // v is NOT in graft.skip.columns: aggregate still accepted, drains
    val u = sql("SELECT MIN(v) AS mn, MAX(v) AS mx FROM sk.ad.t").head
    assert((u.getDouble(0), u.getDouble(1)) == (0.0d, 24.75d))
    // a MOR delete adds a sidecar: the index answer (stale range) must
    // be bypassed — min/count reflect the deletes
    sql("DELETE FROM sk.ad.t WHERE k < 5")
    val d = sql("SELECT MIN(k) AS mn, COUNT(*) AS n FROM sk.ad.t").head
    assert((d.getLong(0), d.getLong(1)) == (5L, 95L))
  }

  test("CALL cluster_table: sort-rewrite makes an unclustered table skippable") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.cl")
    sql("""CREATE TABLE sk.cl.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    // four shards whose k sets interleave mod 4: every shard spans the
    // whole key space, so even a fresh index prunes nothing
    for (m <- 0 to 3)
      sql(s"""INSERT INTO sk.cl.t SELECT /*+ REPARTITION(1) */
             |  id * 4 + $m AS k, id AS v FROM range(0, 250)""".stripMargin)
    sql("DELETE FROM sk.cl.t WHERE k = 17") // a sidecar to retire
    sql("CALL sk.system.build_skip_index('cl.t', columns => 'k')")
    val probe = "SELECT k, v FROM sk.cl.t WHERE k >= 900"
    assert(shardsPlanned(probe) == 4, "interleaved layout: index prunes nothing")
    val expect = sql(probe).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    sql("CALL sk.system.cluster_table('cl.t', columns => 'k', target_shards => 4)")
    assert(shardsPlanned(probe) == 1,
      "after clustering, the range probe opens one shard")
    assert(sql(probe).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq == expect.toSeq, "clustering must not change answers")
    assert(sql("SELECT count(*) FROM sk.cl.t").head.getLong(0) == 999L)
    assert(sql("SELECT k FROM sk.cl.t WHERE k = 17").count() == 0L,
      "retired sidecar's delete stays applied (folded into the rewrite)")
    assert(!new java.io.File(
      s"${spark.conf.get("spark.sql.catalog.sk.root")}/cl/t/_deletes").exists(),
      "consumed sidecars dropped with the shards they indexed")
  }

  test("tracker MEASURES write-order sortedness; the verified prefix " +
      "rides the index into zero-sort plans") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    def row(a: java.lang.Long, b: java.lang.Long) =
      new GenericInternalRow(Array[Any](a, b))
    // in order on (a, b): full prefix verified
    val t1 = new graft.sources.dsv2.JsonlSkipIndex.ShardStatsTracker(
      schema, Nil, Seq("a", "b"))
    Seq(row(null, 5L), row(1L, 1L), row(1L, 2L), row(2L, 0L))
      .foreach(t1.update)
    assert(t1.snapshot().sorted == Seq("a", "b"), t1.snapshot().sorted)
    // b regresses inside an `a` tie: prefix shrinks to (a)
    val t2 = new graft.sources.dsv2.JsonlSkipIndex.ShardStatsTracker(
      schema, Nil, Seq("a", "b"))
    Seq(row(1L, 2L), row(1L, 1L), row(2L, 9L)).foreach(t2.update)
    assert(t2.snapshot().sorted == Seq("a"), t2.snapshot().sorted)
    // a regresses: nothing verified
    val t3 = new graft.sources.dsv2.JsonlSkipIndex.ShardStatsTracker(
      schema, Nil, Seq("a", "b"))
    Seq(row(2L, 0L), row(1L, 0L)).foreach(t3.update)
    assert(t3.snapshot().sorted == Nil, t3.snapshot().sorted)
    // a null AFTER a value violates NULLS FIRST
    val t4 = new graft.sources.dsv2.JsonlSkipIndex.ShardStatsTracker(
      schema, Nil, Seq("a"))
    Seq(row(1L, 0L), row(null, 0L)).foreach(t4.update)
    assert(t4.snapshot().sorted == Nil, t4.snapshot().sorted)
    // reset() re-arms the verification for the next rolled file
    t3.reset()
    Seq(row(1L, 0L), row(2L, 0L)).foreach(t3.update)
    assert(t3.snapshot().sorted == Seq("a", "b"))
  }

  test("verified write-order + key grouping: a window over " +
      "(partition key, order col) plans with zero sorts") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.so")
    sql("""CREATE TABLE sk.so.t (lang STRING, k BIGINT, v BIGINT)
          |PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.write.order'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    // one task -> one verified-sorted file per lang dir
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try sql("""INSERT INTO sk.so.t SELECT * FROM VALUES
              |  ('en', 3L, 30L), ('en', 1L, 10L), ('de', 2L, 20L),
              |  ('en', 2L, 20L), ('de', 9L, 90L), ('fr', 5L, 50L)
              |  AS v(lang, k, v)""".stripMargin)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val root = spark.conf.get("spark.sql.catalog.sk.root")
    for (lang <- Seq("en", "de", "fr"))
      assert(new java.io.File(s"$root/so/t/lang=$lang").listFiles()
        .count(_.getName.endsWith(".jsonl.gz")) == 1,
        s"need one shard per $lang dir for the grouped-ordering claim")
    // the spj scan reports (lang, k) per-partition ordering: the
    // window's required clustering is satisfied by the key grouping
    // and its required sort by the reported ordering — no SortExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // no read-side declaration needed: the report derives the common
    // verified prefix from the skip entries themselves
    val df = spark.read.format("graft-jsonl")
      .schema("lang string, k long, v long")
      .option("spj", "true")
      .load(s"$root/so/t")
      .withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy("k")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ["),
      s"verified ordering must satisfy the window's sort:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(got == Seq(("de", 2L, 1), ("de", 9L, 2), ("en", 1L, 1),
      ("en", 2L, 2), ("en", 3L, 3), ("fr", 5L, 1)), got.toString)
  }

  test("cluster_table transplants verified sortedness: the maintained " +
      "layout gets zero-sort windows") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.cv")
    sql("""CREATE TABLE sk.cv.t (lang STRING, k BIGINT, v BIGINT)
          |PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    // several UNSORTED shards per dir: nothing is verified at write
    for (m <- 0 to 2)
      sql(s"""INSERT INTO sk.cv.t SELECT /*+ REPARTITION(1) */ * FROM VALUES
             |  ('en', ${9 - m}L, 1L), ('en', ${20 - m}L, 2L),
             |  ('de', ${5 - m}L, 3L) AS v(lang, k, v)""".stripMargin)
    sql("CALL sk.system.cluster_table('cv.t', columns => 'k', " +
      "target_shards => 1)")
    val root = spark.conf.get("spark.sql.catalog.sk.root")
    for (lang <- Seq("en", "de"))
      assert(new java.io.File(s"$root/cv/t/lang=$lang").listFiles()
        .count(_.getName.endsWith(".jsonl.gz")) == 1,
        s"expected the rewrite to land one shard per $lang dir")
    // the staging write MEASURED the rewrite's sort and the transplant
    // carried it into the rebuilt index: zero-sort window, no options
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val df = spark.read.format("graft-jsonl")
      .schema("lang string, k long, v long")
      .option("spj", "true").load(s"$root/cv/t")
      .withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy("k")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ["),
      s"cluster-maintained layout must plan the window sort-free:\n$plan")
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(got == Seq(("de", 3L, 1), ("de", 4L, 2), ("de", 5L, 3),
      ("en", 7L, 1), ("en", 8L, 2), ("en", 9L, 3),
      ("en", 18L, 4), ("en", 19L, 5), ("en", 20L, 6)), got.toString)
  }

  test("runtime filtering reaches the skip index: a DPP-style IN on a " +
      "clustered column prunes shards") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.rt")
    sql("""CREATE TABLE sk.rt.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.write.order'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try sql("""INSERT INTO sk.rt.t
              |SELECT CAST(id AS BIGINT) AS k, id AS v
              |FROM range(0, 20000)""".stripMargin)
    finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val scan = sql("SELECT k, v FROM sk.rt.t")
      .queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan
      }.head
    val rtf = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    // the clustered column is advertised as runtime-filterable
    assert(rtf.filterAttributes().map(_.describe()).toSeq == Seq("k"))
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    val total = batch.planInputPartitions().length
    assert(total >= 4, s"need a multi-shard clustered layout, got $total")
    // the execution-time IN a broadcast dim would deliver: two point
    // keys land in at most two range-disjoint shards
    rtf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(5L, 19999L))))
    val pruned = batch.planInputPartitions().length
    assert(pruned <= 2 && pruned >= 1,
      s"skip-index runtime pruning must drop range-excluded shards: " +
        s"$pruned of $total")
    // end-to-end: the broadcast join is correct under the pruning
    import spark.implicits._
    val dim = Seq(5L, 19999L).toDF("k")
    val joined = sql("SELECT k, v FROM sk.rt.t")
      .join(org.apache.spark.sql.functions.broadcast(dim), "k")
    assert(joined.collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(5L, 19999L))
  }

  test("cluster_table is idempotent: an already-clustered table no-ops") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.ci")
    sql("""CREATE TABLE sk.ci.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    for (m <- 0 to 3)
      sql(s"""INSERT INTO sk.ci.t SELECT /*+ REPARTITION(1) */
             |  id * 4 + $m AS k, id AS v FROM range(0, 250)""".stripMargin)
    val root = spark.conf.get("spark.sql.catalog.sk.root")
    def listing(): Seq[(String, Long)] = new java.io.File(s"$root/ci/t")
      .listFiles().filter(f => f.isFile && f.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.lastModified)).sorted.toSeq
    sql("CALL sk.system.cluster_table('ci.t', columns => 'k', " +
      "target_shards => 8)")
    val afterFirst = listing()
    // second CALL: ranges are disjoint, count within target, no
    // sidecars/eq state — the rewrite must be SKIPPED (bytes and
    // mtimes identical), and the result rows report before == after
    val r = sql("CALL sk.system.cluster_table('ci.t', columns => 'k', " +
      "target_shards => 8)").collect()
    assert(listing() == afterFirst,
      "already-clustered: the CALL must not rewrite a byte")
    assert(r.nonEmpty && r.forall(x => x.getInt(1) == x.getInt(2)),
      s"no-op rows must report before == after: ${r.mkString(",")}")
    // an overlapping append breaks the property: the next CALL rewrites
    sql("""INSERT INTO sk.ci.t SELECT /*+ REPARTITION(1) */
          |  id * 4 AS k, id + 5000 AS v FROM range(0, 250)""".stripMargin)
    sql("CALL sk.system.cluster_table('ci.t', columns => 'k', " +
      "target_shards => 8)")
    assert(listing().map(_._1).intersect(afterFirst.map(_._1)).isEmpty,
      "overlapping append must force a real rewrite")
    assert(sql("SELECT count(*) FROM sk.ci.t").head.getLong(0) == 1250L)
    // a MOR sidecar also disqualifies the skip (cluster consolidates)
    sql("ALTER TABLE sk.ci.t SET TBLPROPERTIES " +
      "('graft.row-level.mode'='merge-on-read')")
    sql("DELETE FROM sk.ci.t WHERE k = 8")
    val beforeMor = listing()
    sql("CALL sk.system.cluster_table('ci.t', columns => 'k', " +
      "target_shards => 8)")
    assert(listing().map(_._1).intersect(beforeMor.map(_._1)).isEmpty,
      "pending sidecars must force the consolidating rewrite")
    // k=8 existed in BOTH generations (original id=2,m=0 and the
    // overlapping append's id=2) — the delete removed two rows
    assert(sql("SELECT count(*) FROM sk.ci.t").head.getLong(0) == 1248L)
  }

  test("cluster_table zorder is idempotent via the layout certificate") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.zi")
    sql("""CREATE TABLE sk.zi.t (x BIGINT, y BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='x,y')""".stripMargin)
    for (m <- 0 to 3)
      sql(s"""INSERT INTO sk.zi.t SELECT /*+ REPARTITION(1) */
             |  (id * 7 + $m) % 100 AS x, (id * 13 + $m) % 100 AS y, id AS v
             |FROM range(0, 250)""".stripMargin)
    val root = spark.conf.get("spark.sql.catalog.sk.root")
    def listing(): Seq[(String, Long)] = new java.io.File(s"$root/zi/t")
      .listFiles().filter(f => f.isFile && f.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.lastModified)).sorted.toSeq
    sql("CALL sk.system.cluster_table('zi.t', columns => 'x,y', " +
      "target_shards => 4, zorder => true)")
    val afterFirst = listing()
    // re-CALL with the SAME spec: the layout certificate (spec +
    // live-set fingerprint) certifies the z-order layout — no re-sort
    val r = sql("CALL sk.system.cluster_table('zi.t', columns => 'x,y', " +
      "target_shards => 4, zorder => true)").collect()
    assert(listing() == afterFirst,
      "certified z-order layout: the re-CALL must not rewrite a byte")
    assert(r.nonEmpty && r.forall(x => x.getInt(1) == x.getInt(2)),
      s"no-op rows must report before == after: ${r.mkString(",")}")
    // a DIFFERENT spec is not certified — it rewrites
    sql("CALL sk.system.cluster_table('zi.t', columns => 'y,x', " +
      "target_shards => 4, zorder => true)")
    assert(listing().map(_._1).intersect(afterFirst.map(_._1)).isEmpty,
      "a different z-order spec must force a rewrite")
    // an append changes the attempt-unique live set: fingerprint
    // mismatch, the next same-spec CALL consolidates
    val afterSwap = listing()
    sql("INSERT INTO sk.zi.t SELECT /*+ REPARTITION(1) */ 1L, 2L, 9999L")
    sql("CALL sk.system.cluster_table('zi.t', columns => 'y,x', " +
      "target_shards => 4, zorder => true)")
    assert(listing().map(_._1).intersect(afterSwap.map(_._1)).isEmpty,
      "an append must invalidate the certificate and force a rewrite")
    assert(sql("SELECT count(*) FROM sk.zi.t").head.getLong(0) == 1001L)
  }

  test("cluster_table on an upsert table: sorted stats land on the " +
      "STAMPED shards, no ghost index entries, and the re-CALL no-ops") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.eqc")
    sql("""CREATE TABLE sk.eqc.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("""INSERT INTO sk.eqc.t SELECT id AS k, id AS v
          |FROM range(0, 500)""".stripMargin)
    // a second wave: publishes key-file sequence >= 1, so the rewrite
    // below runs with eqMaxCl > 0 and stamps its staged outputs
    sql("""INSERT INTO sk.eqc.t SELECT id AS k, id + 1000 AS v
          |FROM range(0, 250)""".stripMargin)
    sql("CALL sk.system.cluster_table('eqc.t', columns => 'k', " +
      "target_shards => 2)")
    val root = spark.conf.get("spark.sql.catalog.sk.root")
    val table = new org.apache.hadoop.fs.Path(s"$root/eqc/t")
    val fs = table.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val live = new java.io.File(s"$root/eqc/t").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".jsonl.gz"))
      .map(_.getName).toSeq
    assert(live.nonEmpty && live.forall(_.contains("-eqs")),
      s"rewrite outputs must carry the eq stamp: $live")
    // the transplant must key the staged stats by the STAMPED names:
    // every index entry points at a file that exists (no ghosts), and
    // the live shards' entries carry the verified-sorted prefix
    val schema = spark.table("sk.eqc.t").schema
    val entries = graft.sources.dsv2.JsonlSkipIndex.entriesOf(fs, table, schema)
    assert(entries.nonEmpty)
    entries.foreach { case (rel, _) =>
      assert(new java.io.File(s"$root/eqc/t/$rel").exists(),
        s"ghost index entry for non-existent $rel")
    }
    val idx = graft.sources.dsv2.JsonlSkipIndex.open(fs, table, schema)
    live.foreach { n =>
      val e = idx.get(fs.makeQualified(new org.apache.hadoop.fs.Path(table, n)).toString)
      assert(e.exists(_.sorted.contains("k")),
        s"stamped shard $n lost its verified-sorted flag: $e")
    }
    // with the flags in place the re-CALL is certified a no-op
    def listing(): Seq[(String, Long)] = new java.io.File(s"$root/eqc/t")
      .listFiles().filter(f => f.isFile && f.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.lastModified)).sorted.toSeq
    val before = listing()
    sql("CALL sk.system.cluster_table('eqc.t', columns => 'k', " +
      "target_shards => 2)")
    assert(listing() == before,
      "reconciled + sorted upsert table: the re-CALL must no-op")
    // correctness: the upserted state survived the rewrite
    assert(sql("SELECT count(*) FROM sk.eqc.t").head.getLong(0) == 500L)
    assert(sql("SELECT v FROM sk.eqc.t WHERE k = 10").head.getLong(0) == 1010L)
    assert(sql("SELECT v FROM sk.eqc.t WHERE k = 400").head.getLong(0) == 400L)
  }

  test("graft.write.order: plain INSERTs land range-clustered shards that prune immediately") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.wo")
    sql("""CREATE TABLE sk.wo.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.write.order'='k', 'graft.skip.columns'='k')""".stripMargin)
    // one scattered insert: the write's REQUIRED range distribution
    // re-shuffles rows so landed shards are range-disjoint on k, and
    // write-time stats make them skippable with ZERO maintenance
    // CALLs. (AQE would rightly coalesce 20k tiny rows into ONE shard
    // — the at-scale behavior; pin the partition count so the test
    // sees a multi-shard layout.)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      sql("""INSERT INTO sk.wo.t
            |SELECT CAST(hash(id) % 10000 AS BIGINT) + 10000 AS k, id AS v
            |FROM range(0, 20000)""".stripMargin)
    } finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val total = shardsPlanned("SELECT k, v FROM sk.wo.t")
    assert(total >= 4, s"expected several shards, got $total")
    val probe = "SELECT k, v FROM sk.wo.t WHERE k >= 19500"
    val planned = shardsPlanned(probe)
    assert(planned >= 1 && planned <= math.max(1, total / 2),
      s"write-order shards not range-disjoint: $planned of $total planned")
    assert(sql(probe).collect().forall(_.getLong(0) >= 19500))
    assert(sql("SELECT count(*) FROM sk.wo.t").head.getLong(0) == 20000L)
    // partitioned + order: range prefix on partition cols keeps the
    // within-dir slices disjoint too
    sql("""CREATE TABLE sk.wo.p (k BIGINT, g STRING) PARTITIONED BY (g)
          |TBLPROPERTIES ('graft.write.order'='k', 'graft.skip.columns'='k')""".stripMargin)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      sql("""INSERT INTO sk.wo.p
            |SELECT CAST(hash(id) % 10000 AS BIGINT) + 10000 AS k,
            |  CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g
            |FROM range(0, 20000)""".stripMargin)
    } finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val dirTotal = shardsPlanned("SELECT k FROM sk.wo.p WHERE g = 'a'")
    val dirPlanned = shardsPlanned(
      "SELECT k FROM sk.wo.p WHERE g = 'a' AND k >= 19500")
    assert(dirTotal >= 2 && dirPlanned < dirTotal,
      s"within-dir write-order pruning: $dirPlanned of $dirTotal")
    // property validation: unknown order column refuses at ALTER
    val e = intercept[Exception] {
      sql("ALTER TABLE sk.wo.t SET TBLPROPERTIES ('graft.write.order'='nope')")
    }
    assert(e.getMessage.contains("no column"), e.getMessage)
  }

  test("temporal skipping: ts/date ranges prune via the PRUNE-ONLY channel, filters stay residual") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.ts")
    sql("""CREATE TABLE sk.ts.t (ts TIMESTAMP_NTZ, d DATE, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='ts,d')""".stripMargin)
    // four shards, one day each — write-time micros/days stats
    for (day <- 1 to 4)
      sql(s"""INSERT INTO sk.ts.t SELECT /*+ REPARTITION(1) */
             |  TIMESTAMP_NTZ'2024-03-0$day 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts,
             |  DATE'2024-03-0$day' AS d, id AS v
             |FROM range(0, 100)""".stripMargin)
    val probe =
      "SELECT v FROM sk.ts.t WHERE ts >= TIMESTAMP_NTZ'2024-03-04 00:00:00'"
    assert(shardsPlanned(probe) == 1,
      s"ts range probe planned ${shardsPlanned(probe)} of 4 shards")
    assert(sql(probe).count() == 100L)
    val dprobe = "SELECT v FROM sk.ts.t WHERE d < DATE'2024-03-02'"
    assert(shardsPlanned(dprobe) == 1)
    assert(sql(dprobe).count() == 100L)
    // the temporal predicate is NEVER claimed as pushed (the reader's
    // evaluation covers scalars only) — it shows as a prune filter
    // and Spark re-evaluates it above the scan
    val desc = sql(probe).queryExecution.executedPlan.toString
    assert(desc.contains("PruneFilters"), desc)
    assert(!desc.replaceAll("(?s)PruneFilters: \\[[^\\]]*\\]", "")
      .matches("(?s).*PushedFilters: \\[[^\\]]*ts[^\\]]*\\].*"),
      s"temporal filter must not be claimed as pushed:\n$desc")
    // sub-day boundary: rows straddle inside a shard — residual
    // evaluation keeps the answer exact while the index prunes shards
    val half =
      "SELECT v FROM sk.ts.t WHERE ts >= TIMESTAMP_NTZ'2024-03-04 00:00:50'"
    assert(shardsPlanned(half) == 1 && sql(half).count() == 50L)
    // CALL build over temporal columns + a scalar bloom refusal
    sql("CALL sk.system.build_skip_index('ts.t', columns => 'ts,d')")
    assert(shardsPlanned(probe) == 1 && sql(probe).count() == 100L)
    val e = intercept[Exception] {
      sql("""CALL sk.system.build_skip_index('ts.t', columns => 'ts',
            |bloom_columns => 'ts')""".stripMargin)
    }
    assert(e.getMessage.contains("scalar types only"), e.getMessage)
  }

  test("compact folds consumed entries into its outputs: skippable with zero re-scan") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.cf")
    // EXACT case: a partitioned dir of 8 indexed shards, no deletes —
    // compaction synthesizes exact entries; MIN/MAX/COUNT still
    // answer from metadata (proved by corrupting the data files)
    sql("""CREATE TABLE sk.cf.t (k BIGINT, g STRING) PARTITIONED BY (g)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    for (b <- 0 until 8)
      sql(s"""INSERT INTO sk.cf.t SELECT /*+ REPARTITION(1) */
             |  id + ${b * 100} AS k, 'a' AS g FROM range(0, 100)""".stripMargin)
    sql("CALL sk.system.compact('cf.t', max_shards => 4)")
    val dir = new java.io.File(s"$root/cf/t/g=a")
    val outs = dir.listFiles().filter(_.getName.startsWith("compact-"))
    assert(outs.nonEmpty, "dir was compacted")
    // range probe prunes into the compacted outputs via folded stats
    val planned = shardsPlanned("SELECT k FROM sk.cf.t WHERE g='a' AND k < 100")
    assert(planned < outs.length || outs.length == 1,
      s"folded entries prune: $planned of ${outs.length}")
    // metadata-only aggregate: corrupt the data — the answer survives
    outs.foreach { f =>
      val w = new java.io.FileWriter(f); w.write("CORRUPT"); w.close()
    }
    val agg = sql(
      """SELECT MIN(k) AS mn, MAX(k) AS mx, CAST(COUNT(*) AS BIGINT) AS n
        |FROM sk.cf.t""".stripMargin).head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == (0L, 799L, 800L),
      "exact folded entries answer MIN/MAX/COUNT without opening files")

    // APPROX case: deletes folded through compaction — COUNT stays
    // exact (answerable), MIN/MAX must drain rows (the deleted min
    // would otherwise resurface from the stale folded range)
    sql("""CREATE TABLE sk.cf.m (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("""INSERT INTO sk.cf.m SELECT /*+ REPARTITION(1) */
          |  id AS k, id AS v FROM range(0, 100)""".stripMargin)
    sql("""INSERT INTO sk.cf.m SELECT /*+ REPARTITION(1) */
          |  id + 100 AS k, id AS v FROM range(0, 100)""".stripMargin)
    sql("DELETE FROM sk.cf.m WHERE k = 0") // the minimum dies
    sql("CALL sk.system.compact('cf.m', max_shards => 1)")
    assert(!new java.io.File(s"$root/cf/m/_deletes").exists(),
      "sidecars consumed by the compaction")
    val m = sql(
      """SELECT MIN(k) AS mn, CAST(COUNT(*) AS BIGINT) AS n
        |FROM sk.cf.m""".stripMargin).head
    assert((m.getLong(0), m.getLong(1)) == (1L, 199L),
      s"approx entry: MIN drains rows (not the stale 0), COUNT exact — got $m")
    // a COUNT alone may answer from the approx entry — its row count
    // is exact by construction (sum of inputs minus dropped lines)
    assert(sql("SELECT COUNT(*) FROM sk.cf.m").head.getLong(0) == 199L)
    // and the folded range still prunes probes
    assert(shardsPlanned("SELECT k FROM sk.cf.m WHERE k > 500") == 0,
      "folded [0,199] range prunes an out-of-range probe")
  }

  test("cluster_table on a PARTITIONED table: within-dir clustering, sidecars retired, snapshots survive") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.cp")
    sql("""CREATE TABLE sk.cp.t (k BIGINT, v BIGINT, g STRING)
          |PARTITIONED BY (g)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    // per partition: four shards whose k sets interleave mod 4 — the
    // within-dir layout the rewrite must fix
    for (g <- Seq("a", "b"); m <- 0 to 3)
      sql(s"""INSERT INTO sk.cp.t SELECT /*+ REPARTITION(1) */
             |  id * 4 + $m AS k, id AS v, '$g' AS g
             |FROM range(0, 250)""".stripMargin)
    sql("DELETE FROM sk.cp.t WHERE k = 17 AND g = 'a'") // sidecar to retire
    sql("CALL sk.system.snapshot('cp.t', tag => 'precluster')")
    sql("CALL sk.system.build_skip_index('cp.t', columns => 'k')")
    val probe = "SELECT k, v FROM sk.cp.t WHERE g = 'a' AND k >= 900"
    assert(shardsPlanned(probe) == 4,
      "interleaved within-dir layout: partition pruning alone leaves 4 shards")
    val expect = sql(probe).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val out = sql(
      "CALL sk.system.cluster_table('cp.t', columns => 'k', target_shards => 8)")
      .collect()
    assert(out.map(_.getString(0)).sorted.toSeq == Seq("g=a", "g=b"),
      "one result row per rewritten partition dir")
    assert(out.forall(_.getInt(1) == 4), "each dir had 4 shards before")
    // within-dir range probe now opens a fraction of the dir's shards
    assert(shardsPlanned(probe) <= 2, s"planned ${shardsPlanned(probe)}")
    assert(sql(probe).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq == expect.toSeq, "clustering must not change answers")
    assert(sql("SELECT count(*) FROM sk.cp.t").head.getLong(0) == 1999L)
    assert(sql("SELECT k FROM sk.cp.t WHERE k = 17 AND g = 'a'").count() == 0L,
      "retired sidecar's delete stays applied (folded into the rewrite)")
    assert(!new java.io.File(s"$root/cp/t/_deletes").exists(),
      "consumed sidecars dropped with the shards they indexed")
    // the pre-cluster snapshot still answers: its shards retired to
    // _snapshots/retained/ instead of dying with the swap
    assert(sql("""SELECT count(*) FROM sk.cp.t VERSION AS OF 'precluster'""")
      .head.getLong(0) == 1999L)
    assert(sql("""SELECT count(*) FROM sk.cp.t VERSION AS OF 'precluster'
                 |WHERE g = 'a' AND k = 16""".stripMargin).head.getLong(0) == 1L)
    // root shards beside a partitioned layout refuse (not silently
    // left beside the rewrite)
    sql("""CREATE TABLE sk.cp.r (k BIGINT, g STRING) PARTITIONED BY (g)""")
    sql("INSERT INTO sk.cp.r VALUES (1, 'a')")
    val rootShard = new java.io.File(s"$root/cp/r/orphan.jsonl")
    val w = new java.io.FileWriter(rootShard)
    w.write("""{"k":2,"g":"b"}""" + "\n"); w.close()
    val e = intercept[Exception] {
      sql("CALL sk.system.cluster_table('cp.r', columns => 'k')") }
    assert(e.getMessage.contains("outside the partition layout"), e.getMessage)
  }

  test("cluster_table zorder: probes on EITHER interleaved column prune") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.zo")
    sql("CREATE TABLE sk.zo.t (x BIGINT, y BIGINT, v BIGINT)")
    // a 64x64 grid in row-major order: a plain sort on x leaves every
    // shard spanning ALL of y — only the Morton layout narrows both
    sql("""INSERT INTO sk.zo.t
          |SELECT id DIV 64 AS x, id % 64 AS y, id AS v
          |FROM range(0, 4096)""".stripMargin)
    sql("""CALL sk.system.cluster_table('zo.t', columns => 'x,y',
          |target_shards => 16, zorder => true)""".stripMargin)
    val px = "SELECT v FROM sk.zo.t WHERE x = 10"
    val py = "SELECT v FROM sk.zo.t WHERE y = 10"
    val (nx, ny) = (shardsPlanned(px), shardsPlanned(py))
    assert(nx < 16 && nx >= 1, s"x probe planned $nx of 16")
    assert(ny < 16 && ny >= 1, s"y probe planned $ny of 16 — a plain " +
      "lexicographic sort would leave y unprunable")
    assert(sql(px).count() == 64L && sql(py).count() == 64L)
    // contrast: the same data plainly sorted on x,y prunes x but NOT y
    sql("CREATE TABLE sk.zo.p (x BIGINT, y BIGINT, v BIGINT)")
    sql("INSERT INTO sk.zo.p SELECT x, y, v FROM sk.zo.t")
    sql("""CALL sk.system.cluster_table('zo.p', columns => 'x,y',
          |target_shards => 16)""".stripMargin)
    assert(shardsPlanned("SELECT v FROM sk.zo.p WHERE x = 10") < 16)
    assert(shardsPlanned("SELECT v FROM sk.zo.p WHERE y = 10") == 16,
      "lexicographic layout: every shard spans all of y")
  }

  test("exact row counts from the index flow into planner statistics") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.rs")
    sql("""CREATE TABLE sk.rs.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k',
          |               'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sk.rs.t SELECT /*+ REPARTITION(2) */ id AS k, id AS v FROM range(0, 1000)")
    def rowStat: Option[BigInt] =
      spark.table("sk.rs.t").queryExecution.optimizedPlan.stats.rowCount
    assert(rowStat.contains(BigInt(1000)),
      s"fully-indexed sidecar-free table must report exact rows, got $rowStat")
    // a sidecar makes the index count an overcount: stat must withdraw
    sql("DELETE FROM sk.rs.t WHERE k = 7")
    assert(rowStat.isEmpty, s"sidecar present: rowCount must be unset, got $rowStat")
  }

  test("null-aware pruning and MOR deletes stay conservative") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.nl")
    sql("""CREATE TABLE sk.nl.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sk.nl.t SELECT /*+ REPARTITION(1) */ id AS k, id AS v FROM range(0, 10)")
    sql("""INSERT INTO sk.nl.t SELECT /*+ REPARTITION(1) */
          |  CAST(NULL AS BIGINT) AS k, id AS v FROM range(0, 5)""".stripMargin)
    sql("CALL sk.system.build_skip_index('nl.t', columns => 'k')")
    // IS NOT NULL prunes the all-null shard; IS NULL prunes the other
    assert(shardsPlanned("SELECT v FROM sk.nl.t WHERE k IS NOT NULL") == 1)
    assert(sql("SELECT v FROM sk.nl.t WHERE k IS NOT NULL").count() == 10L)
    assert(shardsPlanned("SELECT v FROM sk.nl.t WHERE k IS NULL") == 1)
    assert(sql("SELECT v FROM sk.nl.t WHERE k IS NULL").count() == 5L)
    // MOR delete AFTER the build: stats are now wider than the data —
    // sound (deletes only narrow), and the probe applies the sidecar
    sql("DELETE FROM sk.nl.t WHERE k = 3")
    assert(sql("SELECT v FROM sk.nl.t WHERE k IS NOT NULL").count() == 9L)
    assert(sql("SELECT k FROM sk.nl.t WHERE k = 3").count() == 0L)
  }

  private def root = spark.conf.get("spark.sql.catalog.sk.root")
  private def skipFiles(table: String): Map[String, Array[Byte]] = {
    val d = new java.io.File(s"$root/$table/_skip")
    if (!d.exists()) Map.empty
    else d.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
  }

  test("split manifests: a one-partition append rewrites ONE manifest; pruned probes parse only surviving partitions'") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.sp")
    sql("""CREATE TABLE sk.sp.t (k BIGINT, v BIGINT, lang STRING)
          |PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    for (lang <- Seq("en", "fr", "de"))
      sql(s"""INSERT INTO sk.sp.t SELECT /*+ REPARTITION(1) */
             |  id AS k, id AS v, '$lang' AS lang FROM range(0, 100)""".stripMargin)
    val files0 = skipFiles("sp/t")
    // one manifest list + one manifest per partition dir
    assert(files0.contains("manifests.json"), files0.keys.toSeq.toString)
    assert(files0.size == 4, s"expected 3 manifests + list, got ${files0.keys}")
    // a commit touching ONLY lang=fr must rewrite only fr's manifest
    sql("""INSERT INTO sk.sp.t SELECT /*+ REPARTITION(1) */
          |  id + 1000 AS k, id AS v, 'fr' AS lang FROM range(0, 50)""".stripMargin)
    val files1 = skipFiles("sp/t")
    val changed = files1.keys.filter(k =>
      !files0.get(k).exists(_.sameElements(files1(k)))).toSet
    assert(changed == Set(
      graft.sources.dsv2.JsonlSkipIndex.manifestFileName("lang=fr")),
      s"one-partition append rewrote $changed")
    // planning a lang-pruned probe parses only that partition's
    // manifest: corrupt the OTHER partitions' manifests — a query that
    // never needs them must not notice
    for (other <- Seq("lang=en", "lang=de")) {
      val mf = new java.io.File(s"$root/sp/t/_skip/" +
        graft.sources.dsv2.JsonlSkipIndex.manifestFileName(other))
      val w = new java.io.FileWriter(mf); w.write("NOT JSON"); w.close()
    }
    val pruned = "SELECT k, v FROM sk.sp.t WHERE lang = 'fr' AND k = 1004"
    assert(shardsPlanned(pruned) == 1, "fr probe prunes to the write-stat shard")
    assert(sql(pruned).head.getLong(1) == 4L)
    // and the Index handle itself reports one manifest parsed
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val table = new org.apache.hadoop.fs.Path(s"$root/sp/t")
    val idx = graft.sources.dsv2.JsonlSkipIndex.open(fs, table,
      spark.table("sk.sp.t").schema)
    val frShard = new java.io.File(s"$root/sp/t/lang=fr").listFiles()
      .filter(f => f.getName.endsWith(".jsonl.gz")).head
    assert(idx.get(fs.makeQualified(
      new org.apache.hadoop.fs.Path(frShard.toString)).toString).isDefined)
    assert(idx.manifestsTouched == 1, "probing one partition parsed one manifest")
  }

  test("destructive paths prune dead index entries; legacy single-file index migrates") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.rm")
    sql("""CREATE TABLE sk.rm.t (k BIGINT, v BIGINT, lang STRING)
          |PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    for (lang <- Seq("en", "fr"))
      sql(s"""INSERT INTO sk.rm.t SELECT /*+ REPARTITION(1) */
             |  id AS k, id AS v, '$lang' AS lang FROM range(0, 100)""".stripMargin)
    def listedDirs: Set[String] = {
      val lf = new java.io.File(s"$root/rm/t/_skip/manifests.json")
      if (!lf.exists()) Set.empty
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readAllBytes(lf.toPath))
        val b = Set.newBuilder[String]
        node.get("dirs").properties().forEach(e => b += e.getKey)
        b.result()
      }
    }
    assert(listedDirs == Set("lang=en", "lang=fr"))
    // partition-grain DELETE drops the partition's manifest + listing
    sql("DELETE FROM sk.rm.t WHERE lang = 'fr'")
    assert(listedDirs == Set("lang=en"))
    assert(!new java.io.File(s"$root/rm/t/_skip/" +
      graft.sources.dsv2.JsonlSkipIndex.manifestFileName("lang=fr")).exists())
    // INSERT OVERWRITE of a partition replaces its entries, not the
    // table's index: en's manifest now holds exactly the new shard
    sql("""INSERT OVERWRITE sk.rm.t PARTITION (lang = 'en')
          |SELECT /*+ REPARTITION(1) */ id + 500 AS k, id AS v
          |FROM range(0, 10)""".stripMargin)
    assert(shardsPlanned("SELECT k FROM sk.rm.t WHERE k = 5") == 0,
      "old en entries gone, new shard's stats say k >= 500")
    assert(sql("SELECT count(*) FROM sk.rm.t WHERE k = 505").head.getLong(0) == 1L)
    // TRUNCATE wipes the index with the data
    sql("TRUNCATE TABLE sk.rm.t")
    assert(!new java.io.File(s"$root/rm/t/_skip").exists())
    // legacy migration: a pre-split index.json folds into the split
    // layout on the next write-time merge and the old file disappears
    sql("""INSERT INTO sk.rm.t SELECT /*+ REPARTITION(1) */
          |  id AS k, id AS v, 'en' AS lang FROM range(0, 10)""".stripMargin)
    val skipDir = new java.io.File(s"$root/rm/t/_skip")
    val legacy = new java.io.File(skipDir, "index.json")
    // fabricate a legacy file carrying a bogus-but-well-formed entry
    val w = new java.io.FileWriter(legacy)
    w.write("""{"shards":{"lang=xx/ghost.jsonl.gz":{"n":1,"stats":{"k":{"nn":0,"min":1,"max":1}}}}}""")
    w.close()
    sql("""INSERT INTO sk.rm.t SELECT /*+ REPARTITION(1) */
          |  id + 100 AS k, id AS v, 'en' AS lang FROM range(0, 10)""".stripMargin)
    assert(!legacy.exists(), "legacy index.json migrated away")
    assert(listedDirs.contains("lang=xx"), "legacy entries survive migration")
    assert(listedDirs.contains("lang=en"))
    assert(sql("SELECT count(*) FROM sk.rm.t WHERE k = 105").head.getLong(0) == 1L)
  }
  test("nested skip stats: dotted struct leaves prune via the prune-only channel") {
    sql("CREATE NAMESPACE IF NOT EXISTS sk.nst")
    sql("""CREATE TABLE sk.nst.t
          |  (meta STRUCT<source: STRING, uid: BIGINT>, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='meta.uid,meta.source')""".stripMargin)
    // four shards with disjoint uid ranges and per-shard sources —
    // write-time trackers walk the struct, no CALL ever issued
    for ((base, src) <- Seq((0L, "a"), (100L, "b"), (200L, "c"), (300L, "d")))
      sql(s"""INSERT INTO sk.nst.t SELECT /*+ REPARTITION(1) */
             |  named_struct('source', '$src', 'uid', id + $base) AS meta,
             |  id AS v
             |FROM range(0, 100)""".stripMargin)
    // range probe on the nested LEAF prunes at file-open grain
    val range = "SELECT v FROM sk.nst.t WHERE meta.uid >= 350"
    assert(shardsPlanned(range) == 1, "nested range must prune to one shard")
    assert(sql(range).count() == 50L)
    // point probe on the nested string leaf
    val point = "SELECT v FROM sk.nst.t WHERE meta.source = 'c'"
    assert(shardsPlanned(point) == 1, "nested point must prune to one shard")
    assert(sql(point).count() == 100L)
    // the predicate rides the PRUNE-ONLY channel: shown as
    // PruneFilters, never claimed as pushed (Spark re-checks)
    val plan = sql(point).queryExecution.executedPlan.toString
    assert(plan.contains("PruneFilters"), plan)
    // rows stay exact: residual evaluation catches what stats admit
    assert(sql("SELECT v FROM sk.nst.t WHERE meta.uid = 250 AND meta.source = 'c'")
      .count() == 1L)
    assert(sql("SELECT v FROM sk.nst.t WHERE meta.uid = 250 AND meta.source = 'a'")
      .count() == 0L)
    // null structs count as null leaves (conservative, never wrong)
    sql("INSERT INTO sk.nst.t SELECT /*+ REPARTITION(1) */ " +
      "CAST(NULL AS STRUCT<source: STRING, uid: BIGINT>) AS meta, 1L AS v")
    assert(sql("SELECT count(*) FROM sk.nst.t WHERE meta.uid IS NULL")
      .head.getLong(0) == 1L)
    // CALL build_skip_index accepts dotted leaves too (full rebuild)
    val n = sql("CALL sk.system.build_skip_index('nst.t', columns => 'meta.uid')")
      .head.getInt(0)
    assert(n == 5)
    assert(shardsPlanned(range) == 1)
  }

}
