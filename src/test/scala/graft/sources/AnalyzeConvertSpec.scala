package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `CALL analyze_table` (CBO statistics with the stale-stats
  * conservatism contract — [[graft.sources.dsv2.JsonlTableStats]]) and
  * `CALL convert_table` (one-CALL at-rest-format conversion under the
  * compact lock/trash/snapshot-retention protocol). */
class AnalyzeConvertSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.ac", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.ac.root",
      graft.core.Fixtures.tempDir("graft-ac").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS ac.ns")
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def root = spark.conf.get("spark.sql.catalog.ac.root")

  private def scanStats(q: String)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.Statistics] =
    sql(q).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.computeStats()
    }

  test("analyze_table: exact row count + NDV/null/min-max served to " +
      "the planner; stale after ANY mutation; re-analyze restores") {
    sql("""CREATE TABLE ac.ns.t (k BIGINT, v DOUBLE, s STRING)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO ac.ns.t SELECT id, id * 0.5,
          |  CASE WHEN id % 10 = 0 THEN NULL
          |       ELSE concat('s', CAST(id % 100 AS STRING)) END
          |FROM range(0, 5000)""".stripMargin)
    // before ANALYZE: no row count (no skip index on this table)
    assert(scanStats("SELECT * FROM ac.ns.t").head.rowCount.isEmpty)
    val out = sql("CALL ac.system.analyze_table('ns.t')").collect()
    assert(out.exists(r => r.getString(0) == "(table)" && r.getLong(1) == 5000L))
    val st = scanStats("SELECT * FROM ac.ns.t").head
    assert(st.rowCount.contains(BigInt(5000)), st.rowCount.toString)
    assert(st.attributeStats.nonEmpty, "column stats missing")
    val kStat = st.attributeStats.find(_._1.name == "k").map(_._2).get
    assert(kStat.distinctCount.exists(d =>
      d.toLong > 4500 && d.toLong < 5500), kStat.distinctCount.toString)
    assert(kStat.min.contains(0L) && kStat.max.contains(4999L),
      s"${kStat.min} ${kStat.max}")
    val sStat = st.attributeStats.find(_._1.name == "s").map(_._2).get
    assert(sStat.nullCount.contains(BigInt(500)), sStat.nullCount.toString)
    // STALE after an append: stats become invisible, never misleading
    sql("INSERT INTO ac.ns.t SELECT id + 5000, 0.0, 'x' FROM range(0, 100)")
    val stale = scanStats("SELECT * FROM ac.ns.t").head
    assert(stale.rowCount.isEmpty, "stale row count served")
    assert(stale.attributeStats.isEmpty, "stale column stats served")
    // re-ANALYZE restores, with the new population
    sql("CALL ac.system.analyze_table('ns.t')")
    assert(scanStats("SELECT * FROM ac.ns.t").head.rowCount
      .contains(BigInt(5100)))
    // a MOR DELETE (sidecar only, shard set unchanged) must ALSO stale
    sql("DELETE FROM ac.ns.t WHERE k < 10")
    assert(scanStats("SELECT * FROM ac.ns.t").head.rowCount.isEmpty,
      "a delete sidecar must invalidate the fingerprint")
  }

  test("statsFingerprint: a SECOND MOR delete on an already-sidecar'd " +
      "shard still stales (sidecar content identity, not just names)") {
    sql("""CREATE TABLE ac.ns.ms (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO ac.ns.ms SELECT id, id FROM range(0, 1000)")
    sql("DELETE FROM ac.ns.ms WHERE k < 10") // sidecar born
    sql("CALL ac.system.analyze_table('ns.ms')")
    assert(scanStats("SELECT * FROM ac.ns.ms").head.rowCount
      .contains(BigInt(990)))
    // the second delete union-merges into the SAME sidecar file — the
    // shard and sidecar NAME sets are unchanged; only content moved
    sql("DELETE FROM ac.ns.ms WHERE k >= 10 AND k < 30")
    assert(scanStats("SELECT * FROM ac.ns.ms").head.rowCount.isEmpty,
      "a sidecar rewrite (same name) must invalidate the fingerprint")
    assert(sql("SELECT count(*) FROM ac.ns.ms").head.getLong(0) == 970L)
  }

  test("maintenance stats carry: fresh ANALYZE stats (uniqueness " +
      "included) survive compact and cluster_table; stale stats are " +
      "not revived but the row count refreshes from the skip index") {
    import graft.sources.dsv2.{GraftCatalog, JsonlTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    sql("""CREATE TABLE ac.ns.mc (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read',
          |  'graft.skip.columns'='k')""".stripMargin)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try sql("""INSERT INTO ac.ns.mc
              |SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 2
              |FROM range(0, 3000)""".stripMargin)
    finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    sql("DELETE FROM ac.ns.mc WHERE k < 100") // MOR sidecar
    sql("CALL ac.system.analyze_table('ns.mc', unique_candidates => 'k')")
    def table(): JsonlTable = spark.sessionState.catalogManager
      .catalog("ac").asInstanceOf[GraftCatalog]
      .loadTable(Identifier.of(Array("ns"), "mc")).asInstanceOf[JsonlTable]
    def rowStat(): Option[BigInt] =
      scanStats("SELECT * FROM ac.ns.mc").head.rowCount
    assert(rowStat().contains(BigInt(2900)))
    assert(table().freshUniqueColumns == Set("k"))
    // compact folds the sidecar and rewrites shards: the fingerprint
    // moves, but content is preserved — stats and the uniqueness
    // premise must CARRY, not withdraw
    sql("CALL ac.system.compact('ns.mc', max_shards => 1)")
    assert(rowStat().contains(BigInt(2900)),
      "compact withdrew fresh ANALYZE stats")
    assert(table().freshUniqueColumns == Set("k"),
      "compact withdrew a fresh uniqueness verification")
    assert(scanStats("SELECT * FROM ac.ns.mc").head.attributeStats.nonEmpty,
      "compact dropped the column stats")
    // cluster_table is a sort-rewrite: same carry
    sql("CALL ac.system.cluster_table('ns.mc', 'k', target_shards => 2)")
    assert(rowStat().contains(BigInt(2900)),
      "cluster_table withdrew fresh ANALYZE stats")
    assert(table().freshUniqueColumns == Set("k"),
      "cluster_table withdrew a fresh uniqueness verification")
    // a REAL write stales the ANALYZE stats (correct conservatism:
    // column stats and the uniqueness claim go invisible; the row
    // count channel stays exact through the skip index)
    sql("INSERT INTO ac.ns.mc SELECT id + 10000, 0 FROM range(0, 50)")
    assert(scanStats("SELECT * FROM ac.ns.mc").head.attributeStats.isEmpty,
      "stale column stats served after an append")
    assert(table().freshUniqueColumns.isEmpty,
      "stale uniqueness claim served after an append")
    // the next maintenance re-stamps a rows-only stats doc (exact from
    // the skip index) but never revives the stale column stats or the
    // uniqueness claim
    sql("CALL ac.system.build_skip_index('ns.mc', 'k')")
    sql("CALL ac.system.compact('ns.mc')")
    assert(rowStat().contains(BigInt(2950)),
      "row count did not refresh after maintenance")
    assert(scanStats("SELECT * FROM ac.ns.mc").head.attributeStats.isEmpty,
      "stale column stats were revived")
    assert(table().freshUniqueColumns.isEmpty,
      "a stale uniqueness claim was revived")
  }

  test("spec-file RMW takes the meta lock: a held lock refuses ALTER " +
      "and the analyze publish; release restores both") {
    import graft.sources.dsv2.RowLevelLock
    sql("CREATE TABLE ac.ns.lk (k BIGINT)")
    sql("INSERT INTO ac.ns.lk SELECT id FROM range(0, 10)")
    val table = new org.apache.hadoop.fs.Path(s"$root/ns/lk")
    val conf = spark.sessionState.newHadoopConf()
    val fs = table.getFileSystem(conf)
    val lease = RowLevelLock.acquireMeta(fs, conf, table, "spec-holder")
    try {
      val e1 = intercept[Exception] {
        sql("ALTER TABLE ac.ns.lk SET TBLPROPERTIES ('graft.format'='parquet')")
      }
      assert(e1.getMessage.contains("spec-holder"), e1.getMessage)
      val e2 = intercept[Exception] {
        sql("CALL ac.system.analyze_table('ns.lk')").collect()
      }
      assert(e2.getMessage.contains("spec-holder"), e2.getMessage)
    } finally RowLevelLock.release(fs, lease)
    sql("ALTER TABLE ac.ns.lk SET TBLPROPERTIES ('graft.format'='parquet')")
    sql("CALL ac.system.analyze_table('ns.lk')")
    assert(scanStats("SELECT * FROM ac.ns.lk").head.rowCount
      .contains(BigInt(10)))
  }

  test("analyze_table: explicit column list; unknown column refuses") {
    sql("CREATE TABLE ac.ns.c (k BIGINT, s STRING)")
    sql("INSERT INTO ac.ns.c SELECT id, 'a' FROM range(0, 10)")
    val out = sql("CALL ac.system.analyze_table('ns.c', columns => 'k')")
      .collect()
    assert(out.map(_.getString(0)).toSet == Set("(table)", "k"))
    val e = intercept[Exception] {
      sql("CALL ac.system.analyze_table('ns.c', columns => 'nope')").collect()
    }
    assert(e.getMessage.contains("no column"), e.getMessage)
  }

  test("convert_table: jsonl -> parquet in one CALL — snapshots keep " +
      "answering, skip index carries, post-state asserted") {
    sql("""CREATE TABLE ac.ns.cv (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k',
          |  'graft.write.order'='k')""".stripMargin)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try sql("""INSERT INTO ac.ns.cv
              |SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, id * 3
              |FROM range(0, 4000)""".stripMargin)
    finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    def shards(): Seq[String] = new java.io.File(s"$root/ns/cv").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSeq
    assert(shards().forall(_.endsWith(".jsonl.gz")))
    sql("CALL ac.system.snapshot('ns.cv', tag => 'pre')")
    sql("CALL ac.system.convert_table('ns.cv', format => 'parquet')")
    assert(shards().nonEmpty && shards().forall(_.endsWith(".parquet")),
      s"conversion incomplete: ${shards()}")
    // data intact, snapshot still answers from retained jsonl shards
    assert(sql("SELECT sum(v) FROM ac.ns.cv").head.getLong(0) ==
      (0L until 4000L).map(_ * 3).sum)
    assert(sql("SELECT count(*) FROM ac.ns.cv VERSION AS OF 'pre'")
      .head.getLong(0) == 4000L)
    // skip index carried: the rewrite synthesized entries for the
    // converted shards (exact fold of the consumed inputs — tiny
    // fixtures fold into ONE output, so assert the manifest, not a
    // shard-count probe)
    locally {
      import graft.sources.dsv2.JsonlSkipIndex
      val table = new org.apache.hadoop.fs.Path(s"$root/ns/cv")
      val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
      val entries = JsonlSkipIndex.entriesOf(fs, table,
        spark.table("ac.ns.cv").schema)
      assert(entries.nonEmpty, "skip index lost in conversion")
      assert(entries.forall(_._1.endsWith(".parquet")),
        entries.map(_._1).toString)
      assert(entries.map(_._2.nRows).sum == 4000L)
      assert(entries.forall(_._2.cols.contains("k")),
        "k stats lost in conversion")
    }
    // convert BACK to jsonl — the rewrite is format-symmetric
    sql("CALL ac.system.convert_table('ns.cv', format => 'jsonl')")
    assert(shards().forall(_.endsWith(".jsonl.gz")), shards().toString)
    assert(sql("SELECT count(*) FROM ac.ns.cv").head.getLong(0) == 4000L)
  }

  test("convert_table: pending upsert waves reconcile during the rewrite") {
    sql("""CREATE TABLE ac.ns.up (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO ac.ns.up SELECT id, id FROM range(0, 1000)")
    sql("INSERT INTO ac.ns.up SELECT id, id + 9000 FROM range(0, 300)")
    sql("CALL ac.system.convert_table('ns.up', format => 'parquet')")
    assert(sql("SELECT count(*) FROM ac.ns.up").head.getLong(0) == 1000L)
    assert(sql("SELECT v FROM ac.ns.up WHERE k = 5").head.getLong(0) == 9005L)
    assert(sql("SELECT v FROM ac.ns.up WHERE k = 500").head.getLong(0) == 500L)
    val names = new java.io.File(s"$root/ns/up").listFiles()
      .filter(_.isFile).map(_.getName).filterNot(n =>
        n.startsWith("_") || n.startsWith(".")).toSeq
    assert(names.forall(_.endsWith(".parquet")), names.toString)
  }

  test("convert_table: bad format refuses; empty table converts cleanly") {
    sql("CREATE TABLE ac.ns.e (k BIGINT)")
    val e = intercept[Exception] {
      sql("CALL ac.system.convert_table('ns.e', format => 'orc')").collect()
    }
    assert(e.getMessage.contains("parquet or jsonl"), e.getMessage)
    sql("CALL ac.system.convert_table('ns.e', format => 'parquet')")
    sql("INSERT INTO ac.ns.e SELECT id FROM range(0, 5)")
    val names = new java.io.File(s"$root/ns/e").listFiles()
      .filter(_.isFile).map(_.getName).filterNot(n =>
        n.startsWith("_") || n.startsWith(".")).toSeq
    assert(names.forall(_.endsWith(".parquet")), names.toString)
  }
}
