package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Named snapshots + SQL time travel ([[graft.sources.dsv2.JsonlSnapshots]]):
  * `CALL snapshot` pins a manifest, `VERSION AS OF` serves it, and
  * every destructive path retains referenced shards — a snapshot must
  * answer byte-identically FOREVER, across MOR deletes, COW rewrites,
  * compaction, clustering, truncation, and schema evolution. */
class JsonlSnapshotsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.sn", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.sn.root",
      graft.core.Fixtures.tempDir("graft-snap").toString)
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def rows(q: String): Seq[(Long, Long)] =
    sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("snapshot lifecycle: versions, tags, TIMESTAMP AS OF, live divergence") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.ns")
    sql("""CREATE TABLE sn.ns.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.ns.t VALUES (1, 10), (2, 20), (3, 30)")
    val s1 = sql("CALL sn.system.snapshot('ns.t', tag => 'raw')").head
    assert(s1.getLong(0) == 1L && s1.getString(1) == "raw")
    val tsAfterV1 = System.currentTimeMillis()
    // mutate: append + MOR delete; live diverges, v1 must not
    sql("INSERT INTO sn.ns.t VALUES (4, 40)")
    sql("DELETE FROM sn.ns.t WHERE k = 2")
    assert(sql("CALL sn.system.snapshot('ns.t')").head.getLong(0) == 2L)
    assert(rows("SELECT k, v FROM sn.ns.t") == Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    val v1 = Seq((1L, 10L), (2L, 20L), (3L, 30L))
    assert(rows("SELECT k, v FROM sn.ns.t VERSION AS OF 1") == v1)
    assert(rows("SELECT k, v FROM sn.ns.t VERSION AS OF 'raw'") == v1)
    assert(rows("SELECT k, v FROM sn.ns.t VERSION AS OF 2") ==
      Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    // TIMESTAMP AS OF between the two snapshots resolves to v1
    val ts = new java.sql.Timestamp(tsAfterV1).toString
    assert(rows(s"SELECT k, v FROM sn.ns.t TIMESTAMP AS OF '$ts'") == v1)
    // listing + unknown version refusal
    val listed = sql("CALL sn.system.snapshots('ns.t')").collect()
    assert(listed.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val e = intercept[Exception] {
      sql("SELECT * FROM sn.ns.t VERSION AS OF 99").collect() }
    assert(e.getMessage.contains("99"), e.getMessage)
  }

  test("snapshots survive COW rewrites, compaction, clustering, truncate") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.rt")
    sql("CREATE TABLE sn.rt.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO sn.rt.t SELECT /*+ REPARTITION(2) */ id AS k, id * 10 AS v FROM range(0, 100)")
    sql("CALL sn.system.snapshot('rt.t', tag => 'frozen')")
    val want = (0L until 100L).map(i => (i, i * 10)).toSeq
    def frozen = rows("SELECT k, v FROM sn.rt.t VERSION AS OF 'frozen'")
    // COW UPDATE rewrites every matched shard — originals retained
    sql("UPDATE sn.rt.t SET v = v + 1 WHERE k >= 0")
    assert(frozen == want, "snapshot must survive the COW rewrite")
    // compact rewrites the live layout
    sql("CALL sn.system.compact('rt.t', max_shards => 1)")
    assert(frozen == want, "snapshot must survive compaction")
    // cluster_table sort-rewrites it
    sql("CALL sn.system.cluster_table('rt.t', columns => 'k', target_shards => 2)")
    assert(frozen == want, "snapshot must survive clustering")
    // truncate empties the live table; the snapshot keeps answering
    sql("TRUNCATE TABLE sn.rt.t")
    assert(sql("SELECT count(*) FROM sn.rt.t").head.getLong(0) == 0L)
    assert(frozen == want, "snapshot must survive TRUNCATE")
    // live mutations all landed correctly too
  }

  test("snapshot pins the schema across ADD COLUMN; embedded deletes pin MOR state") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.sc")
    sql("""CREATE TABLE sn.sc.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.sc.t SELECT /*+ REPARTITION(1) */ id AS k, id AS v FROM range(0, 10)")
    sql("DELETE FROM sn.sc.t WHERE k = 5") // sidecar BEFORE the snapshot
    sql("CALL sn.system.snapshot('sc.t', tag => 'pre')")
    // post-snapshot MOR delete grows the LIVE sidecar of the SAME shard:
    // the snapshot embedded its ordinals and must not see k=7 vanish
    sql("DELETE FROM sn.sc.t WHERE k = 7")
    assert(sql("SELECT k FROM sn.sc.t VERSION AS OF 'pre'").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 10L).filterNot(_ == 5L))
    // ADD COLUMN after the snapshot: v1 serves the OLD schema
    sql("ALTER TABLE sn.sc.t ADD COLUMN extra STRING")
    assert(sql("SELECT * FROM sn.sc.t VERSION AS OF 'pre'").columns.toSeq
      == Seq("k", "v"), "snapshot schema pinned")
    assert(sql("SELECT * FROM sn.sc.t").columns.toSeq == Seq("k", "v", "extra"))
  }

  test("expire_snapshots drops history and reclaims retained shards") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.ex")
    sql("CREATE TABLE sn.ex.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO sn.ex.t SELECT /*+ REPARTITION(1) */ id AS k, id AS v FROM range(0, 50)")
    sql("CALL sn.system.snapshot('ex.t', tag => 'old')")
    sql("UPDATE sn.ex.t SET v = v + 1 WHERE k >= 0") // COW: originals retained
    sql("CALL sn.system.snapshot('ex.t', tag => 'new')")
    val root = spark.conf.get("spark.sql.catalog.sn.root")
    val retained = new java.io.File(s"$root/ex/t/_snapshots/retained")
    assert(retained.exists() && retained.listFiles().nonEmpty,
      "COW originals must be retained while 'old' references them")
    val r = sql("CALL sn.system.expire_snapshots('ex.t', keep_last => 1)").head
    assert(r.getInt(0) == 1, "one manifest removed")
    assert(r.getInt(1) >= 1, "old retained shards reclaimed")
    intercept[Exception] {
      sql("SELECT * FROM sn.ex.t VERSION AS OF 'old'").collect() }
    // the surviving snapshot still answers
    assert(sql("SELECT count(*) FROM sn.ex.t VERSION AS OF 'new'")
      .head.getLong(0) == 50L)
    assert(!retained.exists() || retained.listFiles().isEmpty ||
      retained.listFiles().forall(_.isDirectory),
      "no orphaned retained files for the expired snapshot")
  }

  test("partition DROP and DELETE WHERE retain; snapshot of partitioned table") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.pt")
    sql("""CREATE TABLE sn.pt.t (k BIGINT, g STRING)
          |PARTITIONED BY (g)""".stripMargin)
    sql("INSERT INTO sn.pt.t VALUES (1, 'a'), (2, 'a'), (3, 'b'), (4, 'b')")
    sql("CALL sn.system.snapshot('pt.t', tag => 'both')")
    sql("DELETE FROM sn.pt.t WHERE g = 'b'") // metadata dir drop
    assert(sql("SELECT count(*) FROM sn.pt.t").head.getLong(0) == 2L)
    val got = sql("SELECT k, g FROM sn.pt.t VERSION AS OF 'both'").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")),
      "partition-dropped shards retained; partition values resolve from rel path")
  }

  test("COW commits, compact, and snapshot all honor the single-writer lock") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.lk")
    sql("CREATE TABLE sn.lk.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO sn.lk.t VALUES (1, 10), (2, 20)")
    val root = spark.conf.get("spark.sql.catalog.sn.root")
    val lock = new java.io.File(s"$root/lk/t/_rlo_lock")
    val w = new java.io.FileWriter(lock); w.write("other-writer"); w.close()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // a COW UPDATE refuses while the lock is held...
    val e1 = intercept[Exception] { sql("UPDATE sn.lk.t SET v = 0 WHERE k = 1") }
    assert(msgs(e1).exists(_.contains("_rlo_lock")), e1.toString)
    // ...as does CALL snapshot (it would pin a mid-swap hole otherwise)
    val e2 = intercept[Exception] { sql("CALL sn.system.snapshot('lk.t')") }
    assert(msgs(e2).exists(_.contains("_rlo_lock")), e2.toString)
    // stale lock breaks; both proceed and release
    lock.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    sql("UPDATE sn.lk.t SET v = 0 WHERE k = 1")
    assert(!lock.exists(), "lock released after the COW commit")
    sql("CALL sn.system.snapshot('lk.t')")
    assert(sql("SELECT count(*) FROM sn.lk.t VERSION AS OF 1").head.getLong(0) == 2L)
  }

  test("change feed: MOR delta-deletes, COW rewrite churn, net mode, live endpoint") {
    import graft.sources.dsv2.JsonlChangeFeed
    def catalog = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    def feed(t: String, from: String, to: Option[String], net: Boolean = false) =
      JsonlChangeFeed.between(spark, catalog, t, from, to, net)
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"),
          r.getAs[String]("_change"))).sorted.toSeq

    sql("CREATE NAMESPACE IF NOT EXISTS sn.cf")
    // MOR: an append adds shards, a DELETE only grows ordinal sets
    sql("""CREATE TABLE sn.cf.m (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.cf.m VALUES (1, 10), (2, 20), (3, 30)")
    sql("CALL sn.system.snapshot('cf.m', tag => 'a')")
    sql("INSERT INTO sn.cf.m VALUES (4, 40)")
    sql("DELETE FROM sn.cf.m WHERE k = 2")
    sql("CALL sn.system.snapshot('cf.m', tag => 'b')")
    assert(feed("cf.m", "a", Some("b")) ==
      Seq((2L, 20L, "delete"), (4L, 40L, "insert")))
    // summary agrees, metadata-only: no removed shards under MOR
    val sum = sql("CALL sn.system.table_changes('cf.m', 'a', 'b')").collect()
    assert(sum.exists(_.getString(0) == "added") &&
      sum.exists(r => r.getString(0) == "delta_deletes" && r.getLong(3) == 1L) &&
      !sum.exists(_.getString(0) == "removed"), sum.mkString(";"))
    // live endpoint: changes since 'b' without pinning a snapshot
    sql("INSERT INTO sn.cf.m VALUES (5, 50)")
    assert(feed("cf.m", "b", None) == Seq((5L, 50L, "insert")))
    // forward-only: swapped endpoints refuse
    val e = intercept[IllegalArgumentException] {
      JsonlChangeFeed.between(spark, catalog, "cf.m", "b", Some("a")) }
    assert(e.getMessage.contains("forward-only"), e.getMessage)

    // COW: the same logical delete REWRITES every shard holding a
    // doomed row — shard-grain CDC reports the rewritten survivors as
    // delete+insert pairs; net mode must cancel exactly those
    sql("CREATE TABLE sn.cf.c (k BIGINT, v BIGINT)")
    sql("INSERT INTO sn.cf.c VALUES (1, 10), (2, 20), (3, 30)")
    sql("CALL sn.system.snapshot('cf.c', tag => 'a')")
    sql("DELETE FROM sn.cf.c WHERE k = 2")
    sql("CALL sn.system.snapshot('cf.c', tag => 'b')")
    val raw = feed("cf.c", "a", Some("b"))
    assert(raw.contains((2L, 20L, "delete")), raw.toString)
    assert(raw.count(_._1 == 1L) == 2 || raw.count(_._1 == 1L) == 0,
      s"a rewritten survivor appears as a delete+insert PAIR or not at all: $raw")
    assert(feed("cf.c", "a", Some("b"), net = true) ==
      Seq((2L, 20L, "delete")), "net mode cancels rewrite churn")
    // the COW summary names the retired shards and their replacements;
    // a retired shard whose every row was doomed has no replacement (a
    // task that writes no row publishes no shard), so an added shard
    // shows exactly when rewritten survivors do
    val csum = sql("CALL sn.system.table_changes('cf.c', 'a', 'b')").collect()
    assert(csum.exists(_.getString(0) == "removed") &&
      csum.exists(_.getString(0) == "added") == raw.exists(_._3 == "insert"),
      csum.mkString(";"))
  }

  test("streaming change feed: snapshots are publish points, checkpoint restart resumes") {
    import graft.sources.dsv2.JsonlChangeFeed
    import scala.jdk.CollectionConverters._
    val catalog = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS sn.cs")
    sql("""CREATE TABLE sn.cs.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.cs.t VALUES (1, 10), (2, 20), (3, 30)")
    sql("CALL sn.system.snapshot('cs.t')") // v1
    val ckpt = graft.core.Fixtures.tempDir("cf-ckpt").toString
    // foreachBatch: the one test sink that supports checkpoint
    // RECOVERY (the memory sink refuses to resume)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    def sinkTo(b: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)])(
        df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      df.select("k", "v", "_change").collect().foreach(r =>
        b.add((r.getLong(0), r.getLong(1), r.getString(2))))
    def collected: Seq[(Long, Long, String)] =
      buf.iterator().asScala.toSeq.sorted
    val q = JsonlChangeFeed.stream(spark, catalog, "cs.t")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(sinkTo(buf) _).start()
    try {
      q.processAllAvailable()
      assert(collected == Seq((1L, 10L, "insert"), (2L, 20L, "insert"),
        (3L, 30L, "insert")), "v1's full content replays as inserts")
      // changes WITHOUT a snapshot are not yet published to the feed
      sql("INSERT INTO sn.cs.t VALUES (4, 40)")
      sql("DELETE FROM sn.cs.t WHERE k = 2")
      q.processAllAvailable()
      assert(collected.size == 3, "no new snapshot -> no new batch")
      // CALL snapshot IS the publish point
      sql("CALL sn.system.snapshot('cs.t')") // v2
      q.processAllAvailable()
      assert(collected == Seq((1L, 10L, "insert"), (2L, 20L, "delete"),
        (2L, 20L, "insert"), (3L, 30L, "insert"), (4L, 40L, "insert")),
        s"v2 batch = the appended row + the MOR ordinal-delta delete: $collected")
    } finally q.stop()
    // restart from the checkpoint: only post-v2 changes arrive
    sql("INSERT INTO sn.cs.t VALUES (5, 50)")
    sql("CALL sn.system.snapshot('cs.t')") // v3
    val buf2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val q2 = JsonlChangeFeed.stream(spark, catalog, "cs.t")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(sinkTo(buf2) _).start()
    try {
      q2.processAllAvailable()
      val resumed = buf2.iterator().asScala.toSeq.sorted
      assert(resumed == Seq((5L, 50L, "insert")),
        s"checkpointed restart replays nothing before v2: $resumed")
    } finally q2.stop()
    // startVersion skips history without a checkpoint
    val q3 = JsonlChangeFeed.stream(spark, catalog, "cs.t", startVersion = 2)
      .writeStream.format("memory").queryName("cf_mem3")
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("cf-ckpt3").toString).start()
    try {
      q3.processAllAvailable()
      assert(spark.sql("SELECT k FROM cf_mem3").collect()
        .map(_.getLong(0)).toSeq == Seq(5L))
    } finally q3.stop()
    // the BATCH face reads one version window through the same source
    val dir = s"${spark.conf.get("spark.sql.catalog.sn.root")}/cs/t"
    val win = spark.read.format("graft-jsonl-changes")
      .option("fromVersion", 1).option("toVersion", 2).load(dir)
      .select("k", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(win == Seq((2L, "delete"), (4L, "insert")), win.toString)
  }

  test("rollback invalidates skip-index entries of shards whose sidecars change") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.si")
    sql("""CREATE TABLE sn.si.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.si.t SELECT /*+ REPARTITION(1) */ id AS k, id AS v FROM range(0, 10)")
    sql("CALL sn.system.snapshot('si.t', tag => 'full')") // v1: no deletes
    sql("DELETE FROM sn.si.t WHERE k >= 5") // sidecar: ordinals 5..9
    sql("CALL sn.system.snapshot('si.t', tag => 'cut')") // v2: deletes embedded
    // index built over the DELETE-FILTERED read: entry says max(k)=4
    sql("CALL sn.system.build_skip_index('si.t', columns => 'k')")
    assert(sql("SELECT count(*) FROM sn.si.t WHERE k = 7").head.getLong(0) == 0L)
    // rollback RESURRECTS rows 5..9 on the SAME (common) shard — its
    // stale entry must be dropped, or k=7 is wrongly pruned and
    // COUNT/MAX answer from the index without opening the file
    sql("CALL sn.system.rollback_to_snapshot('si.t', version => 'full')")
    assert(sql("SELECT k FROM sn.si.t WHERE k = 7").collect()
      .map(_.getLong(0)).toSeq == Seq(7L),
      "resurrected row must not be pruned by the pre-rollback index entry")
    assert(sql("SELECT count(*), max(k) FROM sn.si.t").head match {
      case r => r.getLong(0) == 10L && r.getLong(1) == 9L
    }, "agg pushdown must not answer from the stale entry")
    // the other direction: entry built over the FULL shard, rollback
    // forward to the deleted state — max(k) must shrink to 4
    sql("CALL sn.system.build_skip_index('si.t', columns => 'k')")
    sql("CALL sn.system.rollback_to_snapshot('si.t', version => 'cut')")
    assert(sql("SELECT count(*), max(k) FROM sn.si.t").head match {
      case r => r.getLong(0) == 5L && r.getLong(1) == 4L
    }, "rolling forward over a grown sidecar must drop the entry too")
    assert(sql("SELECT count(*) FROM sn.si.t WHERE k = 7").head.getLong(0) == 0L)
  }

  test("maintenance refuses over crashed PARTITION-SCOPED compaction swap dirs") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.crsw")
    sql("""CREATE TABLE sn.crsw.t (k BIGINT, p STRING) PARTITIONED BY (p)""")
    sql("INSERT INTO sn.crsw.t VALUES (1, 'a'), (2, 'b')")
    sql("CALL sn.system.snapshot('crsw.t', tag => 'ok')")
    val root = spark.conf.get("spark.sql.catalog.sn.root")
    // simulate a scoped compaction that died mid-swap: its suffixed
    // trash dir holds the only copy of that partition's shards
    val trash = new java.io.File(s"$root/crsw/t/_compact_trash_p_deadbeef")
    assert(trash.mkdirs())
    try {
      val e1 = intercept[Exception] {
        sql("CALL sn.system.compact('crsw.t', max_shards => 1)").collect() }
      assert(e1.getMessage.contains("_compact_trash_p_deadbeef"), e1.getMessage)
      val e2 = intercept[Exception] {
        sql("CALL sn.system.rollback_to_snapshot('crsw.t', version => 'ok')")
          .collect() }
      assert(e2.getMessage.contains("_compact_trash_p_deadbeef"), e2.getMessage)
      val e3 = intercept[Exception] {
        sql("CALL sn.system.cluster_table('crsw.t', columns => 'k')").collect() }
      assert(e3.getMessage.contains("_compact_trash_p_deadbeef"), e3.getMessage)
    } finally trash.delete()
    // recovered: all three proceed
    sql("CALL sn.system.rollback_to_snapshot('crsw.t', version => 'ok')")
    sql("CALL sn.system.compact('crsw.t', max_shards => 1)")
    assert(rows("SELECT k, 0L FROM sn.crsw.t").map(_._1) == Seq(1L, 2L))
  }

  test("rollback_to_snapshot restores live state in BOTH directions") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.rb")
    sql("""CREATE TABLE sn.rb.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.rb.t VALUES (1, 10), (2, 20), (3, 30)")
    sql("CALL sn.system.snapshot('rb.t', tag => 'base')") // v1
    sql("DELETE FROM sn.rb.t WHERE k = 2") // MOR sidecar grows
    sql("INSERT INTO sn.rb.t VALUES (4, 40)") // appended shard
    sql("CALL sn.system.snapshot('rb.t', tag => 'mut')") // v2
    def live = rows("SELECT k, v FROM sn.rb.t")
    assert(live == Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    // roll BACK: the delete un-happens, the append leaves (retained —
    // v2 references it)
    val r1 = sql("CALL sn.system.rollback_to_snapshot('rb.t', version => 'base')").head
    assert(r1.getLong(0) == 1L && r1.getInt(1) == 1 && r1.getInt(2) == 0,
      s"one appended shard removed, none restored: $r1")
    assert(live == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rows("SELECT k, v FROM sn.rb.t VERSION AS OF 'mut'") ==
      Seq((1L, 10L), (3L, 30L), (4L, 40L)),
      "the post-rollback snapshot must keep answering (its shard retained)")
    // roll FORWARD: the same CALL with the newer version — the
    // retained shard moves back, the sidecar re-materializes
    val r2 = sql("CALL sn.system.rollback_to_snapshot('rb.t', version => 'mut')").head
    assert(r2.getInt(2) == 1, s"the retained shard restores: $r2")
    assert(live == Seq((1L, 10L), (3L, 30L), (4L, 40L)))
    // and back again — both manifests stay replayable
    sql("CALL sn.system.rollback_to_snapshot('rb.t', version => 'base')")
    assert(live == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // post-rollback writes compose normally
    sql("INSERT INTO sn.rb.t VALUES (5, 50)")
    assert(live == Seq((1L, 10L), (2L, 20L), (3L, 30L), (5L, 50L)))
    // unknown version refuses loudly
    intercept[Exception] {
      sql("CALL sn.system.rollback_to_snapshot('rb.t', version => 'nope')")
        .collect()
    }
    // the changes source accepts snapshot TAGS as window endpoints
    val dirRb = s"${spark.conf.get("spark.sql.catalog.sn.root")}/rb/t"
    val win = spark.read.format("graft-jsonl-changes")
      .option("fromVersion", "base").option("toVersion", "mut").load(dirRb)
      .select("k", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(win == Seq((2L, "delete"), (4L, "insert")), win.toString)
    // forward-only: swapped endpoints refuse
    intercept[Exception] {
      spark.read.format("graft-jsonl-changes")
        .option("fromVersion", "mut").option("toVersion", "base").load(dirRb)
        .collect()
    }
  }

  test("per-version admission control: catch-up replays one batch per snapshot") {
    import graft.sources.dsv2.JsonlChangeFeed
    import scala.jdk.CollectionConverters._
    val catalog = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS sn.ac")
    sql("""CREATE TABLE sn.ac.t (k BIGINT, v BIGINT, p BIGINT)
          |PARTITIONED BY (p)""".stripMargin)
    // three versions pinned while NO stream is running — including an
    // add-then-remove across v2→v3: the p=2 shard lands in v2 and its
    // partition is dropped before v3, so a NETTED 0→3 diff would emit
    // nothing for it and per-commit history would be silently lost
    sql("INSERT INTO sn.ac.t VALUES (1, 10, 1), (2, 20, 1)")
    sql("CALL sn.system.snapshot('ac.t')") // v1
    sql("INSERT INTO sn.ac.t VALUES (3, 30, 2)")
    sql("CALL sn.system.snapshot('ac.t')") // v2
    sql("DELETE FROM sn.ac.t WHERE p = 2") // metadata dir drop: shard removed
    sql("CALL sn.system.snapshot('ac.t')") // v3
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Seq[(Long, String)])]()
    val q = JsonlChangeFeed.stream(spark, catalog, "ac.t")
      .writeStream.option("checkpointLocation",
        graft.core.Fixtures.tempDir("ac-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rs = df.select("k", "_change").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        if (rs.nonEmpty) batches.add((id, rs))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val got = batches.iterator().asScala.toSeq.sortBy(_._1).map(_._2)
    assert(got == Seq(
      Seq((1L, "insert"), (2L, "insert")), // = v0→v1 diff alone
      Seq((3L, "insert")),                 // = v1→v2 diff alone
      Seq((3L, "delete"))),                // = v2→v3 diff alone
      s"catch-up must replay one micro-batch PER SNAPSHOT: $got")
  }

  test("auto-snapshot on commit: plain INSERTs publish to the change feed") {
    import graft.sources.dsv2.{JsonlChangeFeed, JsonlSnapshots}
    import scala.jdk.CollectionConverters._
    val catalog = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS sn.au")
    sql("""CREATE TABLE sn.au.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.snapshot.auto'='true',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sn.au.t VALUES (1, 10)") // pins v1
    sql("INSERT INTO sn.au.t VALUES (2, 20)") // pins v2
    sql("INSERT INTO sn.au.t VALUES (3, 30)") // pins v3
    val root = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.catalog.sn.root")}/au/t")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(JsonlSnapshots.list(fs, root).map(_.id) == Seq(1L, 2L, 3L),
      "each plain INSERT must pin its own version")
    // the streaming feed tails the INSERT traffic with no CALL ever
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[(Long, String)]]()
    val q = JsonlChangeFeed.stream(spark, catalog, "au.t")
      .writeStream.option("checkpointLocation",
        graft.core.Fixtures.tempDir("au-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rs = df.select("k", "_change").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        if (rs.nonEmpty) batches.add(rs)
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(batches.iterator().asScala.toSeq == Seq(
        Seq((1L, "insert")), Seq((2L, "insert")), Seq((3L, "insert"))),
        "three INSERTs -> three single-insert batches")
      // a MOR delta commit auto-pins too (v4), while HOLDING the lock
      sql("DELETE FROM sn.au.t WHERE k = 2")
      q.processAllAvailable()
      assert(batches.iterator().asScala.toSeq.last == Seq((2L, "delete")),
        "the MOR delete publishes as its own CDC batch")
    } finally q.stop()
    assert(JsonlSnapshots.list(fs, root).map(_.id) == Seq(1L, 2L, 3L, 4L))
    // LOCK-FREE pins: a held table _rlo_lock (a long-running compact,
    // say) neither blocks nor skips the pin — version-id assignment is
    // the claim-file CAS, so the landed commit ALWAYS gets its version
    val lock = new java.io.File(
      s"${spark.conf.get("spark.sql.catalog.sn.root")}/au/t/_rlo_lock")
    val w = new java.io.FileWriter(lock); w.write("long-compact"); w.close()
    try sql("INSERT INTO sn.au.t VALUES (6, 60)") // lands AND pins v5
    finally { assert(lock.delete()) }
    assert(JsonlSnapshots.list(fs, root).map(_.id) ==
      Seq(1L, 2L, 3L, 4L, 5L),
      "a held table lock must not skip or serialize the pin")
    assert(sql("SELECT count(*) FROM sn.au.t").head.getLong(0) == 3L)
    // a CRASHED pinner (claim without a manifest, older than the
    // stale budget) is broken by the next pin, which REPAIRS with a
    // full listing: the id stays a hole, no data is lost
    val claim = new java.io.File(
      s"${spark.conf.get("spark.sql.catalog.sn.root")}/au/t/_snapshots/v6.claim")
    val cw = new java.io.FileWriter(claim); cw.write("dead-pinner"); cw.close()
    assert(claim.setLastModified(System.currentTimeMillis() - 120000L))
    sql("INSERT INTO sn.au.t VALUES (7, 70)") // breaks v6, repairs at v7
    assert(!claim.exists(), "the stale claim must be broken")
    assert(JsonlSnapshots.list(fs, root).map(_.id) ==
      Seq(1L, 2L, 3L, 4L, 5L, 7L),
      "the broken id stays a hole; the repair pin publishes above it")
    val win = spark.read.format("graft-jsonl-changes")
      .option("fromVersion", 5).option("toVersion", 7)
      .load(s"${spark.conf.get("spark.sql.catalog.sn.root")}/au/t")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(win == Seq(7L), s"the repair version carries the commit: $win")
    // history stays bounded the usual way
    sql("CALL sn.system.expire_snapshots('au.t', keep_last => 1)")
    assert(JsonlSnapshots.list(fs, root).map(_.id) == Seq(7L))
  }

  test("parallel partition-disjoint MOR deltas: dense CAS pins, no table lock") {
    import graft.sources.dsv2.JsonlSnapshots
    sql("CREATE NAMESPACE IF NOT EXISTS sn.par")
    sql("""CREATE TABLE sn.par.t (k BIGINT, v BIGINT, p STRING)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.snapshot.auto'='true',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO sn.par.t
          |SELECT id AS k, id AS v, concat('p', CAST(id % 4 AS STRING)) AS p
          |FROM range(0, 40)""".stripMargin)
    val root = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.catalog.sn.root")}/par/t")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v0 = JsonlSnapshots.list(fs, root).map(_.id).max
    // 4 concurrent MOR DELETEs, one per partition: scoped locks let
    // them commit in parallel; the claim CAS assigns each its own
    // version — NO pin is skipped, NO table lock is taken
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs4 = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            sql(s"DELETE FROM sn.par.t WHERE p = 'p$i' AND k < ${8 + i}")
            ()
          }
        })
      }
      fs4.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val manifests = JsonlSnapshots.list(fs, root)
    assert(manifests.map(_.id) == (1L to v0 + 4L),
      s"4 commits -> 4 dense pins: ${manifests.map(_.id)}")
    // expected live rows: partition i lost k < 8+i (k%4==i)
    val want = (0L until 40L).filterNot(k => k < 8 + (k % 4)).toSeq.sorted
    assert(sql("SELECT k FROM sn.par.t").collect().map(_.getLong(0))
      .sorted.toSeq == want)
    // each consecutive manifest diff is EXACTLY one commit's delta:
    // same shard set (MOR — no shards added/removed), one partition's
    // sidecar ordinals grown
    manifests.sliding(2).foreach { case Seq(a, b) =>
      if (a.id >= v0) {
        assert(a.shards.keySet == b.shards.keySet,
          s"v${a.id}->v${b.id}: MOR delta must not add/remove shards")
        val changed = b.shards.filter { case (rel, ref) =>
          !a.shards(rel).deletes.sameElements(ref.deletes) }
        val dirs = changed.keys.map(_.split("/").head).toSet
        assert(dirs.size == 1,
          s"v${a.id}->v${b.id}: one commit's pin must carry exactly its " +
            s"own partition's deletes, got $dirs")
      }
      case _ => ()
    }
    // and the final version's embedded state equals the live table
    val last = manifests.last
    val embedded = last.shards.valuesIterator.map(_.deletes.length).sum
    val wantDeleted = (0L until 40L).count(k => k < 8 + (k % 4))
    assert(embedded == wantDeleted,
      s"all 4 commits' ordinals embedded: $embedded != $wantDeleted")
  }

  test("parallel dynamic overwrites on an auto-snapshot table: scoped locks, delta pins") {
    import graft.sources.dsv2.JsonlSnapshots
    sql("CREATE NAMESPACE IF NOT EXISTS sn.dyo")
    sql("""CREATE TABLE sn.dyo.t (k BIGINT, v BIGINT, p STRING)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.snapshot.auto'='true')""".stripMargin)
    sql("INSERT INTO sn.dyo.t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // two DISJOINT-partition dynamic overwrites race: scoped locks
      // (no table lock even with auto-snapshot) + claim-CAS DELTA pins
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fs2 = Seq("a", "b").map { part =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              sql(s"INSERT OVERWRITE TABLE sn.dyo.t VALUES " +
                s"(${part.head.toInt}L, 99L, '$part')")
              ()
            }
          })
        }
        fs2.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val got = sql("SELECT k, v, p FROM sn.dyo.t ORDER BY p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((97L, 99L, "a"), (98L, 99L, "b"), (3L, 30L, "c")),
      s"each overwrite replaces exactly its partition: $got")
    // both commits pinned (v1 insert + v2/v3 overwrites), and each
    // overwrite's manifest diff touches ONLY its own partition
    val root = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.catalog.sn.root")}/dyo/t")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val manifests = JsonlSnapshots.list(fs, root)
    assert(manifests.map(_.id) == Seq(1L, 2L, 3L),
      s"3 commits -> 3 dense pins: ${manifests.map(_.id)}")
    manifests.sliding(2).foreach {
      case Seq(m1, m2) =>
        val touched = ((m2.shards.keySet -- m1.shards.keySet) ++
          (m1.shards.keySet -- m2.shards.keySet))
          .map(_.split("/").head)
        assert(touched.size == 1,
          s"v${m1.id}->v${m2.id} must touch one partition, got $touched")
      case _ => ()
    }
  }

  test("CDC apply: the changes stream drives a downstream MERGE mirror") {
    import graft.sources.dsv2.JsonlChangeFeed
    val catalog = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS sn.cdc")
    // upstream auto-pins per commit; downstream is an ordinary MOR table
    sql("""CREATE TABLE sn.cdc.up (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.snapshot.auto'='true',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""CREATE TABLE sn.cdc.dn (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    val q = JsonlChangeFeed.stream(spark, catalog, "cdc.up")
      .writeStream.option("checkpointLocation",
        graft.core.Fixtures.tempDir("cdc-apply").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // the canonical CDC-apply MERGE: per-version micro-batches
        // (admission control) make each batch's per-key change
        // unambiguous — an insert and its later delete never net
        df.createOrReplaceTempView("up_changes")
        df.sparkSession.sql(
          """MERGE INTO sn.cdc.dn t USING up_changes c ON t.k = c.k
            |WHEN MATCHED AND c._change = 'delete' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET t.v = c.v
            |WHEN NOT MATCHED AND c._change = 'insert' THEN
            |  INSERT (k, v) VALUES (c.k, c.v)""".stripMargin)
        ()
      }.start()
    def mirror: Seq[(Long, Long)] = rows("SELECT k, v FROM sn.cdc.dn")
    try {
      sql("INSERT INTO sn.cdc.up VALUES (1, 10), (2, 20)") // pins v1
      q.processAllAvailable()
      assert(mirror == Seq((1L, 10L), (2L, 20L)))
      sql("INSERT INTO sn.cdc.up VALUES (3, 30)") // pins v2
      sql("DELETE FROM sn.cdc.up WHERE k = 1") // MOR delta, pins v3
      q.processAllAvailable()
      assert(mirror == Seq((2L, 20L), (3L, 30L)),
        s"downstream must mirror upstream after insert+delete: $mirror")
      assert(mirror == rows("SELECT k, v FROM sn.cdc.up"))
    } finally q.stop()
  }

  test("CDC apply over a COPY-ON-WRITE upstream: typeChanges keys the churn") {
    import graft.sources.dsv2.JsonlChangeFeed
    val catalog = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS sn.cdcw")
    // upstream is COW: an UPDATE rewrites whole shard groups, so the
    // raw manifest diff reports every row of a rewritten group as
    // delete+insert — same-key pairs inside ONE version, which the
    // canonical MERGE would reject (duplicate source keys) or
    // mis-apply. typeChanges() cancels the churn and types the rest.
    sql("""CREATE TABLE sn.cdcw.up (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.snapshot.auto'='true')""".stripMargin)
    sql("""CREATE TABLE sn.cdcw.dn (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    val q = JsonlChangeFeed.stream(spark, catalog, "cdcw.up")
      .writeStream.option("checkpointLocation",
        graft.core.Fixtures.tempDir("cdcw-apply").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val typed = JsonlChangeFeed.typeChanges(df, Seq("k"))
          .where(org.apache.spark.sql.functions.col("_change")
            =!= "update_preimage")
        typed.createOrReplaceTempView("up_changes")
        typed.sparkSession.sql(
          """MERGE INTO sn.cdcw.dn t USING up_changes c ON t.k = c.k
            |WHEN MATCHED AND c._change = 'delete' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET t.v = c.v
            |WHEN NOT MATCHED AND c._change != 'delete' THEN
            |  INSERT (k, v) VALUES (c.k, c.v)""".stripMargin)
        ()
      }.start()
    def mirror: Seq[(Long, Long)] = rows("SELECT k, v FROM sn.cdcw.dn")
    try {
      sql("""INSERT INTO sn.cdcw.up
            |SELECT /*+ REPARTITION(1) */ id AS k, id * 10 AS v
            |FROM range(0, 8)""".stripMargin) // one shard, pins v1
      q.processAllAvailable()
      assert(mirror == (0L until 8L).map(k => (k, k * 10)))
      // COW UPDATE of 2 rows rewrites the WHOLE 8-row shard: raw diff
      // = 8 deletes + 8 inserts; typed = 2 update pairs only
      sql("UPDATE sn.cdcw.up SET v = v + 1 WHERE k IN (2, 5)") // pins v2
      q.processAllAvailable()
      assert(mirror == (0L until 8L).map(k =>
        (k, if (k == 2 || k == 5) k * 10 + 1 else k * 10)),
        s"COW churn must not corrupt the mirror: $mirror")
      // mixed wave: COW delete (rewrites the group minus the row) +
      // appended insert in separate commits
      sql("DELETE FROM sn.cdcw.up WHERE k = 3") // pins v3
      sql("INSERT INTO sn.cdcw.up VALUES (100, 1000)") // pins v4
      q.processAllAvailable()
      assert(mirror == rows("SELECT k, v FROM sn.cdcw.up"),
        s"mirror must equal upstream after COW delete + insert: $mirror")
    } finally q.stop()
    // the typed batch face answers the same window directly
    val typed = JsonlChangeFeed.between(spark, catalog, "cdcw.up",
      from = "1", to = Some("2"), keyCols = Seq("k"))
      .select("k", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(typed == Seq((2L, 20L, "update_preimage"),
      (2L, 21L, "update_postimage"), (5L, 50L, "update_preimage"),
      (5L, 51L, "update_postimage")),
      s"an 8-row rewrite types to exactly two update pairs: $typed")
  }

  test("property: random mutation histories — snapshots immutable, CDC replay exact") {
    import graft.sources.dsv2.JsonlChangeFeed
    for (seed <- Seq(7, 23, 61)) {
      val rnd = new scala.util.Random(seed)
      val ns = s"pp$seed"
      sql(s"CREATE NAMESPACE IF NOT EXISTS sn.$ns")
      sql(s"""CREATE TABLE sn.$ns.t (k BIGINT, v BIGINT)
             |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
      var nextK = 0L
      def live: Seq[(Long, Long)] = rows(s"SELECT k, v FROM sn.$ns.t")
      var pinned = Vector.empty[(Long, Seq[(Long, Long)])] // (version, rows)
      def pin(): Unit = {
        val id = sql(s"CALL sn.system.snapshot('$ns.t')").head.getLong(0)
        pinned :+= (id, live)
      }
      sql(s"INSERT INTO sn.$ns.t VALUES (0, 0), (1, 10)"); nextK = 2
      pin()
      for (_ <- 1 to 16) rnd.nextInt(8) match {
        case 0 | 1 => // append a small batch
          val vals = (0 until 1 + rnd.nextInt(3))
            .map { _ => val k = nextK; nextK += 1; s"($k, ${k * 10})" }
          sql(s"INSERT INTO sn.$ns.t VALUES ${vals.mkString(", ")}")
        case 2 => // MOR delete of a random live key
          val ks = live.map(_._1)
          if (ks.nonEmpty)
            sql(s"DELETE FROM sn.$ns.t WHERE k = ${ks(rnd.nextInt(ks.size))}")
        case 3 => pin()
        case 4 => // compact folds sidecars into rewritten shards
          sql(s"CALL sn.system.compact('$ns.t', max_shards => 2)").collect()
        case 5 => // rollback to a random pinned version (then keep going)
          if (pinned.nonEmpty) {
            val (id, want) = pinned(rnd.nextInt(pinned.size))
            sql(s"CALL sn.system.rollback_to_snapshot('$ns.t', " +
              s"version => '$id')").collect()
            assert(live == want, s"seed=$seed rollback to v$id diverged")
          }
        case 6 => // sort-rewrite replaces the whole layout (retention)
          sql(s"CALL sn.system.cluster_table('$ns.t', " +
            "columns => 'k', target_shards => 2)").collect()
        case 7 => // expire between rollbacks: retained files a later
          // rollback needs must survive exactly as long as a manifest
          // references them — the model drops expired pins
          val keep = 1 + rnd.nextInt(3)
          sql(s"CALL sn.system.expire_snapshots('$ns.t', " +
            s"keep_last => $keep)").collect()
          val left = sql(s"CALL sn.system.snapshots('$ns.t')").collect()
            .map(_.getLong(0)).toSet
          pinned = pinned.filter(p => left.contains(p._1))
      }
      pin() // terminal version
      // 1) every snapshot still answers exactly what it pinned
      pinned.foreach { case (id, want) =>
        assert(rows(s"SELECT k, v FROM sn.$ns.t VERSION AS OF $id") == want,
          s"seed=$seed: snapshot v$id mutated")
      }
      // 2) replaying consecutive CDC windows from v0 reproduces the
      // terminal state exactly, whatever compaction/rollback happened
      val catalog = spark.sessionState.catalogManager.catalog("sn")
        .asInstanceOf[graft.sources.dsv2.GraftCatalog]
      val ids = pinned.map(_._1)
      var state = Map.empty[(Long, Long), Int] // multiset of rows
      (0L +: ids).zip(ids).foreach { case (from, to) =>
        JsonlChangeFeed.between(spark, catalog, s"$ns.t",
          from.toString, Some(to.toString))
          .select("k", "v", "_change").collect().foreach { r =>
            val key = (r.getLong(0), r.getLong(1))
            val d = if (r.getString(2) == "insert") 1 else -1
            state = state + (key -> (state.getOrElse(key, 0) + d))
          }
      }
      val replayed = state.filter(_._2 > 0)
        .flatMap { case (kv, n) => Seq.fill(n)(kv) }.toSeq.sorted
      assert(replayed == pinned.last._2,
        s"seed=$seed: CDC replay diverged from the terminal snapshot")
    }
  }

  test("expire_snapshots serializes with rollback: no retained shard lost") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.exr")
    sql("CREATE TABLE sn.exr.t (k BIGINT, v BIGINT)")
    var model = Vector.empty[(Long, Seq[(Long, Long)])]
    for (w <- 0 until 6) {
      // each wave REPLACES the table (retention path: old shards move
      // to retained/ under the previous manifests)
      sql(s"""INSERT OVERWRITE sn.exr.t
             |SELECT /*+ REPARTITION(2) */ id AS k, id * 10 + $w AS v
             |FROM range(0, 20)""".stripMargin)
      val id = sql("CALL sn.system.snapshot('exr.t')").head.getLong(0)
      model :+= (id, rows("SELECT k, v FROM sn.exr.t"))
    }
    // rollback and expire race repeatedly; the table lock serializes
    // them (expire deletes retained files a rollback renames back)
    spark.conf.set("graft.rlo.lock.acquire.wait.ms", "20000")
    try {
      val rnd = new scala.util.Random(5)
      for (_ <- 1 to 4) {
        val target = model(rnd.nextInt(model.size))._1
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val fRb = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            try sql("CALL sn.system.rollback_to_snapshot('exr.t', " +
              s"version => '$target')").collect()
            catch { // the racing expire may drop the target first
              case e: Exception if e.getMessage != null &&
                e.getMessage.contains("no snapshot") => ()
            }
            ()
          }
        })
        val fEx = pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            sql("CALL sn.system.expire_snapshots('exr.t', keep_last => 3)")
              .collect()
            ()
          }
        })
        fRb.get(120, java.util.concurrent.TimeUnit.SECONDS)
        fEx.get(120, java.util.concurrent.TimeUnit.SECONDS)
        pool.shutdown()
        val left = sql("CALL sn.system.snapshots('exr.t')").collect()
          .map(_.getLong(0)).toSet
        model = model.filter(p => left.contains(p._1))
        // the invariant the lock protects: every surviving manifest
        // still answers exactly what it pinned — a lost retained
        // shard fails the read loudly or changes the rows
        model.foreach { case (id, want) =>
          assert(rows(s"SELECT k, v FROM sn.exr.t VERSION AS OF $id") == want,
            s"snapshot v$id diverged after expire-vs-rollback race")
        }
      }
    } finally spark.conf.unset("graft.rlo.lock.acquire.wait.ms")
  }

  test("property: partitioned-table histories — dir drops, overwrites, scoped compaction") {
    import graft.sources.dsv2.JsonlChangeFeed
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val ns = s"pq$seed"
      sql(s"CREATE NAMESPACE IF NOT EXISTS sn.$ns")
      sql(s"""CREATE TABLE sn.$ns.t (k BIGINT, v BIGINT, p BIGINT)
             |PARTITIONED BY (p)
             |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
      var nextK = 0L
      def live: Seq[(Long, Long)] =
        sql(s"SELECT k, p FROM sn.$ns.t").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      var pinned = Vector.empty[(Long, Seq[(Long, Long)])]
      def pin(): Unit = {
        val id = sql(s"CALL sn.system.snapshot('$ns.t')").head.getLong(0)
        pinned :+= (id, live)
      }
      def insertInto(parts: Seq[Long]): Unit = {
        val vals = parts.map { pp =>
          val k = nextK; nextK += 1; s"($k, ${k * 10}, $pp)"
        }
        sql(s"INSERT INTO sn.$ns.t VALUES ${vals.mkString(", ")}")
      }
      insertInto(Seq(1L, 2L, 3L)); pin()
      for (_ <- 1 to 16) rnd.nextInt(8) match {
        case 0 | 1 => insertInto((0 until 1 + rnd.nextInt(2))
          .map(_ => 1L + rnd.nextInt(3)))
        case 2 => // MOR row-level delete (non-partition predicate)
          val ks = live.map(_._1)
          if (ks.nonEmpty)
            sql(s"DELETE FROM sn.$ns.t WHERE k = ${ks(rnd.nextInt(ks.size))}")
        case 3 => // metadata-only partition drop
          val ps = live.map(_._2).distinct
          if (ps.size > 1)
            sql(s"DELETE FROM sn.$ns.t WHERE p = ${ps(rnd.nextInt(ps.size))}")
        case 4 => pin()
        case 5 => // dynamic overwrite of exactly one partition
          val pp = 1L + rnd.nextInt(3)
          val k = nextK; nextK += 1
          sql(s"""INSERT INTO sn.$ns.t
                 |REPLACE WHERE p = $pp
                 |SELECT $k AS k, ${k * 10} AS v, $pp AS p""".stripMargin)
        case 6 => // partition-scoped compact of a random dir
          sql(s"CALL sn.system.compact('$ns.t', max_shards => 2, " +
            s"partition => 'p=${1 + rnd.nextInt(3)}')").collect()
        case 7 => // rollback (restores dropped dirs from retained/)
          if (pinned.nonEmpty) {
            val (id, want) = pinned(rnd.nextInt(pinned.size))
            sql(s"CALL sn.system.rollback_to_snapshot('$ns.t', " +
              s"version => '$id')").collect()
            assert(live == want, s"seed=$seed rollback to v$id diverged")
          }
      }
      pin()
      pinned.foreach { case (id, want) =>
        val got = sql(s"SELECT k, p FROM sn.$ns.t VERSION AS OF $id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got == want, s"seed=$seed: snapshot v$id mutated")
      }
      // chained CDC windows from 0 reconstruct the terminal state
      val catalog = spark.sessionState.catalogManager.catalog("sn")
        .asInstanceOf[graft.sources.dsv2.GraftCatalog]
      val ids = pinned.map(_._1)
      var state = Map.empty[(Long, Long), Int]
      (0L +: ids).zip(ids).foreach { case (from, to) =>
        JsonlChangeFeed.between(spark, catalog, s"$ns.t",
          from.toString, Some(to.toString))
          .select("k", "p", "_change").collect().foreach { r =>
            val key = (r.getLong(0), r.getLong(1))
            val d = if (r.getString(2) == "insert") 1 else -1
            state = state + (key -> (state.getOrElse(key, 0) + d))
          }
      }
      val replayed = state.filter(_._2 > 0)
        .flatMap { case (kv, n) => Seq.fill(n)(kv) }.toSeq.sorted
      assert(replayed == pinned.last._2,
        s"seed=$seed: partitioned CDC replay diverged")
    }
  }

  test("Trigger.AvailableNow drains per-version batches then stops; maxVersionsPerBatch nets") {
    import scala.jdk.CollectionConverters._
    sql("CREATE NAMESPACE IF NOT EXISTS sn.an")
    sql("""CREATE TABLE sn.an.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.snapshot.auto'='true')""".stripMargin)
    sql("INSERT INTO sn.an.t VALUES (1, 10)") // v1
    sql("INSERT INTO sn.an.t VALUES (2, 20)") // v2
    sql("INSERT INTO sn.an.t VALUES (3, 30)") // v3
    val dir = s"${spark.conf.get("spark.sql.catalog.sn.root")}/an/t"
    // AvailableNow: processes everything pinned SO FAR as per-version
    // micro-batches, then terminates on its own
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("graft-jsonl-changes").load(dir)
      .writeStream
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("an-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = df.select("k").collect().map(_.getLong(0)).sorted.toSeq
        if (ks.nonEmpty) batches.add(ks)
        ()
      }.start()
    assert(q.awaitTermination(60000), "AvailableNow must stop by itself")
    assert(batches.iterator().asScala.toSeq ==
      Seq(Seq(1L), Seq(2L), Seq(3L)),
      s"one batch per pinned version: ${batches.iterator().asScala.toSeq}")
    // maxVersionsPerBatch > 1: a catch-up consumer that PREFERS netted
    // windows gets them
    val netted = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q2 = spark.readStream.format("graft-jsonl-changes")
      .option("maxVersionsPerBatch", 10).load(dir)
      .writeStream
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("an-ckpt2").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = df.select("k").collect().map(_.getLong(0)).sorted.toSeq
        if (ks.nonEmpty) netted.add(ks)
        ()
      }.start()
    assert(q2.awaitTermination(60000))
    assert(netted.iterator().asScala.toSeq == Seq(Seq(1L, 2L, 3L)),
      s"maxVersionsPerBatch=10 nets the window: ${netted.iterator().asScala.toSeq}")
  }

  test("snapshots are read-only; streaming a snapshot refuses") {
    sql("CREATE NAMESPACE IF NOT EXISTS sn.ro")
    sql("CREATE TABLE sn.ro.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO sn.ro.t VALUES (1, 10)")
    sql("CALL sn.system.snapshot('ro.t')")
    import graft.sources.dsv2.{GraftCatalog, JsonlTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("sn")
      .asInstanceOf[GraftCatalog]
    val snap = cat.loadTable(Identifier.of(Array("ro"), "t"), "1")
      .asInstanceOf[JsonlTable]
    val e = intercept[IllegalArgumentException] {
      snap.newWriteBuilder(null) }
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("crashed commit's intent marker: next pin repairs with a full listing") {
    import graft.sources.dsv2.JsonlSnapshots
    import org.apache.hadoop.fs.Path
    sql("CREATE NAMESPACE IF NOT EXISTS sn.ic")
    sql("""CREATE TABLE sn.ic.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.snapshot.auto'='true')""".stripMargin)
    sql("INSERT INTO sn.ic.t VALUES (1, 10)") // delta pin v2 (v1 = base)
    val root = spark.conf.get("spark.sql.catalog.sn.root")
    val table = new java.io.File(s"$root/ic/t")
    // fabricate the crash window the ADVICE names: a commit whose
    // shard RENAMED IN durably but which died before its auto-pin —
    // live shard, no manifest references it, stale intent marker left
    val orphan = new java.io.File(table, "part-crashed-0-7.jsonl.gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(orphan))
    gz.write("{\"k\":9,\"v\":90}\n".getBytes("UTF-8")); gz.close()
    val marker = new java.io.File(table, "_snapshots/.intent.crashed-q")
    marker.createNewFile()
    marker.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000L)
    // rollback refuses while the unpinned shard is at risk
    val e = intercept[Exception] {
      sql("CALL sn.system.rollback_to_snapshot('ic.t', version => '1')")
        .collect() }
    assert(e.getMessage.contains("intent"), e.getMessage)
    // the next pin — here another delta-pinning INSERT — must detect
    // the stale marker and base on a FULL listing (folding the crashed
    // commit's shard in). The marker is NOT consumed: age alone cannot
    // prove the owner dead, so only the owner — or an explicit
    // expire_staging under its dead-writer horizon — may clear it.
    sql("INSERT INTO sn.ic.t VALUES (2, 20)")
    assert(marker.exists(),
      "a repairing pin must never consume a foreign intent marker")
    val fs = new Path(table.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = JsonlSnapshots.list(fs, new Path(table.toString)).last
    assert(latest.shards.keySet.contains("part-crashed-0-7.jsonl.gz"),
      s"repair pin must fold the crashed commit's shard in: " +
        s"${latest.shards.keySet}")
    // rollback still refuses while the marker stands (the owner could
    // be alive and renaming more shards); expire_staging reclaims it
    // under the caller's dead-writer assertion — pinning a full
    // listing first — and then rollback works
    val e2 = intercept[Exception] {
      sql(s"CALL sn.system.rollback_to_snapshot('ic.t', " +
        s"version => '${latest.id}')").collect() }
    assert(e2.getMessage.contains("expire_staging"), e2.getMessage)
    sql("CALL sn.system.expire_staging('ic.t', age_minutes => 1)").collect()
    assert(!marker.exists(),
      "expire_staging must reclaim the stale marker after folding")
    val target = JsonlSnapshots.list(fs, new Path(table.toString)).last
    sql(s"CALL sn.system.rollback_to_snapshot('ic.t', " +
      s"version => '${target.id}')").collect()
    assert(rows("SELECT k, v FROM sn.ic.t") ==
      Seq((1L, 10L), (2L, 20L), (9L, 90L)))
  }
}
