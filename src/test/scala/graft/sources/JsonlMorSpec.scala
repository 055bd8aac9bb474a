package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Merge-on-read row-level operations: position-delete sidecars
  * written by MERGE/UPDATE/DELETE on tables with
  * `graft.row-level.mode = merge-on-read`, applied by every reader,
  * retired by `CALL compact`. The load-bearing claims:
  *
  *   - a small MERGE/DELETE rewrites ZERO data shards (the whole
  *     point — copy-on-write pays group-rewrite amplification);
  *   - every read path (row, COUNT(*) pushdown, streaming)
  *     sees deletes applied;
  *   - a MOR table and its COW twin answer identically after the same
  *     interleaved MERGE/DELETE waves;
  *   - compaction folds sidecars into rewritten shards, drops them,
  *     and changes no query answer. */
class JsonlMorSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.mw", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.mw.root",
      graft.core.Fixtures.tempDir("graft-mor").toString)
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def root = spark.conf.get("spark.sql.catalog.mw.root")

  private def dataShards(dir: java.io.File): Set[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory && !f.getName.startsWith("_")) walk(f)
        else if (f.isFile && f.getName.endsWith(".jsonl.gz")) Seq(f)
        else Nil
      }
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString).toSet
  }

  private def sidecars(dir: java.io.File): Seq[java.io.File] = {
    val d = new java.io.File(dir, "_deletes")
    if (!d.exists()) Nil
    else {
      def walk(x: java.io.File): Seq[java.io.File] =
        x.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      walk(d).filter(_.getName.endsWith(".deletes.json"))
    }
  }

  test("MOR DELETE writes a sidecar and rewrites zero data shards") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.ns")
    sql("""CREATE TABLE mw.ns.d (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.ns.d VALUES (1, 10), (2, 20), (3, 30)")
    sql("INSERT INTO mw.ns.d VALUES (4, 40), (5, 50)")
    val dir = new java.io.File(s"$root/ns/d")
    val before = dataShards(dir)
    sql("DELETE FROM mw.ns.d WHERE k = 2 OR k = 5")
    assert(dataShards(dir) == before, "DELETE must rewrite zero data shards")
    assert(sidecars(dir).size == 2, "one sidecar per affected shard")
    assert(sql("SELECT k FROM mw.ns.d ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    // COUNT(*) pushdown path must apply deletes too
    assert(sql("SELECT count(*) FROM mw.ns.d").head.getLong(0) == 3L)
  }

  test("MOR MERGE: update+insert via sidecar + append shard only") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.m")
    sql("""CREATE TABLE mw.m.t (k BIGINT, amt BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.m.t VALUES (1, 10), (2, 20), (3, 30)")
    sql("CREATE TABLE mw.m.src (k BIGINT, amt BIGINT)")
    sql("INSERT INTO mw.m.src VALUES (2, 222), (9, 900)")
    val dir = new java.io.File(s"$root/m/t")
    val before = dataShards(dir)
    sql("""MERGE INTO mw.m.t t USING mw.m.src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
          |WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (s.k, s.amt)""".stripMargin)
    val after = dataShards(dir)
    assert((before -- after).isEmpty, "no pre-existing shard rewritten")
    assert((after -- before).nonEmpty, "update/insert rows land as new shards")
    assert(sidecars(dir).nonEmpty, "matched row's old copy deleted by position")
    assert(sql("SELECT k, amt FROM mw.m.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 222L), (3L, 30L), (9L, 900L)))
    sql("DROP TABLE mw.m.src")
  }

  test("MOR table matches its COW twin across interleaved MERGE/DELETE waves") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.tw")
    for ((name, mode) <- Seq(("mor", "merge-on-read"), ("cow", "copy-on-write"))) {
      sql(s"""CREATE TABLE mw.tw.$name (k BIGINT, grp STRING, amt BIGINT)
             |PARTITIONED BY (grp)
             |TBLPROPERTIES ('graft.row-level.mode'='$mode')""".stripMargin)
      sql(s"""INSERT INTO mw.tw.$name VALUES
             |  (1, 'a', 10), (2, 'a', 20), (3, 'b', 30), (4, 'b', 40),
             |  (5, 'c', 50), (6, 'c', 60)""".stripMargin)
    }
    sql("CREATE TABLE mw.tw.w1 (k BIGINT, amt BIGINT)")
    sql("INSERT INTO mw.tw.w1 VALUES (2, 200), (4, 400), (7, 700)")
    sql("CREATE TABLE mw.tw.w2 (k BIGINT, amt BIGINT)")
    sql("INSERT INTO mw.tw.w2 VALUES (7, 777), (1, 111), (8, 800)")
    for (t <- Seq("mor", "cow")) {
      sql(s"""MERGE INTO mw.tw.$t t USING mw.tw.w1 s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
             |WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 'new', s.amt)""".stripMargin)
      sql(s"DELETE FROM mw.tw.$t WHERE k = 3 OR k = 7")
      sql(s"""MERGE INTO mw.tw.$t t USING mw.tw.w2 s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
             |WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 'new', s.amt)""".stripMargin)
      sql(s"UPDATE mw.tw.$t SET amt = amt + 1 WHERE grp = 'c'")
    }
    def snap(t: String) = sql(
      s"SELECT k, grp, amt FROM mw.tw.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val (m, c) = (snap("mor"), snap("cow"))
    assert(m == c, s"mor=$m cow=$c")
    assert(m.map(_._1) == Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L))
    // and the MOR side did it all without touching its original shards
    assert(sidecars(new java.io.File(s"$root/tw/mor")).nonEmpty)
    sql("DROP TABLE mw.tw.w1"); sql("DROP TABLE mw.tw.w2")
  }

  test("CALL compact retires sidecars without changing answers") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.cp")
    sql("""CREATE TABLE mw.cp.t (k BIGINT, grp STRING, amt BIGINT)
          |PARTITIONED BY (grp)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO mw.cp.t VALUES (1, 'a', 10), (2, 'a', 20),
          |  (3, 'b', 30), (4, 'b', 40)""".stripMargin)
    sql("DELETE FROM mw.cp.t WHERE k = 1 OR k = 4")
    val dir = new java.io.File(s"$root/cp/t")
    assert(sidecars(dir).nonEmpty)
    val before = sql("SELECT k, grp, amt FROM mw.cp.t ORDER BY k").collect().toSeq
    // compact qualifies dirs by sidecar presence, not just shard count
    sql("CALL mw.system.compact('cp.t', max_shards => 1000)")
    assert(sidecars(dir).isEmpty, "compaction must consume the sidecars")
    assert(!new java.io.File(dir, "_deletes").exists(),
      "_deletes scaffolding removed once empty")
    val after = sql("SELECT k, grp, amt FROM mw.cp.t ORDER BY k").collect().toSeq
    assert(after == before)
    assert(sql("SELECT count(*) FROM mw.cp.t").head.getLong(0) == 2L)
  }

  test("compact retires sidecars on an UNPARTITIONED (root-shard) table") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.cr")
    sql("""CREATE TABLE mw.cr.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.cr.t VALUES (1, 10), (2, 20), (3, 30)")
    sql("INSERT INTO mw.cr.t VALUES (4, 40)")
    sql("DELETE FROM mw.cr.t WHERE k = 2")
    val dir = new java.io.File(s"$root/cr/t")
    assert(sidecars(dir).nonEmpty)
    sql("CALL mw.system.compact('cr.t', max_shards => 1000)")
    assert(sidecars(dir).isEmpty)
    assert(sql("SELECT k FROM mw.cr.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    // idempotent follow-up: nothing left to compact
    val again = sql("CALL mw.system.compact('cr.t', max_shards => 1000)").collect()
    assert(again.isEmpty)
  }

  test("MERGE inserts cluster by partition: shards bounded by values, not rows") {
    // the delta write requires a clustered distribution + within-task
    // sort on the partition columns (JsonlDeltaWrite); without it the
    // roll-on-key-change writer lands one shard per partition-value RUN
    // — one file per row on interleaved input (measured ~51k shards for
    // ~51k MERGE-inserted rows on a 5-value partition column)
    sql("CREATE NAMESPACE IF NOT EXISTS mw.cl")
    sql("""CREATE TABLE mw.cl.t (k BIGINT, grp STRING, amt BIGINT)
          |PARTITIONED BY (grp)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.cl.t VALUES (900001, 'g0', 1), (900002, 'g1', 2)")
    // 2000 source rows with partition values interleaved k % 5
    spark.range(2000).selectExpr("id AS k", "concat('g', id % 5) AS grp",
        "id * 7 AS amt")
      .createOrReplaceTempView("mor_cluster_src")
    val dir = new java.io.File(s"$root/cl/t")
    val before = dataShards(dir)
    sql("""MERGE INTO mw.cl.t t USING mor_cluster_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.amt = s.amt
          |WHEN NOT MATCHED THEN INSERT (k, grp, amt)
          |  VALUES (s.k, s.grp, s.amt)""".stripMargin)
    val fresh = dataShards(dir) -- before
    assert(fresh.nonEmpty, "inserts must land new shards")
    assert(fresh.size <= 40,
      s"clustered MERGE inserts must bound shards by (tasks x partition " +
        s"values), got ${fresh.size} for 2000 rows")
    assert(sql("SELECT count(*) FROM mw.cl.t").head.getLong(0) == 2002L)
    assert(sql("SELECT CAST(SUM(amt) AS BIGINT) FROM mw.cl.t WHERE k < 2000")
      .head.getLong(0) == (0L until 2000L).map(_ * 7).sum)
  }

  test("UPDATE that moves a row across partitions; a path read applies deletes") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.mv")
    sql("""CREATE TABLE mw.mv.t (k BIGINT, grp STRING, amt BIGINT)
          |PARTITIONED BY (grp)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.mv.t VALUES (1, 'a', 10), (2, 'b', 20)")
    sql("UPDATE mw.mv.t SET grp = 'z' WHERE k = 1")
    assert(sql("SELECT grp FROM mw.mv.t WHERE k = 1").head.getString(0) == "z")
    assert(new java.io.File(s"$root/mv/t/grp=z").exists(),
      "moved row lands in its new partition directory")
    // a path read of the table dir applies the same sidecars
    val tdir = s"$root/mv/t"
    val cols = spark.read.format("graft-jsonl")
      .schema("k BIGINT, grp STRING, amt BIGINT").load(tdir)
    assert(cols.count() == 2L)
    assert(cols.where("k = 1").head.getString(1) == "z")
  }

  test("streaming read of a MOR table applies sidecars present at planning") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.st")
    sql("""CREATE TABLE mw.st.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.st.t VALUES (1, 10), (2, 20), (3, 30)")
    sql("DELETE FROM mw.st.t WHERE k = 2")
    val tdir = s"$root/st/t"
    val stream = spark.readStream.format("graft-jsonl")
      .schema("k BIGINT, v BIGINT").load(tdir)
    val q = stream.writeStream.format("memory")
      .queryName("mor_stream").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = sql("SELECT k FROM mor_stream ORDER BY k").collect()
      .map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L), s"got $got")
  }

  test("mode is a persisted property; ALTER flips it; bad values refused") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.pp")
    sql("CREATE TABLE mw.pp.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO mw.pp.t VALUES (1, 10), (2, 20)")
    val dir = new java.io.File(s"$root/pp/t")
    // default mode is copy-on-write: DELETE rewrites the shard
    val before = dataShards(dir)
    sql("DELETE FROM mw.pp.t WHERE k = 1")
    assert(dataShards(dir) != before, "COW rewrites")
    assert(sidecars(dir).isEmpty)
    sql("""ALTER TABLE mw.pp.t SET TBLPROPERTIES
          |('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.pp.t VALUES (3, 30)")
    val mid = dataShards(dir)
    sql("DELETE FROM mw.pp.t WHERE k = 2")
    assert(dataShards(dir) == mid, "MOR after the flip: zero rewrites")
    assert(sidecars(dir).nonEmpty)
    assert(sql("SELECT k FROM mw.pp.t").collect().map(_.getLong(0)).toSeq
      == Seq(3L))
    // survives a fresh catalog instance (property is in the spec file)
    spark.catalog.clearCache()
    assert(sql("SHOW TBLPROPERTIES mw.pp.t").collect()
      .exists(r => r.getString(0) == "graft.row-level.mode" &&
        r.getString(1) == "merge-on-read"))
    val e = intercept[Exception] {
      sql("ALTER TABLE mw.pp.t SET TBLPROPERTIES ('graft.row-level.mode'='bogus')")
    }
    assert(e.getMessage != null)
  }

  test("concurrent row-level commit refuses while _rlo_lock is held; stale lock broken") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.lk")
    sql("""CREATE TABLE mw.lk.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.lk.t VALUES (1, 10), (2, 20), (3, 30)")
    val dir = new java.io.File(s"$root/lk/t")
    // another writer mid-commit: a FRESH lock
    val lock = new java.io.File(dir, "_rlo_lock")
    val w = new java.io.FileWriter(lock); w.write("other-writer-q7"); w.close()
    val e = intercept[Exception] { sql("DELETE FROM mw.lk.t WHERE k = 2") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("_rlo_lock") &&
      m.contains("other-writer-q7")), e.toString)
    // no delete leaked through the refusal
    assert(sql("SELECT count(*) FROM mw.lk.t").head.getLong(0) == 3L)
    // a crashed holder's lock goes stale and the next writer breaks it
    lock.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    sql("DELETE FROM mw.lk.t WHERE k = 2")
    assert(sql("SELECT k FROM mw.lk.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(!lock.exists(), "lock released after the commit")
  }

  test("release verifies ownership: a broken-and-reacquired lock is not deleted") {
    import graft.sources.dsv2.RowLevelLock
    val conf = new org.apache.hadoop.conf.Configuration()
    val dir = graft.core.Fixtures.tempDir("rlo-verify").toFile
    val table = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = table.getFileSystem(conf)
    val a = RowLevelLock.acquire(fs, conf, table, "writer-a")
    // writer A stalls past staleness; writer B breaks the lock and
    // takes its own — from here the table is B's critical section
    val lockFile = new java.io.File(dir, RowLevelLock.FileName)
    assert(lockFile.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val b = RowLevelLock.acquire(fs, conf, table, "writer-b")
    // A's deferred release must NOT strip B's exclusivity mid-commit:
    // the naive delete here reopens the exact lost-delete race
    RowLevelLock.release(fs, a)
    assert(lockFile.exists(), "A's release deleted B's lock")
    val held = new String(java.nio.file.Files.readAllBytes(lockFile.toPath))
    assert(held.startsWith("writer-b#"), held)
    RowLevelLock.release(fs, b)
    assert(!lockFile.exists(), "B's own release removes it")
  }

  test("two stale-lock breakers: exactly one wins, no fresh lock clobbered", graft.SoakTag) {
    import graft.sources.dsv2.RowLevelLock
    // the delete-then-create protocol fails this: breaker B's delete
    // can remove breaker A's FRESH lock. Rename-to-unique cannot —
    // only one rename of the stale file succeeds. Race many rounds.
    val conf = new org.apache.hadoop.conf.Configuration()
    (1 to 20).foreach { round =>
      val dir = graft.core.Fixtures.tempDir(s"rlo-race$round").toFile
      val table = new org.apache.hadoop.fs.Path(dir.toString)
      val fs = table.getFileSystem(conf)
      val lockFile = new java.io.File(dir, RowLevelLock.FileName)
      val w = new java.io.FileWriter(lockFile); w.write("dead-holder"); w.close()
      assert(lockFile.setLastModified(System.currentTimeMillis() - 3600L * 1000))
      val winners = new java.util.concurrent.atomic.AtomicInteger(0)
      val leases = new java.util.concurrent.ConcurrentLinkedQueue[RowLevelLock.Lease]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 4).map { i =>
        val t = new Thread(() => {
          gate.await()
          try {
            val l = RowLevelLock.acquire(fs, conf, table, s"breaker-$i")
            winners.incrementAndGet(); leases.add(l)
          } catch {
            case _: graft.sources.dsv2.ConcurrentRowLevelOperationException => ()
          }
        })
        t.start(); t
      }
      gate.countDown(); threads.foreach(_.join(30000))
      assert(winners.get() == 1,
        s"round $round: ${winners.get()} breakers all think they hold the lock")
      assert(lockFile.exists(), s"round $round: winner's lock missing")
      leases.forEach(l => RowLevelLock.release(fs, l))
    }
  }

  test("heartbeat keeps a long-running holder's lock from going stale") {
    import graft.sources.dsv2.RowLevelLock
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setLong(RowLevelLock.StaleMsKey, 2500L) // heartbeat ≈ every 1s
    val dir = graft.core.Fixtures.tempDir("rlo-beat").toFile
    val table = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = table.getFileSystem(conf)
    val a = RowLevelLock.acquire(fs, conf, table, "long-op")
    try {
      // without the heartbeat the lock is stale after 2.5s and the
      // contender below would break it — losing A's exclusivity while
      // A is still mid-compact
      Thread.sleep(4000)
      val e = intercept[graft.sources.dsv2.ConcurrentRowLevelOperationException] {
        RowLevelLock.acquire(fs, conf, table, "contender")
      }
      assert(e.getMessage.contains("long-op"), e.getMessage)
    } finally RowLevelLock.release(fs, a)
    assert(!new java.io.File(dir, RowLevelLock.FileName).exists())
  }

  test("INSERT OVERWRITE and TRUNCATE commits take _rlo_lock (snapshot can't pin a half-overwrite)") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.lk3")
    sql("CREATE TABLE mw.lk3.t (k BIGINT, v BIGINT)")
    sql("INSERT INTO mw.lk3.t VALUES (1, 10), (2, 20)")
    val dir = new java.io.File(s"$root/lk3/t")
    val lock = new java.io.File(dir, "_rlo_lock")
    def hold(): Unit = {
      val w = new java.io.FileWriter(lock); w.write("snapshot-in-flight"); w.close()
      ()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    hold()
    val e = intercept[Exception] {
      sql("INSERT OVERWRITE TABLE mw.lk3.t VALUES (9, 90)")
    }
    assert(msgs(e).exists(_.contains("_rlo_lock")), e.toString)
    // the refused overwrite left the table intact — no partial discard
    assert(sql("SELECT k FROM mw.lk3.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val e2 = intercept[Exception] { sql("TRUNCATE TABLE mw.lk3.t") }
    assert(msgs(e2).exists(_.contains("_rlo_lock")), e2.toString)
    assert(sql("SELECT count(*) FROM mw.lk3.t").head.getLong(0) == 2L)
    assert(lock.delete())
    sql("INSERT OVERWRITE TABLE mw.lk3.t VALUES (9, 90)")
    assert(sql("SELECT k FROM mw.lk3.t").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    assert(!lock.exists(), "overwrite released its lock")
  }

  test("contending writer with acquire.wait.ms succeeds once the holder releases") {
    sql("CREATE NAMESPACE IF NOT EXISTS mw.lk2")
    sql("""CREATE TABLE mw.lk2.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.lk2.t VALUES (1, 10), (2, 20), (3, 30)")
    val dir = new java.io.File(s"$root/lk2/t")
    val lock = new java.io.File(dir, "_rlo_lock")
    val w = new java.io.FileWriter(lock); w.write("compact-in-flight"); w.close()
    // the streaming-foreachBatch posture: delay the batch behind the
    // maintenance op instead of failing it
    spark.conf.set("graft.rlo.lock.acquire.wait.ms", "20000")
    try {
      val releaser = new Thread(() => { Thread.sleep(1500); lock.delete(); () })
      releaser.start()
      sql("DELETE FROM mw.lk2.t WHERE k = 2") // retries under the hood
      releaser.join()
      assert(sql("SELECT k FROM mw.lk2.t ORDER BY k").collect()
        .map(_.getLong(0)).toSeq == Seq(1L, 3L))
      assert(!lock.exists(), "lock released after the commit")
    } finally spark.conf.unset("graft.rlo.lock.acquire.wait.ms")
  }

  test("sidecar .bak survivor: deletes stay applied and re-merge on next append") {
    // The no-FileContext publish fallback renames the live sidecar
    // aside to .bak before renaming its replacement in. Simulate the
    // crash between the two renames: primary gone, .bak present —
    // index() must fall back to the .bak (deletes stay applied) and
    // the next append must union it in rather than starting empty.
    import org.apache.hadoop.fs.Path
    import graft.sources.dsv2.JsonlDeletes
    sql("CREATE NAMESPACE IF NOT EXISTS mw.bk")
    sql("""CREATE TABLE mw.bk.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.bk.t SELECT /*+ REPARTITION(1) */ * FROM VALUES " +
      "(1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L) AS v(k, v)")
    sql("DELETE FROM mw.bk.t WHERE k = 2")
    val dir = new java.io.File(s"$root/bk/t")
    val sc = sidecars(dir).head
    val bak = new java.io.File(sc.getParentFile, sc.getName + ".bak")
    assert(sc.renameTo(bak), "simulate crash: primary replaced by .bak")
    val rootP = new Path(dir.toString)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val idx = JsonlDeletes.index(fs, rootP)
    assert(idx.values.toSeq == Seq(bak.toString) ||
      idx.values.exists(_.endsWith(".bak")), s"index must surface the .bak: $idx")
    assert(sql("SELECT k FROM mw.bk.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L), "deletes stay applied via .bak")
    // the next row-level op merges the .bak contents, not an empty set
    sql("DELETE FROM mw.bk.t WHERE k = 4")
    assert(sql("SELECT k FROM mw.bk.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L), "k=2 not resurrected")
    val idx2 = JsonlDeletes.index(fs, rootP)
    assert(idx2.values.forall(!_.endsWith(".bak")), "primary republished")
  }

  test("COW rewrite on a table carrying sidecars consumes them") {
    // tables can flip modes; a COW group rewrite must apply existing
    // sidecars through its scan AND retire them with the replaced
    // shards (the staged replacement already reflects the deletes)
    sql("CREATE NAMESPACE IF NOT EXISTS mw.x")
    sql("""CREATE TABLE mw.x.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    // ONE shard: a shard whose every live row the rewrite touches is
    // replaced (and must take its sidecar along); a shard left with no
    // matching rows is never scanned and rightly KEEPS its sidecar
    sql("""INSERT INTO mw.x.t SELECT /*+ REPARTITION(1) */ *
          |FROM VALUES (1L, 10L), (2L, 20L), (3L, 30L) AS v(k, v)""".stripMargin)
    sql("DELETE FROM mw.x.t WHERE k = 2")
    assert(sidecars(new java.io.File(s"$root/x/t")).nonEmpty)
    sql("""ALTER TABLE mw.x.t SET TBLPROPERTIES
          |('graft.row-level.mode'='copy-on-write')""".stripMargin)
    sql("UPDATE mw.x.t SET v = v * 2 WHERE k >= 1")
    assert(sidecars(new java.io.File(s"$root/x/t")).isEmpty,
      "COW rewrite retires the replaced shards' sidecars")
    assert(sql("SELECT k, v FROM mw.x.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 20L), (3L, 60L)))
  }

  test("partition-scoped compact: one dir swaps under its own lock, others untouched") {
    import graft.sources.dsv2.RowLevelLock
    import org.apache.hadoop.fs.Path
    sql("CREATE NAMESPACE IF NOT EXISTS mw.pc")
    sql("""CREATE TABLE mw.pc.t (k BIGINT, p BIGINT)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    for (i <- 1 to 10)
      sql(s"INSERT INTO mw.pc.t VALUES ($i, 1), (${i + 100}, 2)")
    sql("DELETE FROM mw.pc.t WHERE k = 3") // sidecar in p=1
    val dir = new java.io.File(s"$root/pc/t")
    def shardsIn(rel: String): Int =
      new java.io.File(dir, rel).listFiles()
        .count(_.getName.endsWith(".jsonl.gz"))
    assert(shardsIn("p=1") == 10 && shardsIn("p=2") == 10)
    val p2Files = new java.io.File(dir, "p=2").listFiles().map(_.getName).toSet
    // with p=2 HELD by another writer, a scoped compact of p=1 proceeds
    val table = new Path(s"$root/pc/t")
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val held = RowLevelLock.acquireScoped(fs,
      spark.sessionState.newHadoopConf(), table, "other", Seq("p=2"))
    val res = sql("""CALL mw.system.compact('pc.t', max_shards => 2,
                    |partition => 'p=1')""".stripMargin).collect()
    assert(res.map(_.getString(0)).toSeq == Seq("p=1"), res.mkString(","))
    assert(shardsIn("p=1") == 1, "p=1 compacts to one shard")
    assert(new java.io.File(dir, "p=2").listFiles().map(_.getName).toSet
      == p2Files, "p=2 byte-untouched")
    // rows exact; the sidecar retired with the rewrite
    assert(sql("SELECT k FROM mw.pc.t WHERE p = 1 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == (1L to 10L).filterNot(_ == 3L))
    // the scoped run clears ITS OWN _deletes subtree only (another
    // partition's MOR commit may be publishing a sidecar this instant)
    assert(!new java.io.File(dir, "_deletes/p=1").exists())
    // compacting the HELD partition refuses on the shared scope
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      sql("CALL mw.system.compact('pc.t', max_shards => 2, partition => 'p=2')")
        .collect()
    }
    assert(msgs(e).exists(_.contains("concurrent row-level")), e.toString)
    RowLevelLock.releaseAll(fs, held)
    sql("CALL mw.system.compact('pc.t', max_shards => 2, partition => 'p=2')")
      .collect()
    assert(shardsIn("p=2") == 1)
    assert(sql("SELECT k FROM mw.pc.t WHERE p = 2 ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == (101L to 110L))
    // a non-partition arg refuses loudly
    val e2 = intercept[Exception] {
      sql("CALL mw.system.compact('pc.t', partition => 'nope')").collect()
    }
    assert(msgs(e2).exists(_.contains("partition-relative")), e2.toString)
  }

  test("scoped lock race: never two concurrent holders of one scope; disjoint scopes overlap") {
    import graft.sources.dsv2.{ConcurrentRowLevelOperationException, RowLevelLock}
    import java.util.concurrent.CountDownLatch
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.hadoop.fs.Path
    val table = new Path(
      graft.core.Fixtures.tempDir("graft-scoped-race").toString)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = table.getFileSystem(hconf)
    fs.mkdirs(table)
    // SHARED scope: of 4 simultaneous acquirers at most one holds at a
    // time, across 10 rounds (winners may be 1..4 per round as earlier
    // winners release — exclusivity is the invariant, not the count)
    val cur = new AtomicInteger(0)
    val maxConcurrent = new AtomicInteger(0)
    val wonTotal = new AtomicInteger(0)
    for (_ <- 1 to 10) {
      val go = new CountDownLatch(1)
      val ts = (1 to 4).map { i =>
        new Thread(() => {
          go.await()
          try {
            val l = RowLevelLock.acquireScoped(fs, hconf, table,
              s"racer-$i", Seq("p=9"))
            val c = cur.incrementAndGet()
            maxConcurrent.updateAndGet(m => math.max(m, c))
            wonTotal.incrementAndGet()
            Thread.sleep(5)
            cur.decrementAndGet()
            RowLevelLock.releaseAll(fs, l)
          } catch { case _: ConcurrentRowLevelOperationException => () }
        })
      }
      ts.foreach(_.start()); go.countDown(); ts.foreach(_.join())
    }
    assert(wonTotal.get >= 10, s"every round must produce a winner: ${wonTotal.get}")
    assert(maxConcurrent.get == 1,
      s"two holders of one scope overlapped: ${maxConcurrent.get}")
    // DISJOINT scopes: both acquirers hold simultaneously
    val both = new CountDownLatch(2)
    val overlapped = new AtomicInteger(0)
    val ds = Seq("p=1", "p=2").map { scope =>
      new Thread(() => {
        val l = RowLevelLock.acquireScoped(fs, hconf, table, scope, Seq(scope))
        both.countDown()
        if (both.await(5, java.util.concurrent.TimeUnit.SECONDS))
          overlapped.incrementAndGet()
        RowLevelLock.releaseAll(fs, l)
      })
    }
    ds.foreach(_.start()); ds.foreach(_.join())
    assert(overlapped.get == 2, "disjoint scopes must hold concurrently")
  }

  test("partition-scoped locks: disjoint MOR deletes coexist, table-wide ops exclude") {
    import graft.sources.dsv2.{ConcurrentRowLevelOperationException, RowLevelLock}
    import org.apache.hadoop.fs.Path
    sql("CREATE NAMESPACE IF NOT EXISTS mw.ps")
    sql("""CREATE TABLE mw.ps.t (k BIGINT, p BIGINT)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO mw.ps.t VALUES (1, 1), (2, 1), (3, 2), (4, 2), (5, 3)")
    val table = new Path(s"$root/ps/t")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = table.getFileSystem(hconf)
    // disjoint partition scopes coexist; a shared scope refuses
    val a = RowLevelLock.acquireScoped(fs, hconf, table, "qa", Seq("p=1"))
    val b = RowLevelLock.acquireScoped(fs, hconf, table, "qb", Seq("p=2"))
    intercept[ConcurrentRowLevelOperationException] {
      RowLevelLock.acquireScoped(fs, hconf, table, "qc", Seq("p=2", "p=3"))
    }
    // a table-wide acquire drains; with live scoped holders it refuses
    // after the (shortened) drain budget
    val dconf = new org.apache.hadoop.conf.Configuration(hconf)
    dconf.setLong(RowLevelLock.DrainMsKey, 300L)
    intercept[ConcurrentRowLevelOperationException] {
      RowLevelLock.acquire(fs, dconf, table, "qd")
    }
    RowLevelLock.releaseAll(fs, b)
    // end-to-end: with p=1 still held by "another writer", a MOR
    // delete confined to p=2 commits WITHOUT retry or wait...
    sql("DELETE FROM mw.ps.t WHERE p = 2 AND k = 3")
    assert(sql("SELECT k FROM mw.ps.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 5L))
    // ...while one touching p=1 refuses on the shared scope
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] { sql("DELETE FROM mw.ps.t WHERE p = 1 AND k = 1") }
    assert(msgs(e).exists(_.contains("concurrent row-level")), e.toString)
    RowLevelLock.releaseAll(fs, a)
    sql("DELETE FROM mw.ps.t WHERE p = 1 AND k = 1")
    assert(sql("SELECT k FROM mw.ps.t ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 4L, 5L))
    // all scopes clear: the table-wide path (CALL snapshot) proceeds
    assert(sql("CALL mw.system.snapshot('ps.t')").head.getLong(0) == 1L)
  }
}
