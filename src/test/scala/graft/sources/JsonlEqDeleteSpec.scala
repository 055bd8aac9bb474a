package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Equality-delete upsert tier ([[graft.sources.dsv2.JsonlEqDeletes]]):
  * a `graft.upsert.keys` table turns plain APPENDs into O(|batch|)
  * upsert waves — key file + stamped inserts, NO target scan — whose
  * visible state must match a MERGE-maintained twin exactly, survive
  * compaction reconcile, and refuse the surfaces it can't compose
  * with (snapshots, cluster, rollback). */
class JsonlEqDeleteSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.eq", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.eq.root",
      graft.core.Fixtures.tempDir("graft-eq").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS eq.ns")
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def rows(q: String): Seq[(Long, Long)] =
    sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("upsert waves match the MERGE-maintained twin; no target scan artifacts") {
    sql("""CREATE TABLE eq.ns.up (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("""CREATE TABLE eq.ns.tw (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    def wave(values: Seq[(Long, Long)]): Unit = {
      val vs = values.map { case (k, v) => s"($k, $v)" }.mkString(", ")
      sql(s"INSERT INTO eq.ns.up VALUES $vs") // upsert wave: O(|batch|)
      sql(s"""MERGE INTO eq.ns.tw t
             |USING (SELECT * FROM VALUES $vs AS s(k, v)) s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.v = s.v
             |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
        .stripMargin)
      assert(rows("SELECT k, v FROM eq.ns.up") ==
        rows("SELECT k, v FROM eq.ns.tw"),
        s"upsert tier diverged from the MERGE twin after wave $vs")
    }
    wave((0L until 10L).map(k => (k, k * 10)))
    wave((5L until 15L).map(k => (k, k * 100))) // overlaps 5..9
    wave(Seq((0L, 1L), (7L, 2L), (20L, 3L)))
    // aggregates see the upserted state (index-answered paths are
    // gated off while equality deletes are pending)
    assert(sql("SELECT count(*), max(v) FROM eq.ns.up").head match {
      case r => r.getLong(0) == 16L && r.getLong(1) == 1400L
    })
    // filters compose: the hidden generation never leaks through a
    // pushed point probe
    assert(sql("SELECT v FROM eq.ns.up WHERE k = 7").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // row-level ops compose: a MOR position delete on top of waves
    sql("ALTER TABLE eq.ns.up SET TBLPROPERTIES " +
      "('graft.row-level.mode'='merge-on-read')")
    sql("DELETE FROM eq.ns.up WHERE k = 20")
    sql("DELETE FROM eq.ns.tw WHERE k = 20")
    assert(rows("SELECT k, v FROM eq.ns.up") ==
      rows("SELECT k, v FROM eq.ns.tw"))
  }

  test("compact reconciles: hidden rows drop, key files retire, waves continue") {
    sql("""CREATE TABLE eq.ns.rc (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.rc SELECT id AS k, id AS v FROM range(0, 100)")
    sql("INSERT INTO eq.ns.rc SELECT id AS k, id + 1000 AS v FROM range(0, 50)")
    val before = rows("SELECT k, v FROM eq.ns.rc")
    assert(before.size == 100 &&
      before.count(_._2 >= 1000L) == 50, before.take(5).toString)
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    val eqDir = new java.io.File(s"$root/ns/rc/_eq_deletes")
    assert(eqDir.exists(), "waves must have published key files")
    sql("CALL eq.system.compact('ns.rc', max_shards => 1)").collect()
    assert(!eqDir.listFiles().exists(_.getName.endsWith(".json")),
      "compact must retire key files once no live shard is exposed " +
        "(only the sequence high-water mark stays)")
    assert(rows("SELECT k, v FROM eq.ns.rc") == before,
      "reconcile must preserve the visible state exactly")
    // the reconciled layout carries no hidden rows: a raw line count
    // equals the visible count
    assert(sql("SELECT count(*) FROM eq.ns.rc").head.getLong(0) == 100L)
    // waves keep working after reconcile (sequence numbering resumes)
    sql("INSERT INTO eq.ns.rc VALUES (0, 9999)")
    assert(sql("SELECT v FROM eq.ns.rc WHERE k = 0").collect()
      .map(_.getLong(0)).toSeq == Seq(9999L))
  }

  test("reconcile fast path: range-clear shards re-stamp by RENAME, not rewrite") {
    sql("""CREATE TABLE eq.ns.fp (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("""INSERT INTO eq.ns.fp SELECT /*+ REPARTITION(1) */
          |  id AS k, id AS v FROM range(0, 100)""".stripMargin) // stamp s1
    sql("INSERT INTO eq.ns.fp VALUES (1000, 1), (1001, 2)") // wave s2
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    val dir = new java.io.File(s"$root/ns/fp")
    def shards = dir.listFiles().filter(_.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
    val before = shards
    val bigShard = before.maxBy(_._2) // the 100-row range shard
    assert(bigShard._1.contains("-eqs1."), before.toString)
    // high threshold: nothing is oversized, no sidecars — the ONLY
    // reason to touch the 100-row shard is eq exposure, and its
    // write-time [0, 99] range excludes keys 1000/1001 → rename only
    sql("CALL eq.system.compact('ns.fp', max_shards => 100)").collect()
    val after = shards
    val restamped = after.maxBy(_._2)
    assert(restamped._1 == bigShard._1.replace("-eqs1.", "-eqs2."),
      s"range-clear shard must re-stamp in place: $before -> $after")
    assert(restamped._2 == bigShard._2,
      "same byte length — a rename, not a rewrite")
    assert(!new java.io.File(s"$root/ns/fp/_eq_deletes").listFiles()
      .exists(_.getName.endsWith(".json")),
      "re-stamping alone must let the key files retire")
    // rows and skip-index pruning survive the re-key
    assert(sql("SELECT count(*) FROM eq.ns.fp").head.getLong(0) == 102L)
    assert(sql("SELECT v FROM eq.ns.fp WHERE k = 5").rdd.getNumPartitions == 1,
      "the renamed shard's skip entry must keep pruning")
    assert(sql("SELECT v FROM eq.ns.fp WHERE k = 5").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("partitioned upsert: a key MOVES partition and the old row hides") {
    sql("""CREATE TABLE eq.ns.pt (k BIGINT, v BIGINT, p STRING)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.pt VALUES (1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b')")
    sql("INSERT INTO eq.ns.pt VALUES (1, 11, 'b')") // k=1 moves a -> b
    val got = sql("SELECT k, v, p FROM eq.ns.pt ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 11L, "b"), (2L, 20L, "a"), (3L, 30L, "b")),
      s"the old partition's copy of a moved key must hide: $got")
    // partition pruning composes: probing the OLD partition alone
    // shows no ghost of the moved key
    assert(sql("SELECT k FROM eq.ns.pt WHERE p = 'a'").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L))
  }

  test("streaming upsert sink: per-epoch waves through writeStream.toTable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    sql("""CREATE TABLE eq.ns.st (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("eq-st").toString)
      .trigger(Trigger.AvailableNow())
    mem.addData((1L, 10L), (2L, 20L))
    val q1 = q.toTable("eq.ns.st"); q1.awaitTermination(); q1.stop()
    mem.addData((2L, 21L), (3L, 30L)) // epoch 2 upserts k=2
    val q2 = q.toTable("eq.ns.st"); q2.awaitTermination(); q2.stop()
    assert(rows("SELECT k, v FROM eq.ns.st") ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L)),
      "each epoch must be an upsert wave")
  }

  test("CDC-apply into an upsert target: per-batch cost is O(delta), no MERGE") {
    import graft.sources.dsv2.JsonlChangeFeed
    val catalog = spark.sessionState.catalogManager.catalog("eq")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS eq.ca")
    // upstream: auto-snapshot MOR table (per-commit CDC); downstream:
    // an UPSERT-keyed mirror — inserts/updates apply as plain INSERT
    // waves (one key file + stamped shards, zero target I/O), deletes
    // as a keyed MOR DELETE. No MERGE, no target-side group scan.
    sql("""CREATE TABLE eq.ca.up (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.snapshot.auto'='true',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""CREATE TABLE eq.ca.dn (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    val q = JsonlChangeFeed.stream(spark, catalog, "ca.up")
      .writeStream.option("checkpointLocation",
        graft.core.Fixtures.tempDir("eq-cdc").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = df.sparkSession
        import org.apache.spark.sql.functions.col
        df.cache()
        val upserts = df.where(col("_change") === "insert").drop("_change")
        if (!upserts.isEmpty)
          upserts.writeTo("eq.ca.dn").append() // one wave, O(|batch|)
        val dels = df.where(col("_change") === "delete")
          .select("k").collect().map(_.getLong(0))
        if (dels.nonEmpty)
          s.sql(s"DELETE FROM eq.ca.dn WHERE k IN (${dels.mkString(",")})")
        df.unpersist()
        ()
      }.start()
    def mirror: Seq[(Long, Long)] = rows("SELECT k, v FROM eq.ca.dn")
    try {
      sql("INSERT INTO eq.ca.up VALUES (1, 10), (2, 20)")
      q.processAllAvailable()
      assert(mirror == Seq((1L, 10L), (2L, 20L)))
      sql("INSERT INTO eq.ca.up VALUES (3, 30)")
      sql("DELETE FROM eq.ca.up WHERE k = 1") // MOR delta upstream
      q.processAllAvailable()
      assert(mirror == Seq((2L, 20L), (3L, 30L)), mirror.toString)
      assert(mirror == rows("SELECT k, v FROM eq.ca.up"))
    } finally q.stop()
    // the mirror reconciles like any upsert table
    sql("CALL eq.system.compact('ca.dn', max_shards => 1)").collect()
    assert(mirror == rows("SELECT k, v FROM eq.ca.up"))
  }

  test("scan-time skip-range exemption: range-clear shards keep index answers") {
    sql("""CREATE TABLE eq.ns.ex (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("""INSERT INTO eq.ns.ex SELECT /*+ REPARTITION(1) */
          |  id AS k, id AS v FROM range(0, 100)""".stripMargin) // s1, [0,99]
    sql("INSERT INTO eq.ns.ex VALUES (1000, 1), (1001, 2)") // wave s2
    assert(sql("SELECT count(*) FROM eq.ns.ex").head.getLong(0) == 102L)
    assert(sql("SELECT v FROM eq.ns.ex WHERE k = 5").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
    // the witness: corrupt every shard — COUNT(*) must still answer
    // from the index, which requires the s1 shard's exposure to be
    // PROVABLY moot (its [0,99] range excludes keys 1000/1001); a
    // non-exempt plan would drain the shard and die on the garbage
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    new java.io.File(s"$root/ns/ex").listFiles()
      .filter(_.getName.endsWith(".jsonl.gz")).foreach { f =>
        val w = new java.io.FileOutputStream(f)
        w.write("not gzip".getBytes("UTF-8")); w.close()
      }
    assert(sql("SELECT count(*) FROM eq.ns.ex").head.getLong(0) == 102L,
      "a range-clear exposed shard must keep its index-answered count")
  }

  test("full-tuple skip-range exemption: a low-cardinality LEADING key " +
      "column still exempts on the other column's range") {
    // composite key (source, day): every row shares source='web', so
    // the leading column's range ['web','web'] can never exclude a
    // pending ('web', ...) tuple — the exemption must come from the
    // DAY column's range, which the full-tuple probe consults
    sql("""CREATE TABLE eq.ns.ft (source STRING, day BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='source,day',
          |  'graft.skip.columns'='source,day')""".stripMargin)
    sql("""INSERT INTO eq.ns.ft SELECT /*+ REPARTITION(1) */
          |  'web' AS source, id AS day, id AS v
          |FROM range(0, 100)""".stripMargin) // s1: day in [0, 99]
    sql("INSERT INTO eq.ns.ft VALUES ('web', 1000, 1), ('web', 1001, 2)")
    assert(sql("SELECT count(*) FROM eq.ns.ft").head.getLong(0) == 102L)
    // witness: corrupt every shard — COUNT(*) must still answer from
    // the index, which requires the s1 shard's exposure to be PROVABLY
    // moot via its day range [0,99] vs pending days 1000/1001 (the
    // leading-column-only probe cannot get there; a non-exempt plan
    // drains the shard and dies on the garbage)
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    new java.io.File(s"$root/ns/ft").listFiles()
      .filter(_.getName.endsWith(".jsonl.gz")).foreach { f =>
        val w = new java.io.FileOutputStream(f)
        w.write("not gzip".getBytes("UTF-8")); w.close()
      }
    assert(sql("SELECT count(*) FROM eq.ns.ft").head.getLong(0) == 102L,
      "full-tuple range exemption must keep the index-answered count")
    // compact's rename fast path rides the same probe: a fresh twin
    // whose exposed shard is day-range-clear re-stamps by RENAME
    sql("""CREATE TABLE eq.ns.ft2 (source STRING, day BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='source,day',
          |  'graft.skip.columns'='source,day')""".stripMargin)
    sql("""INSERT INTO eq.ns.ft2 SELECT /*+ REPARTITION(1) */
          |  'web' AS source, id AS day, id AS v
          |FROM range(0, 50)""".stripMargin)
    sql("INSERT INTO eq.ns.ft2 VALUES ('web', 9000, 9)")
    val dir2 = new java.io.File(s"$root/ns/ft2")
    def shards = dir2.listFiles().filter(_.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
    val big = shards.maxBy(_._2)
    sql("CALL eq.system.compact('ns.ft2', max_shards => 100)").collect()
    val big2 = shards.maxBy(_._2)
    assert(big2._1 == big._1.replace("-eqs1.", "-eqs2.") &&
      big2._2 == big._2,
      s"day-range-clear composite shard must re-stamp by rename: " +
        s"$big -> $big2")
    assert(sql("SELECT count(*) FROM eq.ns.ft2").head.getLong(0) == 51L)
  }

  test("string-key upsert (doc-id shape): exemption and rename reconcile") {
    // scan-time exemption with a STRING key (UTF8 binary order — the
    // order the skip entries' min/max used)
    sql("""CREATE TABLE eq.ns.sd1 (uri STRING, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='uri',
          |  'graft.skip.columns'='uri')""".stripMargin)
    sql("""INSERT INTO eq.ns.sd1 SELECT /*+ REPARTITION(1) */
          |  concat('doc-', lpad(CAST(id AS STRING), 4, '0')) AS uri,
          |  id AS v FROM range(0, 100)""".stripMargin) // [doc-0000, doc-0099]
    sql("INSERT INTO eq.ns.sd1 VALUES ('zzz-1', 1), ('zzz-2', 2)") // wave s2
    assert(sql("SELECT count(*) FROM eq.ns.sd1").head.getLong(0) == 102L)
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    new java.io.File(s"$root/ns/sd1").listFiles()
      .filter(_.getName.endsWith(".jsonl.gz")).foreach { f =>
        val w = new java.io.FileOutputStream(f)
        w.write("not gzip".getBytes("UTF-8")); w.close()
      }
    assert(sql("SELECT count(*) FROM eq.ns.sd1").head.getLong(0) == 102L,
      "a range-clear string-keyed shard must keep its index answer")
    // reconcile rename fast path for the string key
    sql("""CREATE TABLE eq.ns.sd2 (uri STRING, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='uri',
          |  'graft.skip.columns'='uri')""".stripMargin)
    sql("""INSERT INTO eq.ns.sd2 SELECT /*+ REPARTITION(1) */
          |  concat('doc-', lpad(CAST(id AS STRING), 4, '0')) AS uri,
          |  id AS v FROM range(0, 50)""".stripMargin)
    sql("INSERT INTO eq.ns.sd2 VALUES ('zzz-9', 9)")
    val dir2 = new java.io.File(s"$root/ns/sd2")
    def shards = dir2.listFiles().filter(_.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
    val big = shards.maxBy(_._2)
    sql("CALL eq.system.compact('ns.sd2', max_shards => 100)").collect()
    val big2 = shards.maxBy(_._2)
    assert(big2._1 == big._1.replace("-eqs1.", "-eqs2.") &&
      big2._2 == big._2,
      s"string range-clear shard must re-stamp by rename: $big -> $big2")
    assert(sql("SELECT v FROM eq.ns.sd2 WHERE uri = 'doc-0007'").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("concurrent upsert waves: claim-CAS sequences stay dense, no lost wave", graft.SoakTag) {
    sql("""CREATE TABLE eq.ns.cw (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.cw SELECT id AS k, id AS v FROM range(0, 8)") // s1
    // 4 concurrent waves with DISJOINT keys (order-independent final
    // state): each replaces one base key and inserts one new key
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs4 = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            sql(s"INSERT INTO eq.ns.cw VALUES ($i, ${100 + i}), " +
              s"(${100 + i}, $i)")
            ()
          }
        })
      }
      fs4.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val want = ((0L until 8L).map(k =>
      (k, if (k < 4) 100 + k else k)) ++
      (0L until 4L).map(i => (100 + i, i))).sorted
    assert(rows("SELECT k, v FROM eq.ns.cw") == want,
      "4 racing waves must each land exactly once")
    // sequences dense: the claim CAS never reuses or skips a number
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    val seqs = new java.io.File(s"$root/ns/cw/_eq_deletes").listFiles()
      .map(_.getName).collect { case n if n.matches("s\\d+\\.json") =>
        n.stripPrefix("s").stripSuffix(".json").toLong }.sorted.toSeq
    assert(seqs == (1L to 5L), s"5 waves -> sequences 1..5: $seqs")
  }

  test("property: random wave/delete/compact histories match the MERGE twin", graft.SoakTag) {
    for (seed <- Seq(17, 43)) {
      val rnd = new scala.util.Random(seed)
      val up = s"eq.ns.su$seed"; val tw = s"eq.ns.st$seed"
      sql(s"""CREATE TABLE $up (k BIGINT, v BIGINT)
             |TBLPROPERTIES ('graft.upsert.keys'='k',
             |  'graft.row-level.mode'='merge-on-read',
             |  'graft.skip.columns'='k')""".stripMargin)
      sql(s"""CREATE TABLE $tw (k BIGINT, v BIGINT)
             |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')"""
        .stripMargin)
      var nextV = 0L
      def check(op: String): Unit =
        assert(rows(s"SELECT k, v FROM $up") == rows(s"SELECT k, v FROM $tw"),
          s"seed=$seed diverged after $op")
      for (step <- 1 to 12) rnd.nextInt(6) match {
        case 0 | 1 | 2 => // upsert wave of 1-4 random keys
          val vals = (0 until 1 + rnd.nextInt(4)).map { _ =>
            nextV += 1; s"(${rnd.nextInt(20)}, $nextV)"
          }.distinct
          // dedupe by key within the wave (a wave needs unique keys,
          // same premise as MERGE)
          val byKey = vals.map(v => v.drop(1).dropRight(1).split(", "))
            .map(a => a(0) -> a(1)).toMap
          val vs = byKey.map { case (k, v) => s"($k, $v)" }.mkString(", ")
          sql(s"INSERT INTO $up VALUES $vs")
          sql(s"""MERGE INTO $tw t
                 |USING (SELECT * FROM VALUES $vs AS s(k, v)) s ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET t.v = s.v
                 |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
            .stripMargin)
          check(s"wave $vs")
        case 3 => // MOR row-level delete of a random key on BOTH
          val k = rnd.nextInt(20)
          sql(s"DELETE FROM $up WHERE k = $k")
          sql(s"DELETE FROM $tw WHERE k = $k")
          check(s"delete k=$k")
        case 4 => // reconcile the upsert side only — invisible to reads
          sql(s"CALL eq.system.compact('${up.stripPrefix("eq.")}', " +
            "max_shards => 2)").collect()
          check("compact reconcile")
        case 5 => // plain aggregate parity (exercises agg pushdown gates)
          val a = sql(s"SELECT count(*), sum(v) FROM $up").head
          val b = sql(s"SELECT count(*), sum(v) FROM $tw").head
          assert(a.getLong(0) == b.getLong(0) &&
            (a.isNullAt(1) && b.isNullAt(1) || a.getLong(1) == b.getLong(1)),
            s"seed=$seed agg diverged at step $step")
      }
    }
  }

  test("snapshots compose with pending waves: pins embed the equality state") {
    sql("""CREATE TABLE eq.ns.rf (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.rf VALUES (1, 10), (2, 20)") // wave s1
    sql("INSERT INTO eq.ns.rf VALUES (1, 11)")          // wave s2 hides (1,10)
    // a pin WITH pending waves serves the upserted pin-time state
    sql("CALL eq.system.snapshot('ns.rf', tag => 'mid')").collect()
    sql("INSERT INTO eq.ns.rf VALUES (2, 21), (3, 30)") // wave s3, post-pin
    assert(rows("SELECT k, v FROM eq.ns.rf") ==
      Seq((1L, 11L), (2L, 21L), (3L, 30L)))
    assert(rows("SELECT k, v FROM eq.ns.rf VERSION AS OF 'mid'") ==
      Seq((1L, 11L), (2L, 20L)),
      "a pinned scan must apply the pin-time equality state")
    // compact reconciles the LIVE table; the pin keeps answering the
    // same rows (its shards AND key files retire to retained/)
    sql("CALL eq.system.compact('ns.rf', max_shards => 1)").collect()
    assert(rows("SELECT k, v FROM eq.ns.rf VERSION AS OF 'mid'") ==
      Seq((1L, 11L), (2L, 20L)),
      "retirement must retain manifest-referenced key files")
    // rollback restores the pinned equality state with the shards
    sql("CALL eq.system.rollback_to_snapshot('ns.rf', version => 'mid')")
      .collect()
    assert(rows("SELECT k, v FROM eq.ns.rf") == Seq((1L, 11L), (2L, 20L)))
    // a NEW wave after the rollback still outranks every restored
    // stamp (hwm keeps sequences monotonic)
    sql("INSERT INTO eq.ns.rf VALUES (1, 12)")
    assert(rows("SELECT k, v FROM eq.ns.rf") == Seq((1L, 12L), (2L, 20L)))
    // cluster_table composes with the pending wave: the sort-rewrite
    // reconciles (hidden rows drop, key files retire) and pinned
    // views keep answering through retention
    sql("CALL eq.system.cluster_table('ns.rf', columns => 'k')").collect()
    assert(rows("SELECT k, v FROM eq.ns.rf") == Seq((1L, 12L), (2L, 20L)),
      "cluster under a pending wave must preserve the upserted state")
    val eqDirRf = new java.io.File(
      s"${spark.conf.get("spark.sql.catalog.eq.root")}/ns/rf/_eq_deletes")
    assert(!eqDirRf.exists() ||
      !eqDirRf.listFiles().exists(_.getName.endsWith(".json")),
      "the sort-rewrite is a reconcile: key files must retire")
    assert(rows("SELECT k, v FROM eq.ns.rf VERSION AS OF 'mid'") ==
      Seq((1L, 11L), (2L, 20L)),
      "pinned views must survive the cluster rewrite")
    // key-type validation is unchanged
    val e4 = intercept[Exception] {
      sql("""CREATE TABLE eq.ns.bad (k DOUBLE, v BIGINT)
            |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin) }
    assert(e4.getMessage.contains("BIGINT/INT/STRING"), e4.getMessage)
  }

  test("auto-snapshot upsert table: every wave pins a time-travelable version") {
    sql("""CREATE TABLE eq.ns.av (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.snapshot.auto'='true')""".stripMargin)
    sql("INSERT INTO eq.ns.av VALUES (1, 10), (2, 20)") // wave s1 -> v1
    sql("INSERT INTO eq.ns.av VALUES (1, 11)")          // wave s2 -> v2
    sql("INSERT INTO eq.ns.av VALUES (2, 21), (3, 30)") // wave s3 -> v3
    assert(rows("SELECT k, v FROM eq.ns.av") ==
      Seq((1L, 11L), (2L, 21L), (3L, 30L)))
    // each auto-pinned version serves ITS wave's upserted state
    assert(rows("SELECT k, v FROM eq.ns.av VERSION AS OF 1") ==
      Seq((1L, 10L), (2L, 20L)))
    assert(rows("SELECT k, v FROM eq.ns.av VERSION AS OF 2") ==
      Seq((1L, 11L), (2L, 20L)),
      "the mid-wave version must hide the superseded row")
    assert(rows("SELECT k, v FROM eq.ns.av VERSION AS OF 3") ==
      Seq((1L, 11L), (2L, 21L), (3L, 30L)))
    // versions stay correct across a reconcile
    sql("CALL eq.system.compact('ns.av', max_shards => 1)").collect()
    assert(rows("SELECT k, v FROM eq.ns.av VERSION AS OF 2") ==
      Seq((1L, 11L), (2L, 20L)))
    assert(rows("SELECT k, v FROM eq.ns.av") ==
      Seq((1L, 11L), (2L, 21L), (3L, 30L)))
  }

  test("change feed across waves: preimage deletes pair with postimage inserts") {
    import graft.sources.dsv2.JsonlChangeFeed
    val catalog = spark.sessionState.catalogManager.catalog("eq")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS eq.cf")
    sql("""CREATE TABLE eq.cf.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.snapshot.auto'='true')""".stripMargin)
    sql("INSERT INTO eq.cf.t VALUES (1, 10), (2, 20)") // wave s1 -> v1
    sql("INSERT INTO eq.cf.t VALUES (1, 11), (3, 30)") // wave s2 -> v2
    // raw window: the wave's inserts AND the hidden preimage
    val raw = JsonlChangeFeed.between(spark, catalog, "cf.t", "1", Some("2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(raw == Seq((1L, 10L, "delete"), (1L, 11L, "insert"),
      (3L, 30L, "insert")),
      s"an upsert window must emit the superseded row as a delete: $raw")
    // keyed typing pairs them into update pre/post images
    val typed = JsonlChangeFeed.between(spark, catalog, "cf.t", "1",
      Some("2"), keyCols = Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(typed == Seq((1L, 10L, "update_preimage"),
      (1L, 11L, "update_postimage"), (3L, 30L, "insert")), typed.toString)
    // the window stays replayable after a reconcile (retained key
    // files + retained shards keep both endpoints resolvable)
    sql("CALL eq.system.compact('cf.t', max_shards => 1)").collect()
    val raw2 = JsonlChangeFeed.between(spark, catalog, "cf.t", "1", Some("2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    assert(raw2 == raw, s"reconcile must not rewrite history: $raw2")
  }

  test("streaming CDC across waves drives an exact keyed mirror") {
    import graft.sources.dsv2.JsonlChangeFeed
    val catalog = spark.sessionState.catalogManager.catalog("eq")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    sql("CREATE NAMESPACE IF NOT EXISTS eq.cs")
    sql("""CREATE TABLE eq.cs.up (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.snapshot.auto'='true',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""CREATE TABLE eq.cs.dn (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    val q = JsonlChangeFeed.stream(spark, catalog, "cs.up")
      .writeStream.option("checkpointLocation",
        graft.core.Fixtures.tempDir("eq-cs").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // a wave window holds delete(old)+insert(new) for the same key
        // — typeChanges collapses them so the MERGE sees one source
        // row per key
        val typed = JsonlChangeFeed.typeChanges(df, Seq("k"))
          .where(org.apache.spark.sql.functions.col("_change") =!=
            "update_preimage")
        typed.createOrReplaceTempView("up_waves")
        typed.sparkSession.sql(
          """MERGE INTO eq.cs.dn t USING up_waves c ON t.k = c.k
            |WHEN MATCHED AND c._change = 'delete' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET t.v = c.v
            |WHEN NOT MATCHED AND c._change != 'delete' THEN
            |  INSERT (k, v) VALUES (c.k, c.v)""".stripMargin)
        ()
      }.start()
    def mirror: Seq[(Long, Long)] = rows("SELECT k, v FROM eq.cs.dn")
    try {
      sql("INSERT INTO eq.cs.up VALUES (1, 10), (2, 20)") // wave -> v1
      q.processAllAvailable()
      assert(mirror == Seq((1L, 10L), (2L, 20L)))
      sql("INSERT INTO eq.cs.up VALUES (1, 11), (3, 30)") // wave -> v2
      q.processAllAvailable()
      assert(mirror == Seq((1L, 11L), (2L, 20L), (3L, 30L)),
        s"the wave's upsert must flow through as an update: $mirror")
      sql("DELETE FROM eq.cs.up WHERE k = 2") // MOR delta -> v3
      sql("INSERT INTO eq.cs.up VALUES (3, 31)") // wave -> v4
      q.processAllAvailable()
      assert(mirror == rows("SELECT k, v FROM eq.cs.up"),
        s"mirror diverged: $mirror vs upstream")
      assert(mirror == Seq((1L, 11L), (3L, 31L)))
    } finally q.stop()
  }

  test("property: random wave/delete/compact/snapshot/rollback histories compose", graft.SoakTag) {
    import graft.sources.dsv2.JsonlChangeFeed
    val catalog = spark.sessionState.catalogManager.catalog("eq")
      .asInstanceOf[graft.sources.dsv2.GraftCatalog]
    for (seed <- Seq(11, 37)) {
      val rnd = new scala.util.Random(seed)
      val up = s"eq.ns.pz$seed"; val tw = s"eq.ns.pw$seed"
      sql(s"""CREATE TABLE $up (k BIGINT, v BIGINT)
             |TBLPROPERTIES ('graft.upsert.keys'='k',
             |  'graft.row-level.mode'='merge-on-read',
             |  'graft.skip.columns'='k')""".stripMargin)
      sql(s"""CREATE TABLE $tw (k BIGINT, v BIGINT)
             |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')"""
        .stripMargin)
      var nextV = 0L
      val pinned = scala.collection.mutable.LinkedHashMap[Long, Seq[(Long, Long)]]()
      def upRows: Seq[(Long, Long)] = rows(s"SELECT k, v FROM $up")
      def twRows: Seq[(Long, Long)] = rows(s"SELECT k, v FROM $tw")
      def check(op: String): Unit =
        assert(upRows == twRows, s"seed=$seed diverged after $op")
      for (step <- 1 to 16) rnd.nextInt(10) match {
        case 0 | 1 | 2 => // upsert wave of 1-4 random keys
          val byKey = (0 until 1 + rnd.nextInt(4)).map { _ =>
            nextV += 1; (rnd.nextInt(20), nextV)
          }.toMap
          val vs = byKey.map { case (k, v) => s"($k, $v)" }.mkString(", ")
          sql(s"INSERT INTO $up VALUES $vs")
          sql(s"""MERGE INTO $tw t
                 |USING (SELECT * FROM VALUES $vs AS s(k, v)) s ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET t.v = s.v
                 |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
            .stripMargin)
          check(s"wave $vs")
        case 3 => // MOR row-level delete on BOTH
          val k = rnd.nextInt(20)
          sql(s"DELETE FROM $up WHERE k = $k")
          sql(s"DELETE FROM $tw WHERE k = $k")
          check(s"delete k=$k")
        case 4 => // reconcile — invisible to reads AND to pinned views
          sql(s"CALL eq.system.compact('${up.stripPrefix("eq.")}', " +
            "max_shards => 2)").collect()
          check("compact")
        case 5 | 6 => // pin a version mid-whatever (waves may be pending)
          val id = sql(s"CALL eq.system.snapshot('${up.stripPrefix("eq.")}')")
            .head.getLong(0)
          pinned(id) = twRows
          check(s"snapshot v$id")
        case 7 => // time travel: a random earlier pin answers exactly
          if (pinned.nonEmpty) {
            val (id, want) = pinned.toSeq(rnd.nextInt(pinned.size))
            assert(rows(s"SELECT k, v FROM $up VERSION AS OF $id") == want,
              s"seed=$seed VERSION AS OF $id drifted at step $step")
          }
        case 8 => // rollback to a random pin; resync the twin
          if (pinned.nonEmpty) {
            val (id, want) = pinned.toSeq(rnd.nextInt(pinned.size))
            sql(s"CALL eq.system.rollback_to_snapshot(" +
              s"'${up.stripPrefix("eq.")}', version => '$id')").collect()
            sql(s"TRUNCATE TABLE $tw")
            if (want.nonEmpty)
              sql(s"INSERT INTO $tw VALUES " +
                want.map { case (k, v) => s"($k, $v)" }.mkString(", "))
            check(s"rollback to v$id")
          }
        case 9 => // aggregate parity (agg-pushdown gates under eq state)
          val a = sql(s"SELECT count(*), sum(v) FROM $up").head
          val b = sql(s"SELECT count(*), sum(v) FROM $tw").head
          assert(a.getLong(0) == b.getLong(0) &&
            (a.isNullAt(1) && b.isNullAt(1) || a.getLong(1) == b.getLong(1)),
            s"seed=$seed agg diverged at step $step")
      }
      // every pin still answers exactly at the end (retention held
      // through compacts and rollbacks)
      pinned.foreach { case (id, want) =>
        assert(rows(s"SELECT k, v FROM $up VERSION AS OF $id") == want,
          s"seed=$seed final VERSION AS OF $id drifted")
      }
      // every consecutive pin window REPLAYS: pinned(v_i) + window
      // changes (as a multiset) == pinned(v_j) — the CDC exactness
      // property across waves, MOR deletes, compacts, and rollbacks
      val ids = pinned.keys.toSeq.sorted
      ids.zip(ids.drop(1)).foreach { case (i, j) =>
        val ch = JsonlChangeFeed.between(spark, catalog,
          up.stripPrefix("eq."), i.toString, Some(j.toString))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        val bag = scala.collection.mutable.Map.empty[(Long, Long), Int]
          .withDefaultValue(0)
        pinned(i).foreach(r => bag(r) += 1)
        ch.foreach {
          case (k, v, "insert") => bag((k, v)) += 1
          case (k, v, "delete") => bag((k, v)) -= 1
          case other => fail(s"unexpected change kind $other")
        }
        val replayed = bag.toSeq.filter(_._2 != 0)
        assert(replayed.forall(_._2 > 0) &&
          replayed.flatMap { case (r, n) => Seq.fill(n)(r) }.sorted ==
            pinned(j).sorted,
          s"seed=$seed window v$i->v$j does not replay: " +
            s"changes=${ch.toSeq.sorted} from=${pinned(i)} to=${pinned(j)}")
      }
    }
  }

  test("CDC emit partitions prune by skip range: clear common shards never open") {
    sql("""CREATE TABLE eq.ns.pr (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("""INSERT INTO eq.ns.pr SELECT /*+ REPARTITION(1) */
          |  id AS k, id AS v FROM range(0, 100)""".stripMargin) // s1 [0,99]
    sql("CALL eq.system.snapshot('ns.pr')").collect() // v1
    sql("INSERT INTO eq.ns.pr VALUES (1000, 1), (1001, 2)") // wave s2
    sql("CALL eq.system.snapshot('ns.pr')").collect() // v2
    // the wave's keys sit OUTSIDE the common shard's [0,99] range, so
    // the window's emit partitions must prune it — witness: corrupt
    // every pre-wave shard; the window still answers (only the added
    // shard is read)
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    new java.io.File(s"$root/ns/pr").listFiles()
      .filter(f => f.getName.endsWith(".jsonl.gz") &&
        f.getName.contains("-eqs1."))
      .foreach { f =>
        val w = new java.io.FileOutputStream(f)
        w.write("not gzip".getBytes("UTF-8")); w.close()
      }
    val tableDir = s"$root/ns/pr"
    val ch = spark.read.format("graft-jsonl-changes")
      .option("fromVersion", 1).option("toVersion", 2).load(tableDir)
      .select("k", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(ch == Seq((1000L, 1L, "insert"), (1001L, 2L, "insert")),
      s"a range-clear common shard must never open for the window: $ch")
  }

  test("maintenance_stats: one metadata pass surfaces upsert debt + crash residue") {
    sql("""CREATE TABLE eq.ns.ms (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO eq.ns.ms SELECT id AS k, id AS v FROM range(0, 50)")
    sql("INSERT INTO eq.ns.ms VALUES (1, 100)") // wave 2 exposes wave 1
    sql("DELETE FROM eq.ns.ms WHERE k = 5")     // MOR sidecar debt
    // crash residue: a tombstoned wave + an unconsumed pin intent
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    new java.io.File(s"$root/ns/ms/_eq_deletes/s9.dropped").createNewFile()
    val snapDir = new java.io.File(s"$root/ns/ms/_snapshots")
    snapDir.mkdirs()
    new java.io.File(snapDir, ".intent.crashed").createNewFile()
    val m = sql("CALL eq.system.maintenance_stats('ns.ms')").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m("eq_pending_files")._1 == 2L, m.toString)
    assert(m("eq_pending_bytes")._1 > 0L)
    assert(m("eq_exposed_shards")._1 >= 1L, m.toString)
    assert(m("eq_tombstones")._1 == 1L)
    assert(m("pin_intents")._1 == 1L)
    assert(m("mor_sidecars")._1 == 1L && m("mor_deleted_rows")._1 == 1L)
    assert(m("sorted_shards")._1 == 0L,
      "no write order declared: nothing verified-sorted")
    assert(m("recommend")._2.contains("CALL compact"), m.toString)
    // the dashboard is read-only: nothing changed
    assert(sql("SELECT count(*) FROM eq.ns.ms").head.getLong(0) == 49L)
    // post-compact the debt rows zero out (residue cleaned too)
    new java.io.File(snapDir, ".intent.crashed").delete()
    sql("CALL eq.system.compact('ns.ms', max_shards => 1)").collect()
    val m2 = sql("CALL eq.system.maintenance_stats('ns.ms')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m2("eq_pending_files") == 0L && m2("eq_exposed_shards") == 0L &&
      m2("eq_tombstones") == 0L && m2("mor_sidecars") == 0L &&
      !m2.contains("recommend"), m2.toString)
  }

  test("torn wave (crash before key publish): duplicates not loss; retry converges") {
    import graft.sources.dsv2.JsonlEqDeletes
    import org.apache.hadoop.fs.Path
    sql("""CREATE TABLE eq.ns.tw2 (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.tw2 VALUES (1, 10), (2, 20)") // wave s1
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    val table = new java.io.File(s"$root/ns/tw2")
    // fabricate the post-crash state of wave s2 upserting k=1: the
    // stamped insert shard RENAMED IN, the key file NOT yet published
    // (the commit point publishes LAST), the claim left behind stale
    val orphan = new java.io.File(table, "part-crash-0-1-eqs2.jsonl.gz")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(orphan))
    gz.write("{\"k\":1,\"v\":11}\n".getBytes("UTF-8")); gz.close()
    val eqDir = new java.io.File(table, "_eq_deletes")
    val claim = new java.io.File(eqDir, "s2.claim")
    claim.createNewFile()
    claim.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000L)
    // (a) the torn window shows TRANSIENT DUPLICATES — never a lost
    // row: both versions of k=1 are visible, k=2 untouched
    assert(rows("SELECT k, v FROM eq.ns.tw2").sorted ==
      Seq((1L, 10L), (1L, 11L), (2L, 20L)),
      "crash before key publish must never hide matched target rows")
    // (b) the retry wave converges to exactly-once: its sequence is
    // claimed ABOVE the crashed wave's (the stale claim tombstones,
    // never reassigns), so its deletes hide the old row AND the
    // orphaned first-attempt insert
    sql("INSERT INTO eq.ns.tw2 VALUES (1, 11)")
    assert(rows("SELECT k, v FROM eq.ns.tw2") == Seq((1L, 11L), (2L, 20L)),
      "the retry's higher-sequence wave must hide the orphan too")
    val fs = new Path(table.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(table.toString, "_eq_deletes"))
      .map(_.getPath.getName).sorted.toSeq
    assert(names.contains("s3.json") && names.contains("s2.dropped") &&
      !names.contains("s2.json") && !names.contains("s2.claim"),
      s"crashed seq must tombstone, retry must claim past it: $names")
    // (c) compact reconciles the mess away entirely
    sql("CALL eq.system.compact('ns.tw2', max_shards => 1)").collect()
    assert(rows("SELECT k, v FROM eq.ns.tw2") == Seq((1L, 11L), (2L, 20L)))
    assert(sql("SELECT count(*) FROM eq.ns.tw2").head.getLong(0) == 2L,
      "reconcile must drop the orphan's hidden copy")
  }

  test("claim protocol: failed waves tombstone, sequences never reassign") {
    import graft.sources.dsv2.JsonlEqDeletes
    import org.apache.hadoop.fs.Path
    val dir = graft.core.Fixtures.tempDir("eq-claims").toString
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staleMs = 60000L
    // wave 1 fails before publish: releaseClaim must tombstone, and
    // the number must never be handed out again
    val s1 = JsonlEqDeletes.claimNext(fs, table, staleMs)
    assert(s1 == 1L)
    JsonlEqDeletes.releaseClaim(fs, table, s1) // no key file -> dropped
    val s2 = JsonlEqDeletes.claimNext(fs, table, staleMs)
    assert(s2 == 2L, "a failed wave's sequence must not be reassigned")
    JsonlEqDeletes.publish(fs, table, s2, Seq("k"), Seq("7"))
    JsonlEqDeletes.releaseClaim(fs, table, s2) // key file -> claim drops
    val names0 = fs.listStatus(JsonlEqDeletes.dir(table))
      .map(_.getPath.getName).sorted.toSeq
    assert(names0 == Seq("s1.dropped", "s2.json"), names0.toString)
    // retire folds BOTH the published max and the tombstones into the
    // hwm atomically, then removes them — numbering still never
    // regresses
    assert(JsonlEqDeletes.retire(fs, table, minLiveShardSeq = 2L) == 1)
    val names1 = fs.listStatus(JsonlEqDeletes.dir(table))
      .map(_.getPath.getName).sorted.toSeq
    assert(names1 == Seq("hwm"), names1.toString)
    assert(JsonlEqDeletes.claimNext(fs, table, staleMs) == 3L,
      "hwm must carry the numbering past retired files AND tombstones")
  }

  test("hwm crash window: a fully-written .hwm.tmp with no hwm file is " +
      "authoritative — no retired sequence is ever re-claimed") {
    import graft.sources.dsv2.JsonlEqDeletes
    import org.apache.hadoop.fs.Path
    val dir = graft.core.Fixtures.tempDir("eq-hwm-crash").toString
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the delete-then-rename fallback crashing between the
    // delete and the rename (object stores without FileContext): the
    // staged tmp holds the new hwm, the hwm file is GONE
    val d = JsonlEqDeletes.dir(table)
    fs.mkdirs(d)
    val out = fs.create(new Path(d, ".hwm.tmp"), true)
    out.write("7".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(!fs.exists(new Path(d, "hwm")))
    // the next claim must clear the tmp's value, not restart at 1 —
    // a re-claimed sequence <= 7 would be exempt from shards stamped
    // at or above it (silently-skipped deletes)
    assert(JsonlEqDeletes.claimNext(fs, table, 60000L) == 8L,
      "tmp hwm copy must be authoritative in the crash window")
  }

  test("double-claim detection at publish: an overwritten claim token " +
      "stands the overwritten wave down loudly") {
    import graft.sources.dsv2.JsonlEqDeletes
    import org.apache.hadoop.fs.Path
    val dir = graft.core.Fixtures.tempDir("eq-token").toString
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (seq, token) = JsonlEqDeletes.claimNextWithToken(fs, table, 60000L)
    assert(seq == 1L)
    // a racing wave on a last-writer-wins store overwrites the claim
    // AFTER our read-back passed (the residual window): simulate the
    // overwrite directly
    val claim = new Path(JsonlEqDeletes.dir(table), s"s$seq.claim")
    val out = fs.create(claim, true)
    out.write("racing-wave-token".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // publish with OUR token must detect the foreign content and stand
    // down (never last-writer-wins silently dropping a wave's deletes)
    val e = intercept[IllegalStateException] {
      JsonlEqDeletes.publish(fs, table, seq, Seq("k"), Seq("1"),
        token = token)
    }
    assert(e.getMessage.contains("stood down"), e.getMessage)
    assert(!fs.exists(new Path(JsonlEqDeletes.dir(table), "s1.json")),
      "a stood-down wave must not leave a key file")
    // the surviving claim holder publishes fine with its own token
    JsonlEqDeletes.publish(fs, table, seq, Seq("k"), Seq("1"),
      token = "racing-wave-token".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    assert(fs.exists(new Path(JsonlEqDeletes.dir(table), "s1.json")))
  }

  test("soak: 20 rounds of racing waves — commit never throws post-publish", graft.SoakTag) {
    // regression for the _staging parent-sweep TOCTOU: concurrent
    // writers create/drop their own staging subdirs under the shared
    // `_staging` parent; the best-effort sweep must never surface an
    // IOException out of a commit whose data already landed
    sql("""CREATE TABLE eq.ns.soak (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      for (round <- 0 until 20) {
        val fs3 = (0 until 3).map { i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              sql(s"INSERT INTO eq.ns.soak VALUES (${round * 3 + i}, $round)")
              ()
            }
          })
        }
        fs3.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      }
    } finally pool.shutdown()
    assert(sql("SELECT count(*) FROM eq.ns.soak").head.getLong(0) == 60L,
      "every racing wave must land exactly once")
  }

  test("over-cap pending state: executor-direct load matches broadcast; refusal") {
    sql("""CREATE TABLE eq.ns.cap (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.cap SELECT id AS k, id AS v FROM range(0, 200)")
    sql("INSERT INTO eq.ns.cap SELECT id AS k, id + 9000 AS v FROM range(0, 80)")
    sql("INSERT INTO eq.ns.cap VALUES (5, 1), (500, 2)")
    val broadcastPath = rows("SELECT k, v FROM eq.ns.cap")
    val aggB = sql("SELECT count(*), max(v) FROM eq.ns.cap").head
    val pointB = rows("SELECT k, v FROM eq.ns.cap WHERE k = 5")
    try {
      // 1-byte cap: every scan takes the executor-direct path (the
      // driver ships file paths, executors build the shared index)
      spark.conf.set("graft.upsert.pending.broadcast.max.bytes", "1")
      assert(rows("SELECT k, v FROM eq.ns.cap") == broadcastPath,
        "executor-direct equality state must match the broadcast path")
      val aggE = sql("SELECT count(*), max(v) FROM eq.ns.cap").head
      assert(aggE.getLong(0) == aggB.getLong(0) &&
        aggE.getLong(1) == aggB.getLong(1))
      assert(rows("SELECT k, v FROM eq.ns.cap WHERE k = 5") == pointB)
      // compact reconciles through the same executor-direct path (its
      // rewrite tasks load the shared index; the driver-side range
      // probe is simply unavailable — conservative, not wrong)
      sql("CALL eq.system.compact('ns.cap', max_shards => 1)").collect()
      assert(rows("SELECT k, v FROM eq.ns.cap") == broadcastPath,
        "over-cap compact must reconcile to the same visible rows")
      val root = spark.conf.get("spark.sql.catalog.eq.root")
      assert(!new java.io.File(s"$root/ns/cap/_eq_deletes").listFiles()
        .exists(_.getName.endsWith(".json")),
        "over-cap compact must still retire the key files")
      // past the refusal threshold the scan names the way out
      sql("INSERT INTO eq.ns.cap VALUES (5, 3)") // fresh pending wave
      spark.conf.set("graft.upsert.pending.refuse.bytes", "1")
      val e = intercept[Exception] {
        sql("SELECT count(*) FROM eq.ns.cap").collect() }
      assert(e.getMessage.contains("CALL compact"), e.getMessage)
    } finally {
      spark.conf.unset("graft.upsert.pending.broadcast.max.bytes")
      spark.conf.unset("graft.upsert.pending.refuse.bytes")
    }
  }

  test("DATE and TIMESTAMP upsert keys: epoch rendering round-trips") {
    sql("""CREATE TABLE eq.ns.dk (d DATE, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='d')""".stripMargin)
    sql("INSERT INTO eq.ns.dk VALUES (DATE'2024-01-01', 1), " +
      "(DATE'2024-01-02', 2)")
    sql("INSERT INTO eq.ns.dk VALUES (DATE'2024-01-01', 10)") // re-crawl day
    def drows: Seq[(String, Long)] =
      sql("SELECT CAST(d AS STRING), v FROM eq.ns.dk").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(drows == Seq(("2024-01-01", 10L), ("2024-01-02", 2L)))
    sql("CALL eq.system.compact('ns.dk', max_shards => 1)").collect()
    assert(drows == Seq(("2024-01-01", 10L), ("2024-01-02", 2L)))
    sql("""CREATE TABLE eq.ns.tsk (t TIMESTAMP_NTZ, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='t')""".stripMargin)
    sql("INSERT INTO eq.ns.tsk VALUES " +
      "(TIMESTAMP_NTZ'2024-01-01 00:00:00', 1), " +
      "(TIMESTAMP_NTZ'2024-01-01 01:00:00', 2)")
    sql("INSERT INTO eq.ns.tsk VALUES " +
      "(TIMESTAMP_NTZ'2024-01-01 01:00:00', 20)")
    assert(sql("SELECT sum(v) FROM eq.ns.tsk").head.getLong(0) == 21L)
  }

  test("composite key: leading-column exemption, rename reconcile") {
    sql("""CREATE TABLE eq.ns.ck (d DATE, k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='d,k',
          |  'graft.skip.columns'='d')""".stripMargin)
    sql("""INSERT INTO eq.ns.ck SELECT /*+ REPARTITION(1) */
          |  date_add(DATE'2024-01-01', CAST(id % 90 AS INT)) AS d,
          |  id AS k, id AS v FROM range(0, 100)""".stripMargin) // s1
    // the wave's leading DATE values sit entirely OUTSIDE the first
    // shard's [2024-01-01, 2024-03-30] range
    sql("INSERT INTO eq.ns.ck VALUES (DATE'2025-06-01', 1, 5), " +
      "(DATE'2025-06-02', 2, 6)") // wave s2
    assert(sql("SELECT count(*) FROM eq.ns.ck").head.getLong(0) == 102L)
    // reconcile: the big shard is range-clear on the LEADING column
    // (the wave's d values sit past its max) — compact must re-stamp
    // it by rename, not rewrite
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    val dir = new java.io.File(s"$root/ns/ck")
    def shards = dir.listFiles().filter(_.getName.endsWith(".jsonl.gz"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
    val big = shards.maxBy(_._2)
    sql("CALL eq.system.compact('ns.ck', max_shards => 100)").collect()
    val big2 = shards.maxBy(_._2)
    assert(big2._1 == big._1.replace("-eqs1.", "-eqs2.") &&
      big2._2 == big._2,
      s"leading-column range-clear shard must re-stamp by rename: " +
        s"$big -> $big2")
    assert(sql("SELECT count(*) FROM eq.ns.ck").head.getLong(0) == 102L)
    // a composite upsert that REPLACES: same (d, k) tuple
    sql("INSERT INTO eq.ns.ck VALUES (DATE'2025-06-01', 1, 50)") // wave s3
    assert(sql("SELECT v FROM eq.ns.ck WHERE k = 1 AND d >= DATE'2025-01-01'")
      .collect().map(_.getLong(0)).toSeq == Seq(50L),
      "the composite tuple must upsert, not duplicate")
    // ...while (2024-01-02, 1) — same k, different leading d — stays
    assert(sql("SELECT count(*) FROM eq.ns.ck WHERE k = 1")
      .head.getLong(0) == 2L)
    assert(sql("SELECT count(*) FROM eq.ns.ck").head.getLong(0) == 102L)
  }

  test("guards: control-char key values refuse; cluster aborts on in-flight waves") {
    sql("""CREATE TABLE eq.ns.gd (k STRING, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    // a STRING key holding the tuple separator would make distinct
    // tuples render identically — the write refuses loudly
    val e = intercept[Exception] {
      sql("INSERT INTO eq.ns.gd VALUES (concat('a', char(1), 'b'), 1)") }
    def chain(t: Throwable): String = {
      var cur: Throwable = t; val sb = new StringBuilder
      while (cur != null) { sb.append(cur.getMessage).append('|'); cur = cur.getCause }
      sb.toString
    }
    assert(chain(e).contains("control characters"), chain(e))
    sql("INSERT INTO eq.ns.gd VALUES ('a', 1)") // wave s1
    // cluster_table aborts rather than swap under an IN-FLIGHT wave (a
    // fresh claim): its key file could publish after the rewrite read
    // its inserts, and the swap would strand the only copy
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    val claim = new java.io.File(s"$root/ns/gd/_eq_deletes/s9.claim")
    claim.createNewFile()
    val e2 = intercept[Exception] {
      sql("CALL eq.system.cluster_table('ns.gd', columns => 'k')").collect() }
    assert(e2.getMessage.contains("in flight") ||
      chain(e2).contains("in flight"), chain(e2))
    claim.delete()
    sql("CALL eq.system.cluster_table('ns.gd', columns => 'k')").collect()
    assert(rows("SELECT v, v FROM eq.ns.gd").size == 1)
  }

  test("upsert key columns: DROP refused, RENAME follows the property") {
    sql("""CREATE TABLE eq.ns.alk (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.upsert.keys'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.alk VALUES (1, 10)")
    val e1 = intercept[Exception] { sql("ALTER TABLE eq.ns.alk DROP COLUMN k") }
    assert(e1.getMessage.contains("upsert key"), e1.getMessage)
    // RENAME while waves are pending is refused (published key files
    // name the old column)
    val e2 = intercept[Exception] {
      sql("ALTER TABLE eq.ns.alk RENAME COLUMN k TO kk") }
    assert(e2.getMessage.contains("pending equality deletes"), e2.getMessage)
    // after a reconcile the rename goes through AND the property
    // follows, so later waves still upsert
    sql("CALL eq.system.compact('ns.alk', max_shards => 1)").collect()
    sql("ALTER TABLE eq.ns.alk RENAME COLUMN k TO kk")
    assert(sql("SHOW TBLPROPERTIES eq.ns.alk (graft.upsert.keys)")
      .head.getString(1) == "kk")
    sql("INSERT INTO eq.ns.alk VALUES (1, 11)") // still a wave, on kk
    assert(rows("SELECT kk, v FROM eq.ns.alk") == Seq((1L, 11L)),
      "waves must keep upserting through the renamed key")
  }

  test("upsert key that is ALSO a renamed partition column: scan and " +
      "compact resolve old-dir key values through the alias") {
    // the (source, id)-keyed re-crawl shape where `source` is the
    // partition column AND a leading upsert key — then the column is
    // renamed. Old `day=..` dirs hold the key's values ONLY in their
    // path segments, so both the scan's per-row equality check and
    // compact's executor rewrite must fold the pre-rename segment
    // name through graft.part.aliases to render the same key tuples
    // the new waves publish.
    sql("""CREATE TABLE eq.ns.prk (day STRING, k BIGINT, v BIGINT)
          |PARTITIONED BY (day)
          |TBLPROPERTIES ('graft.upsert.keys'='day,k',
          |  'graft.skip.columns'='k')""".stripMargin)
    sql("INSERT INTO eq.ns.prk VALUES ('a', 1, 10), ('a', 2, 20), " +
      "('b', 1, 30)")
    // key-column rename requires a reconciled tier first
    sql("CALL eq.system.compact('ns.prk', max_shards => 8)")
    sql("ALTER TABLE eq.ns.prk RENAME COLUMN day TO src")
    // wave 2 under the NEW name: ('a', 1) and ('b', 1) must hide the
    // old rows — whose `src` values live only in the old `day=` dirs
    sql("INSERT INTO eq.ns.prk VALUES ('a', 1, 11), ('b', 1, 31)")
    def state(): Seq[(String, Long, Long)] =
      sql("SELECT src, k, v FROM eq.ns.prk ORDER BY src, k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Seq(("a", 1L, 11L), ("a", 2L, 20L), ("b", 1L, 31L))
    assert(state() == want, s"scan-side alias key resolution: ${state()}")
    // compact's executor rewrite renders old-dir tuples the same way
    sql("CALL eq.system.compact('ns.prk', max_shards => 8)")
    assert(state() == want, s"post-reconcile: ${state()}")
    val root = spark.conf.get("spark.sql.catalog.eq.root")
    assert(!new java.io.File(s"$root/ns/prk/_eq_deletes").exists() ||
      new java.io.File(s"$root/ns/prk/_eq_deletes").listFiles()
        .forall(f => !f.getName.endsWith(".json")),
      "reconcile must retire the wave's key file")
    // and the tier keeps working after full unification
    sql("INSERT INTO eq.ns.prk VALUES ('a', 2, 21)")
    assert(state() == Seq(("a", 1L, 11L), ("a", 2L, 21L), ("b", 1L, 31L)))
  }
}
