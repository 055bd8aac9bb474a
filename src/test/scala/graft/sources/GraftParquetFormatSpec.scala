package graft.sources

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The columnar at-rest tier (`graft.format = 'parquet'`,
  * [[graft.sources.dsv2.GraftParquetShard]]): parquet shards under the
  * SAME connector metadata as the JSONL tier — hive dirs, skip index,
  * snapshots, equality-delete upsert waves, merge-on-read position
  * deletes, metadata-only renames — with readers dispatching per file
  * so converted tables serve mixed populations through one scan. */
class GraftParquetFormatSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.pq", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.pq.root",
      graft.core.Fixtures.tempDir("graft-pq").toString)
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def shardsPlanned(q: String): Int = sql(q).rdd.getNumPartitions
  private def root = spark.conf.get("spark.sql.catalog.pq.root")
  private def listShards(rel: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    val d = new java.io.File(s"$root/$rel")
    if (!d.exists()) Nil
    else d.listFiles().toSeq.flatMap(walk).map(_.getName)
  }

  test("path write/read round-trip: parquet shards, pushdown, partitionBy, metadata cols") {
    import spark.implicits._
    val dir = graft.core.Fixtures.tempDir("pq-path").toString
    val df = (0L until 1000L)
      .map(i => (i, s"doc$i", i * 1.5, i % 2 == 0, s"lang${i % 3}"))
      .toDF("id", "title", "score", "flag", "lang")
    df.write.format("graft-jsonl").option("graft.format", "parquet")
      .partitionBy("lang").mode("append").save(dir)
    val shards = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    }
    assert(shards.nonEmpty && shards.forall(_.endsWith(".parquet")),
      s"expected parquet shards, got $shards")
    val back = spark.read.format("graft-jsonl")
      .schema("id long, title string, score double, flag boolean, lang string")
      .load(dir)
    assert(back.count() == 1000L)
    // pushed filter on a data column + partition pruning on the dir col
    val sel = back.where(col("lang") === "lang1" && col("id") < 10)
    assert(sel.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 10L).filter(i => i % 3 == 1))
    // metadata columns ride like the JSONL tier's
    val withMeta = back.select(col("id"), col("_shard"), col("_pos"))
      .where(col("id") === 7L).head()
    assert(withMeta.getString(1).endsWith(".parquet"))
    assert(withMeta.getLong(2) >= 0L)
  }

  test("catalog table: results identical to the jsonl twin; aggregates push down") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.ns")
    for (fmt <- Seq("jsonl", "parquet"))
      sql(s"""CREATE TABLE pq.ns.t_$fmt (k BIGINT, v DOUBLE, s STRING)
             |TBLPROPERTIES ('graft.format'='$fmt')""".stripMargin)
    for (fmt <- Seq("jsonl", "parquet"))
      sql(s"""INSERT INTO pq.ns.t_$fmt
             |SELECT id AS k, id * 0.5 AS v,
             |  concat('s', CAST(id % 100 AS STRING)) AS s
             |FROM range(0, 5000)""".stripMargin)
    assert(listShards("ns/t_parquet").forall(_.endsWith(".parquet")))
    val a = sql("SELECT k, v, s FROM pq.ns.t_jsonl ORDER BY k").collect()
    val b = sql("SELECT k, v, s FROM pq.ns.t_parquet ORDER BY k").collect()
    assert(a.toSeq == b.toSeq, "parquet twin diverged from jsonl twin")
    // MIN/MAX/COUNT partial pushdown composes with the parquet reader
    val agg = sql(
      "SELECT min(k), max(k), count(*) FROM pq.ns.t_parquet").head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) ==
      (0L, 4999L, 5000L))
  }

  test("q207-style skip probe: write-order parquet shards prune on write-time stats") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.sk")
    sql("""CREATE TABLE pq.sk.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.write.order'='k', 'graft.skip.columns'='k')""".stripMargin)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try sql("""INSERT INTO pq.sk.t
              |SELECT CAST(hash(id) % 10000 AS BIGINT) + 10000 AS k, id AS v
              |FROM range(0, 20000)""".stripMargin)
    finally
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val total = shardsPlanned("SELECT k, v FROM pq.sk.t")
    assert(total >= 4, s"expected several shards, got $total")
    val probe = "SELECT k, v FROM pq.sk.t WHERE k >= 19500"
    val planned = shardsPlanned(probe)
    assert(planned >= 1 && planned <= math.max(1, total / 2),
      s"parquet write-order shards not pruned: $planned of $total")
    assert(sql(probe).collect().forall(_.getLong(0) >= 19500))
    assert(sql("SELECT count(*) FROM pq.sk.t").head.getLong(0) == 20000L)
  }

  test("q210-style snapshots: pin, append, VERSION AS OF, rollback — on parquet shards") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.sn")
    sql("""CREATE TABLE pq.sn.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("INSERT INTO pq.sn.t SELECT id, id * 10 FROM range(0, 100)")
    val v1 = sql("CALL pq.system.snapshot('sn.t')").head.getLong(0)
    sql("INSERT INTO pq.sn.t SELECT id + 100, id FROM range(0, 50)")
    assert(sql("SELECT count(*) FROM pq.sn.t").head.getLong(0) == 150L)
    assert(sql(s"SELECT count(*) FROM pq.sn.t VERSION AS OF $v1")
      .head.getLong(0) == 100L)
    sql(s"CALL pq.system.rollback_to_snapshot('sn.t', $v1)")
    assert(sql("SELECT count(*) FROM pq.sn.t").head.getLong(0) == 100L)
    assert(sql("SELECT sum(v) FROM pq.sn.t").head.getLong(0) ==
      (0L until 100L).map(_ * 10).sum)
  }

  test("q227-style upsert waves: parquet insert shards stamped, keys hide old rows, VERSION AS OF composes") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.up")
    sql("""CREATE TABLE pq.up.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.upsert.keys'='k', 'graft.snapshot.auto'='true')""".stripMargin)
    sql("INSERT INTO pq.up.t SELECT id, id FROM range(0, 1000)")
    // wave 2 upserts the lower half
    sql("INSERT INTO pq.up.t SELECT id, id + 5000 FROM range(0, 500)")
    assert(sql("SELECT count(*) FROM pq.up.t").head.getLong(0) == 1000L)
    assert(sql("SELECT v FROM pq.up.t WHERE k = 10").head.getLong(0) == 5010L)
    assert(sql("SELECT v FROM pq.up.t WHERE k = 900").head.getLong(0) == 900L)
    val stamped = listShards("up/t").filter(_.contains("-eqs"))
    assert(stamped.nonEmpty && stamped.forall(_.endsWith(".parquet")),
      s"wave shards must be eq-stamped parquet: ${listShards("up/t")}")
    // auto-snapshot: the pre-wave version still serves pre-wave values
    val vs = sql("CALL pq.system.snapshots('up.t')")
      .collect().map(_.getLong(0)).sorted
    assert(vs.length >= 2)
    assert(sql(s"SELECT v FROM pq.up.t VERSION AS OF ${vs.head} WHERE k = 10")
      .head.getLong(0) == 10L)
    // reconcile: compact folds the wave in, count unchanged
    sql("CALL pq.system.compact('up.t')")
    assert(sql("SELECT count(*) FROM pq.up.t").head.getLong(0) == 1000L)
    assert(sql("SELECT v FROM pq.up.t WHERE k = 10").head.getLong(0) == 5010L)
  }

  test("merge-on-read position deletes hide parquet rows by ordinal") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.mor")
    sql("""CREATE TABLE pq.mor.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO pq.mor.t SELECT id, id * 2 FROM range(0, 1000)")
    val before = listShards("mor/t")
    sql("DELETE FROM pq.mor.t WHERE k % 10 = 3")
    assert(listShards("mor/t") == before,
      "merge-on-read DELETE must rewrite zero shards")
    assert(sql("SELECT count(*) FROM pq.mor.t").head.getLong(0) == 900L)
    assert(sql("SELECT count(*) FROM pq.mor.t WHERE k % 10 = 3")
      .head.getLong(0) == 0L)
    // UPDATE through the delta path: delete + re-insert
    sql("UPDATE pq.mor.t SET v = 0 WHERE k = 4")
    assert(sql("SELECT v FROM pq.mor.t WHERE k = 4").head.getLong(0) == 0L)
  }

  test("metadata-only RENAME COLUMN: pre-rename parquet shards read through the alias") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.rn")
    sql("""CREATE TABLE pq.rn.t (old_name BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("INSERT INTO pq.rn.t SELECT id, id FROM range(0, 100)")
    sql("ALTER TABLE pq.rn.t RENAME COLUMN old_name TO new_name")
    sql("INSERT INTO pq.rn.t SELECT id + 100, id FROM range(0, 50)")
    // both populations answer under the new name
    assert(sql("SELECT count(*) FROM pq.rn.t WHERE new_name >= 0")
      .head.getLong(0) == 150L)
    assert(sql("SELECT sum(new_name) FROM pq.rn.t").head.getLong(0) ==
      (0L until 100L).sum + (100L until 150L).sum)
  }

  test("conversion: ALTER graft.format, mixed populations read, cluster_table finishes it") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.cv")
    sql("""CREATE TABLE pq.cv.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.skip.columns'='k')""".stripMargin)
    sql("INSERT INTO pq.cv.t SELECT id, id FROM range(0, 500)")
    assert(listShards("cv/t").forall(_.endsWith(".jsonl.gz")))
    sql("ALTER TABLE pq.cv.t SET TBLPROPERTIES ('graft.format'='parquet')")
    sql("INSERT INTO pq.cv.t SELECT id + 500, id FROM range(0, 500)")
    val mixed = listShards("cv/t")
    assert(mixed.exists(_.endsWith(".jsonl.gz")) &&
      mixed.exists(_.endsWith(".parquet")), s"expected mixed layout: $mixed")
    assert(sql("SELECT count(*) FROM pq.cv.t").head.getLong(0) == 1000L)
    assert(sql("SELECT sum(k) FROM pq.cv.t").head.getLong(0) ==
      (0L until 1000L).sum)
    // the rewrite lands everything in the table's current format
    sql("CALL pq.system.cluster_table('cv.t', columns => 'k', " +
      "target_shards => 2)")
    val after = listShards("cv/t")
    assert(after.nonEmpty && after.forall(_.endsWith(".parquet")),
      s"cluster_table must finish the conversion: $after")
    assert(sql("SELECT count(*) FROM pq.cv.t").head.getLong(0) == 1000L)
    // and the converted layout prunes on the cluster column
    val total = shardsPlanned("SELECT k, v FROM pq.cv.t")
    val planned = shardsPlanned("SELECT k, v FROM pq.cv.t WHERE k >= 900")
    assert(planned < total, s"pruning on converted layout: $planned/$total")
  }

  test("row-group pruning: filtered scans stay exact on multi-group " +
      "shards; _pos projection disarms it (ordinals never shift)") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.rg")
    spark.conf.set("graft.parquet.rowgroup.bytes", "4096")
    try {
      sql("""CREATE TABLE pq.rg.t (k BIGINT, s STRING)
            |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
      sql("""INSERT INTO pq.rg.t SELECT /*+ REPARTITION(1) */
            |  id AS k, concat('v', CAST(id AS STRING)) AS s
            |FROM range(0, 20000)""".stripMargin)
    } finally spark.conf.unset("graft.parquet.rowgroup.bytes")
    // pushed filter prunes row groups inside the single shard; results
    // must be exactly the matching rows
    val hi = sql("SELECT k, s FROM pq.rg.t WHERE k > 19000")
    assert(hi.count() == 999L)
    assert(hi.collect().forall(_.getLong(0) > 19000L))
    assert(sql("SELECT k FROM pq.rg.t WHERE s = 'v7'").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    // _pos must reflect TRUE file ordinals even under a selective
    // filter — the guard disarms group skipping when _pos is projected
    val withPos = sql("SELECT k, _pos FROM pq.rg.t WHERE k > 19500")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(withPos.length == 499 && withPos.forall { case (k, pos) => pos == k },
      s"_pos must equal the write ordinal: ${withPos.take(3).mkString(",")}")
    // and MOR deletes (ordinal-keyed) stay exact on the multi-group shard
    sql("ALTER TABLE pq.rg.t SET TBLPROPERTIES " +
      "('graft.row-level.mode'='merge-on-read')")
    sql("DELETE FROM pq.rg.t WHERE k = 19999")
    assert(sql("SELECT count(*) FROM pq.rg.t WHERE k > 19000")
      .head.getLong(0) == 998L)
  }

  test("vectorized parquet scans: filter-free reads plan columnar " +
      "batches; conditional shapes fall back to rows — results identical") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.vec")
    sql("""CREATE TABLE pq.vec.t (lang STRING, k BIGINT, v DOUBLE,
          |  tags ARRAY<STRING>) PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("""INSERT INTO pq.vec.t
          |SELECT CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END,
          |  id, id * 0.5, array(CAST(id AS STRING)) FROM range(0, 5000)""".stripMargin)
    // full scan: the plan consumes COLUMNAR batches (vectorized
    // parquet decode + partition-constant vectors, nested included)
    val full = sql("SELECT lang, k, v, tags FROM pq.vec.t")
    val plan = full.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"filter-free parquet scan must be columnar:\n$plan")
    assert(full.count() == 5000L)
    val r = sql("SELECT sum(k), sum(v), count(*) FROM pq.vec.t " +
      "GROUP BY lang ORDER BY lang").collect()
    assert(r.length == 2 && r.map(_.getLong(2)).sum == 5000L)
    val one = full.where(col("k") === 7L).head()
    assert(one.getString(0) == "de" && one.getDouble(2) == 3.5 &&
      one.getSeq[String](3) == Seq("7"))
    // ADD COLUMN: old shards miss the column — vectorized path reads
    // nulls for it
    sql("ALTER TABLE pq.vec.t ADD COLUMN extra BIGINT")
    assert(sql("SELECT count(*) FROM pq.vec.t WHERE extra IS NULL")
      .head.getLong(0) == 5000L)
    // conditional shapes fall back to the row path and stay exact:
    // metadata projection, and an upsert table with reachable state
    assert(sql("SELECT count(DISTINCT _shard) FROM pq.vec.t")
      .head.getLong(0) >= 2L)
  }

  test("widening ALTER: filters on the widened column stay exact across " +
      "mixed-primitive shards (typed predicates skip narrow files)") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.wd")
    sql("""CREATE TABLE pq.wd.t (k INT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("""INSERT INTO pq.wd.t SELECT /*+ REPARTITION(1) */
          |  CAST(id AS INT), id FROM range(0, 100)""".stripMargin)
    sql("ALTER TABLE pq.wd.t ALTER COLUMN k TYPE BIGINT")
    sql("""INSERT INTO pq.wd.t SELECT /*+ REPARTITION(1) */
          |  id + 100, id FROM range(0, 100)""".stripMargin)
    // INT32-era shards read through BIGINT and the pushed filter must
    // not crash parquet's predicate validation on them (the row-group
    // predicate is type-gated per file; row-level evaluation answers)
    assert(sql("SELECT count(*) FROM pq.wd.t WHERE k >= 50")
      .head.getLong(0) == 150L)
    assert(sql("SELECT count(*) FROM pq.wd.t WHERE k = 7")
      .head.getLong(0) == 1L)
    assert(sql("SELECT sum(k) FROM pq.wd.t").head.getLong(0) ==
      (0L until 200L).sum)
  }

  test("footer-statistics aggregates: MIN/MAX/COUNT on an UNINDEXED " +
      "parquet table answer without decoding a page") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.fa")
    sql("""CREATE TABLE pq.fa.t (k BIGINT, d DOUBLE, s STRING)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("""INSERT INTO pq.fa.t SELECT /*+ REPARTITION(4) */
          |  id AS k, id * 0.5 AS d, CAST(id AS STRING) AS s
          |FROM range(0, 10000)""".stripMargin)
    val df = sql("SELECT MIN(k) AS mn, MAX(d) AS mx, COUNT(*) AS n " +
      "FROM pq.fa.t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    // the witness: corrupt every shard's DATA pages (keep the footer —
    // it lives at the file tail) — the aggregate must still answer,
    // which is only possible footer-only
    val dir = new java.io.File(s"$root/fa/t")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      raf.seek(4) // past the PAR1 header magic
      raf.write(Array.fill[Byte](64)(0x5a))
      raf.close()
    }
    val row = df.head()
    assert((row.getLong(0), row.getDouble(1), row.getLong(2)) ==
      (0L, 4999.5, 10000L),
      s"footer-only aggregate answered wrong: $row")
  }

  test("COUNT(*) under merge-on-read stays metadata-only: footer/index " +
      "row count minus sidecar ordinals, no data page decoded") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.mc")
    // unindexed table: the FOOTER path answers
    sql("""CREATE TABLE pq.mc.t (k BIGINT, v DOUBLE)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO pq.mc.t SELECT /*+ REPARTITION(3) */ id, id * 1.0
          |FROM range(0, 9000)""".stripMargin)
    sql("DELETE FROM pq.mc.t WHERE k % 9 = 4")
    assert(sql("SELECT count(*) FROM pq.mc.t").head.getLong(0) == 8000L)
    // the witness: corrupt every shard's DATA pages (footers live at
    // the tail) — the count must still answer, only possible if no
    // page decodes and the sidecar subtraction is metadata-side
    val dir = new java.io.File(s"$root/mc/t")
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      raf.seek(4)
      raf.write(Array.fill[Byte](64)(0x5a))
      raf.close()
    }
    assert(sql("SELECT count(*) FROM pq.mc.t").head.getLong(0) == 8000L,
      "COUNT under MOR must be footer+sidecar metadata, not a drain")
    // MIN/MAX still (correctly) need the drain — deletes narrow the
    // true range — so they fail on the corrupted fixture
    intercept[Exception] {
      sql("SELECT min(k) FROM pq.mc.t").collect()
    }
  }

  test("streaming READ from a parquet drop dir: micro-batches dispatch per file") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.sr")
    sql("""CREATE TABLE pq.sr.src (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("INSERT INTO pq.sr.src SELECT id, id * 3 FROM range(0, 50)")
    val got = spark.readStream.format("graft-jsonl")
      .schema("k long, v long").load(s"$root/sr/src")
      .writeStream.format("memory").queryName("pq_sr_sink")
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("pq-sr").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    got.awaitTermination(60000)
    val r = sql("SELECT count(*), sum(v) FROM pq_sr_sink").head()
    assert((r.getLong(0), r.getLong(1)) ==
      ((50L, (0L until 50L).map(_ * 3).sum)))
  }

  test("SPJ on parquet: co-located partitioned join plans without exchanges") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.spj")
    for (t <- Seq("a", "b")) {
      sql(s"""CREATE TABLE pq.spj.$t (lang STRING, k BIGINT, v BIGINT)
             |PARTITIONED BY (lang)
             |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
      sql(s"""INSERT INTO pq.spj.$t SELECT /*+ REPARTITION(1) */
             |  CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang,
             |  id AS k, id * 10 AS v FROM range(0, 200)""".stripMargin)
    }
    val prev = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val a = spark.read.format("graft-jsonl")
        .schema("lang string, k long, v long")
        .option("spj", "true").load(s"$root/spj/a")
      val b = spark.read.format("graft-jsonl")
        .schema("lang string, k long, v long")
        .option("spj", "true").load(s"$root/spj/b")
      val joined = a.join(b, Seq("lang")).groupBy(a("lang"))
        .agg(org.apache.spark.sql.functions.count("*").as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"SPJ on parquet shards must plan exchange-free:\n$plan")
      val got = joined.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1).toSeq
      assert(got == Seq(("de", 10000L), ("en", 10000L)), got.toString)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
      case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  // ------- round-16 witnesses: declined filter pushdown (vectorized
  // filtered scans) and delete masks over ColumnarBatches

  /** Executed-plan traversal collecting every v2 scan's output-row
    * metric (post AQE, subqueries included) — the row-group-pruning
    * witness: a pruned scan EMITS fewer rows than the shard holds. */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect()
    var total = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BatchScanExec => total += b.metrics("numOutputRows").value
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    total
  }
  private def finalPlanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }

  test("declined pushdown: filtered parquet scans stay VECTORIZED — " +
      "FilterExec above columnar batches, row groups still pruned") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.vf")
    spark.conf.set("graft.parquet.rowgroup.bytes", "8192")
    try {
      sql("""CREATE TABLE pq.vf.t (k BIGINT, v DOUBLE, s STRING)
            |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
      sql("""INSERT INTO pq.vf.t SELECT /*+ REPARTITION(1) */
            |  id AS k, id * 0.5 AS v, concat('s', CAST(id AS STRING)) AS s
            |FROM range(0, 40000)""".stripMargin)
    } finally spark.conf.unset("graft.parquet.rowgroup.bytes")
    val df = sql("SELECT k, v, s FROM pq.vf.t WHERE k >= 39000")
    // the WHERE + scan shape must plan FilterExec ABOVE a columnar
    // scan: no claimed filters, PruneFilters populated, ColumnarToRow
    // in the executed plan
    df.collect()
    val plan = finalPlanString(df)
    assert(plan.contains("ColumnarToRow"),
      s"filtered parquet scan must stay vectorized:\n$plan")
    assert(plan.contains("Filter"),
      s"declined filters must re-check in FilterExec:\n$plan")
    assert(plan.contains("PushedFilters: []"),
      s"parquet-format tables must claim NO row filters:\n$plan")
    assert(plan.contains("PruneFilters: ["),
      s"declined filters must ride the prune-only channel:\n$plan")
    // results exact
    assert(df.count() == 1000L)
    assert(df.collect().forall(_.getLong(0) >= 39000L))
    // row-group pruning witness: the scan EMITS fewer rows than the
    // 40k the single shard stores (whole groups skipped by footer
    // stats before FilterExec sees anything)
    val emitted = scanOutputRows(
      sql("SELECT k, v, s FROM pq.vf.t WHERE k >= 39000"))
    assert(emitted < 40000L && emitted >= 1000L,
      s"row groups not pruned under declined filters: emitted=$emitted")
    // aggregate-above-filter (the dominant analytical shape) is exact
    val agg = sql("SELECT count(*) AS n, sum(v) AS sv FROM pq.vf.t " +
      "WHERE k >= 39000 AND s IS NOT NULL").head()
    assert(agg.getLong(0) == 1000L &&
      math.abs(agg.getDouble(1) - (39000L until 40000L).map(_ * 0.5).sum) < 1e-6)
  }

  test("declined pushdown: partition dirs still prune at planning time") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.vp")
    sql("""CREATE TABLE pq.vp.t (lang STRING, k BIGINT) PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    sql("""INSERT INTO pq.vp.t SELECT
          |  CASE WHEN id % 4 = 0 THEN 'en' WHEN id % 4 = 1 THEN 'de'
          |       WHEN id % 4 = 2 THEN 'fr' ELSE 'es' END, id
          |FROM range(0, 4000)""".stripMargin)
    val total = shardsPlanned("SELECT lang, k FROM pq.vp.t")
    val one = shardsPlanned("SELECT lang, k FROM pq.vp.t WHERE lang = 'en'")
    assert(one < total && one >= 1,
      s"declined filters must still prune partition dirs: $one of $total")
    assert(sql("SELECT count(*) FROM pq.vp.t WHERE lang = 'en'")
      .head.getLong(0) == 1000L)
  }

  test("delete mask: sidecar-bearing parquet tables keep the " +
      "VECTORIZED path — batches masked by ordinal, results exact") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.vm")
    sql("""CREATE TABLE pq.vm.t (k BIGINT, v DOUBLE, s STRING)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO pq.vm.t SELECT /*+ REPARTITION(2) */
          |  id, id * 2.0, concat('x', CAST(id % 7 AS STRING))
          |FROM range(0, 20000)""".stripMargin)
    val before = listShards("vm/t")
    sql("DELETE FROM pq.vm.t WHERE k % 100 = 3") // 1% deleted, sidecars only
    assert(listShards("vm/t") == before, "MOR DELETE must rewrite zero shards")
    // full scan: STILL columnar (the round-15 disarm is gone)
    val full = sql("SELECT k, v, s FROM pq.vm.t")
    full.collect()
    val plan = finalPlanString(full)
    assert(plan.contains("ColumnarToRow"),
      s"sidecar-bearing parquet scan must stay vectorized:\n$plan")
    assert(full.count() == 19800L)
    assert(sql("SELECT count(*) FROM pq.vm.t WHERE k % 100 = 3")
      .head.getLong(0) == 0L)
    // masked values line up column-by-column (no row slippage): v and
    // s must both correspond to k on every surviving row
    val bad = sql("SELECT count(*) FROM pq.vm.t " +
      "WHERE v <> k * 2.0 OR s <> concat('x', CAST(k % 7 AS STRING))")
      .head.getLong(0)
    assert(bad == 0L, s"mask slipped values across rows: $bad mismatches")
    // filtered + masked composes (mask disables group skipping; the
    // FilterExec above still answers exactly)
    assert(sql("SELECT sum(k) FROM pq.vm.t WHERE k >= 19000")
      .head.getLong(0) ==
      (19000L until 20000L).filter(_ % 100 != 3).sum)
    // UPDATE through the delta path lands new rows; both populations
    // (masked original + fresh shard) serve through one columnar scan
    sql("UPDATE pq.vm.t SET v = -1.0 WHERE k = 4")
    assert(sql("SELECT v FROM pq.vm.t WHERE k = 4").head.getDouble(0) == -1.0)
    assert(sql("SELECT count(*) FROM pq.vm.t").head.getLong(0) == 19800L)
  }

  test("delete mask: snapshot-pinned ordinals vectorize too") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.vs")
    sql("""CREATE TABLE pq.vs.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO pq.vs.t SELECT id, id FROM range(0, 1000)")
    sql("DELETE FROM pq.vs.t WHERE k < 100")
    val v1 = sql("CALL pq.system.snapshot('vs.t')").head.getLong(0)
    sql("DELETE FROM pq.vs.t WHERE k < 200")
    assert(sql("SELECT count(*) FROM pq.vs.t").head.getLong(0) == 800L)
    // the pinned read applies the SNAPSHOT's delete state as pinned
    // ordinals — columnar, and exactly the 900 rows of v1
    val pinned = sql(s"SELECT k, v FROM pq.vs.t VERSION AS OF $v1")
    pinned.collect()
    assert(finalPlanString(pinned).contains("ColumnarToRow"),
      s"pinned-ordinal snapshot read must vectorize:\n${finalPlanString(pinned)}")
    assert(pinned.count() == 900L)
    assert(sql(s"SELECT min(k) FROM pq.vs.t VERSION AS OF $v1")
      .head.getLong(0) == 100L)
  }

  test("compact rewrite of a PARTITIONED parquet table keeps partition " +
      "columns OUT of the rewritten files (values ride the k=v dirs)") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.cp")
    sql("""CREATE TABLE pq.cp.t (lang STRING, k BIGINT, v DOUBLE)
          |PARTITIONED BY (lang)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    // partitioned writes cluster by the partition column: one shard
    // per dir per INSERT — several INSERTs make the dirs oversized
    for (b <- 0 until 4)
      sql(s"""INSERT INTO pq.cp.t SELECT
             |  CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, id, id * 0.5
             |FROM range(${b * 500}, ${(b + 1) * 500})""".stripMargin)
    sql("CALL pq.system.compact('cp.t', max_shards => 2)")
    val rewritten = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/cp/t"))
        .filter(_.getName.startsWith("compact-"))
    }
    assert(rewritten.nonEmpty, "compact must have rewritten shards")
    rewritten.foreach { f =>
      val cols = spark.read.parquet(f.getAbsolutePath).columns.toSet
      assert(!cols.contains("lang"),
        s"partition column leaked into rewritten file ${f.getName}: $cols")
      assert(cols == Set("k", "v"), s"unexpected file columns: $cols")
    }
    // the table still serves the dir-injected partition values
    assert(sql("SELECT count(*) FROM pq.cp.t WHERE lang = 'en'")
      .head.getLong(0) == 1000L)
    assert(sql("SELECT sum(k) FROM pq.cp.t").head.getLong(0) ==
      (0L until 2000L).sum)
  }

  test("graft.parquet.compression/level: table properties reach every " +
      "sink (insert + compact rewrite); bad values refuse at DDL time") {
    def codecOf(f: java.io.File): String = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name()
      finally r.close()
    }
    def shardsOf(rel: String): Seq[java.io.File] =
      new java.io.File(s"$root/$rel").listFiles().toSeq.filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    sql("CREATE NAMESPACE IF NOT EXISTS pq.cc")
    sql("""CREATE TABLE pq.cc.snap (k BIGINT, s STRING)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.parquet.compression'='snappy')""".stripMargin)
    sql("INSERT INTO pq.cc.snap SELECT id, CAST(id AS STRING) FROM range(0, 1000)")
    assert(shardsOf("cc/snap").nonEmpty)
    shardsOf("cc/snap").foreach(f => assert(codecOf(f) == "SNAPPY",
      s"${f.getName}: ${codecOf(f)}"))
    // default stays zstd; level accepted for zstd
    sql("""CREATE TABLE pq.cc.z (k BIGINT, s STRING)
          |TBLPROPERTIES ('graft.format'='parquet',
          |  'graft.parquet.compression'='zstd',
          |  'graft.parquet.compression.level'='1')""".stripMargin)
    sql("INSERT INTO pq.cc.z SELECT id, CAST(id AS STRING) FROM range(0, 1000)")
    shardsOf("cc/z").foreach(f => assert(codecOf(f) == "ZSTD"))
    // the compact/convert rewrite honors the property too: a jsonl
    // table carrying the codec property converts into SNAPPY parquet
    sql("""CREATE TABLE pq.cc.conv (k BIGINT, s STRING)
          |TBLPROPERTIES ('graft.parquet.compression'='snappy')""".stripMargin)
    sql("INSERT INTO pq.cc.conv SELECT id, 'y' FROM range(0, 1000)")
    sql("CALL pq.system.convert_table('cc.conv', format => 'parquet')")
    val rewritten = shardsOf("cc/conv").filter(_.getName.startsWith("compact-"))
    assert(rewritten.nonEmpty, shardsOf("cc/conv").map(_.getName).toString)
    rewritten.foreach(f => assert(codecOf(f) == "SNAPPY",
      s"rewrite ignored the codec property: ${f.getName} ${codecOf(f)}"))
    assert(sql("SELECT count(*) FROM pq.cc.conv").head.getLong(0) == 1000L)
    // validation refuses bad values loudly
    val e1 = intercept[Exception] { sql(
      """CREATE TABLE pq.cc.bad (k BIGINT)
        |TBLPROPERTIES ('graft.parquet.compression'='brotli')""".stripMargin) }
    assert(e1.getMessage.contains("must be one of"), e1.getMessage)
    val e2 = intercept[Exception] { sql(
      "ALTER TABLE pq.cc.z SET TBLPROPERTIES " +
        "('graft.parquet.compression.level'='99')") }
    assert(e2.getMessage.contains("[1, 22]"), e2.getMessage)
    val e3 = intercept[Exception] { sql(
      "ALTER TABLE pq.cc.snap SET TBLPROPERTIES " +
        "('graft.parquet.compression.level'='3')") }
    assert(e3.getMessage.contains("zstd only"), e3.getMessage)
  }

  test("streaming sink: parquet epochs publish exactly-once") {
    sql("CREATE NAMESPACE IF NOT EXISTS pq.st")
    sql("""CREATE TABLE pq.st.t (k BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.format'='parquet')""".stripMargin)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)]
    mem.addData((1L, 10L), (2L, 20L))
    val q = mem.toDF().toDF("k", "v").writeStream
      .format("graft-jsonl")
      .option("checkpointLocation",
        graft.core.Fixtures.tempDir("pq-ck").toString)
      .trigger(Trigger.AvailableNow())
      .toTable("pq.st.t")
    q.awaitTermination(60000)
    assert(listShards("st/t").forall(_.endsWith(".parquet")),
      s"streaming epochs must honor the table format: ${listShards("st/t")}")
    assert(sql("SELECT count(*) FROM pq.st.t").head.getLong(0) == 2L)
  }
}
