package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path, PathIsNotEmptyDirectoryException}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.dsv2.{ConcurrentRowLevelOperationException, JsonlHadoopConf,
  JsonlPartitionedDataWriter, JsonlShards, JsonlSnapshots, JsonlStreamingWrite, RowLevelLock}

/** A graft-jsonl shard's way in and way out: every path that drops
  * live shards takes their merge-on-read sidecars with it, DROP
  * PARTITION serializes on the table lock like every other
  * destructive operation, an empty task publishes nothing, and the
  * staging cleanup a commit runs after its durable point never
  * throws. */
class JsonlShardLifecycleSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.sl", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.sl.root",
      graft.core.Fixtures.tempDir("graft-shard-life").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS sl.ns")
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def tableDir(t: String) =
    new java.io.File(s"${spark.conf.get("spark.sql.catalog.sl.root")}/ns/$t")

  private def rows(t: String): Seq[(Long, Long, String)] =
    sql(s"SELECT k, v, p FROM sl.ns.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq

  private def morStats(t: String): Map[String, Long] =
    sql(s"CALL sl.system.maintenance_stats('ns.$t')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sidecarFiles(t: String): Seq[String] = {
    val d = new java.io.File(tableDir(t), "_deletes")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    if (!d.exists()) Nil
    else walk(d).map(f => d.toPath.relativize(f.toPath).toString)
      .filter(_.endsWith(".deletes.json"))
  }

  private def withOverwriteMode[T](mode: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    try body
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("table overwrite retires the dropped shards' merge-on-read sidecars") {
    sql("""CREATE TABLE sl.ns.tow (k BIGINT, v BIGINT, p STRING)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("INSERT INTO sl.ns.tow VALUES (1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b')")
    sql("DELETE FROM sl.ns.tow WHERE k = 2")
    assert(morStats("tow")("mor_sidecars") == 1L)
    sql("INSERT OVERWRITE sl.ns.tow VALUES (7, 70, 'c')")
    assert(rows("tow") == Seq((7L, 70L, "c")))
    val m = morStats("tow")
    assert(m("mor_sidecars") == 0L && m("mor_deleted_rows") == 0L &&
      !m.contains("recommend"), m.toString)
  }

  test("static partition overwrite and TRUNCATE PARTITION retire only their own sidecars") {
    sql("""CREATE TABLE sl.ns.sow (k BIGINT, v BIGINT, p STRING)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO sl.ns.sow VALUES
          |  (1, 10, 'a'), (2, 20, 'a'), (4, 40, 'b'), (5, 50, 'b')""".stripMargin)
    sql("DELETE FROM sl.ns.sow WHERE k = 2 OR k = 5")
    assert(morStats("sow")("mor_sidecars") == 2L)
    withOverwriteMode("static") {
      sql("INSERT OVERWRITE sl.ns.sow PARTITION (p = 'a') VALUES (7, 70)")
    }
    assert(rows("sow") == Seq((4L, 40L, "b"), (7L, 70L, "a")))
    // partition b's shard is live: its sidecar still hides k = 5
    assert(sidecarFiles("sow").map(_.takeWhile(_ != '/')) == Seq("p=b"))
    sql("TRUNCATE TABLE sl.ns.sow PARTITION (p = 'b')")
    assert(rows("sow") == Seq((7L, 70L, "a")))
    assert(morStats("sow")("mor_sidecars") == 0L)
    // the truncated partition stays listed
    assert(sql("SHOW PARTITIONS sl.ns.sow").collect().map(_.getString(0))
      .sorted.toSeq == Seq("p=a", "p=b"))
  }

  test("dynamic partition overwrite retires the touched partitions' sidecars") {
    sql("""CREATE TABLE sl.ns.dow (k BIGINT, v BIGINT, p STRING)
          |PARTITIONED BY (p)
          |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    sql("""INSERT INTO sl.ns.dow VALUES
          |  (1, 10, 'a'), (2, 20, 'a'), (4, 40, 'b')""".stripMargin)
    sql("DELETE FROM sl.ns.dow WHERE k = 2")
    withOverwriteMode("dynamic") {
      sql("INSERT OVERWRITE sl.ns.dow VALUES (8, 80, 'a')")
    }
    assert(rows("dow") == Seq((4L, 40L, "b"), (8L, 80L, "a")))
    assert(morStats("dow")("mor_sidecars") == 0L)
  }

  test("DROP PARTITION refuses while another operation holds the table lock") {
    sql("CREATE TABLE sl.ns.dp (k BIGINT, v BIGINT, p STRING) PARTITIONED BY (p)")
    sql("INSERT INTO sl.ns.dp VALUES (1, 10, 'a'), (2, 20, 'b')")
    val conf = new Configuration()
    val table = new Path(tableDir("dp").toString)
    val fs = table.getFileSystem(conf)
    val held = RowLevelLock.acquire(fs, conf, table, "holder")
    try {
      val e = intercept[Exception] {
        sql("ALTER TABLE sl.ns.dp DROP PARTITION (p = 'a')")
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ConcurrentRowLevelOperationException]), e.toString)
      assert(rows("dp") == Seq((1L, 10L, "a"), (2L, 20L, "b")))
      assert(new java.io.File(tableDir("dp"), "p=a").isDirectory)
    } finally RowLevelLock.release(fs, held)
    sql("ALTER TABLE sl.ns.dp DROP PARTITION (p = 'a')")
    assert(rows("dp") == Seq((2L, 20L, "b")))
  }

  test("a zero-row append publishes no shard, flat or partitioned") {
    sql("CREATE TABLE sl.ns.zf (k BIGINT, v BIGINT, p STRING)")
    sql("CREATE TABLE sl.ns.zp (k BIGINT, v BIGINT, p STRING) PARTITIONED BY (p)")
    def shards(t: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory && !f.getName.startsWith("_")) f.listFiles().toSeq.flatMap(walk)
        else if (f.isFile && f.getName.endsWith(".jsonl.gz")) Seq(f)
        else Nil
      walk(tableDir(t))
    }
    for (t <- Seq("zf", "zp")) {
      spark.range(0).selectExpr("id AS k", "id AS v", "CAST(id AS STRING) AS p")
        .writeTo(s"sl.ns.$t").append()
      assert(shards(t).isEmpty, s"$t: ${shards(t).map(_.getName)}")
      assert(sql(s"SELECT count(*) FROM sl.ns.$t").head.getLong(0) == 0L)
      sql(s"INSERT INTO sl.ns.$t VALUES (1, 10, 'a')")
      assert(shards(t).size == 1 && rows(t) == Seq((1L, 10L, "a")))
    }
  }

  test("staging cleanup is best-effort when a concurrent writer refills _staging") {
    val dir = graft.core.Fixtures.tempDir("graft-staging-race").toString
    val root = new Path(dir)
    // the race: between the emptiness probe and the delete another
    // writer creates its staging dir, so the non-recursive delete of
    // `_staging` fails on a non-empty dir
    val racing: FileSystem =
      new FilterFileSystem(FileSystem.getLocal(new Configuration())) {
        override def delete(f: Path, recursive: Boolean): Boolean =
          if (!recursive && f.getName == "_staging")
            throw new PathIsNotEmptyDirectoryException(f.toString)
          else super.delete(f, recursive)
      }
    val own = new Path(root, "_staging/q1")
    racing.mkdirs(own)
    racing.create(new Path(own, "part-00000-0-q1.jsonl.gz")).close()
    JsonlShards.cleanupStaging(racing, root, "q1")
    assert(!racing.exists(own))
  }

  test("a streaming upsert epoch pins by delta rebase, naming its epoch-tagged key file") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = graft.core.Fixtures.tempDir("graft-stream-pin").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, v string")
    val w = new JsonlStreamingWrite(schema, dir, "q-pin", Nil,
      autoSnapshot = true, upsertKeys = Seq("id"))
    def epoch(e: Long, v: String) = {
      val dw = new JsonlPartitionedDataWriter(schema, dir, s"q-pin-e$e", 0, e,
        JsonlHadoopConf.fromSession(), Nil, Nil, Seq("id"))
      dw.write(InternalRow(9L, UTF8String.fromString(v)))
      dw.commit()
    }
    w.commit(1L, Array(epoch(1L, "x")))
    w.commit(2L, Array(epoch(2L, "y")))
    val table = new Path(dir)
    val fs = table.getFileSystem(new Configuration())
    // epoch 2 rebases epoch 1's manifest: its delta adds the wave's key
    // file and the rebase prunes s1 (no pinned shard is stamped below
    // 2). A delta naming a key file the wave never wrote fails the
    // rebase's resolve check and falls back to a full listing, which
    // pins every pending key file, s1 included.
    assert(JsonlSnapshots.list(fs, table).maxBy(_.id).eqFiles ==
      Seq("s2-q-pin-e2.json"))
  }
}
