package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Streaming sink face of the connector: per-epoch staged commits,
  * restart without duplicates, partitioned routing, and stream →
  * table → stream composition. */
class JsonlStreamingWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String) =
    graft.core.Fixtures.tempDir(prefix).toString

  test("epochs append staged shards; restart resumes without duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("jsonl-swrite")
    val ckpt = tmp("jsonl-swrite-ck")
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "v").writeStream
      .format("graft-jsonl").option("path", dir)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    input.addData((1L, "a"), (2L, "b"))
    q1.processAllAvailable()
    input.addData((3L, "c"))
    q1.processAllAvailable()
    q1.stop()

    val schema = "id long, v string"
    def readBack() = spark.read.format("graft-jsonl").schema(schema).load(dir)
    assert(readBack().count() == 3L)

    // restart from the checkpoint: prior epochs must not re-publish
    val q2 = start()
    input.addData((4L, "d"))
    q2.processAllAvailable()
    q2.stop()
    val got = readBack().collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // staging fully cleaned up
    assert(!new java.io.File(s"$dir/_staging").exists())
  }

  test("re-committing an epoch is idempotent even with new task ids") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp("jsonl-retry")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, v string")
    val w = new graft.sources.dsv2.JsonlStreamingWrite(schema, dir, "q-retry", Nil)
    // a REAL epoch re-execution reruns the tasks with fresh attempt ids,
    // so each staging below uses a different taskId on purpose
    def writeEpoch(taskId: Long)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val dw = new graft.sources.dsv2.JsonlPartitionedDataWriter(schema, dir,
        "q-retry-e7", 0, taskId, graft.sources.dsv2.JsonlHadoopConf.fromSession(), Nil)
      dw.write(InternalRow(5L, UTF8String.fromString("x")))
      dw.commit()
    }
    val m1 = writeEpoch(42L)
    w.commit(7L, Array(m1))
    assert(new java.io.File(s"$dir/_graft_stream_log/q-retry/7").exists())
    // driver dies AFTER the epoch log write, BEFORE the checkpoint
    // commit-log write: the epoch re-executes with a new task id —
    // must be a no-op, not a second publish
    val m2 = writeEpoch(99L)
    w.commit(7L, Array(m2))
    val rows = spark.read.format("graft-jsonl")
      .schema("id long, v string").load(dir).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 5L)
    assert(!new java.io.File(s"$dir/_staging").exists())
  }

  test("crash between renames and epoch-log write: retry sweeps partials") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp("jsonl-crash")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, v string")
    val w = new graft.sources.dsv2.JsonlStreamingWrite(schema, dir, "q-crash", Nil)
    def stage(taskId: Long): graft.sources.dsv2.JsonlCommitMessage = {
      val dw = new graft.sources.dsv2.JsonlPartitionedDataWriter(schema, dir,
        "q-crash-e3", 0, taskId, graft.sources.dsv2.JsonlHadoopConf.fromSession(), Nil)
      dw.write(InternalRow(9L, UTF8String.fromString("y")))
      dw.commit().asInstanceOf[graft.sources.dsv2.JsonlCommitMessage]
    }
    // attempt 1: commit got as far as renaming the shard into the
    // destination and died before the epoch log landed — exactly the
    // window the in-progress marker covers
    val m1 = stage(42L)
    val logDir = new java.io.File(s"$dir/_graft_stream_log/q-crash")
    logDir.mkdirs()
    new java.io.File(logDir, ".3.inprogress").createNewFile()
    val (stagedPath, _) = m1.staged.head
    val stagedName = new java.io.File(stagedPath).getName
    assert(new java.io.File(stagedPath)
      .renameTo(new java.io.File(dir, stagedName))) // partial publish
    // attempt 2 runs with a DIFFERENT task id → different shard name;
    // commit must sweep the attempt-1 partial, not duplicate beside it
    val m2 = stage(99L)
    w.commit(3L, Array(m2))
    val rows = spark.read.format("graft-jsonl")
      .schema("id long, v string").load(dir).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 9L)
    val published = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".jsonl.gz")).map(_.getName)
    assert(published.length == 1 && published.head.contains("-99-"))
    assert(new java.io.File(logDir, "3").exists())
    assert(!new java.io.File(logDir, ".3.inprogress").exists())
  }

  test("upsert-wave epoch crash before key publish: replay sweeps stamped partials") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.dsv2.JsonlEqDeletes
    val dir = tmp("jsonl-wave-crash")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, v string")
    val w = new graft.sources.dsv2.JsonlStreamingWrite(schema, dir, "q-uw",
      Nil, upsertKeys = Seq("id"))
    def stage(epochQ: String, taskId: Long, v: String)
        : graft.sources.dsv2.JsonlCommitMessage = {
      val dw = new graft.sources.dsv2.JsonlPartitionedDataWriter(schema, dir, epochQ,
        0, taskId, graft.sources.dsv2.JsonlHadoopConf.fromSession(),
        Nil, Nil, Seq("id"))
      dw.write(InternalRow(9L, UTF8String.fromString(v)))
      dw.commit().asInstanceOf[graft.sources.dsv2.JsonlCommitMessage]
    }
    // epoch 1 commits normally: wave s1 inserts the key's first version
    w.commit(1L, Array(stage("q-uw-e1", 7L, "x")))
    def read = spark.read.format("graft-jsonl")
      .schema("id long, v string").load(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(read == Seq((9L, "x")))
    // epoch 3 attempt 1: claimed s2, renamed its STAMPED insert shard
    // in, died BEFORE the key file published (the commit point is
    // last) — fabricate exactly that state
    val m1 = stage("q-uw-e3", 42L, "y")
    val logDir = new java.io.File(s"$dir/_graft_stream_log/q-uw")
    logDir.mkdirs()
    new java.io.File(logDir, ".3.inprogress").createNewFile()
    val (stagedPath, _) = m1.staged.head
    val stagedName = new java.io.File(stagedPath).getName
    assert(new java.io.File(stagedPath).renameTo(new java.io.File(dir,
      JsonlEqDeletes.stampName(stagedName, 2L))))
    new java.io.File(s"$dir/_eq_deletes/s2.claim").createNewFile()
    // the torn window shows duplicates, never loss
    assert(read.sorted == Seq((9L, "x"), (9L, "y")))
    // the replay (new task id, so a different shard name an
    // exists-check could never see) must sweep the STAMPED partial by
    // its epoch marker, land its own wave, and publish the key file
    val m2 = stage("q-uw-e3", 99L, "y")
    w.commit(3L, Array(m2))
    assert(read == Seq((9L, "y")),
      "the replayed wave must supersede epoch 1's version exactly once")
    val shards = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".jsonl.gz")).map(_.getName)
    assert(shards.count(_.contains("-q-uw-e3")) == 1 &&
      shards.exists(n => n.contains("-99-") && n.contains("-eqs3.")),
      s"attempt-1 stamped partial must be swept: ${shards.toSeq}")
    // streaming key files carry the EPOCH TAG so a later replay can
    // roll a crashed wave fully back (key file + inserts together)
    val eqNames = new java.io.File(s"$dir/_eq_deletes").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).sorted.toSeq
    assert(eqNames.exists(n => n.startsWith("s3-") && n.contains("q-uw-e3")),
      s"the replay wave publishes its tagged key file: $eqNames")
    assert(!eqNames.exists(_.startsWith("s2")), eqNames.toString)
  }

  test("replay of a FULLY-published wave rolls its key file back with the inserts") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.dsv2.JsonlEqDeletes
    val dir = tmp("jsonl-wave-crash2")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, v string")
    val w = new graft.sources.dsv2.JsonlStreamingWrite(schema, dir, "q-uw2",
      Nil, upsertKeys = Seq("id"))
    def stage(epochQ: String, taskId: Long, v: String)
        : graft.sources.dsv2.JsonlCommitMessage = {
      val dw = new graft.sources.dsv2.JsonlPartitionedDataWriter(schema, dir, epochQ,
        0, taskId, graft.sources.dsv2.JsonlHadoopConf.fromSession(),
        Nil, Nil, Seq("id"))
      dw.write(InternalRow(9L, UTF8String.fromString(v)))
      dw.commit().asInstanceOf[graft.sources.dsv2.JsonlCommitMessage]
    }
    w.commit(1L, Array(stage("q-uw2-e1", 7L, "x"))) // wave s1
    // epoch 3 attempt 1 got ALL the way through its wave — inserts
    // renamed AND key file published — then died before the epoch log
    // rename. The replay must roll the WHOLE wave back (key file
    // FIRST, or the swept inserts would leave deletes-without-inserts)
    // before re-running.
    val m1 = stage("q-uw2-e3", 42L, "y")
    val logDir = new java.io.File(s"$dir/_graft_stream_log/q-uw2")
    logDir.mkdirs()
    new java.io.File(logDir, ".3.inprogress").createNewFile()
    val (stagedPath, _) = m1.staged.head
    val stagedName = new java.io.File(stagedPath).getName
    assert(new java.io.File(stagedPath).renameTo(new java.io.File(dir,
      JsonlEqDeletes.stampName(stagedName, 2L))))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    new java.io.File(s"$dir/_eq_deletes").mkdirs()
    new java.io.File(s"$dir/_eq_deletes/s2.claim").createNewFile()
    JsonlEqDeletes.publish(fs, new org.apache.hadoop.fs.Path(dir), 2L,
      Seq("id"), Seq("9"), "q-uw2-e3")
    new java.io.File(s"$dir/_eq_deletes/s2.claim").delete()
    def read = spark.read.format("graft-jsonl")
      .schema("id long, v string").load(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val m2 = stage("q-uw2-e3", 99L, "y")
    w.commit(3L, Array(m2))
    assert(read == Seq((9L, "y")),
      "the replay must converge to exactly-once across the full wave")
    // the crashed attempt's key file was rolled back BEFORE its
    // inserts were swept; the retry then owns whatever sequence it
    // claims (re-claiming the fully-rolled-back number is sound —
    // nothing stamped with it survives) and publishes exactly one
    // tagged key file for this epoch
    val eqNames = new java.io.File(s"$dir/_eq_deletes").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).sorted.toSeq
    assert(eqNames.count(_.endsWith("-q-uw2-e3.json")) == 1,
      s"exactly the retry's key file must remain for the epoch: $eqNames")
  }

  test("streaming into a partitioned catalog table routes to hive dirs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("jsonl-swrite-cat")
    spark.conf.set("spark.sql.catalog.swh", "graft.sources.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.swh.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS swh.s")
    spark.sql(
      "CREATE TABLE swh.s.ev (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "lang").writeStream
      .option("checkpointLocation", tmp("jsonl-swrite-cat-ck"))
      .outputMode("append").toTable("swh.s.ev")
    input.addData((1L, "en"), (2L, "de"), (3L, "en"))
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(s"$root/s/ev/lang=en").isDirectory)
    assert(new java.io.File(s"$root/s/ev/lang=de").isDirectory)
    val back = spark.sql("SELECT id, lang FROM swh.s.ev ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq == Seq((1L, "en"), (2L, "de"), (3L, "en")))
    spark.sql("DROP TABLE swh.s.ev")
  }

  test("checkpoint rollback past log retention: old epoch re-commit stays exactly-once") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp("jsonl-rollback")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id long, v string")
    val w = new graft.sources.dsv2.JsonlStreamingWrite(schema, dir, "q-rb", Nil)
    def writeEpoch(epoch: Long, taskId: Long, id: Long) = {
      val dw = new graft.sources.dsv2.JsonlPartitionedDataWriter(schema, dir,
        s"q-rb-e$epoch", 0, taskId, graft.sources.dsv2.JsonlHadoopConf.fromSession(), Nil)
      dw.write(InternalRow(id, UTF8String.fromString("x")))
      dw.commit()
    }
    w.commit(3L, Array(writeEpoch(3L, 1L, 30L)))
    w.commit(200L, Array(writeEpoch(200L, 2L, 42L)))
    // retention pruned epoch 3's log record (200 - 100 horizon) but
    // its published shard is live
    assert(!new java.io.File(s"$dir/_graft_stream_log/q-rb/3").exists())
    // a restored old checkpoint replays epoch 3 with a NEW task id:
    // the epoch sits at/below the max logged epoch, so the commit
    // sweeps the original shards before republishing — exactly-once
    // survives the rollback even without the log record
    w.commit(3L, Array(writeEpoch(3L, 9L, 30L)))
    val ids = spark.read.format("graft-jsonl").schema("id long, v string")
      .load(dir).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(30L, 42L))
  }

  test("streaming foreachBatch MERGE INTO a catalog table: upserts, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("jsonl-fbmerge")
    spark.conf.set("spark.sql.catalog.fbm", "graft.sources.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fbm.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fbm.s")
    spark.sql("CREATE TABLE fbm.s.state (k BIGINT, v STRING)")
    spark.sql("INSERT INTO fbm.s.state VALUES (1, 'old'), (2, 'keep')")
    val input = MemoryStream[(Long, String)]
    def applyBatch(df: org.apache.spark.sql.DataFrame): Unit = {
      df.createOrReplaceTempView("fb_updates")
      df.sparkSession.sql(
        """MERGE INTO fbm.s.state t USING fb_updates s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    }
    val q = input.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", tmp("jsonl-fbmerge-ck"))
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => applyBatch(df))
      .start()
    input.addData((1L, "new"), (3L, "ins"))
    q.processAllAvailable()
    q.stop()
    def state() = spark.sql("SELECT k, v FROM fbm.s.state ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state() == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
    // the MERGE is a deterministic upsert: re-applying the SAME batch
    // (the crash-replay case foreachBatch exposes) converges instead
    // of duplicating
    applyBatch(Seq((1L, "new"), (3L, "ins")).toDF("k", "v"))
    assert(state() == Seq((1L, "new"), (2L, "keep"), (3L, "ins")))
    spark.sql("DROP TABLE fbm.s.state")
  }

  test("stream -> table -> stream composes through the same format") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mid = tmp("jsonl-relay-mid")
    val outTbl = tmp("jsonl-relay-out")
    val input = MemoryStream[(Long, String)]
    val producer = input.toDF().toDF("id", "v").writeStream
      .format("graft-jsonl").option("path", mid)
      .option("checkpointLocation", tmp("jsonl-relay-ck1"))
      .outputMode("append").start()
    input.addData((10L, "x"), (11L, "y"))
    producer.processAllAvailable()
    // relay: read the drop dir AS a stream, write to a second table
    val relay = spark.readStream.format("graft-jsonl")
      .schema("id long, v string").load(mid)
      .withColumn("v", upper(col("v")))
      .writeStream.format("graft-jsonl").option("path", outTbl)
      .option("checkpointLocation", tmp("jsonl-relay-ck2"))
      .outputMode("append").start()
    relay.processAllAvailable()
    input.addData((12L, "z"))
    producer.processAllAvailable()
    relay.processAllAvailable()
    producer.stop(); relay.stop()
    val got = spark.read.format("graft-jsonl").schema("id long, v string")
      .load(outTbl).collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.toSeq == Seq((10L, "X"), (11L, "Y"), (12L, "Z")))
  }
}
