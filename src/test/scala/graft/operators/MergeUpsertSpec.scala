package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class MergeUpsertSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
  private def source = Seq((2, "B"), (4, "D")).toDF("id", "v")

  test("matched rows replaced, unmatched inserted, rest untouched") {
    val got = MergeUpsert(target, source, Seq("id"))
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "B"), (3, "c"), (4, "D")))
  }

  test("composite key upsert") {
    val t = Seq((1, "x", 10), (1, "y", 20)).toDF("k1", "k2", "v")
    val s = Seq((1, "y", 99), (2, "z", 5)).toDF("k1", "k2", "v")
    val got = MergeUpsert(t, s, Seq("k1", "k2"))
      .orderBy("k1", "k2").as[(Int, String, Int)].collect().toSeq
    assert(got === Seq((1, "x", 10), (1, "y", 99), (2, "z", 5)))
  }

  test("intoPath creates then upserts a parquet target atomically") {
    val dir = java.nio.file.Files.createTempDirectory("merge").toString + "/t"
    MergeUpsert.intoPath(spark, dir, target, Seq("id"))
    MergeUpsert.intoPath(spark, dir, source, Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "B"), (3, "c"), (4, "D")))
    // no staging/old leftovers
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent === Seq("t"))
  }

  /** md5 of every data file under a partition dir, by relative name. */
  private def files(dir: String, part: String): Map[String, String] = {
    val d = new java.io.File(s"$dir/$part")
    d.listFiles().filter(f => f.isFile && !f.getName.startsWith("."))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
      }.toMap
  }

  test("intoPartitionedPath rewrites only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge").toString + "/t"
    val t0 = Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3"))
      .toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    val p1Before = files(dir, "partition_value=p1")
    val p3Before = files(dir, "partition_value=p3")
    assert(p1Before.nonEmpty && p3Before.nonEmpty)

    // source replaces id=2 (lives in p2, lands in p4) and inserts id=4 (p4)
    val src = Seq((2, "B", "p4"), (4, "D", "p4")).toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"))

    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(got === Seq((1, "a", "p1"), (2, "B", "p4"), (3, "c", "p3"), (4, "D", "p4")))
    // untouched partitions: files byte-identical (same names, same md5)
    assert(files(dir, "partition_value=p1") === p1Before)
    assert(files(dir, "partition_value=p3") === p3Before)
    // p2 lost its only row to the merge -> the stale partition dir is gone
    assert(!new java.io.File(s"$dir/partition_value=p2").exists())
    // no staging leftovers
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("deleteFromPartitionedPath forgets keys, drops emptied partitions, leaves the rest byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("pdelete").toString + "/t"
    val t0 = Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3"))
      .toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    val p3Before = files(dir, "partition_value=p3")

    // forget id=1 (p1 keeps id=2) and id=3 (p2 empties out entirely)
    MergeUpsert.deleteFromPartitionedPath(spark, dir,
      Seq(1, 3).toDF("id"), Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(got === Seq((2, "b", "p1"), (4, "d", "p3")))
    assert(!new java.io.File(s"$dir/partition_value=p2").exists(),
      "a partition whose every row was forgotten is dropped")
    assert(files(dir, "partition_value=p3") === p3Before,
      "partitions holding no forgotten key stay byte-identical")

    // deleting keys that don't exist is a true no-op (p3 untouched again)
    MergeUpsert.deleteFromPartitionedPath(spark, dir,
      Seq(99).toDF("id"), Seq("id"))
    assert(files(dir, "partition_value=p3") === p3Before)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("deleting every row removes the table cleanly; the path stays usable") {
    val dir = java.nio.file.Files.createTempDirectory("pdeleteall").toString + "/t"
    val t0 = Seq((1, "a", "p1"), (2, "b", "p2")).toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    MergeUpsert.deleteFromPartitionedPath(spark, dir,
      Seq(1, 2).toDF("id"), Seq("id"))
    // the husk is gone: the table reads as absent, not as an unreadable dir
    assert(!new java.io.File(dir).exists())
    // the path is immediately reusable by merge and delete alike
    MergeUpsert.deleteFromPartitionedPath(spark, dir,
      Seq(9).toDF("id"), Seq("id")) // no-op on a missing table
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("deleteFromPartitionedPath propagates a forget through the streaming LSH index layout") {
    val base = java.nio.file.Files.createTempDirectory("forget_idx").toString
    val idx = s"$base/idx"
    // two ingest epochs of signature rows, as nearDupIngest lays them out
    for ((epoch, ids) <- Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L))) {
      graft.llm.Dedup.lshIndexRows(
          ids.map(i => (i, s"doc number $i with some shared words " * 3))
            .toDF("doc_id", "text"))
        .withColumn("ingest_batch", lit(epoch))
        .write.mode("append").partitionBy("ingest_batch").parquet(idx)
    }
    MergeUpsert.deleteFromPartitionedPath(spark, idx,
      Seq(2L).toDF("doc_id"), Seq("doc_id"), partitionCol = "ingest_batch")
    val left = spark.read.parquet(idx).select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(left === Set(1L, 3L), "doc 2's signatures are forgotten everywhere")
  }

  test("insert-only source into an existing partition keeps resident rows") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge3").toString + "/t"
    val t0 = Seq((1, "a", "p1"), (2, "b", "p1")).toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    // source has NO matched keys but lands in the existing p1
    val src = Seq((9, "Z", "p1")).toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(got === Seq((1, "a", "p1"), (2, "b", "p1"), (9, "Z", "p1")))
  }

  test("null partition values merge without losing resident rows") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge4").toString + "/t"
    val t0 = Seq((1, "a", Some("p1")), (2, "b", None), (3, "c", None))
      .toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    // replace id=2 inside the null partition; id=3 must survive there
    val src = Seq((2, "B", Option.empty[String])).toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(got === Seq((1, "a", Some("p1")), (2, "B", None), (3, "c", None)))
  }

  // ----------------------------------------------------- crash recovery

  private case class SimulatedCrash(at: String) extends RuntimeException(at)

  /** Hook that dies the first time it sees rename kind `kind`. */
  private def crashOn(kind: String): (String, String) => Unit =
    (k, name) => if (k == kind) throw SimulatedCrash(s"$k $name")

  private def seed(dir: String): Unit =
    MergeUpsert.intoPartitionedPath(spark, dir,
      Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3"))
        .toDF("id", "v", "partition_value"), Seq("id"))

  private def merged = Seq((1, "a", "p1"), (2, "B", "p4"), (3, "c", "p3"),
    (4, "D", "p4"))

  private def src = Seq((2, "B", "p4"), (4, "D", "p4"))
    .toDF("id", "v", "partition_value")

  private def readAll(dir: String) = spark.read.parquet(dir).orderBy("id")
    .as[(Int, String, String)].collect().toSeq

  test("crash BEFORE the manifest commit leaves the target untouched") {
    val dir = java.nio.file.Files.createTempDirectory("crash1").toString + "/t"
    seed(dir)
    intercept[SimulatedCrash] {
      MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"),
        "partition_value", crashOn("manifest"), reinsertSource = true)
    }
    // torn state on disk: staging exists, no manifest -> uncommitted
    MergeUpsert.recoverTornMerge(spark, dir)
    assert(readAll(dir) === Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("crash between the aside and swap-in renames loses nothing") {
    val dir = java.nio.file.Files.createTempDirectory("crash2").toString + "/t"
    seed(dir)
    // p2's only row is replaced into p4: p2 is a drop, p4 a fresh swap.
    // Add a same-partition replace so a swap has a live predecessor to
    // move aside: id=1 rewritten in p1.
    val s = Seq((1, "A", "p1"), (2, "B", "p4"), (4, "D", "p4"))
      .toDF("id", "v", "partition_value")
    intercept[SimulatedCrash] {
      MergeUpsert.intoPartitionedPath(spark, dir, s, Seq("id"),
        "partition_value", crashOn("swap-in"), reinsertSource = true)
    }
    // p1 is mid-swap: live copy in trash, replacement still staged.
    // Recovery must roll the COMMITTED merge forward, not lose p1.
    MergeUpsert.recoverTornMerge(spark, dir)
    assert(readAll(dir) ===
      Seq((1, "A", "p1"), (2, "B", "p4"), (3, "c", "p3"), (4, "D", "p4")))
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("a torn non-atomic aside rename (live AND trash both present) replays clean") {
    val dir = java.nio.file.Files.createTempDirectory("crash4").toString + "/t"
    seed(dir)
    val s = Seq((1, "A", "p1")).toDF("id", "v", "partition_value")
    intercept[SimulatedCrash] {
      MergeUpsert.intoPartitionedPath(spark, dir, s, Seq("id"),
        "partition_value", crashOn("swap-in"), reinsertSource = true)
    }
    // simulate an object-store copy-then-delete rename dying after the
    // copy: the live dir reappears while its trash copy also exists
    val live = new java.io.File(s"$dir/partition_value=p1")
    val trashed = new java.io.File(s"${dir}__merge_trash/partition_value=p1")
    assert(trashed.exists() && !live.exists())
    org.apache.commons.io.FileUtils.copyDirectory(trashed, live)
    assert(trashed.exists() && live.exists())
    // replay must clear the trash leftover and finish, not wedge on the
    // existing rename destination
    MergeUpsert.recoverTornMerge(spark, dir)
    assert(readAll(dir) === Seq((1, "A", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("crash during the stale-partition drop rolls forward on the next merge") {
    val dir = java.nio.file.Files.createTempDirectory("crash3").toString + "/t"
    seed(dir)
    intercept[SimulatedCrash] {
      MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"),
        "partition_value", crashOn("drop-aside"), reinsertSource = true)
    }
    // NO manual recovery: the next merge call must self-heal first.
    // id=3 moves p3 -> p1 in this second merge.
    MergeUpsert.intoPartitionedPath(spark, dir,
      Seq((3, "C", "p1")).toDF("id", "v", "partition_value"), Seq("id"))
    assert(readAll(dir) ===
      Seq((1, "a", "p1"), (2, "B", "p4"), (3, "C", "p1"), (4, "D", "p4")))
    assert(!new java.io.File(s"$dir/partition_value=p2").exists())
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("stale pre-crash staging dirs never leak into a later merge") {
    val dir = java.nio.file.Files.createTempDirectory("crash4").toString + "/t"
    seed(dir)
    // leftover staging from a crashed run of some OTHER source: a bogus
    // partition that must never be swapped into the target (the dynamic
    // partition-overwrite staging write would otherwise keep it)
    val bogus = new java.io.File(s"${dir}__merge_staging/partition_value=poison")
    assert(bogus.mkdirs())
    MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"))
    assert(readAll(dir) === merged)
    assert(!new java.io.File(s"$dir/partition_value=poison").exists())
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("intoPath recovers a swap torn between its two renames") {
    val dir = java.nio.file.Files.createTempDirectory("crash5").toString + "/t"
    MergeUpsert.intoPath(spark, dir, target, Seq("id"))
    // simulate the torn state: staged write complete, target renamed
    // aside, crash before staging renamed in
    val f = new java.io.File(dir)
    val staged = MergeUpsert(spark.read.parquet(dir), source, Seq("id"))
    staged.write.parquet(dir + "__staging")
    assert(f.renameTo(new java.io.File(dir + "__old")))
    // next merge self-heals: rolls the staged swap forward, then applies
    MergeUpsert.intoPath(spark, dir,
      Seq((5, "e")).toDF("id", "v"), Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "B"), (3, "c"), (4, "D"), (5, "e")))
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("intoPartitionedPath keeps survivors inside a touched partition") {
    val dir = java.nio.file.Files.createTempDirectory("pmerge2").toString + "/t"
    val t0 = Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))
      .toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, t0, Seq("id"))
    val p2Before = files(dir, "partition_value=p2")
    // replace id=2 in place (stays in p1); id=1 must survive in p1
    val src = Seq((2, "B", "p1")).toDF("id", "v", "partition_value")
    MergeUpsert.intoPartitionedPath(spark, dir, src, Seq("id"))
    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Int, String, String)].collect().toSeq
    assert(got === Seq((1, "a", "p1"), (2, "B", "p1"), (3, "c", "p2")))
    assert(files(dir, "partition_value=p2") === p2Before)
  }

  // ------------------------------------------------- evaluate-once

  /** `frame` with its `id` column passed through a UDF that counts every
    * evaluation in `acc`. The UDF wraps the key, so no plan can prune it
    * away; the repartition keeps the optimizer from folding it into a
    * driver-side local relation. */
  private def counted(frame: org.apache.spark.sql.DataFrame,
                      acc: org.apache.spark.util.LongAccumulator) = {
    val seen = udf { (id: Int) => acc.add(1); id }
    frame.repartition(2).withColumn("id", seen(col("id")))
  }

  test("a partition-scoped merge evaluates its source exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("once1").toString + "/t"
    seed(dir)
    val acc = spark.sparkContext.longAccumulator("merge-source-rows")
    MergeUpsert.intoPartitionedPath(spark, dir, counted(src, acc), Seq("id"))
    assert(acc.value == 2, "each source row is evaluated once")
    assert(readAll(dir) === merged)
  }

  test("a partition-scoped delete evaluates its keys exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("once2").toString + "/t"
    seed(dir)
    val acc = spark.sparkContext.longAccumulator("delete-key-rows")
    MergeUpsert.deleteFromPartitionedPath(spark, dir,
      counted(Seq(1, 3, 99).toDF("id"), acc), Seq("id"))
    assert(acc.value == 3, "each key row is evaluated once")
    assert(readAll(dir) === Seq((2, "b", "p2")))
  }
}
