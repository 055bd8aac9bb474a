package graft.warehouse

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.core.Fixtures

/** Pointer-commit versioned table: publish/read round-trip, snapshot
  * isolation for in-flight readers, time travel, CDC diff, crash
  * (pointer-never-moved) recovery, and vacuum retention rules. Each
  * table lives in a temp dir, deleted when the test JVM exits.
  */
class VersionedTableSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot(): String =
    Fixtures.tempDir("graft-vt").resolve("tbl").toString

  test("publish assigns increasing versions; read resolves the latest") {
    val root = tmpRoot()
    assert(VersionedTable.publish(spark, root,
      Seq((1, "a"), (2, "b")).toDF("id", "v")) == 0L)
    assert(VersionedTable.publish(spark, root,
      Seq((1, "a2"), (3, "c")).toDF("id", "v")) == 1L)
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    val got = VersionedTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a2"), (3, "c")))
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
  }

  test("time travel reads an old immutable snapshot") {
    val root = tmpRoot()
    VersionedTable.publish(spark, root, Seq((1, 10)).toDF("id", "x"))
    VersionedTable.publish(spark, root, Seq((1, 99)).toDF("id", "x"))
    assert(VersionedTable.readVersion(spark, root, 0L)
      .collect()(0).getInt(1) == 10)
  }

  test("a reader that resolved v=N is unaffected by a later publish") {
    val root = tmpRoot()
    VersionedTable.publish(spark, root, Seq((1, "old")).toDF("id", "v"))
    val snapshot = VersionedTable.read(spark, root) // resolves v=0 NOW
    VersionedTable.publish(spark, root, Seq((1, "new")).toDF("id", "v"))
    assert(snapshot.collect()(0).getString(1) == "old")
    assert(VersionedTable.read(spark, root).collect()(0).getString(1) == "new")
  }

  test("a crashed publish (snapshot written, pointer never moved) is invisible") {
    val root = tmpRoot()
    VersionedTable.publish(spark, root, Seq((1, "live")).toDF("id", "v"))
    // simulate the crash: the v=1 directory lands in full, no commit
    Seq((1, "dead")).toDF("id", "v").write.parquet(s"$root/v=1")
    assert(VersionedTable.currentVersion(spark, root).contains(0L))
    assert(VersionedTable.read(spark, root).collect()(0).getString(1) == "live")
    assert(VersionedTable.versions(spark, root) == Seq(0L)) // not history
    // the next real publish refuses to clobber the orphan...
    intercept[IllegalArgumentException] {
      VersionedTable.publish(spark, root, Seq((1, "x")).toDF("id", "v"))
    }
    // ...and vacuum retires it, unblocking the writer
    VersionedTable.vacuum(spark, root, keep = 1)
    assert(VersionedTable.publish(spark, root,
      Seq((1, "x")).toDF("id", "v")) == 1L)
  }

  test("diff emits insert/update/delete by key, null-safe on values") {
    val root = tmpRoot()
    VersionedTable.publish(spark, root,
      Seq((1, Some("a")), (2, None), (3, Some("c")), (4, Some("d")))
        .toDF("id", "v"))
    VersionedTable.publish(spark, root,
      Seq((2, None), (3, Some("c3")), (4, Some("d")), (5, Some("e")))
        .toDF("id", "v"))
    val got = VersionedTable.diff(spark, root, 0L, 1L, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    // id=2 (null == null) and id=4 (equal) are unchanged and absent
    assert(got == Seq((1, "delete"), (3, "update"), (5, "insert")))
  }

  test("vacuum keeps the newest `keep` versions and the pointer stays valid") {
    val root = tmpRoot()
    (0 to 3).foreach(i =>
      VersionedTable.publish(spark, root, Seq((i, i)).toDF("id", "x")))
    VersionedTable.vacuum(spark, root, keep = 2)
    assert(VersionedTable.versions(spark, root) == Seq(2L, 3L))
    assert(VersionedTable.read(spark, root).collect()(0).getInt(0) == 3)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 0L)
    }
  }

  test("partitioned publish keeps partition pruning in the snapshot read") {
    val root = tmpRoot()
    VersionedTable.publish(spark, root,
      Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("day", "n"),
      partitionCols = Seq("day"))
    val df = VersionedTable.read(spark, root).filter(col("day") === "2024-01-02")
    assert(df.collect().map(_.getAs[Int]("n")).toSeq == Seq(2))
  }
}
