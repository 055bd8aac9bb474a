package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.core.Fixtures

/** Contract tests for [[IncrementalJoin]]: delta algebra == full
  * recompute, bag multiplicity, idempotent replay, torn-wave
  * recovery, O(Δ) appends. */
class IncrementalJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String =
    Fixtures.tempDir(s"graft_ij_spec_$tag").resolve("t").toString

  private def left(rows: (Long, String)*) = rows.toDF("k", "lv")
  private def right(rows: (Long, Long)*) = rows.toDF("k", "rv")

  test("three waves land exactly the full join, all delta terms exercised") {
    val root = freshRoot("full")
    // wave slicing chosen so left-late and right-late rows both occur:
    // k=1's right rows arrive before AND after its left row
    IncrementalJoin.mergeInto(spark, root, "w0",
      left(2L -> "b"), right(1L -> 10L), Seq("k"))
    IncrementalJoin.mergeInto(spark, root, "w1",
      left(1L -> "a"), right(2L -> 20L, 2L -> 21L), Seq("k"))
    IncrementalJoin.mergeInto(spark, root, "w2",
      left(3L -> "c"), right(1L -> 11L, 3L -> 30L), Seq("k"))
    val got = IncrementalJoin.view(spark, root).get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val full = left(1L -> "a", 2L -> "b", 3L -> "c")
      .join(right(1L -> 10L, 1L -> 11L, 2L -> 20L, 2L -> 21L, 3L -> 30L), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(got.toSeq == full.toSeq)
  }

  test("bag semantics: duplicate rows multiply like the full join") {
    val root = freshRoot("bag")
    IncrementalJoin.mergeInto(spark, root, "w0",
      left(1L -> "a", 1L -> "a"), right(1L -> 10L), Seq("k"))
    IncrementalJoin.mergeInto(spark, root, "w1",
      left(), right(1L -> 10L), Seq("k"))
    // 2 identical left rows x 2 identical right rows = 4 view rows
    assert(IncrementalJoin.view(spark, root).get.count() == 4L)
  }

  test("committed waveId replays as a no-op") {
    val root = freshRoot("replay")
    IncrementalJoin.mergeInto(spark, root, "w0",
      left(1L -> "a"), right(1L -> 10L), Seq("k"))
    val before = IncrementalJoin.view(spark, root).get.count()
    IncrementalJoin.mergeInto(spark, root, "w0",
      left(1L -> "a"), right(1L -> 10L), Seq("k")) // scheduler retry
    assert(IncrementalJoin.view(spark, root).get.count() == before)
  }

  test("torn wave (staged, never committed) is invisible and recovered") {
    val root = freshRoot("torn")
    IncrementalJoin.mergeInto(spark, root, "w0",
      left(1L -> "a"), right(1L -> 10L), Seq("k"))
    // simulate a crash after staging, before the commit rename
    val staged = new org.apache.hadoop.fs.Path(root, "_staging/w1/out")
    left(9L -> "z").write.parquet(staged.toString)
    assert(IncrementalJoin.view(spark, root).get.count() == 1L) // unseen
    // the next wave recovers the orphan and commits cleanly
    IncrementalJoin.mergeInto(spark, root, "w1",
      left(1L -> "b"), right(), Seq("k"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_staging")))
    assert(IncrementalJoin.view(spark, root).get.count() == 2L) // a+b vs 10
  }

  test("each wave appends only its delta (out batch is |delta-join|-sized)") {
    val root = freshRoot("odelta")
    IncrementalJoin.mergeInto(spark, root, "w0",
      left(1L -> "a", 2L -> "b"), right(1L -> 10L), Seq("k"))
    IncrementalJoin.mergeInto(spark, root, "w1",
      left(), right(2L -> 20L), Seq("k"))
    def batch(w: String) =
      spark.read.parquet(s"$root/waves/$w/out").count()
    assert(batch("w0") == 1L) // only k=1 matched in wave 0
    assert(batch("w1") == 1L) // only the k=2 late-right match, not a rescan
  }
}
