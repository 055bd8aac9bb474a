package graft.analytics

import java.io.File
import org.apache.hadoop.fs.FileUtil
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** The registry queries that rebuild a maintained view per call (q121's
  * cube, q144's join view, q178's MV) keep it in a per-JVM temp dir, not
  * in a fixed-name dir under `java.io.tmpdir` that outlives the JVM and
  * that two JVMs over one data dir would share. */
class MaintainedViewDirsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q121, q144 and q178 leave no fixed-name dir in java.io.tmpdir") {
    val tmp = System.getProperty("java.io.tmpdir")
    val fixed = Seq("graft_incr_cube_", "graft_incr_join_", "graft_mv_lineitem_")
      .map(p => new File(tmp, p + math.abs(sf.hashCode.toLong)))
    fixed.foreach(FileUtil.fullyDelete)
    val spark = TestSpark.spark
    for (q <- Seq("q121_merge_maintained_cube", "q144_incremental_join_view",
        "q178_mv_served_rollup")) {
      // twice: each call deletes and rebuilds its view
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q)
      assert(SparkEntry.queries(q)(spark, sf).count() > 0, q)
    }
    assert(fixed.filter(_.exists).isEmpty)
  }
}
