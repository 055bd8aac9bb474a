package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[Tables.load]] over a table dir that Spark itself wrote. */
class TablesSpec extends AnyFunSuite {

  test("a Spark-written table dir with a hidden stray file loads and counts") {
    val spark = TestSpark.spark
    val dir = Fixtures.tempDir("graft-tables").toString
    // one file, one row group, 3000 rows: below the session's cores and
    // above the repair's row floor, so the load reads the footers
    spark.range(3000).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    // Spark's `.part-*.crc` sidecars are hidden by Hadoop's checksum
    // file system; any other hidden file (an editor's swap file, an
    // upload tool's in-progress part) is listed, and Spark's own file
    // index skips it
    Files.write(Paths.get(s"$dir/t.parquet/.part-00000.parquet.swp"),
      "not parquet".getBytes("UTF-8"))
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 3000L)
    assert(Tables.load(spark, dir, "t").count() == 3000L)
  }
}
