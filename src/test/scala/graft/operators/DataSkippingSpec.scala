package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.core.Fixtures

/** File-level min/max skipping: pruned read touches strictly fewer
  * files on a clustered layout, results equal the full filtered scan,
  * and stale-index additions stay correct (read unconditionally).
  */
class DataSkippingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pruned probe reads fewer files, same rows, on a sorted layout") {
    val path = Fixtures.tempDir("skip").resolve("t").toString
    // 10 files, each covering a disjoint 100-value range of k
    (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "s")
      .repartitionByRange(10, col("k")).sortWithinPartitions("k")
      .write.parquet(path)
    DataSkipping.writeIndex(spark, path, Seq("k"))

    val pruned = DataSkipping.readPruned(spark, path, "k", 250L, 260L)
    val full = spark.read.parquet(path).filter(col("k").between(250, 260))
    assert(pruned.inputFiles.length < spark.read.parquet(path).inputFiles.length,
      "probe must not open every file")
    assert(pruned.inputFiles.length <= 2)
    assert(pruned.orderBy("k").collect().toSeq ==
      full.orderBy("k").collect().toSeq)
  }

  test("files appended after indexing are read unconditionally (stale-safe)") {
    val path = Fixtures.tempDir("skip2").resolve("t").toString
    (0L until 100L).map(i => (i, "old")).toDF("k", "s").coalesce(1)
      .write.parquet(path)
    DataSkipping.writeIndex(spark, path, Seq("k"))
    // append a file the index has never seen, holding in-range rows
    Seq((50L, "new")).toDF("k", "s").coalesce(1)
      .write.mode("append").parquet(path)
    val got = DataSkipping.readPruned(spark, path, "k", 50L, 50L)
      .select("s").as[String].collect().sorted.toSeq
    assert(got == Seq("new", "old"))
  }

  test("fully out-of-range probe returns an empty frame with the schema") {
    val path = Fixtures.tempDir("skip3").resolve("t").toString
    (0L until 100L).map(i => (i, "x")).toDF("k", "s").coalesce(1)
      .write.parquet(path)
    DataSkipping.writeIndex(spark, path, Seq("k"))
    val got = DataSkipping.readPruned(spark, path, "k", 5000L, 6000L)
    assert(got.columns.toSeq == Seq("k", "s"))
    assert(got.count() == 0)
  }

  test("the consult is a distributed join; only the pruned path list is its output") {
    val path = Fixtures.tempDir("skip5").resolve("t").toString
    (0L until 1000L).map(i => (i, s"r$i")).toDF("k", "s")
      .repartitionByRange(10, col("k")).sortWithinPartitions("k")
      .write.parquet(path)
    DataSkipping.writeIndex(spark, path, Seq("k"))
    val consult = DataSkipping.prunedFiles(spark, path, "k", 250L, 260L)
    // the index is consulted via a JOIN in the plan — it is never
    // collected to the driver; the only collected relation is this
    // frame's (pruned, selective) output
    val plan = consult.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("join"), s"plan:\n$plan")
    val files = consult.collect().map(_.getString(0))
    assert(files.length <= 2 && files.nonEmpty)
    assert(files.forall(_.endsWith(".parquet")))
    // consult output == exactly what readPruned opens
    assert(DataSkipping.readPruned(spark, path, "k", 250L, 260L)
      .inputFiles.sorted.toSeq === files.sorted.toSeq)
  }

  test("bloom tier: point lookup opens only admitting files; absent key opens none") {
    val path = Fixtures.tempDir("skipb").resolve("t").toString
    // 8 files hash-scattered on k — every file's k range spans the key
    // space, so min/max skipping could never prune a k-probe
    (0L until 4000L).map(i => (i, i % 8, s"r$i")).toDF("k", "g", "s")
      .repartition(8, col("k"))
      .write.parquet(path)
    DataSkipping.writeBloomIndex(spark, path, "k",
      expectedItems = 1L << 10, numBits = 1L << 14)
    val total = spark.read.parquet(path).inputFiles.length
    assert(total == 8)
    // stats tier genuinely can't help on this layout
    DataSkipping.writeIndex(spark, path, Seq("k"))
    assert(DataSkipping.readPruned(spark, path, "k", 1234L, 1234L)
      .inputFiles.length == total)
    // a present key: its one file (plus at most a false positive or two)
    val hit = DataSkipping.readPrunedByKey(spark, path, "k", 1234L)
    assert(hit.inputFiles.length < total)
    assert(hit.select("s").as[String].collect().toSeq == Seq("r1234"))
    // an absent key: every bloom rejects -> zero file opens, empty result
    val miss = DataSkipping.readPrunedByKey(spark, path, "k", 999999L)
    assert(miss.inputFiles.isEmpty)
    assert(miss.count() == 0)
    assert(miss.schema == hit.schema)
  }

  test("bloom tier is stale-safe: unseen files are always probed") {
    val path = Fixtures.tempDir("skipb2").resolve("t").toString
    (0L until 100L).map(i => (i, "old")).toDF("k", "s").coalesce(1)
      .write.parquet(path)
    DataSkipping.writeBloomIndex(spark, path, "k",
      expectedItems = 1L << 10, numBits = 1L << 14)
    Seq((1000L, "new")).toDF("k", "s").coalesce(1)
      .write.mode("append").parquet(path)
    // key only in the post-index file: conservatively read
    val got = DataSkipping.readPrunedByKey(spark, path, "k", 1000L)
      .select("s").as[String].collect().toSeq
    assert(got == Seq("new"))
  }

  test("index rebuild via versioned publish is atomic history") {
    val path = Fixtures.tempDir("skip4").resolve("t").toString
    (0L until 10L).map(i => (i, "x")).toDF("k", "s").coalesce(1)
      .write.parquet(path)
    DataSkipping.writeIndex(spark, path, Seq("k"))
    DataSkipping.writeIndex(spark, path, Seq("k"))
    assert(graft.warehouse.VersionedTable
      .currentVersion(spark, path + "__stats").contains(1L))
  }
}
