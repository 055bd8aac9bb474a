package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Storage-partitioned joins through the `graft-jsonl` connector:
  * `.option("spj", true)` makes the scan report its hive layout as a
  * KeyGroupedPartitioning (per-shard HasPartitionKey rows), and under
  * `spark.sql.sources.v2.bucketing.enabled` Spark plans joins and
  * aggregations keyed on the partition column with NO exchange on the
  * reported side. The option is per-read because key-grouping
  * coalesces each partition value into one task — what a co-located
  * join wants, a parallelism loss for plain scans. */
class JsonlSpjSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root: String = {
    val r = graft.core.Fixtures.tempDir("graft-spj-spec").toString
    val facts = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "en", 30L), (4L, "en", 40L),
      (5L, "de", 5L), (6L, "de", 15L), (7L, "fr", 7L), (8L, "fr", 9L))
      .toDF("id", "lang", "v")
    // several shards per lang dir: grouping must coalesce them
    JsonlCorpus.write(facts.repartition(3), s"$r/facts",
      partitionCol = Some("lang"), compression = "none")
    val dims = Seq(("en", 2L), ("de", 3L), ("fr", 5L)).toDF("lang", "mult")
    JsonlCorpus.write(dims, s"$r/dims",
      partitionCol = Some("lang"), compression = "none")
    r
  }

  private def factSchema = "id long, lang string, v long"
  private def dimSchema = "lang string, mult long"

  private def readFacts(spj: Boolean) =
    spark.read.format("graft-jsonl").schema(factSchema)
      .option("spj", spj.toString).load(s"$root/facts")
  private def readDims(spj: Boolean) =
    spark.read.format("graft-jsonl").schema(dimSchema)
      .option("spj", spj.toString).load(s"$root/dims")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("co-partitioned merge join plans with zero hash exchanges and is correct") {
    val joined = readFacts(spj = true).hint("merge")
      .join(readDims(spj = true), Seq("lang"))
      .select(col("lang"), (col("v") * col("mult")).as("scaled"))
      .orderBy("lang", "scaled")
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = Seq("de" -> 15L, "de" -> 45L, "en" -> 20L, "en" -> 40L,
      "en" -> 60L, "en" -> 80L, "fr" -> 35L, "fr" -> 45L)
    assert(got == want)
  }

  test("without the spj option the same merge join shuffles both sides") {
    val joined = readFacts(spj = false).hint("merge")
      .join(readDims(spj = false), Seq("lang"))
      .select(col("lang"), col("v"))
    assert(planOf(joined).contains("Exchange hashpartitioning"))
  }

  test("key grouping coalesces shards: one task per partition value") {
    // 3 round-robin writers x 3 langs = 9 shard files, but the
    // key-grouped scan must surface exactly |langs| partitions
    val grouped = readFacts(spj = true).hint("merge")
      .join(readDims(spj = true), Seq("lang"))
    val scans = (grouped.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.inputRDD.getNumPartitions == 3),
      scans.map(_.inputRDD.getNumPartitions).toString)
  }

  test("aggregation on the partition key runs without an exchange") {
    val agg = readFacts(spj = true)
      .groupBy("lang").agg(sum("v").as("total")).orderBy("lang")
    val plan = planOf(agg)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("de", 20L), ("en", 100L), ("fr", 16L)))
  }

  test("spj composes with pushed partition filters") {
    val joined = readFacts(spj = true).filter(col("lang") =!= "en").hint("merge")
      .join(readDims(spj = true).filter(col("lang") =!= "en"), Seq("lang"))
      .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
    val plan = planOf(joined)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("de", 2L), ("fr", 2L)))
  }

  test("reported ordering drops the merge join's sorts (Spark keeps a " +
      "sort only where grouping coalesced files)") {
    // key grouping makes every output partition single-valued on lang,
    // so the scan reports per-partition ordering on it
    // (SupportsReportOrdering). The dims side is one file per value —
    // its SortExec disappears. The facts side groups 3 files per value
    // and Spark conservatively re-sorts the concatenation (it cannot
    // know the reported order is constant within each group).
    val joined = readFacts(spj = true).hint("merge")
      .join(readDims(spj = true), Seq("lang"))
      .select(col("lang"), (col("v") * col("mult")).as("scaled"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert("Sort \\[".r.findAllIn(plan).size == 1,
      s"exactly the multi-file side may keep a local sort:\n$plan")
    val got = joined.collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val want = Seq("de" -> 15L, "de" -> 45L, "en" -> 20L, "en" -> 40L,
      "en" -> 60L, "en" -> 80L, "fr" -> 35L, "fr" -> 45L)
    assert(got == want)
  }

  test("compacted layout: co-partitioned merge join with ZERO sorts") {
    // one shard per partition value on both sides (the post-compact /
    // post-cluster_table shape) — nothing is grouped, both reported
    // orderings hold, and the join is a pure zero-shuffle zero-sort
    // merge of the co-located layouts
    val r2 = graft.core.Fixtures.tempDir("graft-spj-one").toString
    val facts1 = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (5L, "de", 5L), (7L, "fr", 7L))
      .toDF("id", "lang", "v")
    JsonlCorpus.write(facts1.coalesce(1), s"$r2/facts",
      partitionCol = Some("lang"), compression = "none")
    val dims1 = Seq(("en", 2L), ("de", 3L), ("fr", 5L)).toDF("lang", "mult")
    JsonlCorpus.write(dims1.coalesce(1), s"$r2/dims",
      partitionCol = Some("lang"), compression = "none")
    val f = spark.read.format("graft-jsonl").schema(factSchema)
      .option("spj", "true").load(s"$r2/facts")
    val d = spark.read.format("graft-jsonl").schema(dimSchema)
      .option("spj", "true").load(s"$r2/dims")
    val joined = f.hint("merge").join(d, Seq("lang"))
      .select(col("lang"), (col("v") * col("mult")).as("scaled"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Sort ["),
      s"single-file-per-value sides must plan with no sorts at all:\n$plan")
    val got = joined.collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq("de" -> 15L, "en" -> 20L, "en" -> 40L, "fr" -> 35L))
  }

  test("ordering report survives column pruning of a reported key") {
    // the scan only reports keys the read schema retains — a query
    // that prunes lang away must still plan (no unresolved sort refs)
    val df = readFacts(spj = true).select("v")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 7L, 9L, 10L, 15L, 20L, 30L, 40L))
  }

  test("flat (unpartitioned) layout never reports key grouping") {
    val flat = graft.core.Fixtures.tempDir("graft-spj-flat").toString
    Seq((1L, "en", 2L)).toDF("id", "lang", "v").write
      .json(s"$flat/t")
    val df = spark.read.format("graft-jsonl").schema(factSchema)
      .option("spj", "true").load(s"$flat/t")
      .groupBy("lang").agg(sum("v"))
    // still needs a shuffle — and, crucially, does not crash planning
    assert(df.collect().length == 1)
  }
}
