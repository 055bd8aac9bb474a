package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.TestSpark

/** Scale-infrastructure operators: salted skew join, bucketed
  * co-located join, small-file compaction.
  */
class ScaleOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join == plain join, hot key spread over salt partitions") {
    // one whale key (90% of rows) + a long tail
    val big = ((1 to 900).map(i => (42L, s"row$i")) ++
      (1 to 100).map(i => (i.toLong + 100, s"tail$i"))).toDF("k", "payload")
    val small = Seq((42L, "whale"), (101L, "fish"), (999L, "nobody"))
      .toDF("k", "label")

    val plain = big.join(small, Seq("k")).select("k", "payload", "label")
    val salted = SkewJoin.saltedJoin(big, small, "k", salt = 8)
      .select("k", "payload", "label")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)

    // left join keeps unmatched big rows exactly once
    val plainL = big.join(small, Seq("k"), "left")
    val saltedL = SkewJoin.saltedJoin(big, small, "k", salt = 8, "left")
    assert(saltedL.count() === plainL.count())

    // the whale's rows actually carry multiple salt values — even when
    // the rows are BYTE-IDENTICAL duplicates (a content hash would
    // collapse them onto one salt and keep the hot partition)
    val dupWhale = (1 to 800).map(_ => (42L, "same")).toDF("k", "payload")
    val salts = dupWhale.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(8L)))
      .select("__salt").distinct().count()
    assert(salts == 8)
    val dupJoined = SkewJoin.saltedJoin(dupWhale, small, "k", salt = 8)
    assert(dupJoined.count() === 800)
  }

  test("overlap join == naive overlap at every width, each pair exactly once") {
    val a = Seq((1L, 0L, 10L), (2L, 5L, 5L), (3L, 50L, 90L), (4L, 90L, 120L),
      (5L, -20L, -1L)).toDF("aid", "a_lo", "a_hi")
    val b = Seq((1L, 8L, 60L), (2L, 200L, 300L), (3L, 0L, 1000L),
      (4L, -5L, 3L)).toDF("bid", "b_lo", "b_hi")
    val naive = a.crossJoin(b)
      .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (w <- Seq(1L, 7L, 32L, 1000L)) {
      // Seq (not Set) comparison: the first-shared-bucket rule must
      // emit each overlapping pair EXACTLY once at every width
      val got = RangeJoin.overlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", w)
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got === naive, s"width $w")
    }
  }

  test("bucketed co-located join has no shuffle exchange") {
    val n = 1000
    val orders = (1 to n).map(i => (i.toLong, s"o$i")).toDF("k", "o")
    val items = (1 to n).flatMap(i => Seq((i.toLong, s"i${i}a"), (i.toLong, s"i${i}b")))
      .toDF("k", "item")
    Bucketing.writeBucketed(orders, "b_orders", "k", 4)
    Bucketing.writeBucketed(items, "b_items", "k", 4)
    try {
      val joined = Bucketing.coLocatedJoin(spark, "b_orders", "b_items", "k")
      assert(joined.count() === 2L * n)
      joined.collect()
      val plan = (joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case o => o
      }).toString.toLowerCase
      assert(!plan.contains("exchange hashpartitioning"), s"plan:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
    }
  }

  test("compaction bounds file count, preserves content, skips healthy partitions") {
    val dir = graft.core.Fixtures.tempDir("compact").toString + "/t"
    // p1: 20 tiny files (unhealthy); p2: 2 files (healthy)
    (1 to 20).foreach { i =>
      Seq((i.toLong, "p1")).toDF("id", "partition_value")
        .write.mode("append").partitionBy("partition_value").parquet(dir)
    }
    Seq((100L, "p2"), (101L, "p2")).toDF("id", "partition_value")
      .repartition(2).write.mode("append").partitionBy("partition_value").parquet(dir)

    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val statsBefore = Compaction.partitionStats(spark, dir, "partition_value")
      .map { case (k, n, _) => k -> n }.toMap
    assert(statsBefore("partition_value=p1") === 20)

    val rewritten = Compaction.compact(spark, dir, "partition_value", maxFiles = 8)
    assert(rewritten === Seq("partition_value=p1"))

    val statsAfter = Compaction.partitionStats(spark, dir, "partition_value")
      .map { case (k, n, _) => k -> n }.toMap
    assert(statsAfter("partition_value=p1") === 1)
    assert(statsAfter("partition_value=p2") === statsBefore("partition_value=p2"))
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
  }
}
