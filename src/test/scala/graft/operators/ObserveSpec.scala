package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** observe + listener harvesting: metrics ride the materializing
  * action (no second scan), values match an independent recompute,
  * and post-observation filters do not distort the observed point. */
class ObserveSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("metrics ride the write action and match an independent recompute") {
    val h = new Observe.Harvester(spark)
    try {
      val df = (1L to 1000L).map(i => (i, if (i % 7 == 0) null else s"v$i"))
        .toDF("id", "payload")
      val audited = Observe.audited(df, "ingest_audit",
        count(lit(1)).as("n_rows"),
        sum(when(col("payload").isNull, 1L).otherwise(0L)).as("n_null_payload"),
        max(col("id")).as("max_id"))
      val out = graft.core.Fixtures.tempDir("graft_observe").toString
      audited.write.mode("overwrite").parquet(out)
      val row = h.await("ingest_audit").getOrElse(fail("no observation arrived"))
      assert(row.getAs[Long]("n_rows") === 1000L)
      assert(row.getAs[Long]("n_null_payload") === 1000L / 7)
      assert(row.getAs[Long]("max_id") === 1000L)
      // the write itself saw every row (metrics cost no extra scan)
      assert(spark.read.parquet(out).count() === 1000L)
    } finally h.detach()
  }

  test("observation point is position-sensitive: downstream filters don't rewind it") {
    val h = new Observe.Harvester(spark)
    try {
      val df = (1L to 100L).toDF("id")
      val audited = Observe.audited(df, "pre_filter", count(lit(1)).as("n"))
        .filter(col("id") <= 10)
      assert(audited.count() === 10L)
      val row = h.await("pre_filter").getOrElse(fail("no observation arrived"))
      // observed BEFORE the filter: all 100 rows counted
      assert(row.getAs[Long]("n") === 100L)
    } finally h.detach()
  }
}
