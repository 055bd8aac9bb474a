package graft

import org.apache.spark.sql.functions.col
import graft.perf.Harness
import graft.perf.Harness.Json.{num, str}

/** A/B micro-harness for the eager-aggregation rewrites: wall +
  * SHUFFLE-WRITE volume (records/bytes via task-metrics listener) with
  * the rule off vs on, plus a result-hash equality witness. The
  * shuffle volume is the quantity that matters at 100 TB (the network
  * is the cost driver; local shuffles are memory-speed), which is why
  * the committed evidence rows lead with it rather than wall-clock.
  *
  * Round-17 shape: the LEFT-OUTER enrichment aggregate (orders ⟕
  * filtered customer — the reference's J5 shape writ large) over a
  * key-clustered fact, external-parquet uniqueness channel
  * ([[graft.operators.CatalogStats.verifyUnique]]), broadcast disabled
  * (the at-scale posture). Run ad hoc:
  *
  * {{{ SPARK_GRAFT_SF_DIR=target/sf1 SPARK_GRAFT_CPUS=32 sbt "runMain graft.EagerAbBench" }}}
  */
object EagerAbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val spark = Harness.session(defaultCpus = 32, logLevel = "ERROR")

    val recs = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
      })

    // key-clustered fact (the external-parquet analogue of
    // graft.write.order): map-side combine is what converts the
    // pre-aggregation into shuffle-volume savings
    val tmp = graft.core.Fixtures.tempDir("graft-eagerab").toString
    spark.read.parquet(s"$sfDir/orders.parquet")
      .repartition(spark.sparkContext.defaultParallelism, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/oc.parquet")
    graft.operators.CatalogStats.verifyUnique(
      spark, s"$sfDir/customer.parquet", Seq("c_custkey"))

    def q = {
      spark.read.parquet(s"$tmp/oc.parquet").createOrReplaceTempView("oc")
      spark.read.parquet(s"$sfDir/customer.parquet")
        .createOrReplaceTempView("customer")
      spark.sql(
        """SELECT c_mktsegment,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
          |  COUNT(*) AS n, MAX(o_orderkey) AS max_ok
          |FROM oc LEFT JOIN
          |  (SELECT c_custkey, c_mktsegment FROM customer
          |   WHERE c_custkey % 3 <> 1) d
          |  ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin)
    }

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def run(on: Boolean): (Double, Long, Long, Long) = {
      spark.conf.set("spark.graft.eagerAgg.enabled", on.toString)
      q.collect() // warmup (codegen + page cache), outside the counters
      recs.set(0); bytes.set(0)
      var check = 0L
      val wall = Harness.timeReps(reps) {
        check = Harness.hashSink(q).head().getLong(0)
      }
      (wall.median, recs.get / reps, bytes.get / reps, check)
    }
    val off = run(on = false)
    val onr = run(on = true)
    require(off._4 == onr._4,
      s"A/B results diverged: hash ${off._4} vs ${onr._4}")
    println(s"""{"shape":"left_outer_enrich","sf":${str(sfDir)},"reps":$reps,""" +
      s""""wall_off":${num(off._1)},"wall_on":${num(onr._1)},""" +
      s""""shuffle_recs_off":${off._2},"shuffle_recs_on":${onr._2},""" +
      s""""shuffle_bytes_off":${off._3},"shuffle_bytes_on":${onr._3},""" +
      s""""results_equal":true}""")
    spark.stop()
  }
}
