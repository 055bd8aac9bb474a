package graft

import org.apache.spark.sql.functions._

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val spark = graft.core.GraftSession.applyConfigs(
      org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

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
      .repartition(cpus.toInt, col("o_custkey"))
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
      var walls = List.empty[Double]
      var check = 0L
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        check = q.agg(sum(xxhash64(col("c_mktsegment"), col("total"),
          col("n"), col("max_ok")))).head().getLong(0)
        walls ::= (System.nanoTime() - t0) / 1e9
      }
      (walls.sorted.apply(reps / 2), recs.get / reps, bytes.get / reps, check)
    }
    val off = run(on = false)
    val onr = run(on = true)
    require(off._4 == onr._4,
      s"A/B results diverged: hash ${off._4} vs ${onr._4}")
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"shape":"left_outer_enrich","sf":"$sfDir","reps":$reps,""" +
      s""""wall_off":${f(off._1)},"wall_on":${f(onr._1)},""" +
      s""""shuffle_recs_off":${off._2},"shuffle_recs_on":${onr._2},""" +
      s""""shuffle_bytes_off":${off._3},"shuffle_bytes_on":${onr._3},""" +
      s""""results_equal":true}""")
    spark.stop()
  }
}
