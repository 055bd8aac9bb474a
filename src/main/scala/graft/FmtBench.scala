package graft

import org.apache.spark.sql.SparkSession

/** Focused at-rest-format A/B: the SAME lineitem rows as gzip
  * line-JSON vs zstd parquet twins under one catalog, each scan shape
  * timed with a warmup + `SPARK_GRAFT_BENCH_REPS` (default 5) reps,
  * MEDIANS reported — the single-shot MaintBench `fmt_*` rows bounce
  * with page-cache/JIT state, this is the reliable comparison (and the
  * measure of the round-15 vectorized parquet read path, which arms on
  * exactly these filter-free scans). One JSON line, Bench's shape. */
object FmtBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val nShards = sys.env.getOrElse("SPARK_GRAFT_MAINT_SHARDS", "32").toInt
    val spark = graft.core.GraftSession.applyConfigs(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = spark.newSession()
    c.conf.set("spark.sql.catalog.fb", "graft.sources.dsv2.GraftCatalog")
    c.conf.set("spark.sql.catalog.fb.root",
      graft.core.Fixtures.tempDir("graft-fmtbench").toString)
    c.sql("CREATE NAMESPACE fb.m")
    for (fmt <- Seq("jsonl", "parquet"))
      c.sql(
        s"""CREATE TABLE fb.m.li_$fmt
           |TBLPROPERTIES ('graft.format'='$fmt') AS
           |SELECT /*+ REPARTITION($nShards) */ *
           |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    // MOR-deleted twins (~1% of rows hidden by position sidecars): the
    // round-16 mask path must keep the vectorized win on mutating
    // corpora instead of falling back to the row reader
    for (fmt <- Seq("jsonl", "parquet")) {
      c.sql(
        s"""CREATE TABLE fb.m.lid_$fmt
           |TBLPROPERTIES ('graft.format'='$fmt',
           |  'graft.row-level.mode'='merge-on-read') AS
           |SELECT /*+ REPARTITION($nShards) */ *
           |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
      c.sql(s"DELETE FROM fb.m.lid_$fmt WHERE l_orderkey % 100 = 3")
    }
    val shapes: Seq[(String, String => String)] = Seq(
      "full_agg" -> (t =>
        s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
           |  sum(l_extendedprice), avg(l_discount), max(l_shipdate)
           |FROM $t GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "2col_projection" -> (t =>
        s"SELECT sum(l_extendedprice * (1 - l_discount)) FROM $t"),
      "filtered" -> (t =>
        s"SELECT count(*), sum(l_quantity) FROM $t WHERE l_returnflag = 'A'"))
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((shape, q) <- shapes; fmt <- Seq("jsonl", "parquet")) {
      val sqlText = q(s"fb.m.li_$fmt")
      c.sql(sqlText).collect() // warmup
      val runs = (1 to reps).map { _ =>
        System.gc(); Thread.sleep(50L)
        val t0 = System.nanoTime()
        c.sql(sqlText).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      timings(s"${shape}_$fmt") =
        math.rint(runs(runs.size / 2) * 1000) / 1e3
    }
    // the deleted twins: full-scan aggregate over masked batches
    for (fmt <- Seq("jsonl", "parquet")) {
      val sqlText =
        s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
           |  sum(l_extendedprice) FROM fb.m.lid_$fmt
           |GROUP BY l_returnflag, l_linestatus""".stripMargin
      c.sql(sqlText).collect() // warmup
      val runs = (1 to reps).map { _ =>
        System.gc(); Thread.sleep(50L)
        val t0 = System.nanoTime()
        c.sql(sqlText).collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      timings(s"deleted1pct_agg_$fmt") =
        math.rint(runs(runs.size / 2) * 1000) / 1e3
    }
    // WRITE-path A/B (round-16, graft.parquet.compression/level): the
    // same lineitem rows inserted into fresh tables per codec variant,
    // timed per rep (table dropped + recreated between reps so every
    // rep pays the full write), bytes-at-rest recorded from the last
    // rep. Profiles the CTAS tax: jsonl-gzip vs parquet zstd(default 3)
    // vs zstd level 1 vs snappy.
    val writeVariants: Seq[(String, String)] = Seq(
      "write_jsonl" -> "'graft.format'='jsonl'",
      "write_parquet_zstd" -> "'graft.format'='parquet'",
      "write_parquet_zstd1" ->
        ("'graft.format'='parquet', 'graft.parquet.compression'='zstd', " +
          "'graft.parquet.compression.level'='1'"),
      "write_parquet_snappy" ->
        "'graft.format'='parquet', 'graft.parquet.compression'='snappy'")
    val bytes = scala.collection.mutable.LinkedHashMap[String, Long]()
    for ((name, props) <- writeVariants) {
      val runs = (1 to reps).map { i =>
        c.sql(s"DROP TABLE IF EXISTS fb.m.w_$name")
        c.sql(s"CREATE TABLE fb.m.w_$name TBLPROPERTIES ($props) AS " +
          s"SELECT /*+ REPARTITION($nShards) */ * " +
          s"FROM parquet.`$sfDir/lineitem.parquet` LIMIT 0")
        System.gc(); Thread.sleep(50L)
        val t0 = System.nanoTime()
        c.sql(s"INSERT INTO fb.m.w_$name SELECT /*+ REPARTITION($nShards) */ *" +
          s" FROM parquet.`$sfDir/lineitem.parquet`")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      timings(name) = math.rint(runs(runs.size / 2) * 1000) / 1e3
      val dir = new java.io.File(
        c.conf.get("spark.sql.catalog.fb.root") + s"/m/w_$name")
      def walk(f: java.io.File): Long =
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
        else if (f.isDirectory) f.listFiles().map(walk).sum
        else f.length()
      bytes(s"bytes_$name") = walk(dir)
    }
    val qjson = timings.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val bjson = bytes.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"fmt_ab","unit":"sec","queries":{$qjson},""" +
      s""""bytes":{$bjson},"reps":$reps,"shards":$nShards,"sf":"$sfDir"}""")
    spark.stop()
  }
}
