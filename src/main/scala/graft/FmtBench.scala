package graft

import graft.core.Fixtures
import graft.perf.Harness
import graft.perf.Harness.Json.{num, obj, str}

/** Focused at-rest-format A/B: the SAME lineitem rows as gzip
  * line-JSON vs zstd parquet twins under one catalog, each scan shape
  * timed with a warmup + `SPARK_GRAFT_BENCH_REPS` (default 5) reps,
  * MEDIANS reported — single-shot timings bounce with page-cache/JIT
  * state, this is the reliable comparison (and the measure of the
  * round-15 vectorized parquet read path, which arms on exactly these
  * filter-free scans; `pos_rows` times the row reader on both formats).
  * One JSON line, Bench's shape, with each timing's max - min spread. */
object FmtBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val nShards = sys.env.getOrElse("SPARK_GRAFT_MAINT_SHARDS", "32").toInt
    val spark = Harness.session(defaultCpus = 32)
    val lineitem = s"SELECT /*+ REPARTITION($nShards) */ * " +
      s"FROM parquet.`$sfDir/lineitem.parquet`"
    val formats = Seq("jsonl", "parquet")
    val c = Fixtures.catalogSession(spark, sfDir, "graft-fmtbench", "fb") { c =>
      c.sql("CREATE NAMESPACE fb.m")
      for (fmt <- formats) {
        c.sql(s"CREATE TABLE fb.m.li_$fmt " +
          s"TBLPROPERTIES ('graft.format'='$fmt') AS $lineitem")
        // MOR-deleted twins (~1% of rows hidden by position sidecars): the
        // round-16 mask path must keep the vectorized win on mutating
        // corpora instead of falling back to the row reader
        c.sql(s"""CREATE TABLE fb.m.lid_$fmt
                 |TBLPROPERTIES ('graft.format'='$fmt',
                 |  'graft.row-level.mode'='merge-on-read') AS $lineitem""".stripMargin)
        c.sql(s"DELETE FROM fb.m.lid_$fmt WHERE l_orderkey % 100 = 3")
      }
    }
    val shapes: Seq[(String, String => String)] = Seq(
      "full_agg" -> (fmt =>
        s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
           |  sum(l_extendedprice), avg(l_discount), max(l_shipdate)
           |FROM fb.m.li_$fmt GROUP BY l_returnflag, l_linestatus""".stripMargin),
      "2col_projection" -> (fmt =>
        s"SELECT sum(l_extendedprice * (1 - l_discount)) FROM fb.m.li_$fmt"),
      "filtered" -> (fmt =>
        s"SELECT count(*), sum(l_quantity) FROM fb.m.li_$fmt WHERE l_returnflag = 'A'"),
      // the deleted twins: full-scan aggregate over masked batches
      "deleted1pct_agg" -> (fmt =>
        s"""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
           |  sum(l_extendedprice) FROM fb.m.lid_$fmt
           |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      // a `_pos` projection disarms the vectorized decode: both formats
      // time the shard row reader
      "pos_rows" -> (fmt =>
        s"SELECT sum(l_quantity), max(_pos) FROM fb.m.li_$fmt"))
    val timings = scala.collection.mutable.LinkedHashMap[String, Harness.Reps]()
    for ((shape, q) <- shapes; fmt <- formats) {
      c.sql(q(fmt)).collect() // warmup
      timings(s"${shape}_$fmt") = Harness.timeReps(reps)(c.sql(q(fmt)).collect())
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
      timings(name) = Harness.timeReps(reps, setup = {
        c.sql(s"DROP TABLE IF EXISTS fb.m.w_$name")
        c.sql(s"CREATE TABLE fb.m.w_$name TBLPROPERTIES ($props) AS $lineitem LIMIT 0")
      })(c.sql(s"INSERT INTO fb.m.w_$name $lineitem"))
      def walk(f: java.io.File): Long =
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
        else if (f.isDirectory) f.listFiles().map(walk).sum
        else f.length()
      bytes(s"bytes_$name") = walk(new java.io.File(
        c.conf.get("spark.sql.catalog.fb.root") + s"/m/w_$name"))
    }
    println(s"""{"metric":"fmt_ab","unit":"sec",""" +
      s""""queries":${obj(timings.map { case (k, v) => k -> num(v.median) })},""" +
      s""""spread":${obj(timings.map { case (k, v) => k -> num(v.max - v.min) })},""" +
      s""""bytes":${obj(bytes.map { case (k, v) => k -> v.toString })},""" +
      s""""reps":$reps,"shards":$nShards,"sf":${str(sfDir)}}""")
    spark.stop()
  }
}
