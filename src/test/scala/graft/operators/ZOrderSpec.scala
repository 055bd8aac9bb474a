package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Z-order layout quality: the point is parquet min/max pruning on
  * EVERY participating column, so the assertion is on the actual
  * per-file min/max spread (what row-group skipping uses) — not on the
  * z-value formula. */
class ZOrderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic pseudo-uniform 2D points: two md5-derived coordinates
  private def points = spark.range(20000).select(
    col("id"),
    (conv(substring(md5(concat(lit("a"), col("id"))), 1, 6), 16, 10)
      .cast("long") % 10000).as("a"),
    (conv(substring(md5(concat(lit("b"), col("id"))), 1, 6), 16, 10)
      .cast("long") % 10000).as("b"))

  /** Per-parquet-file (min, max) of `c` — what footer pruning sees,
    * read from the FOOTER STATISTICS directly (a Spark job per file ×
    * 64 files × 2 columns dominated this suite's wall-clock; the
    * footer read is also the more faithful witness — it IS what
    * min/max pruning consults). */
  private def fileRanges(dir: String, c: String): Seq[(Long, Long)] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val (_, stats) = org.apache.spark.sql.graftbridge.ParquetShardIO
          .footerAgg(new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sessionState.newHadoopConf(), Seq(c))
          .getOrElse(fail(s"no footer stats for ${f.getName}"))
        val (mn, mx) = stats(c)
        (mn.asInstanceOf[Number].longValue, mx.asInstanceOf[Number].longValue)
      }

  test("both dimensions stay narrow per file; a point predicate prunes most files") {
    val dir = graft.core.Fixtures.tempDir("zorder").toString + "/t"
    // 8 bits/dim = 256 curve cells per dimension against an ~8x8 file
    // grid — the same layout-quality witness as the 16-bit default at
    // a third of the wall-clock (the 32-bit interleave expression's
    // codegen dominated this suite)
    ZOrder.writeZOrdered(points, dir, Seq("a", "b"), nFiles = 64,
      bitsPerCol = 8)

    for (c <- Seq("a", "b")) {
      val ranges = fileRanges(dir, c)
      assert(ranges.size === 64)
      val meanCoverage = ranges.map { case (lo, hi) => (hi - lo) / 10000.0 }.sum / 64
      // 64 files over 2D -> ~8x8 curve cells -> ~12-25% coverage per
      // dim; a random or single-column-sorted layout leaves the other
      // dim at ~100%
      assert(meanCoverage < 0.4, s"$c mean per-file coverage $meanCoverage")
      // a 5%-wide predicate window prunes a clear majority of files
      // (window placement vs the curve's splits costs a factor ~2 over
      // the ideal ~8/64 — pruning, not perfection, is the contract)
      val hits = ranges.count { case (lo, hi) => lo <= 5250 && hi >= 4750 }
      assert(hits <= 24, s"$c: $hits of 64 files intersect a 5% window")
    }
  }

  test("single-column sort leaves the second dimension unprunable (the contrast)") {
    val dir = graft.core.Fixtures.tempDir("sorted1d").toString + "/t"
    points.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(dir)
    val bCoverage = fileRanges(dir, "b")
      .map { case (lo, hi) => (hi - lo) / 10000.0 }.sum / 16
    assert(bCoverage > 0.9, s"b should be ~unprunable when sorted by a: $bCoverage")
  }

  test("z-value interleave: known bit patterns") {
    val df = Seq((0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0)).toDF("x", "y")
    val z = ZOrder.zValue(Seq(
      (col("x"), (0.0, 3.0)), (col("y"), (0.0, 3.0))), bitsPerCol = 2)
    val got = df.select(col("x"), col("y"), z.as("z")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(got((0.0, 0.0)) === 0L)
    assert(got((3.0, 0.0)) === 5L)  // x bits at positions 0,2 -> 0b0101
    assert(got((0.0, 3.0)) === 10L) // y bits at positions 1,3 -> 0b1010
    assert(got((3.0, 3.0)) === 15L)
  }
}
