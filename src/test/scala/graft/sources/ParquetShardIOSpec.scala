package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ParquetShardIO
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The low-level parquet shard bridge ([[ParquetShardIO]]): write
  * `InternalRow`s through Spark's `ParquetWriteSupport`, read them
  * back through `ParquetReadSupport`, across the connector's full
  * supported type lattice — scalar, temporal, decimal, and nested
  * ARRAY/STRUCT/MAP shapes. No SparkSession involved: the shard IO
  * must work from bare executor tasks. */
class ParquetShardIOSpec extends AnyFunSuite {

  private val conf = new Configuration()

  test("full type lattice round-trips; column pruning + missing-column nulls") {
    val dir = graft.core.Fixtures.tempDir("pq-io").toString
    val file = new Path(dir, "s0.parquet")
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("s", StringType), StructField("f", FloatType),
      StructField("sh", ShortType), StructField("by", ByteType),
      StructField("dec", DecimalType(24, 3)),
      StructField("ts", TimestampType), StructField("tsn", TimestampNTZType),
      StructField("dt", DateType),
      StructField("arr", ArrayType(LongType)),
      StructField("st", StructType(Seq(StructField("x", LongType),
        StructField("y", StringType)))),
      StructField("mp", MapType(StringType, LongType)),
      StructField("bin", BinaryType)))
    val w = ParquetShardIO.createWriter(file, schema, conf, "zstd")
    def row(k: Long): InternalRow = new GenericInternalRow(Array[Any](
      k, k.toInt, k * 1.5, k % 2 == 0, UTF8String.fromString(s"s$k"),
      k.toFloat, k.toShort, k.toByte,
      Decimal(java.math.BigDecimal.valueOf(k * 1000 + 1, 3), 24, 3),
      k * 1000000L, k * 1000000L + 7, k.toInt + 19000,
      new GenericArrayData(Array[Any](k, k + 1, null)),
      new GenericInternalRow(Array[Any](k * 2, UTF8String.fromString("y"))),
      ArrayBasedMapData(Map(UTF8String.fromString("a") -> k)),
      Array[Byte](1, 2, k.toByte)))
    (0L until 100L).foreach(k => w.write(row(k)))
    // a null in every column
    w.write(new GenericInternalRow(Array.fill[Any](schema.length)(null)))
    w.close()

    val r = ParquetShardIO.openReader(file, schema, conf)
    var n = 0
    var nullRow = 0
    while (r.nextKeyValue()) {
      val got = r.getCurrentValue
      if (got.isNullAt(0)) { nullRow += 1; assert(got.isNullAt(4)) }
      else {
        val k = got.getLong(0)
        assert(got.getInt(1) == k.toInt)
        assert(got.getDouble(2) == k * 1.5)
        assert(got.getBoolean(3) == (k % 2 == 0))
        assert(got.getUTF8String(4).toString == s"s$k")
        assert(got.getFloat(5) == k.toFloat)
        assert(got.getShort(6) == k.toShort)
        assert(got.getByte(7) == k.toByte)
        assert(got.getDecimal(8, 24, 3).toJavaBigDecimal ==
          java.math.BigDecimal.valueOf(k * 1000 + 1, 3))
        assert(got.getLong(9) == k * 1000000L)
        assert(got.getLong(10) == k * 1000000L + 7)
        assert(got.getInt(11) == k.toInt + 19000)
        val arr = got.getArray(12)
        assert(arr.numElements() == 3 && arr.getLong(0) == k && arr.isNullAt(2))
        val st = got.getStruct(13, 2)
        assert(st.getLong(0) == k * 2 && st.getUTF8String(1).toString == "y")
        val mp = got.getMap(14)
        assert(mp.numElements() == 1 &&
          mp.valueArray().getLong(0) == k)
        assert(got.getBinary(15).toSeq == Seq[Byte](1, 2, k.toByte))
      }
      n += 1
    }
    r.close()
    assert(n == 101 && nullRow == 1)

    // pruned read: two columns only, plus a column the file doesn't
    // have — absent columns read as null (schema-on-read ADD COLUMN)
    val pruned = StructType(Seq(StructField("s", StringType),
      StructField("l", LongType), StructField("added", LongType)))
    val r2 = ParquetShardIO.openReader(file, pruned, conf)
    assert(r2.nextKeyValue())
    val g = r2.getCurrentValue
    assert(g.getUTF8String(0).toString == "s0" && g.getLong(1) == 0L &&
      g.isNullAt(2))
    r2.close()

    // footer probes
    assert(ParquetShardIO.footerRowCount(file, conf) == 101L)
    assert(ParquetShardIO.footerFieldTypes(file, conf).contains("dec"))
    assert(ParquetShardIO.footerFieldTypes(file, conf).get("l")
      .contains("INT64"))

    // type widening: a file written with INT reads through BIGINT
    // (the catalog's widening ALTER posture must hold for parquet)
    val narrow = new Path(dir, "narrow.parquet")
    val ns = StructType(Seq(StructField("k", IntegerType)))
    val w2 = ParquetShardIO.createWriter(narrow, ns, conf, "zstd")
    w2.write(new GenericInternalRow(Array[Any](41)))
    w2.close()
    val wide = StructType(Seq(StructField("k", LongType)))
    val r3 = ParquetShardIO.openReader(narrow, wide, conf)
    assert(r3.nextKeyValue() && r3.getCurrentValue.getLong(0) == 41L)
    r3.close()
    // decimal precision widening reads too
    val decWide = StructType(Seq(StructField("dec", DecimalType(30, 3))))
    val r4 = ParquetShardIO.openReader(file, decWide, conf)
    assert(r4.nextKeyValue())
    r4.close()
  }

  test("row-group pruning skips groups by footer stats; record-level " +
      "assembly stays off; footer aggregates fold across groups") {
    val dir = graft.core.Fixtures.tempDir("pq-rg").toString
    val file = new Path(dir, "rg.parquet")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    val tiny = new Configuration(conf)
    tiny.setLong("graft.parquet.rowgroup.bytes", 4096L)
    val w = ParquetShardIO.createWriter(file, schema, tiny, "zstd")
    (0L until 20000L).foreach(k => w.write(new GenericInternalRow(
      Array[Any](k, UTF8String.fromString(s"v$k")))))
    w.close()
    // unfiltered: every row
    val all = ParquetShardIO.openReader(file, schema, conf)
    var n = 0L
    while (all.nextKeyValue()) n += 1
    all.close()
    assert(n == 20000L)
    // filtered: k > 19000 admits only the tail row group(s) — the
    // reader emits FEWER than all rows (groups skipped whole) but AT
    // LEAST every matching row (record-level filtering off: surviving
    // groups emit everything, residual evaluation is the caller's)
    import org.apache.parquet.filter2.predicate.FilterApi
    val pred = FilterApi.gt(FilterApi.longColumn("k"),
      java.lang.Long.valueOf(19000L))
    val pruned = ParquetShardIO.openReader(file, schema, conf, Some(pred))
    var np = 0L
    var matching = 0L
    while (pruned.nextKeyValue()) {
      np += 1
      if (pruned.getCurrentValue.getLong(0) > 19000L) matching += 1
    }
    pruned.close()
    assert(matching == 999L, s"pruning must never lose a matching row: $matching")
    assert(np < 20000L,
      s"multi-group file must skip statistics-excluded groups: $np of 20000")
    assert(np >= 999L)
    // footer aggregate folds min/max across ALL row groups
    val agg = ParquetShardIO.footerAgg(file, conf, Seq("k"))
    assert(agg.contains((20000L,
      Map("k" -> ((java.lang.Long.valueOf(0L): Any,
        java.lang.Long.valueOf(19999L): Any))))), agg.toString)
    // absent column folds to (null, null); row count still exact
    val agg2 = ParquetShardIO.footerAgg(file, conf, Seq("nope"))
    assert(agg2.contains((20000L, Map("nope" -> ((null, null))))))
  }
}
