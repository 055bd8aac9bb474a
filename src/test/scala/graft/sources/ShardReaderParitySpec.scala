package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Fixtures
import graft.sources.dsv2.{JsonlDeletes, JsonlHadoopConf, JsonlInputPartition,
  JsonlTable, ShardRowReader}

/** One shard row reader for both at-rest tiers
  * ([[graft.sources.dsv2.ShardRowReader]]): the same rows, written once
  * as JSONL and once as parquet, answer every emission feature
  * identically — and a value the JSONL line gets wrong (mistyped,
  * fractional in an integral column) reads as the parquet tier stores
  * it. */
class ShardReaderParitySpec extends AnyFunSuite {
  import ShardReaderParitySpec.Case

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.rp", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.rp.root", Fixtures.tempDir("graft-rp").toString)
    s
  }

  private val amt = StructField("amt", LongType, nullable = true,
    new MetadataBuilder().putStringArray(JsonlTable.AliasesKey, Array("amt_old")).build())
  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("n", LongType), StructField("s", StringType),
    StructField("x", DoubleType), amt, StructField("p", LongType)))

  // JSONL lines with the values the parquet rows below denote: `n` is
  // mistyped on row 1 and fractional on row 2, `x` mistyped on row 2
  // and an integer on row 4, row 2 carries `amt` under its new key
  private val lines = Seq(
    """{"k": 0, "n": 1, "s": "a", "x": 0.5, "amt_old": 10}""",
    """{"k": 1, "n": "x", "s": "b", "x": 1.5, "amt_old": 11}""",
    """{"k": 2, "n": 2.7, "s": "c", "x": "bad", "amt": 12}""",
    """{"k": 3, "n": 3, "s": null, "x": 3.0, "amt_old": 13}""",
    """{"k": 4, "n": 4, "s": "é", "x": -1, "amt_old": 14}""",
    """{"k": 5, "s": "f", "x": 5.5}""")
  private val rows = Seq(Row(0L, 1L, "a", 0.5, 10L), Row(1L, null, "b", 1.5, 11L),
    Row(2L, 2L, "c", null, 12L), Row(3L, 3L, null, 3.0, 13L),
    Row(4L, 4L, "é", -1.0, 14L), Row(5L, null, "f", 5.5, null))

  /** Tier name -> (table root, shard path); both shards stamped eqs5. */
  private lazy val shards: Map[String, (String, String)] = {
    val root = Fixtures.tempDir("graft-rp-shards").toString
    val jsonl = new File(s"$root/jsonl/p=1/part-00000-eqs5.jsonl.gz")
    jsonl.getParentFile.mkdirs()
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(jsonl))
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val tmp = s"$root/tmp"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL(
      "k BIGINT, n BIGINT, s STRING, x DOUBLE, amt_old BIGINT"))
      .coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val parquet = new File(s"$root/parquet/p=1/part-00000-eqs5.parquet")
    parquet.getParentFile.mkdirs()
    Files.copy(part.toPath, parquet.toPath)
    Map("jsonl" -> (s"$root/jsonl", jsonl.getPath),
      "parquet" -> (s"$root/parquet", parquet.getPath))
  }

  private def cols(names: String*): StructType = StructType(names.map {
    case "_pos" => StructField("_pos", LongType)
    case m @ ("_shard" | "_change") => StructField(m, StringType)
    case n => schema(n)
  })

  private val cases = Seq(
    Case("filter on mistyped values", cols("k", "n"), 2, Array(IsNull("n"))),
    Case("filter on a fractional value", cols("k", "n"), 1, Array(EqualTo("n", 2L))),
    Case("integral literal against a double column", cols("k", "x"), 5,
      Array(GreaterThanOrEqual("x", -1L))),
    Case("string order", cols("k", "s"), 3, Array(GreaterThan("s", "b"))),
    Case("_pos and _shard", cols("_pos", "_shard", "k"), 6),
    Case("_change", cols("k", "_change"), 6, change = "insert"),
    Case("sidecar ordinals", cols("_pos", "k"), 4, sidecar = Seq(1L, 3L)),
    Case("pinned ordinals", cols("k"), 4, pinned = Array(0L, 5L)),
    Case("keep set", cols("_pos", "k"), 2, keep = Array(2L, 4L)),
    Case("eq hide", cols("k"), 5, eqDeletes = Map("2" -> 9L, "4" -> 3L)),
    Case("eq emit", cols("k"), 1, eqDeletes = Map("2" -> 9L),
      eqEmit = Map("2" -> 9L, "3" -> 9L)),
    Case("LIMIT", cols("k"), 2, Array(IsNotNull("s")), limit = 2),
    Case("rename alias", cols("k", "amt"), 6),
    Case("null partition", cols("k", "p"), 6, Array(IsNull("p")),
      part = Map("p" -> None)),
    Case("unparseable partition value", cols("k", "p"), 6, Array(IsNull("p")),
      part = Map("p" -> Some("abc"))),
    Case("typed partition value", cols("k", "p"), 6, Array(EqualTo("p", 1L))))

  private def read(tier: String, c: Case): Seq[Seq[Any]] = {
    val (root, file) = shards(tier)
    val conf = JsonlHadoopConf.fromSession()
    val sidecar =
      if (c.sidecar.isEmpty) null
      else {
        val fs = FileSystem.getLocal(conf.value)
        JsonlDeletes.append(fs, conf.value, new Path(root), new Path(file),
          c.sidecar.toArray)
        JsonlDeletes.sidecarFor(fs, new Path(root), new Path(file)).toString
      }
    val p = JsonlInputPartition(file, c.part, deletes = sidecar,
      deletePositions = c.pinned, changeKind = c.change, keepPositions = c.keep)
    val r = new ShardRowReader(p, c.required, schema, conf, c.pushed, c.limit,
      c.eqDeletes, if (c.eqDeletes.isEmpty && c.eqEmit.isEmpty) Nil else Seq("k"),
      c.eqEmit)
    try Iterator.continually(r).takeWhile(_.next())
      .map(_.get().toSeq(c.required).map {
        case u: UTF8String if u.toString == file => "<shard>"
        case v => v
      }).toList
    finally r.close()
  }

  test("every emission feature reads the same rows from a JSONL and a parquet shard") {
    for (c <- cases) {
      val jsonl = read("jsonl", c)
      val parquet = read("parquet", c)
      assert(jsonl == parquet, s"${c.feature}: tiers disagree")
      assert(jsonl.size == c.expected, s"${c.feature}: $jsonl")
    }
  }

  test("a stray partition dir whose value does not parse reads as a null partition") {
    val s = spark
    import s.implicits._
    s.sql("CREATE NAMESPACE IF NOT EXISTS rp.ns")
    for (fmt <- Seq("jsonl", "parquet")) {
      val t = s"rp.ns.stray_$fmt"
      s.sql(s"CREATE TABLE $t (k BIGINT, p BIGINT) PARTITIONED BY (p) " +
        s"TBLPROPERTIES ('graft.format'='$fmt')")
      s.sql(s"INSERT INTO $t VALUES (1, 1), (2, 1)")
      // a hand-made `p=abc` dir under the BIGINT partition column
      val dir = new File(s.conf.get("spark.sql.catalog.rp.root"), s"ns/stray_$fmt")
      val shard = new File(dir, "p=1").listFiles()
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_")).head
      val stray = new File(dir, "p=abc")
      stray.mkdirs()
      Files.copy(shard.toPath, new File(stray, shard.getName).toPath)
      assert(s.table(t).count() == 4L, fmt)
      assert(s.table(t).where("p IS NULL").select("k").as[Long].collect()
        .sorted.toSeq == Seq(1L, 2L), fmt)
      assert(s.table(t).where("p = 1").count() == 2L, fmt)
      // partition listing types the dir as scans do: beside a real null
      // partition, the stray dir lists as the same one null row
      s.sql(s"INSERT INTO $t VALUES (3, NULL)")
      assert(s.sql(s"SHOW PARTITIONS $t").as[String].collect().sorted.toSeq ==
        Seq("p=1", "p=null"), fmt)
    }
  }
}

object ShardReaderParitySpec {
  /** One feature's read of the shard; `expected` rows keep parity from
    * passing on two empty answers. */
  final case class Case(
      feature: String, required: StructType, expected: Int,
      pushed: Array[Filter] = Array.empty, limit: Int = -1,
      part: Map[String, Option[String]] = Map("p" -> Some("1")),
      sidecar: Seq[Long] = Nil, pinned: Array[Long] = null,
      keep: Array[Long] = null, change: String = null,
      eqDeletes: Map[String, Long] = Map.empty,
      eqEmit: Map[String, Long] = Map.empty)
}
