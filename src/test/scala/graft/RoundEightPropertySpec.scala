package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.llm.{AudioCodec, VideoCodec}
import graft.sources.dsv2.JsonlLayout

/** Seeded randomized properties for the round-8 surfaces: codec
  * round-trips over arbitrary payloads, path-escape inverses over
  * arbitrary partition values, and the saturation-guard bound's
  * over-approximation guarantee. Fixed seeds — failures reproduce. */
class RoundEightPropertySpec extends AnyFunSuite {

  test("WAV round-trips arbitrary int16 sample arrays bit-exactly") {
    val rnd = new Random(8801)
    (1 to 50).foreach { _ =>
      val n = rnd.nextInt(5000)
      val rate = 1 + rnd.nextInt(48000)
      val samples = Array.fill(n)(rnd.nextInt(65536) - 32768)
      val d = AudioCodec.decode(AudioCodec.encodeWav(rate, samples)).get
      assert(d.sampleRate == rate && d.channels == 1)
      assert(d.samples.toSeq == samples.toSeq)
    }
  }

  test("Y4M round-trips arbitrary frame stacks; sampling picks exact indices") {
    val rnd = new Random(8802)
    (1 to 25).foreach { _ =>
      val w = 2 * (1 + rnd.nextInt(10))
      val h = 2 * (1 + rnd.nextInt(8))
      val nf = 1 + rnd.nextInt(9)
      val frames = Seq.fill(nf)(Array.fill(w * h)(rnd.nextInt(256)))
      val bytes = VideoCodec.encodeY4m(w, h, 30, 1, frames)
      val every = 1 + rnd.nextInt(4)
      val (meta, sampled) = VideoCodec.sampleFrames(bytes, every).get
      assert(meta.width == w && meta.height == h && meta.nFrames == nf)
      assert(sampled.map(_.index) == (0 until nf by every))
      sampled.foreach(f => assert(f.luma.toSeq == frames(f.index).toSeq))
    }
  }

  test("PNG round-trips arbitrary rasters to bit-identical luma") {
    val rnd = new Random(8805)
    (1 to 15).foreach { _ =>
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      val rgb = Array.fill(w * h)(rnd.nextInt(0x1000000))
      val viaPng = graft.llm.ImageCodec.decode(
        graft.llm.ImageCodec.encodePng(w, h, rgb)).get
      val viaPpm = graft.llm.ImageCodec.decode(
        graft.llm.ImageCodec.encodePpm(w, h, rgb)).get
      assert(viaPng.width == w && viaPng.height == h)
      assert(viaPng.gray.toSeq == viaPpm.gray.toSeq)
    }
  }

  test("hostile headers: overflowing size claims decode to None, never hang or OOM") {
    // Y4M: w*h wraps Int; the truncation check must still fire instead
    // of the frame walk looping forever (off += negative frameLen)
    val y4m = ("YUV4MPEG2 W2 H2147483646 F30:1 C420jpeg\nFRAME\n" + "x" * 64)
      .getBytes("US-ASCII")
    assert(VideoCodec.probe(y4m).isEmpty)
    val y4m2 = ("YUV4MPEG2 W46341 H46341 F30:1 C444\nFRAME\n" + "x" * 64)
      .getBytes("US-ASCII") // 46341^2 overflows Int
    assert(VideoCodec.probe(y4m2).isEmpty)
    // WAV: a data chunk declaring ~Int.MaxValue bytes must fail the
    // bounds check, not allocate gigabytes
    val wav = AudioCodec.encodeWav(8000, Array.fill(4)(1))
    val evil = wav.clone()
    def le32(o: Int, v: Int): Unit =
      (0 to 3).foreach(i => evil(o + i) = ((v >> (8 * i)) & 0xff).toByte)
    le32(40, 0x7ffffff0) // data chunk size
    assert(AudioCodec.decode(evil).isEmpty)
  }

  test("escapePathName/unescapePathName invert over arbitrary unicode values") {
    val rnd = new Random(8803)
    (1 to 200).foreach { _ =>
      val len = 1 + rnd.nextInt(24)
      val s = (1 to len).map { _ =>
        rnd.nextInt(6) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => "=/%# ".charAt(rnd.nextInt(5)).toString
          case 2 => ('À' + rnd.nextInt(64)).toChar.toString // latin-1 sup
          case 3 => ('一' + rnd.nextInt(256)).toChar.toString // CJK
          case 4 => rnd.nextInt(10).toString
          case 5 => new String(Character.toChars(0x1F600 + rnd.nextInt(64)))
        }
      }.mkString
      val escaped = JsonlLayout.escapePathName(s)
      // escaped form is path-safe: no separator, no '=' (the layout
      // tokenizer's two load-bearing characters)
      assert(!escaped.contains("/") && !escaped.contains("="))
      assert(JsonlLayout.unescapePathName(escaped) == s)
    }
  }

  test("non-ASCII partition values round-trip through the catalog end-to-end") {
    val spark = TestSpark.spark
    val root = graft.core.Fixtures.tempDir("graft-uni").toString
    spark.conf.set("spark.sql.catalog.uni", "graft.sources.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.uni.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS uni.ns")
    spark.sql("CREATE TABLE uni.ns.t (k BIGINT, lang STRING) PARTITIONED BY (lang)")
    val values = Seq("日本語", "emoji 😀 x", "español", "a=b/c%d")
    values.zipWithIndex.foreach { case (v, i) =>
      spark.createDataFrame(Seq((i.toLong, v))).toDF("k", "lang")
        .writeTo("uni.ns.t").append()
    }
    val back = spark.sql("SELECT k, lang FROM uni.ns.t ORDER BY k").collect()
      .map(_.getString(1)).toSeq
    assert(back == values)
    // partition pruning still matches the exotic value exactly
    assert(spark.sql("SELECT COUNT(*) FROM uni.ns.t WHERE lang = '日本語'")
      .head.getLong(0) == 1L)
    // SHOW PARTITIONS lists them (values re-decoded from dir names)
    assert(spark.sql("SHOW PARTITIONS uni.ns.t").count() == 4L)
    spark.sql("DROP TABLE uni.ns.t")
  }

  test("saturation-guard bound over-approximates the realized candidate count") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new Random(8804)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    (1 to 3).foreach { _ =>
      val docs = (0 until 30).map { id =>
        val n = 3 + rnd.nextInt(6)
        (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      // realized candidates = distinct qualifying prefix-join pairs; the
      // bound is sum C(df,2) over prefix postings, which counts every
      // (pair, shared-token) incidence — always >=
      val out = graft.llm.Dedup.prefixJaccardPairs(docs, 3, 5,
        maxCandidatePairs = 1000000L)
      out.collect() // must not trip the (generous) guard
      val e = intercept[IllegalStateException] {
        graft.llm.Dedup.prefixJaccardPairs(docs, 3, 5,
          maxCandidatePairs = 1L).collect()
      }
      assert(e.getMessage.contains("saturation guard"))
    }
  }
}
