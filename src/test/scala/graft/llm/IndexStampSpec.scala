package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[IndexStamp]] — the ANN/LSH index staleness defense: persisted
  * index tables carry the corpus content fingerprint; a corpus that
  * moved after the build makes every stamped read REFUSE loudly
  * instead of silently answering from entries that no longer describe
  * the data. Rebuilding over the current corpus restores service. */
class IndexStampSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val dir =
    graft.core.Fixtures.tempDir("graft-stamp").toString

  private def writeEmb(path: String, n: Int, seed: Int): Unit =
    spark.sql(
      s"""SELECT CAST(id AS BIGINT) AS vec_id,
         |  transform(sequence(1, 8), i ->
         |    CAST(sin(id * i + $seed) AS FLOAT)) AS embedding,
         |  CAST(id % 3 AS INT) AS label
         |FROM range(0, $n)""".stripMargin)
      .write.mode("overwrite").parquet(path)

  test("IVF read refuses after the corpus is rewritten; rebuild over " +
      "the current corpus restores service") {
    val path = s"$dir/emb.parquet"
    writeEmb(path, 400, seed = 1)
    val v1 = spark.read.parquet(path)
    Similarity.writeIvfIndex(v1, "stamp_ivf", nBuckets = 4, centStride = 50)
    Similarity.writeIvfPqIndex(v1, "stamp_ivfpq", nBuckets = 4,
      centStride = 50, m = 4)
    // fresh: serves
    assert(Similarity.ivfTopKIndexed(spark, "stamp_ivf",
      spark.read.parquet(path), Seq(0L, 1L), k = 3, nprobe = 2,
      centStride = 50).count() > 0)
    // the corpus moves (re-crawl in place): both reads must refuse
    writeEmb(path, 500, seed = 2)
    val v2 = spark.read.parquet(path)
    val e = intercept[IllegalStateException] {
      Similarity.ivfTopKIndexed(spark, "stamp_ivf", v2, Seq(0L, 1L),
        k = 3, nprobe = 2, centStride = 50).collect()
    }
    assert(e.getMessage.contains("STALE") &&
      e.getMessage.contains("Rebuild"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      Similarity.ivfPqTopK(spark, "stamp_ivfpq", v2, Seq(0L, 1L),
        k = 3, nprobe = 2, centStride = 50, m = 4).collect()
    }
    assert(e2.getMessage.contains("STALE"), e2.getMessage)
    // rebuild over the current corpus: serves again
    Similarity.writeIvfIndex(v2, "stamp_ivf", nBuckets = 4, centStride = 50)
    assert(Similarity.ivfTopKIndexed(spark, "stamp_ivf", v2, Seq(0L, 1L),
      k = 3, nprobe = 2, centStride = 50).count() > 0)
  }

  test("LSH dedupAgainstIndex with the corpus handle refuses when " +
      "stale; without a handle stays back-compat") {
    val path = s"$dir/docs.parquet"
    def writeDocs(n: Int, tag: String): Unit =
      spark.sql(
        s"""SELECT CAST(id AS BIGINT) AS doc_id,
           |  concat('$tag document body number ', CAST(id AS STRING),
           |    ' with shared filler text for shingles') AS text
           |FROM range(0, $n)""".stripMargin)
        .write.mode("overwrite").parquet(path)
    writeDocs(60, "alpha")
    val corpus1 = spark.read.parquet(path)
    Dedup.writeLshIndex(corpus1, "stamp_lsh", k = 8, bands = 4,
      shingle = 3, nBuckets = 4)
    val batch = spark.sql(
      """SELECT CAST(id + 1000 AS BIGINT) AS doc_id,
        |  concat('alpha document body number ', CAST(id AS STRING),
        |    ' with shared filler text for shingles') AS text
        |FROM range(0, 5)""".stripMargin)
    // fresh corpus handle: serves
    assert(Dedup.dedupAgainstIndex(spark, "stamp_lsh", batch,
      corpus = spark.read.parquet(path)).count() == 5)
    // the corpus is re-crawled: the handled read refuses...
    writeDocs(80, "beta")
    val e = intercept[IllegalStateException] {
      Dedup.dedupAgainstIndex(spark, "stamp_lsh", batch,
        corpus = spark.read.parquet(path)).collect()
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // ...while the legacy no-handle call still answers (back-compat:
    // a caller that identifies no corpus owns the lifecycle)
    assert(Dedup.dedupAgainstIndex(spark, "stamp_lsh", batch).count() == 5)
    // rebuild: the handled read serves again
    Dedup.writeLshIndex(spark.read.parquet(path), "stamp_lsh", k = 8,
      bands = 4, shingle = 3, nBuckets = 4)
    assert(Dedup.dedupAgainstIndex(spark, "stamp_lsh", batch,
      corpus = spark.read.parquet(path)).count() == 5)
  }

  test("an in-memory corpus has no at-rest identity: nothing is " +
      "stamped and reads proceed (caller-owned lifecycle)") {
    import spark.implicits._
    val mem = (0L until 100L).map(i =>
      (i, (1 to 8).map(j => math.sin(i * j).toFloat).toArray))
      .toDF("vec_id", "embedding")
    assert(IndexStamp.corpusFingerprint(spark, mem).isEmpty)
    Similarity.writeIvfIndex(mem, "stamp_mem", nBuckets = 2, centStride = 20)
    assert(Similarity.ivfTopKIndexed(spark, "stamp_mem", mem, Seq(0L),
      k = 3, nprobe = 2, centStride = 20).count() > 0)
  }

  test("graft-catalog corpus: the fingerprint rides statsFingerprint, " +
      "so a MOR delete (sidecar-only mutation) stales the index") {
    val s = spark
    s.conf.set("spark.sql.catalog.ist", "graft.sources.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.ist.root",
      graft.core.Fixtures.tempDir("graft-ist").toString)
    s.sql("CREATE NAMESPACE IF NOT EXISTS ist.ns")
    s.sql("""CREATE TABLE ist.ns.emb (vec_id BIGINT, embedding ARRAY<FLOAT>)
            |TBLPROPERTIES ('graft.row-level.mode'='merge-on-read')""".stripMargin)
    s.sql("""INSERT INTO ist.ns.emb SELECT CAST(id AS BIGINT),
            |  transform(sequence(1, 8), i -> CAST(sin(id * i) AS FLOAT))
            |FROM range(0, 300)""".stripMargin)
    def corpus: DataFrame = s.table("ist.ns.emb")
    Similarity.writeIvfIndex(corpus, "stamp_graft", nBuckets = 2,
      centStride = 50)
    assert(Similarity.ivfTopKIndexed(s, "stamp_graft", corpus, Seq(1L),
      k = 3, nprobe = 2, centStride = 50).count() > 0)
    // sidecar-only mutation: shard names unchanged, content moved
    s.sql("DELETE FROM ist.ns.emb WHERE vec_id >= 280")
    val e = intercept[IllegalStateException] {
      Similarity.ivfTopKIndexed(s, "stamp_graft", corpus, Seq(1L),
        k = 3, nprobe = 2, centStride = 50).collect()
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }
}
