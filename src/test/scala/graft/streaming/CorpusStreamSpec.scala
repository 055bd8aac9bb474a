package graft.streaming

import java.nio.file.{Files, Paths}
import graft.core.Fixtures
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.JsonlCorpus

class CorpusStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def line(id: Long, text: String, lang: String = "en",
                   source: String = "s"): String =
    s"""{"doc_id": $id, "text": "$text", "lang": "$lang", "source": "$source", "n_chars": ${text.length}}"""

  /** ≥20 words with stopword ratio < 0.5 → passes the quality gate. */
  private def goodText(tag: String): String =
    (1 to 20).map(i => s"$tag$i").mkString(" ") + " the end"

  private def runIngest(in: String, corpus: String, ck: String): Unit = {
    val q = CorpusStream.qualityIngest(
      CorpusStream.readCorpusStream(spark, in), corpus)
      .option("checkpointLocation", ck)
      .start()
    q.awaitTermination(120000)
    q.stop()
  }

  private def corpusIds(corpus: String): Set[Long] =
    spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("quality-filters, dedups in and across batches, replays idempotently") {
    val base = Fixtures.tempDir("corpus_stream").toString
    val (in, corpus, ck) = (s"$base/in", s"$base/corpus", s"$base/ck")
    Files.createDirectories(Paths.get(in))

    val dupText = goodText("alpha")
    Files.write(Paths.get(s"$in/batch1.jsonl"), java.util.Arrays.asList(
      line(1, dupText),
      line(2, dupText),            // in-batch dup of 1 → dropped
      line(3, "too short")))       // fails the quality gate
    runIngest(in, corpus, ck)
    assert(corpusIds(corpus) === Set(1L))

    Files.write(Paths.get(s"$in/batch2.jsonl"), java.util.Arrays.asList(
      line(4, dupText),            // cross-batch dup of ingested 1 → dropped
      line(5, goodText("beta"))))
    runIngest(in, corpus, ck)
    assert(corpusIds(corpus) === Set(1L, 5L))

    // no new files: a re-run must leave the corpus unchanged
    runIngest(in, corpus, ck)
    assert(corpusIds(corpus) === Set(1L, 5L))

    // the epoch partition column is recorded for lineage
    val byBatch = spark.read.parquet(corpus)
      .select("doc_id", "ingest_batch").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byBatch(1L) !== byBatch(5L))
  }

  test("nearDupIngest: lightly-edited re-posts are caught by the signature index across epochs") {
    val base = Fixtures.tempDir("neardup_stream").toString
    val (in, corpus, idx, ck) = (s"$base/in", s"$base/corpus", s"$base/idx", s"$base/ck")
    Files.createDirectories(Paths.get(in))
    def run(): Unit = {
      val q = CorpusStream.nearDupIngest(
        CorpusStream.readCorpusStream(spark, in), corpus, idx)
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    val original = (1 to 40).map(i => s"w${i * 13 % 211}").mkString(" ")
    // one word changed: exact content hashes differ, shingle sets ~95% shared
    val edited = original.replace("w13", "CHANGED")
    Files.write(Paths.get(s"$in/wave1.jsonl"), java.util.Arrays.asList(
      line(1, original)))
    run()
    assert(corpusIds(corpus) === Set(1L))

    val fresh = (1 to 40).map(i => s"f${i * 19 % 223}").mkString(" ")
    val freshCopy = fresh.replace("f19", "EDITED")
    Files.write(Paths.get(s"$in/wave2.jsonl"), java.util.Arrays.asList(
      line(2, edited),    // near-dup of epoch-1 doc → rejected by the index
      line(3, fresh),     // novel → admitted
      line(4, freshCopy))) // near-dup of 3 INSIDE the wave → min-id wins
    run()
    assert(corpusIds(corpus) === Set(1L, 3L))

    // the index holds signatures for exactly the admitted docs
    val idxIds = spark.read.parquet(idx).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(idxIds === Set(1L, 3L))

    // replay with no new files: corpus and index unchanged
    run()
    assert(corpusIds(corpus) === Set(1L, 3L))
    assert(spark.read.parquet(idx).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("corrupt jsonl lines are excluded from the stream and counted in batch") {
    val base = Fixtures.tempDir("corpus_corrupt").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/mixed.jsonl"), java.util.Arrays.asList(
      line(1, goodText("gamma")),
      """{"doc_id": "not-a-number and no closing brace""",
      line(2, goodText("delta"))))
    // batch-side stats see 2 clean + 1 corrupt
    assert(JsonlCorpus.readStats(spark, in) === ((2L, 1L)))
    // stream-side ingest lands only the clean docs
    val (corpus, ck) = (s"$base/corpus", s"$base/ck")
    runIngest(in, corpus, ck)
    assert(corpusIds(corpus) === Set(1L, 2L))
  }

  test("jsonl round-trip: partitioned write reads back identically") {
    import spark.implicits._
    val base = Fixtures.tempDir("jsonl_rt").toString
    val docs = Seq(
      (1L, "plain ascii text", "en", "s1"),
      (2L, "quotes \" and backslash \\ and tab\tsurvive", "en", "s2"),
      (3L, "unicode café 你好", "fr", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))
    JsonlCorpus.write(docs, s"$base/out")
    val back = JsonlCorpus.readClean(spark, s"$base/out")
    assert(back.count() === 3)
    val got = back.orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"))).toSeq
    assert(got === Seq((1L, "plain ascii text", "en"),
      (2L, "quotes \" and backslash \\ and tab\tsurvive", "en"),
      (3L, "unicode café 你好", "fr")))
  }
}
