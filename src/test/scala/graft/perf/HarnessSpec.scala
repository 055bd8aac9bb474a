package graft.perf

import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** [[Harness]]: the JSON writer every tool report goes through, the
  * rep summary, the registry slice and the per-query cleanup. */
class HarnessSpec extends AnyFunSuite {
  import Harness.Json.{num, obj, str}

  private val tricky = Seq(
    "", "plain", "say \"hi\"", "back\\slash\\", "tab\there\r\nnext",
    "nul\u0000 bell\u0007 unit-sep\u001f del\u007f",
    "naïve café — 中文 日本語 \uD83D\uDE00", "\\\"\\u0041\"")

  test("JSON strings parse back with Jackson to the same value") {
    val m = new ObjectMapper()
    tricky.foreach { s =>
      val enc = str(s)
      assert(!enc.exists(_ < ' '), s"raw control char in $enc")
      assert(m.readTree(enc).asText == s)
    }
    val doc = m.readTree(obj(tricky.zipWithIndex.map { case (s, i) =>
      s"$i:$s" -> str(s) }))
    tricky.zipWithIndex.foreach { case (s, i) =>
      assert(doc.get(s"$i:$s").asText == s)
    }
  }

  test("numbers print three decimals with a dot in any default locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(String.format("%.3f", Double.box(1234.5)) == "1234,500")
      assert(num(1234.5) == "1234.500")
      assert(num(0.0004) == "0.000")
      assert(num(-2.0) == "-2.000")
      assert(new ObjectMapper().readTree(obj(Seq("a" -> num(1.2345))))
        .get("a").asDouble == 1.235)
    } finally Locale.setDefault(saved)
  }

  test("reps report the upper median, the min and the max") {
    assert(Harness.Reps.of(Seq(3.0, 1.0, 2.0)) == Harness.Reps(2.0, 1.0, 3.0))
    assert(Harness.Reps.of(Seq(4.0, 1.0, 3.0, 2.0)) == Harness.Reps(3.0, 1.0, 4.0))
    assert(Harness.Reps.of(Seq(5.0)) == Harness.Reps(5.0, 5.0, 5.0))
    var setups, runs = 0
    val r = Harness.timeReps(3, setup = setups += 1) { runs += 1 }
    assert((setups, runs) == ((3, 3)))
    assert(r.min <= r.median && r.median <= r.max)
  }

  test("the *_ONLY slice keeps the sorted names that start with a listed prefix") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Harness.queries(None) == all)
    val slice = Harness.queries(Some(" q01, q12 ,,"))
    assert(slice.nonEmpty)
    assert(slice == all.filter(n => n.startsWith("q01") || n.startsWith("q12")))
    assert(Harness.queries(Some("")).isEmpty)
    assert(Harness.queries(Some("no-such-query")).isEmpty)
  }

  test("each query leaves no persisted RDD, also one that checkpoints and throws") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val ok = Harness.attempt(spark) {
      val df = spark.range(100).toDF("id").persist()
      df.count()
      assert(sc.getPersistentRDDs.nonEmpty)
      7L
    }
    assert(ok == Right(7L))
    assert(sc.getPersistentRDDs.isEmpty)
    val failed = Harness.attempt(spark) {
      spark.range(100).toDF("id").localCheckpoint(eager = true).count()
      assert(sc.getPersistentRDDs.nonEmpty)
      throw new IllegalStateException("after checkpoint")
    }
    assert(failed.left.toOption.map(_.getMessage) == Some("after checkpoint"))
    assert(sc.getPersistentRDDs.isEmpty)
  }
}
