package graft.core

import org.apache.spark.sql.graftbridge.CodegenCount
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}
import graft.perf.Harness

/** Spark's codegen cache holds a query mix's working set
  * ([[GraftSession]] sizes it, keeps stage ids out of the cache key
  * and gives every session one executor loader): once the queries
  * that `query_mix` times have run, further passes over them settle
  * on compiling no generated code. At Spark's default of 100 entries
  * every pass evicts classes the next one reuses, and each pass
  * compiles about 130 classes.
  *
  * The passes run until one compiles nothing, at most five, not a
  * fixed two: AQE plans a query by the order its stages finish, so a
  * call can broadcast the other side of a join (q64 in a fresh JVM;
  * others in a JVM busy with earlier suites). Such a plan is new code,
  * compiled once and then cached, not a recompile. */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** `query_mix`'s queries that pass the oracle. */
  private val names = Seq("q13_", "q20_", "q64_", "q177_", "q221_", "q135_", "q142_")
    .map(p => SparkEntry.queries.keys.find(_.startsWith(p)).get)

  /** Classes compiled during one pass over the queries. */
  private def pass(): Long = {
    val before = CodegenCount()
    names.foreach { n =>
      val r = Harness.attempt(spark)(
        Harness.hashSink(SparkEntry.queries(n)(spark, dir)).head())
      assert(r.isRight, s"$n: ${r.swap.toOption}")
    }
    CodegenCount() - before
  }

  test("passes over query_mix's queries after set-up settle on compiling no generated code") {
    pass()
    var compiled = Vector.empty[Long]
    while (compiled.size < 5 && !compiled.lastOption.contains(0L)) compiled :+= pass()
    assert(compiled.last === 0L, s"classes compiled per pass after set-up: $compiled")
  }
}
