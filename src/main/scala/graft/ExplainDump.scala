package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
import graft.perf.Harness

/** Plan-evidence dumper for the optimization rounds: writes
  * `.explain("formatted")` for registered queries to text files, one
  * per query, so before/after plan claims in OPTIMIZATION_r*.md are
  * checkable without running Spark.
  *
  * {{{
  *   SPARK_GRAFT_EXPLAIN_DIR=plans/r17 SPARK_GRAFT_EXPLAIN_SUFFIX=before \
  *   SPARK_GRAFT_EXPLAIN_ONLY=q135,q150 sbt "runMain graft.ExplainDump"
  * }}}
  *
  * The dump runs under the same session tuning as [[Bench]] (same
  * configs, eager aggregation enabled with the suite's uniqueness
  * proofs) so the printed plan is the plan the bench actually times.
  * `explain("formatted")` shows the pre-execution plan — PushedFilters,
  * ReadSchema, join strategies, Exchange placement — which is the
  * evidence the optimization guide asks for; AQE runtime re-plans
  * (partition coalescing) are not visible here by construction.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_DIR", "plans/r17")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "before")
    val spark = Harness.session(defaultCpus = 4, logLevel = "ERROR")
    SuiteTuning.enableEagerAgg(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    Harness.queries(sys.env.get("SPARK_GRAFT_EXPLAIN_ONLY")).foreach { name =>
      val out = s"$outDir/${name}_$suffix.txt"
      Harness.attempt(spark) {
        Files.writeString(Paths.get(out), SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
        println(s"[explain] $name -> $out")
      }.left.foreach(e => println(s"[explain] $name ERROR ${e.getMessage}"))
    }
    spark.stop()
  }
}
