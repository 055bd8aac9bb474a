package graft

import graft.perf.Harness

/** Fleet-wide scan-amplification audit: executes every registered
  * query at sf0.001 and reports how many parquet scans its FINAL
  * adaptive plan performs per distinct input table — the metric that
  * caught q128/q129 (4 corpus explodes instead of 1: AQE cannot
  * stage-reuse exchanges whose subtrees contain higher-order-function
  * lambdas) and q135 (six shingle-table consumers re-shingling the
  * corpus). Run ad hoc when adding multi-consumer operators:
  *
  * {{{ sbt "runMain graft.PlanAudit" }}}
  *
  * The AQE plan string appends an `== Initial Plan ==` section that
  * double-prints every node — counting stops at that marker. A ratio
  * above ~3 scans per distinct table usually means a shared subtree
  * needs a `materialize = _.localCheckpoint()` hook (q54's pattern),
  * not more Catalyst hints: exchange reuse is structural and lambdas
  * defeat it.
  *
  * Known-accepted flags (the heuristic can't see predicate
  * diversity): q118 — four scans are two DIFFERENT year-pruned
  * slices each consumed by exceptAll AND intersectAll; re-reading a
  * 2-column pushed-filter scan beats materializing a fact-scale
  * slice. q31 — MergeUpsert's staged swap re-reads the target by
  * contract (merge input, untouched-partition copy, verification).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(defaultCpus = 4, logLevel = "ERROR")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    Harness.queries(only = None).foreach { name =>
      Harness.attempt(spark) {
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect()
        val full = df.queryExecution.executedPlan.toString
        val p = full.split("== Initial Plan ==").head
        val scans = "FileScan parquet".r.findAllMatchIn(p).size
        val tables = "InMemoryFileIndex\\(1 paths\\)\\[[^\\]]+\\]".r
          .findAllMatchIn(p).map(_.matched).toSet.size
        val flag = if (tables > 0 && scans > 3 * tables) "  <-- AMPLIFIED" else ""
        println(f"[audit] $name%-34s scans=$scans%2d tables=$tables%d$flag")
      }.left.foreach(e => println(s"[audit] $name ERROR ${e.getMessage}"))
    }
    spark.stop()
  }
}
