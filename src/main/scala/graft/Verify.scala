package graft
import java.nio.file.{Files, Paths}
import graft.perf.Harness
import graft.perf.Harness.Json.{obj, str}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(defaultCpus = 4)
    // Fail fast on HUGEINT-prone oracle SQL before dumping anything —
    // see OracleLint (this class of bug cost gate rows in rounds 1 and 2).
    OracleLint.check(SparkEntry.oracleSql)
    // prove the star-schema dim keys, then enable eager aggregation
    // for the suite session (see SuiteTuning)
    SuiteTuning.enableEagerAgg(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q138,q141 — dump a slice while iterating
    // locally; unset (the driver) dumps everything
    Harness.queries(sys.env.get("SPARK_GRAFT_VERIFY_ONLY")).foreach { name =>
      def dump(df: => org.apache.spark.sql.DataFrame) = Harness.attempt(spark)(
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      dump(SparkEntry.queries(name)(spark, sfDir)).left.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Still emit a dump for the failed query: a one-row parquet whose
        // schema can never match any oracle, so the driver's compare
        // records a loud rows/schema/hash mismatch instead of silently
        // omitting the query from CORRECTNESS (round 6 lost q32 this way
        // — the report read fully green while the bench was failing).
        import spark.implicits._
        dump(Seq(s"$name FAILED: ${e.toString.take(500)}")
          .toDF("graft_query_error")).left.foreach(e2 => System.err.println(
            s"[verify] $name error-dump also failed: ${e2.getMessage}"))
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.map { case (k, v) => k -> str(v) }))
    spark.stop()
  }
}
