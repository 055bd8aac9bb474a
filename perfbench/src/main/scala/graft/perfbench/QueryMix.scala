package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import graft.SparkEntry
import graft.analytics._
import graft.llm.{CurationQueries, LlmQueries}

/** query_mix: read-only analytic queries from the engine's registry over
  * the generated star schema, one query per op, closed loop, one client.
  *
  * The query set is stratified by registry module and fixed across
  * seeds; the seed picks the data and the order of each pass. (A set
  * drawn per seed moved the median op latency by 18-39% between seeds,
  * far more than any change worth detecting.) Setup runs each query once
  * into a parquet dump, validates the dumps against the DuckDB oracle
  * with `scripts/selfcheck.py`, and keeps the hash of each validated
  * dump as that query's expected answer. Every timed op hashes every
  * output column as the engine's bench does and must match it.
  */
object QueryMix {

  /** Known defects and roadmap targets: always in the set. */
  val MustHave = Seq("q135_", "q142_", "q238_", "q240_", "q241_")

  /** Registry modules, for stratification. */
  def modules: Seq[(String, Set[String])] = Seq(
    "analytics" -> Analytics.queries.keySet,
    "events" -> EventsQueries.queries.keySet,
    "warehouse" -> WarehouseQueries.queries.keySet,
    "llm" -> LlmQueries.queries.keySet,
    "typed" -> TypedQueries.queries.keySet,
    "mining" -> MiningQueries.queries.keySet,
    "curation" -> CurationQueries.queries.keySet,
    "mv" -> MvQueries.queries.keySet)

  /** `size` queries: [[MustHave]] plus the rest spread over the registry
    * modules in proportion to their size (largest remainder), evenly
    * spaced in name order within each module. Queries without an oracle
    * are left out: their output cannot be checked. */
  def pick(size: Int): Seq[String] = {
    val oracles = SparkEntry.oracleSql.keySet
    val all = SparkEntry.queries.keySet
    val must = all.filter(n => MustHave.exists(n.startsWith))
    val pool = modules.map { case (_, names) =>
      names.intersect(all).filter(oracles.contains).diff(must).toSeq.sorted }
    val want = math.max(0, size - must.size)
    val total = pool.map(_.size).sum.toDouble
    val exact = pool.map(_.size * want / total)
    val base = exact.map(_.toInt).toArray
    exact.zipWithIndex.sortBy { case (x, _) => -(x - x.toInt) }
      .take(want - base.sum).foreach { case (_, i) => base(i) += 1 }
    val chosen = pool.zip(base).flatMap { case (ms, k) =>
      (0 until k).map(j => ms(((j + 0.5) * ms.size / k).toInt)) }
    (chosen ++ must).distinct.sorted
  }

  private def hashOf(df: DataFrame): Option[Long] = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("__h"))
      .agg(sum("__h")).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  final case class Setup(names: Seq[String], expected: Map[String, Option[Long]],
                         oracleOk: Set[String], oracleSec: Double, warmSec: Double)

  /** Runs each query once into `dumpDir/<name>`, checks the dumps with
    * the oracle, and returns the expected hash of every query that
    * passed. A query that throws gets an error dump, which the oracle
    * check rejects, as the engine's verify main does. */
  def setup(spark: SparkSession, dataDir: String, dumpDir: String,
            names: Seq[String]): Setup = {
    val w0 = System.nanoTime()
    graft.SuiteTuning.enableEagerAgg(spark, dataDir)
    new File(dumpDir).mkdirs()
    names.foreach { name =>
      val out = s"$dumpDir/$name"
      try SparkEntry.queries(name)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(out)
      catch { case e: Throwable =>
        import spark.implicits._
        Harness.safely(Seq(s"$name FAILED: ${e.toString.take(300)}")
          .toDF("graft_query_error").coalesce(1)
          .write.mode("overwrite").parquet(out))
      } finally Harness.settle(spark)
    }
    val t0 = System.nanoTime()
    val warmSec = (t0 - w0) / 1e9
    val oracle = SparkEntry.oracleSql
    val json = names.flatMap(n => oracle.get(n).map(Json.str(n) + ":" + Json.str(_)))
      .mkString("{", ",", "}")
    Files.write(Paths.get(dumpDir, "oracle_sql.json"),
      json.getBytes(StandardCharsets.UTF_8))
    val p = new ProcessBuilder("python3", "scripts/selfcheck.py", dataDir, dumpDir)
      .redirectErrorStream(true).start()
    val text = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    p.waitFor()
    val ok = text.linesIterator.collect {
      case l if l.startsWith("[OK") => l.drop(12).takeWhile(_ != ':').trim
    }.toSet
    val oracleSec = (System.nanoTime() - t0) / 1e9
    val expected = names.filter(ok.contains).map { n =>
      n -> hashOf(spark.read.parquet(s"$dumpDir/$n"))
    }.toMap
    Setup(names, expected, ok, oracleSec, warmSec)
  }

  /** Closed loop of `passes` whole passes over the set, each in seeded
    * order, so every query runs equally often. */
  def loop(r: Runner, dataDir: String, s: Setup, seed: Long, passes: Int,
           corruptHash: Boolean): Unit = {
    val spark = r.spark
    val rnd = new scala.util.Random(seed)
    for (_ <- 1 to passes) {
      // traced runs run each query twice in a row, traced and untraced in
      // seeded order, so each query's tracing overhead is measured
      for (name <- rnd.shuffle(s.names);
           mode <- if (r.traceRun) rnd.shuffle(Seq(true, false)) else Seq(false)) {
        r.run(name, "read", Some(mode)) {
          val t = r.tracer
          val df = t.span("registry.build")(SparkEntry.queries(name)(spark, dataDir))
          val sink = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("__h"))
            .agg(sum("__h"))
          t.span("plans.plan")(sink.queryExecution.executedPlan)
          val row = t.span("spark.exec")(sink.head())
          if (t.on) recordShape(r, sink)
          val got = if (row.isNullAt(0)) None else Some(row.getLong(0))
          val want = s.expected.get(name)
            .map(_.map(h => if (corruptHash) h + 1 else h))
          want.contains(got)
        }
        Harness.settle(spark)
      }
    }
  }

  /** Plan shape of traced ops, keyed by op id. */
  val shapes = mutable.HashMap.empty[Int, PlanShape.Counts]

  private def recordShape(r: Runner, sink: DataFrame): Unit =
    shapes(r.tracer.op) = PlanShape.count(sink.queryExecution.executedPlan)
}
