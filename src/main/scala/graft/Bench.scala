package graft
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.LinkedHashMap
import graft.perf.Harness
import graft.perf.Harness.Json.{num, obj, str}
import org.apache.spark.sql.graftbridge.CodegenCount

/** Benchmark main: times each registered query at SPARK_GRAFT_SF_DIR.
  *
  * One untimed warmup pass over the whole suite first (JVM + whole-stage
  * codegen + OS page cache — cold first-touch I/O dominated q02 in round
  * 1's numbers), then `SPARK_GRAFT_BENCH_REPS` timed runs per query
  * (default 3) reporting the per-query median under "queries" and the
  * per-query minimum under "queries_min" (the noise floor — a median
  * far above its min flags GC/cleaner interference, not a regression;
  * the JVM is settled between queries to keep that rare). A failing
  * query is reported explicitly under "errors" — never folded into a
  * timing. `BENCH_FULL.json` also lists, per query, the classes
  * compiled from generated code during each timed rep
  * ("queries_compiled").
  *
  * The sink hashes EVERY output column ([[Harness.hashSink]]).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Harness.session(defaultCpus = 4)

    // prove the star-schema dim keys, then enable eager aggregation
    // for the suite session (see SuiteTuning)
    SuiteTuning.enableEagerAgg(spark, sfDir)

    // SPARK_GRAFT_BENCH_ONLY=q59,q61 — iterate on a slice of the suite
    // locally; unset (the driver) runs everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val names = Harness.queries(only)

    // warmup pass, untimed — but instrumented to ATTRIBUTE the
    // per-query floor (round-17 verdict: low/high-core scaling ratios
    // sit at ~1 because every query carries a non-parallel floor; this
    // splits it): build = query-function call (includes any first-touch
    // memoized fixture build), plan = analysis+optimization+physical
    // planning of the exact sink plan the timed reps execute, exec =
    // the warmup execution itself. Written to the full artifact as
    // queries_build/queries_plan (addition-only fields; the timed
    // methodology below is unchanged). Failures are reported from the
    // timed runs.
    val buildSec = LinkedHashMap[String, Double]()
    val planSec = LinkedHashMap[String, Double]()
    names.foreach { name =>
      Harness.attempt(spark) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        val sink = Harness.hashSink(df)
        sink.queryExecution.executedPlan
        val t2 = System.nanoTime()
        sink.head()
        buildSec(name) = (t1 - t0) / 1e9
        planSec(name) = (t2 - t1) / 1e9
      }
    }
    // per query: settle once (Harness.settle), then the timed reps; the
    // min rides along as the noise floor and max - min as the spread;
    // per rep, the classes compiled during it (0 once the warmup has
    // compiled the query's code and the codegen cache keeps it)
    val errors = LinkedHashMap[String, String]()
    val compiled = LinkedHashMap[String, Seq[Long]]()
    val timings = names.flatMap { n =>
      Harness.settle()
      val (runs, counts) = (1 to reps).map { _ =>
        val c0 = CodegenCount()
        val run = Harness.attempt(spark)(Harness.seconds(
          Harness.hashSink(SparkEntry.queries(n)(spark, sfDir)).head()))
          .left.map(e => errors(n) = Option(e.getMessage)
            .getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(200))
          .toOption
        (run, CodegenCount() - c0)
      }.unzip
      compiled(n) = counts
      Option.when(runs.flatten.nonEmpty)(n -> Harness.Reps.of(runs.flatten))
    }
    def field(f: Harness.Reps => Double): String =
      obj(timings.map { case (k, r) => k -> num(f(r)) })
    def secs(m: LinkedHashMap[String, Double]): String =
      obj(m.map { case (k, v) => k -> num(v) })
    val errJson = obj(errors.map { case (k, v) => k -> str(v) })
    val total = num(timings.map(_._2.median).sum)
    // per-query spread (max - min over the reps): the variance witness
    // — a round-over-round median swing SMALLER than the query's own
    // spread is harness noise, not a regression (the r9 verdict burned
    // an investigation on exactly that ambiguity)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${field(_.median)},"queries_min":${field(_.min)},"queries_spread":${field(r => r.max - r.min)},"queries_build":${secs(buildSec)},"queries_plan":${secs(planSec)},"queries_compiled":${obj(compiled.map { case (k, c) => k -> c.mkString("[", ",", "]") })},"errors":$errJson,"reps":$reps,"sf":${str(sfDir)}}"""
    // the driver's per-round artifact keeps only a ~2000-char TAIL of
    // stdout AND parses it as one JSON document: the full per-query
    // line exceeds the window (round-12..14 `parsed: null` symptom),
    // and a second line alongside it still defeats the parse. Stdout
    // therefore carries ONE compact, self-contained JSON line —
    // headline numbers + the slowest queries — and nothing else; the
    // committed BENCH_FULL.json artifact carries every timing.
    val slowest = obj(timings.sortBy(-_._2.median).take(15)
      .map { case (k, r) => k -> num(r.median) })
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowest,"errors":$errJson,"reps":$reps,"sf":${str(sfDir)},"n_queries":${timings.size},"note":"slowest 15 shown; full per-query data in BENCH_FULL.json"}"""
    // 2500 leading newlines push every earlier stdout line (sbt's
    // project-load banner rides stdout even with StdoutOutput) out of
    // the driver's 2000-char tail window, so the window holds ONLY
    // whitespace + this line — which strict json.loads accepts
    // (leading whitespace is skipped) and line-wise parsers accept too
    println("\n" * 2500 + summary)
    def save(path: String, text: String): Unit =
      try Files.write(Paths.get(path), (text + "\n").getBytes(UTF_8))
      catch { case e: Exception =>
        System.err.println(s"bench write of $path failed: $e") }
    // belt-and-braces for the driver parse (rounds 13-15 recorded
    // `parsed: null`): the SAME summary goes to a file too, and
    // build.sbt routes forked stdout through VERBATIM (StdoutOutput,
    // showSuccess=false) so the line above is the last BARE line on
    // stdout — no `[info] ` prefix, no `[success]` trailer
    save("BENCH_SUMMARY.json", summary)
    // the driver's per-round artifact keeps only a 2000-char TAIL of
    // stdout, hiding ~2/3 of the suite's timings — persist the same
    // JSON line as a committed file so every timing is reviewable
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    if (outFile.nonEmpty) save(outFile, line)
    // EVERY full-suite run additionally lands in its own
    // BENCH_FULL_run<N>.json (N = first free integer), so no run can
    // overwrite another — the round-16 drift analysis lost run 1 to
    // exactly that and had to lean on summary lines. Slice runs
    // (SPARK_GRAFT_BENCH_ONLY) skip this: partial timings would read
    // as mysteriously-fast full runs.
    if (only.isEmpty)
      save(Iterator.from(1).map(i => s"BENCH_FULL_run$i.json")
        .find(p => !Files.exists(Paths.get(p))).get, line)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
