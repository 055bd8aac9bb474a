package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Benchmark JVM: runs one workload against the engine's public entry
  * points and writes a run record (and, traced, the spans) as JSON.
  *
  * {{{
  * Main --workload query_mix|medallion_daily|lakehouse_rw --seed N
  *      --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *      [--tiny] [--inject hash|model|truth]
  * Main --digest --seed N     (op-sequence digests, no Spark)
  * }}}
  *
  * `--tiny` shrinks every workload for the benchmark's self-test, and
  * `--inject` plants a wrong expectation so the self-test can see the
  * output check count it as a failed op.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    if (flags("digest")) { println(digest(a("seed").toLong)); return }
    val workload = a("workload")
    val seed = a("seed").toLong
    val units = math.max(1, math.round(a("seconds").toDouble / UnitSeconds(workload)).toInt)
    val traced = a.getOrElse("trace", "0") == "1"
    val tiny = flags("tiny")
    val inject = a.getOrElse("inject", "")
    val work = new File(a("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Harness.session(cores)
    val sessionUs = System.currentTimeMillis() * 1000
    val r = new Runner(spark, traced, seed)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    // time spent on the benchmark's own checks inside setup; not set-up
    var checkSec = 0.0
    var wrongAnswers = 0
    var closer: () => Unit = () => ()

    workload match {
      case "query_mix" =>
        val names = QueryMix.pick(if (tiny) 8 else 10)
        val s = QueryMix.setup(spark, a("data"), new File(work, "dumps").getPath, names)
        checkSec = s.oracleSec
        val t0 = System.nanoTime()
        QueryMix.loop(r, a("data"), s, seed, units, inject == "hash")
        // a validated query whose timed answer differs is a wrong answer;
        // a query that failed validation is a failed op, known at setup
        wrongAnswers = r.ops.count(o => !o.ok && s.expected.contains(o.kind))
        m("oracle_pass_frac", s.oracleOk.size.toDouble / names.size, "frac")
        m("setup.warm_pass_s", s.warmSec, "s")
        m("queries", names.size, "count")
        shared(r, metrics, (System.nanoTime() - t0) / 1e9)
        if (traced) queryLayers(r, m)

      case "medallion_daily" =>
        val md = new Medallion(r, work, seed, tiny)
        closer = () => md.close()
        if (inject == "truth") md.truth.empVersions.getOrElseUpdate("E99999", 1)
        md.day() // day 0: the bootstrap full load is set-up
        md.check()
        checkSec = md.checkSec
        val setupFailed = r.ops.count(!_.ok)
        resetCounters(r, md)
        val t0 = System.nanoTime()
        // traced runs alternate traced and untraced days (at least one of
        // each), so every op kind has a baseline for the tracing overhead
        var traceDay = new java.util.Random(seed).nextBoolean()
        while (md.days < units || (traced && md.days < 2)) {
          md.day(if (traced) Some(traceDay) else None)
          traceDay = !traceDay
        }
        val wall = (System.nanoTime() - t0) / 1e9
        md.check()
        wrongAnswers = setupFailed + r.ops.count(!_.ok)
        shared(r, metrics, wall)
        m("batch_p50_s", Stats.median(md.dayMs.toSeq) / 1000, "s")
        m("rows_per_s", md.landed / (r.ops.map(_.ms).sum / 1000), "1/s")
        m("space_amp", md.spaceAmp, "ratio")
        m("days", md.days, "count")
        if (traced) medallionLayers(r, md, m)

      case "lakehouse_rw" =>
        val lh = new Lakehouse(r, work, a("data"), seed, tiny)
        lh.load()
        if (inject == "model") lh.model.keys.toSeq.foreach { k =>
          lh.model(k) = lh.model(k).copy(v = -1) }
        // warm every statement path untimed: one whole cycle
        (1 to lh.ops.CycleLen).foreach(_ => lh.step())
        val setupFailed = r.ops.count(!_.ok)
        r.reset()
        lh.rowsWritten.clear()
        val t0 = System.nanoTime()
        var fullFailed = 0
        // whole cycles, so every run has the same op mix
        while (r.ops.size < units * lh.ops.CycleLen) {
          lh.step()
          if (r.ops.size % 50 == 0 && !lh.checkAll()) fullFailed += 1
        }
        if (!lh.checkAll()) fullFailed += 1
        wrongAnswers = setupFailed + r.ops.count(!_.ok) + fullFailed
        val busy = r.ops.map(_.ms).sum / 1000
        shared(r, metrics, (System.nanoTime() - t0) / 1e9)
        m("read_p50_ms", Stats.median(r.ops.filter(_.cls == "read").map(_.ms).toSeq), "ms")
        m("write_p50_ms", Stats.median(r.ops.filter(_.cls == "write").map(_.ms).toSeq), "ms")
        m("rows_per_s", lh.rowsWritten.sum / busy, "1/s")
        m("full_checks_failed", fullFailed, "count")
        if (traced) lakehouseLayers(r, lh, m)
        m("space_amp", lh.spaceAmp(), "ratio")
    }
    val firstOpUs = r.opStartUs.headOption
    // set-up: JVM start to the first timed op, less the benchmark's checks
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val setup = firstOpUs.map(t => (t - jvmStartUs) / 1e6 - checkSec).getOrElse(0.0)
    metrics("setup_s") = (setup, "s")
    m("setup.session_s", (sessionUs - jvmStartUs) / 1e6, "s")
    m("peak_rss_mb", Stats.peakRssMb, "MB")
    if (traced) {
      m("trace.overhead_frac", r.traceOverhead, "frac")
      completeLayers(workload, metrics)
    }
    closer()

    val attempted = r.ops.size
    val failed = r.ops.count(!_.ok)
    val rec = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "correct" -> (wrongAnswers == 0).toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "failed_ops" -> Json.obj(r.ops.filterNot(_.ok).groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size.toString }),
      "errors" -> Json.obj(r.errors.toSeq.map { case (k, v) => k -> Json.str(v) })))
    write(a("out"), rec)
    if (traced) write(a("out").stripSuffix(".json") + ".trace.json", traceJson(r))
    spark.stop()
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), (text + "\n").getBytes(StandardCharsets.UTF_8))

  private def resetCounters(r: Runner, md: Medallion): Unit = {
    r.reset()
    md.dayMs.clear(); md.stageMs.clear()
    md.landed = 0; md.fetched = 0; md.requests = 0; md.filesWritten = 0
    md.bytesWritten = 0; md.mergePartitions = 0; md.mergeRowsRewritten = 0
    md.changedRows = 0; md.days = 0
  }

  /** Metrics every workload reports. */
  private def shared(r: Runner, out: mutable.LinkedHashMap[String, (Double, String)],
                     wallSec: Double): Unit = {
    val ms = r.ops.map(_.ms).toSeq
    out("ops_per_s") = (r.ops.size / math.max(1e-9, ms.sum / 1000), "1/s")
    out("op_p50_ms") = (Stats.pct(ms, 50), "ms")
    out("op_p90_ms") = (Stats.pct(ms, 90), "ms")
    out("ops_failed_frac") = (r.ops.count(!_.ok).toDouble / math.max(1, r.ops.size), "frac")
    out("wall_s") = (wallSec, "s")
  }

  /** How long one unit of each workload's work takes on the 4-core
    * machine the benchmark was written on: a query_mix pass, a
    * medallion_daily day, a lakehouse_rw cycle. `--seconds` sets how many
    * units a run times, so every run does the same work. A count set by
    * a clock moved with the host's load, and the op percentiles moved
    * with the count. */
  private val UnitSeconds =
    Map("query_mix" -> 7.0, "medallion_daily" -> 11.0, "lakehouse_rw" -> 4.5)

  // ------------------------------------------------------------ layers

  /** Every per-layer metric, with its unit, by layer. */
  private val Layers: Seq[(String, Seq[(String, String)])] = Seq(
    "registry" -> Seq("registry.build_ms" -> "ms"),
    "plans" -> Seq("plans.plan_ms" -> "ms", "plans.exchanges" -> "count",
      "plans.scans" -> "count", "plans.smj" -> "count", "plans.bhj" -> "count",
      "plans.codegen_fallbacks" -> "count"),
    "spark" -> (new GroupCounters().fields.map { case (k, _) =>
      s"spark.$k" -> (if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "B" else "count")
    } :+ ("spark.core_busy_frac" -> "frac")),
    "sources" -> Seq("sources.ingest_ms" -> "ms", "sources.http_requests" -> "count",
      "sources.records_fetched" -> "count", "sources.records_landed" -> "count",
      "sources.useful_frac" -> "frac"),
    "warehouse" -> Seq("warehouse.bronze_ms" -> "ms", "warehouse.silver_ms" -> "ms",
      "warehouse.gold_ms" -> "ms", "warehouse.files_written" -> "count",
      "warehouse.bytes_written" -> "B"),
    "operators" -> Seq("operators.merge_partitions_rewritten" -> "count",
      "operators.merge_rows_rewritten_per_changed_row" -> "ratio"),
    "dsv2" -> (Seq("upsert", "delete", "point_read", "scan", "compact", "changes")
      .map(k => s"dsv2.${k}_ms" -> "ms") ++ Seq("dsv2.point_bytes_read" -> "B",
      "dsv2.prune_frac" -> "frac", "dsv2.live_files" -> "count",
      "dsv2.sidecar_files" -> "count", "dsv2.write_amp" -> "ratio",
      "dsv2.compact_bytes_rewritten" -> "B")),
    "trace" -> Seq("trace.overhead_frac" -> "frac"))

  /** The layers each workload enters, besides spark and trace. */
  private val Enters = Map(
    "query_mix" -> Set("registry", "plans"),
    "medallion_daily" -> Set("sources", "warehouse", "operators"),
    "lakehouse_rw" -> Set("dsv2"))

  /** Reports the layers the workload never enters as zero work, and
    * fails the run if a metric of a layer it enters was not measured or
    * carries another unit. */
  private def completeLayers(workload: String,
                             out: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val entered = Enters(workload) ++ Set("spark", "trace")
    for ((layer, ms) <- Layers; (name, unit) <- ms) {
      if (!entered(layer)) out(name) = (0.0, unit)
      else require(out.get(name).exists(_._2 == unit),
        s"$workload: per-layer metric $name ($unit) not measured: ${out.get(name)}")
    }
  }

  /** spark.* per traced op, and executor busy share of traced op time. */
  private def sparkLayer(r: Runner, m: (String, Double, String) => Unit): Unit = {
    val per = r.opCounters()
    val traced = r.ops.filter(_.traced)
    val n = math.max(1, traced.size)
    val tot = new GroupCounters
    traced.foreach(o => per.get(o.id).foreach(tot.add))
    tot.fields.foreach { case (k, v) =>
      val unit = if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "B" else "count"
      m(s"spark.$k", v.toDouble / n, unit)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    m("spark.core_busy_frac",
      tot.runMs / math.max(1e-9, traced.map(_.ms).sum * cores), "frac")
  }

  private def spanMs(r: Runner, name: String): Seq[Double] =
    r.tracer.spans.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0).toSeq

  private def queryLayers(r: Runner, m: (String, Double, String) => Unit): Unit = {
    m("registry.build_ms", Stats.median(spanMs(r, "registry.build")), "ms")
    m("plans.plan_ms", Stats.median(spanMs(r, "plans.plan")), "ms")
    val sh = QueryMix.shapes.values.toSeq
    val n = math.max(1, sh.size).toDouble
    m("plans.exchanges", sh.map(_.exchanges).sum / n, "count")
    m("plans.scans", sh.map(_.scans).sum / n, "count")
    m("plans.smj", sh.map(_.smj).sum / n, "count")
    m("plans.bhj", sh.map(_.bhj).sum / n, "count")
    m("plans.codegen_fallbacks", sh.map(_.codegenFallbacks).sum / n, "count")
    sparkLayer(r, m)
  }

  private def medallionLayers(r: Runner, md: Medallion,
                              m: (String, Double, String) => Unit): Unit = {
    val days = math.max(1, md.days).toDouble
    def stage(k: String) = Stats.median(md.stageMs.getOrElse(k, Nil).toSeq)
    val ingest = md.stageMs.filter(_._1.startsWith("ingest.")).values.flatten.toSeq
    m("sources.ingest_ms", Stats.median(ingest), "ms")
    m("sources.http_requests", md.requests / days, "count")
    m("sources.records_fetched", md.fetched / days, "count")
    m("sources.records_landed", md.landed / days, "count")
    m("sources.useful_frac", md.landed.toDouble / math.max(1L, md.fetched), "frac")
    m("warehouse.bronze_ms", stage("bronze"), "ms")
    m("warehouse.silver_ms", stage("silver"), "ms")
    m("warehouse.gold_ms", stage("gold"), "ms")
    m("warehouse.files_written", md.filesWritten / days, "count")
    m("warehouse.bytes_written", md.bytesWritten / days, "B")
    m("operators.merge_partitions_rewritten", md.mergePartitions / days, "count")
    m("operators.merge_rows_rewritten_per_changed_row",
      md.mergeRowsRewritten.toDouble / math.max(1L, md.changedRows), "ratio")
    sparkLayer(r, m)
  }

  private def lakehouseLayers(r: Runner, lh: Lakehouse,
                              m: (String, Double, String) => Unit): Unit = {
    def med(kind: String) = Stats.median(r.ops.filter(_.kind == kind).map(_.ms).toSeq)
    Seq("upsert", "delete", "point_read", "scan", "compact", "changes").foreach { k =>
      m(s"dsv2.${k}_ms", med(k), "ms")
    }
    val per = r.opCounters()
    val points = r.ops.filter(o => o.traced && o.kind == "point_read")
    m("dsv2.point_bytes_read",
      Stats.mean(points.flatMap(o => per.get(o.id)).map(_.inputBytes.toDouble)), "B")
    m("dsv2.prune_frac", Stats.mean(lh.pointFiles.map { case (read, live) =>
      1.0 - read.toDouble / math.max(1, live) }), "frac")
    m("dsv2.live_files", lh.maintenance("live_shards").toDouble, "count")
    m("dsv2.sidecar_files", lh.maintenance("mor_sidecars").toDouble, "count")
    m("dsv2.write_amp", lh.writeBytes.sum / math.max(1.0, lh.userBytes.sum), "ratio")
    m("dsv2.compact_bytes_rewritten", Stats.mean(lh.compactBytes), "B")
    sparkLayer(r, m)
  }

  // ------------------------------------------------------------- trace

  private def traceJson(r: Runner): String = {
    val spans = r.tracer.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString))
    }
    val spanOf = r.tracer.spans.map(s => s"s${s.id}" -> s).toMap
    val jobs = r.counters.jobs.flatMap { case (g, id, st, en) =>
      spanOf.get(g).map { s =>
        Json.obj(Seq("job" -> id.toString, "parent" -> s.id.toString, "op" -> s.op.toString,
          "start_us" -> (st * 1000).toString, "end_us" -> (en * 1000).toString))
      }
    }
    val counters = r.counters.byGroup.toSeq.flatMap { case (g, c) =>
      spanOf.get(g).map(s => Json.obj(("span" -> s.id.toString) +:
        c.fields.map { case (k, v) => k -> v.toString }))
    }
    val ops = r.ops.map(o => Json.obj(Seq("id" -> o.id.toString, "kind" -> Json.str(o.kind),
      "cls" -> Json.str(o.cls), "ms" -> Json.num(o.ms), "ok" -> o.ok.toString,
      "traced" -> o.traced.toString)))
    Json.obj(Seq("spans" -> Json.arr(spans.toSeq), "jobs" -> Json.arr(jobs.toSeq),
      "counters" -> Json.arr(counters), "ops" -> Json.arr(ops.toSeq)))
  }

  // ------------------------------------------------------------ digest

  /** Digests of each workload's seeded op sequence, for the self-test. */
  private def digest(seed: Long): String = {
    val names = QueryMix.pick(8)
    val qm = new scala.util.Random(seed).shuffle(names).mkString(",").hashCode
    val lh = new LhOps(seed, 0L until 1000L, 4)
    val lhd = (1 to 200).map(_ => lh.next().toString).mkString(";").hashCode
    val t = new LarkTruth(seed, 20, 4, 3, 3, 1)
    (1 to 3).foreach(_ => t.nextDay())
    val md = t.tables.toSeq.sortBy(_._1).map(_._2.map(_.toString).mkString).mkString.hashCode
    s"""{"query_mix":$qm,"lakehouse_rw":$lhd,"medallion_daily":$md}"""
  }
}
