package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters of one job group (one traced span). */
final class GroupCounters {
  var jobs, stages, tasks = 0L
  var schedWaitMs, runMs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes = 0L

  def add(o: GroupCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    schedWaitMs += o.schedWaitMs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes
  }

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "sched_wait_ms" -> schedWaitMs, "task_run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes)
}

/** Attributes Spark's task metrics to the job group the benchmark set
  * around a span. Only jobs started under a group are counted. Events
  * arrive on the single listener-bus thread; read them after
  * `PerfbenchBridge.drainListeners`. */
final class Counters extends SparkListener {
  val byGroup = mutable.HashMap.empty[String, GroupCounters]
  /** (group, jobId, startMs, endMs) of every grouped job. */
  val jobs = ArrayBuffer.empty[(String, Int, Long, Long)]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  private def group(g: String) = byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        jobGroup(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
        group(g).jobs += 1
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      jobs += ((g, e.jobId, start, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId).foreach { g =>
      val c = group(g)
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(s =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleRecords += m.shuffleReadMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
}

/** One timed span; times are epoch microseconds. `parent` is -1 for an
  * op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startUs: Long, endUs: Long)

/** In-memory span recorder. Each span runs under its own Spark job group
  * (`s<id>`), so the listener can hang Spark jobs under it. Disabled, it
  * only runs the body. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private val baseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  var on = false

  def nowUs: Long = baseUs + System.nanoTime() / 1000

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"s$id", name, interruptOnCancel = false)
      val start = nowUs
      try body
      finally {
        spans += Span(id, parent, op, name, start, nowUs)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"s$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** One completed op. `cls` is read, write or other. */
final case class OpRec(id: Int, kind: String, cls: String, ms: Double,
                       ok: Boolean, traced: Boolean)

/** Closed-loop op runner with one client thread. An op fails when its
  * body throws or returns false (a failed output check). In a traced run
  * a seeded coin (or the caller, with `force`) traces about half the
  * ops, so traced and untraced ops of each kind sit side by side and
  * their ratio is the tracing overhead. */
final class Runner(val spark: SparkSession, val traceRun: Boolean, seed: Long) {
  val tracer = new Tracer(spark)
  val counters = new Counters
  val ops = ArrayBuffer.empty[OpRec]
  /** Start time (epoch us) of each op in [[ops]]. */
  val opStartUs = ArrayBuffer.empty[Long]
  val errors = mutable.LinkedHashMap.empty[String, String]
  private val coin = new java.util.Random(seed ^ 0x7ace)
  if (traceRun) spark.sparkContext.addSparkListener(counters)

  def run(kind: String, cls: String, force: Option[Boolean] = None)
         (body: => Boolean): Boolean = {
    val id = ops.size
    val traced = traceRun && force.getOrElse(coin.nextBoolean())
    tracer.op = id
    tracer.on = traced
    opStartUs += tracer.nowUs
    val t0 = System.nanoTime()
    val ok =
      try tracer.span(kind)(body)
      catch { case NonFatal(e) =>
        errors.getOrElseUpdate(kind, Option(e.getMessage).getOrElse(e.toString)
          .replaceAll("\\s+", " ").take(200))
        false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.on = false
    ops += OpRec(id, kind, cls, ms, ok, traced)
    if (!ok) errors.getOrElseUpdate(kind, "output check failed")
    ok
  }

  /** Forgets the ops run so far (set-up ops are not measured). */
  def reset(): Unit = { ops.clear(); opStartUs.clear() }

  /** Marks an already-run op failed (a check made after the op). */
  def fail(id: Int, why: String): Unit = {
    ops(id) = ops(id).copy(ok = false)
    errors.getOrElseUpdate(ops(id).kind, why)
  }

  /** Per-op Spark counters of traced ops (op id -> summed counters). */
  def opCounters(): Map[Int, GroupCounters] = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val spanOp = tracer.spans.map(s => s"s${s.id}" -> s.op).toMap
    val out = mutable.HashMap.empty[Int, GroupCounters]
    counters.byGroup.foreach { case (g, c) =>
      spanOp.get(g).foreach(op => out.getOrElseUpdate(op, new GroupCounters).add(c))
    }
    out.toMap
  }

  /** Tracing overhead: per op kind, mean traced latency over mean
    * untraced latency, weighted by op count; minus one. */
  def traceOverhead: Double = {
    val pairs = ops.groupBy(_.kind).values.toSeq.flatMap { g =>
      val (t, u) = g.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((t.map(_.ms).sum / t.size / (u.map(_.ms).sum / u.size), g.size))
    }
    if (pairs.isEmpty) 0.0
    else pairs.map { case (r, n) => r * n }.sum / pairs.map(_._2).sum - 1.0
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM in MB (Linux VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** File-system helpers for byte and file counts under a directory. */
object Disk {
  def files(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(files)

  /** Data files: skips hidden and underscore-prefixed bookkeeping. */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    files(dir).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }

  def bytes(dir: java.io.File): Long = files(dir).map(_.length).sum
}

/** Plan-shape counts from an executed physical plan, AQE stages
  * included. */
object PlanShape {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive._
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
  import org.apache.spark.sql.execution.exchange._
  import org.apache.spark.sql.execution.joins._

  final case class Counts(exchanges: Int, scans: Int, smj: Int, bhj: Int,
                          codegenFallbacks: Int)

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Nil
    case other => other.children ++ other.subqueries
  }

  /** Every node of the plan, through AQE stages and subqueries. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = root +: children(root).flatMap(nodes)

  def count(root: SparkPlan): Counts = {
    var ex, scans, smj, bhj, fallback = 0
    // inCodegen: inside a WholeStageCodegen subtree (until an InputAdapter)
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case _: ShuffleExchangeLike => ex += 1
        case _: FileSourceScanExec | _: DataSourceV2ScanExecBase |
             _: RowDataSourceScanExec => scans += 1
        case _: SortMergeJoinExec => smj += 1
        case _: BroadcastHashJoinExec => bhj += 1
        case _ =>
      }
      val wrapper = p match {
        case _: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
             _: QueryStageExec | _: Exchange | _: ReusedExchangeExec |
             _: AQEShuffleReadExec | _: LeafExecNode | _: SubqueryExec |
             _: SubqueryBroadcastExec | _: ReusedSubqueryExec => true
        case _ => false
      }
      if (!inCodegen && !wrapper) fallback += 1
      val childIn = p match {
        case _: WholeStageCodegenExec => true
        case _: InputAdapter => false
        case _ => inCodegen
      }
      children(p).foreach(walk(_, childIn))
    }
    walk(root, inCodegen = false)
    Counts(ex, scans, smj, bhj, fallback)
  }
}

object Harness {
  /** The product session, built exactly as the engine's bench main does:
    * GraftSession's configs on local[cores] with as many shuffle
    * partitions as cores. */
  def session(cores: Int): SparkSession = {
    val s = graft.core.GraftSession.applyConfigs(
      SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def settle(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def safely[T](body: => T): Option[T] =
    try Some(body) catch { case NonFatal(_) => None }
}
