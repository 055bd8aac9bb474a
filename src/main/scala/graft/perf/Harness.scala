package graft.perf

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import graft.SparkEntry
import graft.core.GraftSession

/** What the engine's tool mains share: their session, the registry
  * slice and per-query cleanup, the settle-and-median timer, the
  * hash-every-column sink and one JSON writer. Each main is a thin
  * body over this object. */
object Harness {

  /** The graft session on `local[SPARK_GRAFT_CPUS]` cores, or
    * `defaultCpus` when that is unset, one shuffle partition per core. */
  def session(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val s = GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt))
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Registry query names, sorted; with `only` (comma-separated
    * prefixes, as in `SPARK_GRAFT_BENCH_ONLY=q59,q61`) just the names
    * that start with one of them. */
  def queries(only: Option[String]): Seq[String] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.forall(_.exists(n.startsWith)))
  }

  /** `body`'s result, or what it threw; either way every RDD the
    * session still holds persisted is unpersisted afterwards. A query
    * that checkpoints and then throws would otherwise pin its blocks
    * for the rest of the run, and blocks left to the weak-ref
    * ContextCleaner pile up until one arbitrary later query absorbs
    * the full GC and cleaner flush (q76 took 6.3 s in a Bench run at
    * 8g, ~1 s alone). */
  def attempt[A](spark: SparkSession)(body: => A): Either[Throwable, A] =
    try Right(body)
    catch { case e: Throwable => Left(e) }
    finally spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** The sum of an `xxhash64` over every output column: a bare
    * `count()` would let Catalyst prune projection-only operators
    * (simhash, token counts, fingerprints) down to row counts. */
  def hashSink(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col): _*).as("__h")).agg(sum("__h"))

  /** Wall seconds `body` takes. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Forces the weak-ref processing the ContextCleaner waits on and
    * lets its queue drain, so the garbage one run leaves behind is paid
    * here rather than as a roving full-GC outlier inside a later
    * timing. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(100L)
  }

  /** Summary of timed reps, in seconds. */
  final case class Reps(median: Double, min: Double, max: Double)

  object Reps {
    /** The upper median (`sorted(n / 2)`), min and max of `runs`. */
    def of(runs: Seq[Double]): Reps = {
      val s = runs.sorted
      Reps(s(s.size / 2), s.head, s.last)
    }
  }

  /** `n` timed runs of `body`, each after an untimed `setup` and a
    * [[settle]]. */
  def timeReps(n: Int, setup: => Unit = ())(body: => Any): Reps =
    Reps.of((1 to n).map { _ => setup; settle(); seconds(body) })

  /** JSON text for the tools' one-line reports and dumps: a stray
    * control char or a comma decimal would break a reader's
    * `json.load`. */
  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    /** Three decimals, whatever the default locale. */
    def num(v: Double): String =
      String.format(Locale.ROOT, "%.3f", Double.box(v))

    /** An object of already-encoded values. */
    def obj(fields: Iterable[(String, String)]): String =
      fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  }
}
