package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetShardIO

/** Loaders for the test star schema (see /root/repo/TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst pushdown (filters,
  * column pruning, partition pruning on partitioned layouts) applies
  * transparently to every query built on top.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (total row groups, total rows) per parquet path, memoized per
    * path and replaced when the path's newest data file changes —
    * footer METADATA only (never results), the same class of plan-time
    * evidence as [[graft.operators.CatalogStats]]' uniqueness
    * fingerprints. */
  private val footerMeta =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, (Int, Long))]()

  private def rowGroupStats(spark: SparkSession, path: String): (Int, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // data files only: like Spark's file index, skip `_` metadata and
    // `.` hidden files (an editor's swap file, an upload's partial part)
    val files = (if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
                 else Seq(fs.getFileStatus(p)))
      .filter(st => st.isFile && isData(st))
    val mtime = files.map(_.getModificationTime).maxOption.getOrElse(0L)
    footerMeta.compute(path, (_, old) =>
      if (old != null && old._1 == mtime) old
      else {
        var groups = 0
        var rows = 0L
        files.foreach { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, spark.sparkContext.hadoopConfiguration)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val bs = r.getFooter.getBlocks
            groups += bs.size()
            var i = 0
            while (i < bs.size()) { rows += bs.get(i).getRowCount; i += 1 }
          } finally r.close()
        }
        (mtime, (groups, rows))
      })._2
  }

  /** Whether a listed entry is table data: like Spark's file index,
    * `_` metadata and `.` hidden names are not. */
  private def isData(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** `spark.read.parquet(dir)` without its schema-inference job: the
    * data schema comes from the footer of one data file under `dir`,
    * read on the driver, and Spark still discovers and types the
    * partition columns from the directory names. Every file of a lake
    * table is written with one schema, so one footer stands for all,
    * as it does for Spark's own inference. Falls back to the plain
    * read when `dir` holds no data file or its file carries no Spark
    * row metadata. */
  def readParquetDir(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def firstData(d: Path): Option[FileStatus] =
      fs.listStatus(d).iterator.filter(isData).flatMap { st =>
        if (st.isDirectory) firstData(st.getPath) else Some(st)
      }.nextOption()
    val schema =
      if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) None
      else firstData(root).flatMap(ParquetShardIO.sparkSchema(_, conf, spark))
    schema.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }

  /** Plain parquet scan with SCAN-PARALLELISM REPAIR: the parquet row
    * group is the atomic split unit, so a file holding fewer row
    * groups than the session has cores caps the parallelism of every
    * stage fused onto the scan (partial aggregates, exploded shingles,
    * vector math all run on one core per row group however large the
    * machine). When the layout's row-group count falls below the
    * session's parallelism and the table is big enough to matter, an
    * explicit round-robin repartition restores it — one narrow,
    * deterministic exchange (sort-before-repartition keeps retries
    * exact) whose cost is the table's bytes at memory speed.
    * Scale-adaptive by construction: healthy at-scale layouts carry
    * row groups >> cores and the repair stands down (zero plan
    * change); it fires exactly on the pathological
    * few-giant-row-groups shape (single-file dumps, misconfigured
    * writers). Conf-gated:
    *   spark.graft.scan.repair.enabled  (default true)
    *   spark.graft.scan.repair.minRows  (default 2000 — below this a
    *     table is broadcast-dim-sized and the exchange is dead weight)
    *   spark.graft.scan.repair.rowsPerTask (default 250 — floor so a
    *     small-but-heavy table, e.g. embeddings feeding O(d^2) vector
    *     kernels, still fans out without shattering tiny dims). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    if (!spark.conf.get("spark.graft.scan.repair.enabled", "true").toBoolean)
      return df
    val cores = spark.sparkContext.defaultParallelism
    val (groups, rows) = rowGroupStats(spark, path)
    val minRows =
      spark.conf.get("spark.graft.scan.repair.minRows", "2000").toLong
    val rowsPerTask =
      spark.conf.get("spark.graft.scan.repair.rowsPerTask", "250").toLong
    if (groups < cores && rows >= minRows) {
      val target = math.min(cores.toLong,
        math.max(groups + 1L, rows / rowsPerTask)).toInt
      if (target > groups) df.repartition(target) else df
    } else df
  }

  /** `events` with `ts` as a microsecond TIMESTAMP (with time zone).
    *
    * The driver has shipped the `ts` column under three physical types
    * across rounds, so the loader normalizes all of them to the same
    * instant semantics:
    *   - TIMESTAMP(NANOS): Spark has no nanos type — the session reads
    *     it as an epoch-nanos long (`spark.sql.legacy.parquet.nanosAsLong`)
    *     and this truncates to microseconds;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *     TIMESTAMP_NTZ — cast to TIMESTAMP, which under the pinned UTC
    *     session zone (GraftSession) keeps the identical micros value,
    *     matching how DuckDB treats the same naive column;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TIMESTAMP. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** `events` with `ts` truncated to whole seconds: queries that
    * surface or compare `ts` use this for cross-engine determinism
    * (sub-second ordering is never semantically meaningful in the event
    * data — ties break on event_id). */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir).withColumn("ts", date_trunc("second", col("ts")))
}
